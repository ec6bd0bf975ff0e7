"""Graph operators: PageRank + triangle counting on a known small
graph, plus the determinism contract (bit-identical across
partitionings) that makes them oracle-checkable."""

from __future__ import annotations

import math

import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stream_processing_system_spark.operators.graph import (
    cooccurrence_edges,
    pagerank,
    triangle_counts,
)
from tests.helpers import FUZZ


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_triangle_counts_known_graph(spark):
    # triangle 1-2-3 plus pendant 3-4: corners get 1 each, 4 gets none
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    # two overlapping triangles: shared edge's endpoints count both
    e2 = _edges(spark, [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)])
    got2 = {r["node"]: r["n_triangles"] for r in triangle_counts(e2).collect()}
    assert got2 == {1: 1, 2: 2, 3: 2, 4: 1}


def test_pagerank_mass_and_ranking(spark):
    # star: 1 at the center of 2,3,4 — center must rank highest and
    # total mass stays ~1 (integer-grid rounding loses <1e-6)
    e = _edges(spark, [(1, 2), (1, 3), (1, 4)])
    rows = pagerank(e, iters=3).collect()
    pr = {r["node"]: r["pagerank"] for r in rows}
    assert set(pr) == {1, 2, 3, 4}
    assert pr[1] > pr[2] == pr[3] == pr[4]
    assert abs(sum(pr.values()) - 1.0) < 1e-5


def test_pagerank_partitioning_invariance(spark):
    e = _edges(spark, [(i, j) for i in range(1, 8) for j in range(i + 1, 8)])
    one = {r["node"]: r["pagerank"] for r in pagerank(e.coalesce(1)).collect()}
    many = {r["node"]: r["pagerank"] for r in pagerank(e.repartition(16)).collect()}
    assert one == many


def test_cooccurrence_edges_hot_cell_valve(spark, sf_dir):
    from stream_processing_system_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    capped = cooccurrence_edges(events, max_cell=2)
    uncapped = cooccurrence_edges(events, max_cell=10**6)
    assert capped.count() <= uncapped.count()
    # src<dst orientation: no self-loops, no reversed duplicates
    bad = uncapped.where(F.col("src") >= F.col("dst")).count()
    assert bad == 0


def test_bfs_hops_planted_chain(spark):
    """Chain 1-2-3-4-5 plus an unreachable island {10,11}: hop labels
    are shortest distances, bounded at max_hops, island excluded."""
    from stream_processing_system_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (1, 3)],
        ["src", "dst"],
    )
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, max_hops=3).collect()}
    # seed = min node = 1; 1-3 shortcut makes dist(3)=1, dist(4)=2, dist(5)=3
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_local_clustering_known_graph(spark):
    """K4 minus one edge: nodes on the missing edge have c=1.0 (their
    2 neighbors are connected); the other two have c=2/3."""
    import pandas as pd

    from stream_processing_system_spark.operators.graph import local_clustering

    # K4 on {1,2,3,4} minus edge (3,4)
    edges = spark.createDataFrame(
        pd.DataFrame(
            {"src": [1, 1, 1, 2, 2], "dst": [2, 3, 4, 3, 4]}
        )
    )
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in local_clustering(edges).collect()
    }
    assert got[3] == (2, 1, 1.0) and got[4] == (2, 1, 1.0)
    assert got[1][0] == 3 and got[2][0] == 3
    assert abs(got[1][2] - 2 / 3) < 1e-6 and abs(got[2][2] - 2 / 3) < 1e-6


def test_label_propagation_two_cliques(spark):
    from stream_processing_system_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge: each triangle converges
    # to its own min label; the bridge endpoints stay with their clique
    e = _edges(
        spark,
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
    )
    lab = {r["node"]: r["label"] for r in label_propagation(e, rounds=4).collect()}
    assert lab[1] == lab[2] == lab[3]
    assert lab[4] == lab[5] == lab[6]
    assert lab[1] != lab[4]


def test_label_propagation_partitioning_invariance(spark):
    from stream_processing_system_spark.operators.graph import label_propagation

    e = _edges(spark, [(i, j) for i in range(1, 9) for j in range(i + 1, 9) if (i + j) % 3])
    one = {r["node"]: r["label"] for r in label_propagation(e.coalesce(1)).collect()}
    many = {r["node"]: r["label"] for r in label_propagation(e.repartition(16)).collect()}
    assert one == many


def test_kcore_known_graph(spark):
    from stream_processing_system_spark.operators.graph import kcore

    # K4 (nodes 1-4) with pendant chains: only the K4 survives k=3
    e = _edges(
        spark,
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
    )
    got = {r["node"]: r["core_degree"] for r in kcore(e, k=3, rounds=8).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_fixpoint_at_test_scale(spark, sf_dir):
    """The registered copurchase_kcore unrolls 8 rounds; the peel is
    monotone so round-7 == round-8 proves the unrolled answer IS the
    true 3-core at this scale."""
    from stream_processing_system_spark.operators.graph import kcore
    from stream_processing_system_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    edges = cooccurrence_edges(events)
    r7 = kcore(edges, k=3, rounds=7)
    r8 = kcore(edges, k=3, rounds=8)
    assert r7.exceptAll(r8).count() == 0 and r8.exceptAll(r7).count() == 0


def test_cheapest_paths_relaxation(spark):
    from stream_processing_system_spark.operators.graph import cheapest_paths

    # seed = 1; direct edge 1-3 costs 10, detour 1-2-3 costs 2+3=5
    e = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 2), (2, 3, 3), (3, 4, 1)],
        "src long, dst long, w long",
    )
    got = {r["node"]: r["cost"] for r in cheapest_paths(e, rounds=3).collect()}
    assert got == {1: 0, 2: 2, 3: 5, 4: 6}


# --- rich club (honest replay on a literal edge list) ------------


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
    ),
    max_size=16,
)


@pytest.mark.slow
@given(raw=edge_lists)
@FUZZ
def test_fuzz_rich_club(spark, raw):
    from stream_processing_system_spark.operators.graph import rich_club

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["k"]: r for r in rich_club(df).collect()}
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for k in (1, 2, 4, 8):
        n_nodes = sum(1 for v in deg.values() if v > k)
        n_edges = sum(
            1 for a, b in edges if deg[a] > k and deg[b] > k
        )
        row = out[k]
        assert (row["n_nodes"], row["n_edges"]) == (n_nodes, n_edges)
        if n_nodes > 1:
            assert row["phi"] == 2.0 * float(n_edges) / (
                float(n_nodes) * (float(n_nodes) - 1.0)
            )
        else:
            assert row["phi"] is None


# --- Degree power-law alpha (honest replay) ----------------------


@pytest.mark.slow
@given(raw=edge_lists)
@FUZZ
def test_fuzz_degree_powerlaw_device(spark, raw):
    """The MLE device over a literal degree table: replay on the
    raw degree multiset."""
    from collections import Counter

    from pyspark.sql import functions as F

    from stream_processing_system_spark.plans.analytics import det_round  # noqa: F401

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    if not edges:
        return
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    tail = [d for d in deg.values() if d >= 2]
    # replay the plan's tail expression directly on a degree frame
    d38 = "decimal(38,0)"
    cells_df = spark.createDataFrame(
        list(Counter(tail).items()) or [(0, 0)], "deg long, c long"
    ).where(F.col("deg") >= 2)
    lng = F.floor(
        F.log(F.col("deg").cast("double") / F.lit(2.0)) * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    agg = cells_df.select("c", lng.alias("l")).agg(
        F.sum("c").alias("n_tail"),
        F.sum(F.col("c").cast(d38) * F.col("l")).alias("sl"),
    )
    row = agg.collect()[0]
    n_tail = row["n_tail"] or 0
    assert n_tail == len(tail)
    sl = sum(
        math.floor(math.log(d / 2.0) * 1e9 + 0.5) for d in tail
    )
    if n_tail:
        assert int(row["sl"]) == sl
