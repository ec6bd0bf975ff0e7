"""Topology submission surface + transitive (connected-components)
dedup.

`connected_component_labels` has two paths chosen by pair count: a
union-find in the driver up to `dedup._LOCAL_FINISH_PAIRS`, the
distributed HashMin loop above it. The `cc_path` fixture runs a test on
either; `distributed` lowers the bound to 0 so every non-empty graph
loops."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from stream_processing_system_spark.operators import dedup
from stream_processing_system_spark.plans import topology


def test_topology_wordcount_submit(spark, tmp_path):
    d = tmp_path / "wc"
    d.mkdir()
    (d / "a.txt").write_text("x y x\n")
    got = {(r["word"], r["cnt"]) for r in topology.submit(spark, "wordcount", str(d)).collect()}
    assert got == {("x", 2), ("y", 1)}


def test_topology_nasalog_submit(spark, tmp_path):
    from tests.test_reference_queries import NASA_LINES

    d = tmp_path / "nasa"
    d.mkdir()
    (d / "log.txt").write_text("\n".join(NASA_LINES) + "\n")
    rows = {r["host"]: r["hits"] for r in topology.submit(spark, "nasalog", str(d)).collect()}
    assert rows == {"burger.letters.com": 1, "pm13.j51.com": 3}


def test_topology_reddit_submit(spark, tmp_path):
    from stream_processing_system_spark.streaming import jobs
    from tests.helpers import write_reddit_csv

    d = write_reddit_csv(tmp_path / "reddit_in")
    got = [
        (r["username"], r["posts"])
        for r in topology.submit(spark, "reddit", d).collect()
    ]
    # u2's unparseable "oops" scores 0 and is kept; u3's -4 is dropped;
    # u1 and u2 tie at 2 posts and rank by username
    assert got == [("u1", 2), ("u2", 2)]
    streamed = jobs.stream_reddit_top_users(
        spark, d, str(tmp_path / "ckpt"), name="reddit_topology_t"
    )
    assert got == [(r["username"], r["posts"]) for r in streamed.collect()]


def test_topology_unknown_app(spark):
    with pytest.raises(KeyError, match="unknown app"):
        topology.submit(spark, "nope", "/tmp/x")


@pytest.fixture(params=["local", "distributed"])
def cc_path(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setattr(dedup, "_LOCAL_FINISH_PAIRS", 0)
    return request.param


def test_connected_components_chain(spark, cc_path):
    # chain 1-2-3 plus isolated 9: all of {1,2,3} collapse to 1
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(1,), (2,), (3,), (9,)], ["doc_id"])
    labels = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_component_labels(pairs, nodes, "doc_id").collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 9: 9}


def test_dedup_transitive_collapses_chain(spark):
    # A ~ B (one word changed), B ~ C (another word changed); A vs C
    # differ in two words — pairwise threshold links A-B and B-C but
    # maybe not A-C. Transitive dedup must keep ONLY the min id.
    base = ("w%d " * 30 % tuple(range(30))).strip()
    b = base.replace("w3 ", "q3 ")
    c = b.replace("w20 ", "q20 ")
    df = spark.createDataFrame(
        [(1, base), (2, b), (3, c), (50, "unrelated totally different text here")],
        ["doc_id", "text"],
    )
    kept = {
        r["doc_id"]
        for r in dedup.dedup_transitive(df, "doc_id", "text", threshold=0.6).collect()
    }
    assert kept == {1, 50}

def test_cc_long_path_converges(spark, cc_path):
    """Regression for the O(diameter) propagation pathology: a
    600-node PATH (worst-case diameter) must fully converge to a
    single min-label component within the default round budget —
    the contraction form halves the remaining diameter per round."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(599)], "id_a long, id_b long"
    )
    nodes = spark.range(600).select(F.col("id").alias("node"))
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # unconverged would raise
        labels = dedup.connected_component_labels(pairs, nodes, "node")
        got = labels.agg(
            F.countDistinct("component").alias("nc"),
            F.min("component").alias("mn"),
            F.max("component").alias("mx"),
        ).collect()[0]
    assert (got["nc"], got["mn"], got["mx"]) == (1, 0, 0)


def test_cc_two_rings(spark, cc_path):
    """Two disjoint rings label to their own minima."""
    ring1 = [(i, (i + 1) % 50) for i in range(50)]
    ring2 = [(100 + i, 100 + (i + 1) % 50) for i in range(50)]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in ring1 + ring2],
        "id_a long, id_b long",
    )
    nodes = pairs.select(F.col("id_a").alias("node")).union(
        pairs.select(F.col("id_b").alias("node"))
    ).distinct()
    labels = dedup.connected_component_labels(pairs, nodes, "node")
    comps = {
        r["component"] for r in labels.select("component").distinct().collect()
    }
    assert comps == {0, 100}


def _replay_components(pairs, nodes):
    """Pure-Python reference: min id of each node's component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


_ID_POOLS = {
    "int": (
        "int",
        list(range(-30, 30)) + [2**31 - 1, 2**31 - 2, -(2**31)],
    ),
    "long": ("bigint", [2**31 + k for k in range(40)] + [2**62, 2**63 - 1]),
    "string": (
        "string",
        [f"d{k:02d}" for k in range(40)] + ["", "Z", "a", "é", "\uffff", "😀"],
    ),
}


@pytest.fixture
def tiny_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")  # the union-find sees many batches
    yield
    spark.conf.set(key, prev)


@pytest.mark.parametrize("id_kind", sorted(_ID_POOLS))
def test_cc_matches_union_find_replay(spark, cc_path, tiny_arrow_batches, id_kind):
    """Both paths agree with a pure-Python union-find on random graphs
    with self-loops, duplicate and reversed pairs, boundary ids and
    isolated nodes, and keep the id type in `component`."""
    spark_type, pool = _ID_POOLS[id_kind]
    rng = random.Random(f"cc-{id_kind}")
    nodes_df = spark.createDataFrame([(n,) for n in pool], f"node {spark_type}")
    for n_pairs in (0, 12, 30):
        pairs = [tuple(rng.sample(pool, 2)) for _ in range(n_pairs)]
        if pairs:
            pairs += [(a, a) for a in rng.sample(pool, 3)]
            pairs += rng.sample(pairs, 4) + [(b, a) for a, b in rng.sample(pairs, 4)]
            rng.shuffle(pairs)
        pairs_df = spark.createDataFrame(
            pairs, f"id_a {spark_type}, id_b {spark_type}"
        )
        out = dedup.connected_component_labels(pairs_df, nodes_df, "node")
        assert dict(out.dtypes) == {"node": spark_type, "component": spark_type}
        rows = out.collect()
        assert len(rows) == len(pool)
        got = {r["node"]: r["component"] for r in rows}
        assert got == _replay_components(pairs, pool), (id_kind, n_pairs)


def _count_jobs(spark, group, fn):
    """fn() run under its own job group; returns (fn(), jobs submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_empty_pairs_start_no_labeling(spark, monkeypatch):
    """An empty pair list is labeled by the driver path from its one
    bounded collect: the HashMin loop is never built."""

    def refuse(*_):
        raise AssertionError("HashMin started on an empty pair list")

    monkeypatch.setattr(dedup, "_hashmin_labels", refuse)
    pairs = spark.createDataFrame([], "id_a int, id_b int")
    nodes = spark.createDataFrame([(7,), (2**31 - 1,)], "doc_id int")
    out, jobs = _count_jobs(
        spark,
        "cc-empty-pairs",
        lambda: dedup.connected_component_labels(pairs, nodes, "doc_id"),
    )
    assert jobs == 1
    assert dict(out.dtypes) == {"doc_id": "int", "component": "int"}
    assert sorted(tuple(r) for r in out.collect()) == [(7, 7), (2**31 - 1, 2**31 - 1)]


def test_cc_small_chain_job_count(spark):
    """A small graph costs one job, whatever its diameter: the bounded
    Arrow collect of its pairs. The union-find runs in the driver and
    its labels come back as a local frame. The HashMin loop spends ~20
    here."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], "id_a long, id_b long")
    nodes = spark.range(12).select(F.col("id").alias("doc_id"))
    labels, jobs = _count_jobs(
        spark,
        "cc-small-chain-job-count",
        lambda: dedup.connected_component_labels(pairs, nodes, "doc_id"),
    )
    assert jobs == 1
    assert {r["component"] for r in labels.collect()} == {0, 10, 11}


@pytest.mark.parametrize("over", [0, 1], ids=["at_bound", "over_bound"])
def test_cc_pair_bound_picks_path(spark, monkeypatch, over):
    """Exactly `_LOCAL_FINISH_PAIRS` pair rows (self-loops not counted,
    duplicate and reversed pairs counted) label in the driver; one row
    more goes through HashMin. Both agree with the replay."""
    k = 6
    monkeypatch.setattr(dedup, "_LOCAL_FINISH_PAIRS", k)
    calls = []
    hashmin = dedup._hashmin_labels

    def spy(*args):
        calls.append(args)
        return hashmin(*args)

    monkeypatch.setattr(dedup, "_hashmin_labels", spy)
    # k rows with a reversed and a duplicate pair, plus an uncounted self-loop
    pairs = [(1, 2), (2, 3), (3, 2), (5, 6), (7, 8), (7, 8), (4, 4)]
    if over:
        pairs.append((8, 10))
    pool = list(range(1, 12))
    out = dedup.connected_component_labels(
        spark.createDataFrame(pairs, "id_a long, id_b long"),
        spark.createDataFrame([(n,) for n in pool], "node long"),
        "node",
    )
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == _replay_components(pairs, pool)
    assert len(calls) == over
