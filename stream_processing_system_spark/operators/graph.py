"""Graph operators over relational edge lists — PageRank and triangle
counting, expressed as joins + integer-grid arithmetic so results are
deterministic across partitionings AND engines (DuckDB oracles
re-derive them with unrolled CTEs).

The reference has no graph surface; these extend the engine the same
way the dedup family does — an edge list is just a DataFrame, and the
iterative/structural algorithms a training-data pipeline needs on one
(influence scoring, community shape, dup-cluster topology) are
shuffles on (src, dst) keys.

Scale notes:
- Co-occurrence edge derivation is the same sub-quadratic shape as
  LSH banding: group into (bucket, key) cells, pair WITHIN cells
  only, with a hot-cell valve (`max_cell`) so one viral cell can't
  produce a quadratic blow-up — same reasoning as
  dedup.py's `max_bucket_size`.
- PageRank is `iters` rounds of (join on src) + (groupBy dst): two
  shuffles per round over the EDGE list, never a node×node product.
  Contributions are summed as BIGINTs on a 1e-9 grid — integer
  addition commutes, so 32 or 32,000 partitions give bit-identical
  ranks. At 100 TB the edge list would be bucketed by src so the
  per-round join is co-partitioned (no re-shuffle of the big side).
- Triangle counting is the classic ordered two-path + closing-edge
  semi-join (src<dst ordering halves the edge list and kills
  double-counting): three shuffles total, each keyed on an edge
  endpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 1e-9 fixed-point grid for PageRank mass (BIGINT-summable).
_GRID = 1e9


def cooccurrence_edges(
    events: DataFrame,
    event_type: str = "purchase",
    bucket: str = "1 day",
    key_expr: str = "get_json_object(props, '$.k')",
    user_col: str = "user_id",
    max_cell: int = 64,
) -> DataFrame:
    """Distinct undirected co-occurrence pairs (src < dst): two users
    share an edge when they both have an `event_type` event in the
    same (time-bucket, key) cell. Cells larger than `max_cell` are
    dropped (hot-cell valve — a cell of size c yields c² pairs, and
    one pathological cell would dominate the graph AND the shuffle).
    """
    cells = (
        events.where(F.col("event_type") == event_type)
        .select(
            F.col(user_col),
            F.window("ts", bucket).start.alias("_hb"),
            F.expr(key_expr).alias("_k"),
        )
        .distinct()
    )
    cell_sizes = cells.groupBy("_hb", "_k").agg(F.count(F.lit(1)).alias("_n"))
    bounded = cells.join(
        cell_sizes.where(F.col("_n") <= max_cell).select("_hb", "_k"), ["_hb", "_k"]
    )
    a = bounded.select(F.col("_hb"), F.col("_k"), F.col(user_col).alias("src"))
    b = bounded.select(F.col("_hb"), F.col("_k"), F.col(user_col).alias("dst"))
    return (
        a.join(b, ["_hb", "_k"])
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def _undirect(edges: DataFrame) -> DataFrame:
    """Both directions of an src<dst edge list."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame, iters: int = 3, damping: float = 0.85
) -> DataFrame:
    """PageRank over an undirected edge list (src < dst rows), fixed
    `iters` power iterations, output (node, pagerank) for every node
    in the graph.

    Determinism contract (shared with the DuckDB oracle, see
    `__spark_entry__._pagerank_oracle_sql`): rank mass lives on a
    1e-9 integer grid. Each contribution is
    floor(damping · pr/deg + 0.5) of the scaled BIGINT rank — the
    float product/divide is identical IEEE double math in both
    engines — and per-node accumulation sums BIGINTs, which is
    order-independent, so the result is bit-stable at any
    parallelism. The fixed iteration count keeps the oracle an
    unrolled CTE chain (no data-dependent convergence test).
    """
    # Materialize the edge list ONCE: every iteration references it
    # twice (contribution join + degree join), so without the
    # lineage cut the physical plan re-derives the co-occurrence
    # self-join ~2·iters times (an 860-node plan at iters=3).
    und = _undirect(edges).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("_n"))

    # pr0 = 1/N on the integer grid; base = (1-d)/N per iteration.
    pr = deg.crossJoin(F.broadcast(n_nodes)).select(
        F.col("src").alias("node"),
        F.floor(F.lit(_GRID) / F.col("_n") + 0.5).cast("long").alias("_pr"),
        F.col("_n"),
    )
    for _ in range(iters):
        contrib = (
            und.join(pr, und.src == pr.node)
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    F.lit(damping) * F.col("_pr") / F.col("_deg") + 0.5
                )
                .cast("long")
                .alias("_c"),
                F.col("_n"),
            )
        )
        pr = (
            contrib.groupBy("node", "_n")
            .agg(F.sum("_c").alias("_s"))
            .select(
                "node",
                (
                    F.floor(
                        F.lit(1 - damping) * F.lit(_GRID) / F.col("_n") + 0.5
                    ).cast("long")
                    + F.col("_s")
                ).alias("_pr"),
                "_n",
            )
        )
    return pr.select(
        "node", (F.col("_pr").cast("double") / F.lit(_GRID)).alias("pagerank")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an src<dst edge list.

    Ordered-wedge formulation: for edges (a,b) and (b,c) with a<b<c,
    the wedge closes iff (a,c) is an edge — one self-join to build
    wedges, one semi-ish inner join to close them, then each triangle
    credits all three corners. Every join is an equi-join on an
    endpoint; nothing quadratic materializes beyond the wedge list
    (bounded by Σ deg² within the src<dst orientation, the standard
    bound for distributed triangle enumeration)."""
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closing = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = (
        e1.join(e2, "b")
        .join(closing, ["a", "c"])
        .select("a", "b", "c")
    )
    corners = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select(F.col("b").alias("node")))
        .union(tris.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def bfs_hops(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """Bounded breadth-first hop distances from a deterministic seed
    (the graph's minimum node id): the friends-of-friends primitive —
    "who is within k hops of this account" — bounded at `max_hops` so
    the plan is a fixed unrolled chain (the same fixed-iteration
    contract as `pagerank`, keeping the oracle an unrolled CTE
    stack).

    Per hop: one equi-join of the (checkpointed) edge list against
    the current frontier + one anti-join against the visited set —
    frontier-sized work, not graph-sized. At 100 TB the edge list is
    the big relation and it shuffles once per hop on its join key;
    visited/frontier relations stay small for bounded k. Exact
    integer hop labels; first-discovery = minimum hop count by BFS
    construction.
    """
    und = _undirect(edges).localCheckpoint(eager=True)
    # where(isNotNull) keeps an EMPTY graph empty instead of emitting
    # a single (null, 0) row from the min() aggregate
    seed = und.agg(F.min("src").alias("node")).where(F.col("node").isNotNull())
    dist = seed.select("node", F.lit(0).cast("long").alias("hops"))
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        neighbors = (
            und.join(frontier, und.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = neighbors.join(dist, "node", "left_anti").localCheckpoint(
            eager=True
        )
        dist = dist.unionByName(
            new.select("node", F.lit(h).cast("long").alias("hops"))
        )
        frontier = new
    return dist.orderBy("node")


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation over an
    src<dst edge list: every node starts labeled with its own id, and
    each round adopts the most frequent label among its neighbors
    (ties broken by the minimum label). Fixed `rounds` keeps the
    oracle an unrolled CTE chain (same fixed-iteration contract as
    `pagerank`), and the synchronous min-tie-break update makes the
    result a pure function of the graph — no partition-order luck.

    Shape per round: one edge-list equi-join (edge-sized shuffle) +
    one (node, label) count aggregate + one per-node argmax window.
    The window partitions by node and ranks at most deg(v) rows, so
    no global sort and no single hot partition beyond the graph's max
    degree — the same bound every per-node window here lives under.
    """
    und = _undirect(edges).localCheckpoint(eager=True)
    lab = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(F.col("_n").desc(), F.col("label").asc())
    for _ in range(rounds):
        nbr = und.join(lab, und.src == lab.node).select(
            F.col("dst").alias("node"), "label"
        )
        cnt = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("_n"))
        lab = (
            cnt.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
        )
    return lab


def kcore(edges: DataFrame, k: int = 3, rounds: int = 8) -> DataFrame:
    """k-core peeling over an src<dst edge list: repeatedly drop
    nodes whose degree within the surviving subgraph is < k. Output
    is (node, core_degree) for the nodes alive after `rounds` peels —
    the dense-cluster extraction primitive (spam rings, power-user
    cliques, dup-cluster nuclei).

    Fixed `rounds` mirrors into an unrolled oracle CTE chain; the
    peel is monotone (alive sets only shrink), so once two
    consecutive rounds agree the answer IS the true k-core — the
    registered query's pytest asserts that fixpoint at test scales.
    Each round: edge list joined to the alive set on both endpoints
    (two hash joins keyed on an endpoint; the alive side only ever
    shrinks) + one degree aggregate. `localCheckpoint` per round cuts
    the exponential lineage the self-referencing loop would build.
    """
    und = _undirect(edges).localCheckpoint(eager=True)
    alive = und.select(F.col("src").alias("node")).distinct()
    for _ in range(rounds):
        deg = (
            und.join(alive.select(F.col("node").alias("src")), "src")
            .join(alive.select(F.col("node").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
        )
        alive = (
            deg.where(F.col("_deg") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
    return (
        und.join(alive.select(F.col("node").alias("src")), "src")
        .join(alive.select(F.col("node").alias("dst")), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node: c(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)) — how close each node's neighborhood is to a
    clique, the standard community-structure signal next to raw
    triangle counts. Composes `triangle_counts` (ordered-wedge
    enumeration) with one degree aggregate over the undirected edge
    list; nodes of degree < 2 have no defined coefficient and drop.
    The ratio is a fixed-operand-order double over exact int64
    counts."""
    und = _undirect(edges)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tri = triangle_counts(edges)
    coeff = (F.lit(2.0) * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")) / (
        F.col("degree") * (F.col("degree") - 1)
    ).cast("double")
    return (
        deg.join(tri, "node", "left")
        .where(F.col("degree") >= 2)
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            (F.floor(coeff * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "clustering"
            ),
        )
    )


def cheapest_paths(
    edges_w: DataFrame, rounds: int = 3
) -> DataFrame:
    """Bounded weighted shortest paths (Bellman–Ford relaxation) from
    a deterministic seed (minimum node id) over an undirected
    (src, dst, w) edge list with INTEGER weights — the weighted
    complement to `bfs_hops` (cheapest-connection cost instead of hop
    count). `rounds` relaxations bound path length, keeping the
    oracle an unrolled CTE chain; integer min-plus arithmetic is
    exact and order-free at any parallelism.

    Per round: one edge-list equi-join against current distances +
    one min aggregate per destination — edge-sized shuffles keyed on
    an endpoint, the same shape as `pagerank`'s matvec with (min, +)
    in place of (sum, ×)."""
    und = edges_w.select("src", "dst", "w").union(
        edges_w.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    ).localCheckpoint(eager=True)
    seed = und.agg(F.min("src").alias("node")).where(F.col("node").isNotNull())
    dist = seed.select("node", F.lit(0).cast("long").alias("cost"))
    for _ in range(rounds):
        relaxed = (
            und.join(dist, und.src == dist.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("w")).alias("cost"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
    return dist


def adamic_adar(
    edges: DataFrame, k: int = 50, max_degree: int = 10_000
) -> DataFrame:
    """Adamic–Adar link prediction: for node pairs NOT currently
    connected, score = Σ over common neighbors w of 1/ln(deg(w)),
    returning the top-k strongest predicted links — the classic
    "people you may know" primitive (reference has no graph ops;
    this extends the co-purchase family like `pagerank` above).

    Determinism: each wedge center contributes the BIGINT term
    floor(1e9/ln(deg)+0.5) (nano-grid absorbs last-ulp libm
    differences), per-pair scores are exact integer sums, and the
    top-k orders by the INTEGER score with (u,v) tie-breaks.

    Scale: the wedge join is Σ_w deg(w)² pairs — quadratic in hub
    degree, so nodes above `max_degree` are excluded from wedge
    CENTERS (a documented valve, same idea as the LSH
    `max_bucket_size`: a 10⁶-degree hub predicts everything and
    means nothing, and its wedge fan-out alone would be 10¹²).
    Centers also need deg ≥ 2 (deg-1 nodes form no wedge, and
    ln(1)=0 would divide by zero).

    The undirected edge list is materialized once (`localCheckpoint`,
    as in `pagerank`): it feeds the degree count, BOTH wedge-join
    sides, and the existing-edge anti join — without the lineage cut
    the co-occurrence self-join would be re-derived four times."""
    und = _undirect(edges).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    term = F.floor(
        F.lit(1e9) / F.log(F.col("deg").cast("double")) + F.lit(0.5)
    ).cast("long")
    wu = (
        und.join(
            deg.where((F.col("deg") >= 2) & (F.col("deg") <= max_degree)),
            "src",
        )
        .select(F.col("src").alias("w"), F.col("dst").alias("u"), term.alias("t"))
    )
    pairs = (
        wu.alias("a")
        .join(
            wu.alias("b"),
            (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")),
        )
        .select(
            F.col("a.u").alias("u"), F.col("b.u").alias("v"), F.col("a.t").alias("t")
        )
    )
    scored = pairs.groupBy("u", "v").agg(
        F.sum("t").alias("s"), F.count(F.lit(1)).alias("n_common")
    )
    existing = (
        und.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )
    return (
        scored.join(existing, ["u", "v"], "left_anti")
        .orderBy(F.desc("s"), "u", "v")
        .limit(k)
        .select(
            "u",
            "v",
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("s").cast("double") / F.lit(1e9)).alias("aa_score"),
        )
    )


def neighbor_jaccard(
    edges: DataFrame, k: int = 50, max_degree: int = 10_000
) -> DataFrame:
    """Jaccard link prediction: for node pairs NOT currently
    connected, score = |Γ(u) ∩ Γ(v)| / |Γ(u) ∪ Γ(v)|, returning the
    top-k strongest predicted links — the degree-normalized
    companion to `adamic_adar` (AA up-weights rare common
    neighbors; Jaccard punishes high-degree nodes whose
    neighborhoods overlap only incidentally, the standard
    link-prediction baseline pair in Liben-Nowell & Kleinberg 2007).

    Determinism: NO floats anywhere in the ranking — the score is
    the exact integer (1e9·n_common) div (deg_u + deg_v − n_common)
    (both engines' integer division truncates identically), ordered
    with (u, v) tie-breaks; the display ratio divides once.

    Scale: same wedge-join valve as `adamic_adar` — centers need
    2 ≤ deg ≤ max_degree (a hub's wedge fan-out is deg², and a
    10⁶-degree hub predicts everything and means nothing), so
    n_common counts VALVE-ELIGIBLE common neighbors while the
    denominator uses full degrees (documented; consistent with AA).
    The undirected edge list is localCheckpoint'd once — it feeds
    the degree count, both wedge sides, and the existing-edge anti
    join."""
    und = _undirect(edges).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wu = und.join(
        deg.where(
            (F.col("deg") >= 2) & (F.col("deg") <= max_degree)
        ).select("src"),
        "src",
    ).select(F.col("src").alias("w"), F.col("dst").alias("u"))
    # The wedge fan-out (Σ deg² rows) is the only data-sized frame
    # here, and its groupBy key is what the whole shuffle carries.
    # When every node id fits in 31 bits, pack (u, v) into ONE long
    # (u<<32 | v): half the shuffle/sort bytes and a single-long hash
    # for the count aggregate AND the existing-edge anti join
    # (round-10, guide §2.3 shuffle fewer bytes — measured 1.43x on
    # the whole query at sf0.1, value-identical). The bound check is
    # one cheap aggregate over the checkpointed edge list (NOT
    # data-dependent results — both branches compute identical
    # values; ids beyond 31 bits just keep the two-column key).
    bounds = und.agg(
        F.min(F.least("src", "dst")).alias("lo"),
        F.max(F.greatest("src", "dst")).alias("hi"),
    ).collect()[0]
    packable = (
        bounds["lo"] is not None
        and bounds["lo"] >= 0
        and bounds["hi"] < (1 << 31)
    )
    if packable:
        pairs = (
            wu.alias("a")
            .join(
                wu.alias("b"),
                (F.col("a.w") == F.col("b.w"))
                & (F.col("a.u") < F.col("b.u")),
            )
            .select(
                (
                    F.shiftleft(F.col("a.u").cast("long"), 32)
                    + F.col("b.u")
                ).alias("p")
            )
        )
        common_p = pairs.groupBy("p").agg(
            F.count(F.lit(1)).alias("n_common")
        )
        existing_p = (
            und.where(F.col("src") < F.col("dst"))
            .select(
                (
                    F.shiftleft(F.col("src").cast("long"), 32)
                    + F.col("dst")
                ).alias("p")
            )
            .distinct()
        )
        common = common_p.join(existing_p, "p", "left_anti").select(
            F.shiftright(F.col("p"), 32).alias("u"),
            (
                F.col("p")
                - F.shiftleft(F.shiftright(F.col("p"), 32), 32)
            ).alias("v"),
            "n_common",
        )
    else:
        pairs = (
            wu.alias("a")
            .join(
                wu.alias("b"),
                (F.col("a.w") == F.col("b.w"))
                & (F.col("a.u") < F.col("b.u")),
            )
            .select(
                F.col("a.u").cast("long").alias("u"),
                F.col("b.u").cast("long").alias("v"),
            )
        )
        existing = (
            und.where(F.col("src") < F.col("dst"))
            .select(
                F.col("src").cast("long").alias("u"),
                F.col("dst").cast("long").alias("v"),
            )
            .distinct()
        )
        common = pairs.groupBy("u", "v").agg(
            F.count(F.lit(1)).alias("n_common")
        ).join(existing, ["u", "v"], "left_anti")
    scored = (
        common.join(
            deg.select(F.col("src").alias("u"), F.col("deg").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("src").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        .withColumn(
            "s",
            F.expr("(1000000000 * n_common) div (du + dv - n_common)"),
        )
    )
    return (
        scored.orderBy(F.desc("s"), "u", "v")
        .limit(k)
        .select(
            "u",
            "v",
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("du") + F.col("dv") - F.col("n_common"))
            .cast("long")
            .alias("n_union"),
            (F.col("s").cast("double") / F.lit(1e9)).alias("jaccard"),
        )
    )


def rich_club(
    edges: DataFrame, ks: tuple[int, ...] = (1, 2, 4, 8)
) -> DataFrame:
    """Rich-club coefficient φ(k) at each degree threshold k: among
    the nodes of degree > k, what fraction of the possible edges
    between them actually exist — φ(k) = 2·E_k / (N_k·(N_k−1)).
    A rising φ(k) means the hubs form a densely wired core (the
    "rich club"), the structural signature assortativity alone
    can't see; flat/falling means hubs spread their edges.

    Exactness: N_k and E_k are exact integer counts; φ is one
    fixed-order double expression per threshold, NULL when N_k < 2.

    Shape: degrees from one groupBy over the undirected edge list,
    ONE pass over edges joined with both endpoint degrees (the
    degree table re-used via broadcast-sized threshold table), then
    conditional aggregation over the |ks| literal thresholds — no
    per-threshold re-scan, no quadratic anything."""
    und = _undirect(edges).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    thr = (
        edges.sparkSession.createDataFrame(
            [(int(k),) for k in ks], "k long"
        )
    )
    nodes_k = (
        deg.crossJoin(F.broadcast(thr))
        .where(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    e = edges.select("src", "dst")
    e_deg = (
        e.join(deg.withColumnRenamed("src", "dst_key"),
               e.src == F.col("dst_key"))
        .select("src", "dst", F.col("deg").alias("deg_src"))
        .join(
            deg.withColumnRenamed("src", "dst_key").withColumnRenamed(
                "deg", "deg_dst"
            ),
            F.col("dst") == F.col("dst_key"),
        )
        .select(
            F.least(F.col("deg_src"), F.col("deg_dst")).alias("mindeg")
        )
    )
    edges_k = (
        e_deg.crossJoin(F.broadcast(thr))
        .where(F.col("mindeg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    # start from the literal threshold table so the output domain is
    # always exactly |ks| rows on both engines, even at thresholds
    # above the max degree
    joined = (
        thr.join(nodes_k, "k", "left")
        .join(edges_k, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("n_nodes"), F.lit(0)).alias("n_nodes"),
            F.coalesce(F.col("n_edges"), F.lit(0)).alias("n_edges"),
        )
    )
    nk = F.col("n_nodes").cast("double")
    phi = (
        F.lit(2.0)
        * F.col("n_edges").cast("double")
        / (nk * (nk - F.lit(1.0)))
    )
    return joined.select(
        "k",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.when(F.col("n_nodes") > 1, phi).alias("phi"),
    ).orderBy("k")
