"""Deduplication operators for large-scale training-data pipelines.

The reference has no dedup (its only distinct-shaped op is the
per-key collect_set, `bolt/bolt.go:615-624`); these are the
north-star extensions (SURVEY.md §7.2 step 6). All hashing is built
on md5 (`functions.md5_prefix_long`) because DuckDB's md5 is
byte-identical — every signature here is differentially testable in
pure SQL.

Scale design:
- exact dedup: one hash-shuffle on a 128-bit digest; never ships the
  full text twice (group on the digest, keep min id).
- MinHash: tokens explode → ONE groupBy(doc) computing all K mins
  (single shuffle); signatures are K longs per doc, tiny vs text.
- LSH banding: candidate generation is a self-join on (band_idx,
  band_hash) — the classic sub-quadratic path. The full O(n²) pair
  comparison never happens; only same-bucket pairs are verified.
- token/shingle self-join (`jaccard_pairs`) is the *exact* path for
  validation at small scale; at 100 TB you run minhash_lsh_pairs
  instead. Hot shingles are the skew hazard — `max_shingle_freq`
  drops shingles occurring in more than that many docs (stop-shingle
  cutoff), which bounds the join fan-out.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from stream_processing_system_spark.functions import md5_prefix_long


def normalized_text(col, lowercase: bool = True):
    c = F.trim(col)
    return F.lower(c) if lowercase else c


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: keep the smallest id per md5(lower(trim(text))).

    Group on the digest, not the text: the shuffle moves 16-byte keys
    instead of documents. Deterministic keeper (min id) so the result
    is hash-comparable."""
    digest = F.md5(normalized_text(F.col(text_col)))
    return (
        df.select(digest.alias("_digest"), F.col(id_col))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def tokens_per_doc(df: DataFrame, id_col: str, text_col: str, sep: str = " ") -> DataFrame:
    """Distinct (id, token) pairs — the input relation for MinHash and
    Jaccard. dropDuplicates before any join/agg keeps cardinality at
    O(vocab per doc), not O(words per doc)."""
    toks = F.filter(F.split(F.col(text_col), sep), lambda t: t != "")
    return (
        df.select(F.col(id_col), F.explode(toks).alias("token"))
        .dropDuplicates([id_col, "token"])
    )


def shingles_per_doc(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc (documents shorter than n
    words produce no shingles — same convention as the SQL oracle)."""
    parts = " ,".join(f"l[i+{j}]" for j in range(n)).split(",")
    expr = (
        f"transform(sequence(0, size(l)-{n}), i -> concat_ws(' ', {', '.join(parts)}))"
    )
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    return (
        df.select(F.col(id_col), toks.alias("l"))
        .where(F.size("l") >= n)
        .select(F.col(id_col), F.explode(F.expr(expr)).alias("shingle"))
        .dropDuplicates([id_col, "shingle"])
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc as ONE array column —
    the map-only twin of `shingles_per_doc` (no explode, no shuffle).
    Signatures and pair verification both derive from this: a 100 TB
    corpus gets its shingle sets in a single codegen'd scan."""
    parts = " ,".join(f"l[i+{j}]" for j in range(n)).split(",")
    expr = (
        f"array_distinct(transform(sequence(0, size(l)-{n}), "
        f"i -> concat_ws(' ', {', '.join(parts)})))"
    )
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    return (
        df.select(F.col(id_col), toks.alias("l"))
        .where(F.size("l") >= n)
        .select(F.col(id_col), F.expr(expr).alias("shingles"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per doc over word n-gram shingles:
    h_j = min over shingles of md5_prefix_long('j|' + shingle). One
    explode + one groupBy — all K hash mins in a single shuffle
    (columns h0..h{K-1}).

    Shingles, not unigrams, on purpose: signatures must estimate the
    same Jaccard space the verification step measures, and unigram
    sets are near-identical across natural-language docs (small
    shared vocabulary → all docs collide into one LSH bucket → the
    candidate join degenerates to O(n²)). `shingle_n=1` still gives
    token-level MinHash when wanted.

    Explode + one groupBy on purpose: all K mins aggregate in one
    shuffle of K longs per doc, and the md5s run inside whole-stage
    codegen. (A map-only `array_min(transform(...))` variant was
    benchmarked and lost ~25%: higher-order-function eval is
    interpreted per element, while explode + hash-aggregate is
    codegen'd end to end.)

    Hashing cost: each md5 digest is 128 bits = FOUR independent
    32-bit hash words, so K hash functions need only ceil(K/4) md5
    evaluations per shingle — h_{4d+w} is hex chars [8w+1, 8w+8] of
    md5('<d>|' + shingle). Same fold as simhash64; the SQL oracle
    mirrors it with substr offsets."""
    units = (
        tokens_per_doc(df, id_col, text_col).withColumnRenamed("token", "shingle")
        if shingle_n == 1
        else shingles_per_doc(df, id_col, text_col, n=shingle_n)
    )
    digests = [
        F.md5(F.concat(F.lit(f"{d}|"), F.col("shingle")))
        for d in range((num_hashes + 3) // 4)
    ]
    # min over the fixed-width lowercase-hex words: lexicographic ==
    # numeric order, so the base-16 parse runs once per DOC after the
    # aggregate instead of once per shingle
    aggs = [
        F.min(F.substring(digests[j // 4], 8 * (j % 4) + 1, 8)).alias(f"_hx{j}")
        for j in range(num_hashes)
    ]
    return units.groupBy(id_col).agg(*aggs).select(
        F.col(id_col),
        *[
            F.conv(F.col(f"_hx{j}"), 16, 10).cast("long").alias(f"h{j}")
            for j in range(num_hashes)
        ],
    )


def _band_buckets(
    signatures: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) rows: one bucket key per LSH band, bucket =
    md5 over the band's hash values."""
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")
    band_cols = []
    for b in range(bands):
        members = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *members)).alias("bucket"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "bk.band", "bk.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding over MinHash signatures: docs agreeing on ALL rows
    of at least one band become candidate pairs. Output: (id_a, id_b)
    with id_a < id_b, distinct.

    The band join is the scale path: cost is
    O(sum over buckets of bucket²) instead of O(n²); bucket keys are
    (band_idx, md5 of the band's hash values).

    `max_bucket_size` is the 100 TB safety valve: a degenerate
    bucket (boilerplate/empty docs all sharing one band hash) makes
    its bucket² term quadratic in corpus size. Setting a cap drops
    buckets above it before the self-join — the standard
    production-LSH trade (those docs can still pair via their other
    bands). None (default) keeps exact banding semantics."""
    buckets = _band_buckets(signatures, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        small = (
            buckets.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") <= max_bucket_size)
            .select("band", "bucket")
        )
        buckets = buckets.join(small, ["band", "bucket"])
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index
    self-join: join docs on shared shingles, count the intersection,
    union = |A| + |B| - |A∩B|. Output (id_a, id_b, jaccard) for
    jaccard >= threshold, rounded to 6 dp for cross-engine equality.

    `max_shingle_freq` is the skew guard for scale: a shingle present
    in f docs contributes f² join rows; dropping ultra-common
    shingles bounds the blow-up (slightly under-counts similarity of
    pairs that share only stop-shingles — acceptable for dedup)."""
    sh = shingles_per_doc(df, id_col, text_col, n=n)
    if max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_f"))
            .where(F.col("_f") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")),
        6,
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc: for each bit position, sum +1/-1 votes
    from each distinct token's md5-derived bits; bit = 1 when the vote
    is positive. Pure built-in expressions: two 32-bit halves from the
    md5 hex, bit-tested with shiftright/&.

    Output: (id, simhash) with simhash as bigint. Near-dup detection
    then compares hamming distance (see `simhash_neardup_pairs`)."""
    # distinct tokens via array_distinct in the MAP stage, then
    # explode: one shuffle (the vote groupBy) instead of two
    # (tokens_per_doc's dropDuplicates would shuffle first)
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
            )
        ).alias("token"),
    )
    # one md5 yields 128 bits: hex chars 1-8 → hi word, 9-16 → lo word
    # (half the hashing cost of two salted digests).
    digest = F.md5(F.concat(F.lit("sh|"), F.col("token")))
    hi = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
    toks = toks.withColumn("_hi", hi).withColumn("_lo", lo)
    # Packed voting: vote_i = 2*set_count_i - n_tokens, so only the
    # SET-bit counts are aggregated — four 16-bit counters per long
    # (bit positions i, i+16, i+32, i+48 share aggregate p{i}) plus
    # one token count: 17 accumulators instead of 64. Counters hold
    # docs up to 65,535 distinct tokens (~300 KB of text) without
    # slot overflow; bigger docs should be truncated upstream — the
    # standard SimHash practice — or hashed with the unpacked form.
    packed = [
        F.sum(
            functools.reduce(
                operator.add,
                [
                    F.shiftleft(
                        F.shiftright(
                            F.col("_hi" if pos < 32 else "_lo"), pos % 32
                        ).bitwiseAND(1),
                        16 * slot,
                    )
                    for slot, pos in enumerate(range(i, 64, 16))
                ],
            )
        ).alias(f"p{i}")
        for i in range(16)
    ]
    voted = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *packed)
    bits = []
    for i in range(16):
        for slot, pos in enumerate(range(i, 64, 16)):
            set_cnt = F.shiftright(F.col(f"p{i}"), 16 * slot).bitwiseAND(0xFFFF)
            positive = (set_cnt * 2 - F.col("_n")) > 0
            bits.append(
                F.when(
                    positive,
                    F.lit(-(2**63)) if pos == 63 else F.lit(2**pos).cast("long"),
                ).otherwise(0)
            )
    simhash = functools.reduce(operator.add, bits).alias("simhash")
    return voted.select(F.col(id_col), simhash)


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit quarters of the
    signature (a pair within hamming distance 3 must agree on at
    least one of 4 quarters — pigeonhole), then verify the exact
    hamming distance with bit_count(xor). The blocking join is the
    scale path; no O(n²) comparison."""
    sigs = simhash64(df, id_col, text_col)
    quarters = F.array(
        *[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftrightunsigned(F.col("simhash"), q * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("key"),
            )
            for q in range(4)
        ]
    )
    blocked = sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(quarters).alias("bk")
    ).select(id_col, "simhash", "bk.q", "bk.key")
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# Pair-row bound (self-loops dropped; duplicate and reversed pairs
# count) up to which `connected_component_labels` labels the whole
# graph in the driver. Driver cost: the union-find holds a Python dict
# of about 100 B per node (string ids add their own size), and the
# collected pairs take 16 B of Arrow per long pair; 1M pairs touch at
# most 2M nodes, about 200 MB of dict plus 16 MB of Arrow. A graph
# above the bound pays one throw-away limited collect before the
# distributed HashMin loop, the only path that scales past it.
_LOCAL_FINISH_PAIRS = 1_000_000


def _union_find(pairs):
    """(node, component) Arrow table for every node of a two-column
    Arrow pair table, by union-find in this process. The smaller root
    always wins a union, so every root is its component's min id and
    the pairs need no symmetric or deduplicated form; labels keep the
    pairs' Arrow type."""
    import pyarrow as pa

    parent = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pairs.column(0).to_pylist(), pairs.column(1).to_pylist()):
        ra = find(parent.setdefault(a, a))
        rb = find(parent.setdefault(b, b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    id_type = pairs.schema.field(0).type
    return pa.table(
        [pa.array(nodes, id_type), pa.array([find(n) for n in nodes], id_type)],
        names=["node", "component"],
    )


def _hashmin_labels(edges: DataFrame, n_edges: int, max_iters: int) -> DataFrame:
    """Distributed min-label HashMin on a contracting edge set, with
    path compression on the label table. Every node starts labeled
    with itself; each round (1) every label-graph node adopts
    min(self, neighbors) and that mapping is pointer-jumped once,
    (2) node labels re-compose through the mapping and then through
    themselves (component <- its component's component; labels only
    decrease, so the jump is valid and compounds across rounds like
    classic path compression), (3) the edge set is rewritten onto the
    current labels with self-loops dropped. Path compression alone
    crawls on dense large-diameter graphs; contraction alone gains
    only a constant per round on paths; together a 600-node path and
    a globe-spanning geometric component converge well inside the
    default budget. Converged means "no non-self-loop edges remain".

    Each round runs two actions and returns one scalar: the eager
    labels checkpoint, and the edge count that materializes the lazy
    edge checkpoint (about 12 jobs, as AQE submits each exchange as a
    job of its own). An unconverged exit raises a RuntimeWarning
    rather than returning partial labels silently."""
    labels = (
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )

    converged = False
    for _ in range(max_iters):
        if n_edges == 0:
            converged = True
            break
        # (1) HashMin hop on the contracted label graph + one jump
        m1 = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("_nmin"))
            .select(
                F.col("src").alias("old"),
                F.least(F.col("src"), F.col("_nmin")).alias("new"),
            )
        )
        # The mapping is not checkpointed: it is consumed once, inside
        # the labels job below, and m1's two uses end in the same
        # groupBy exchange, which ReuseExchange dedups within that job.
        mapping = m1.join(
            m1.select(
                F.col("old").alias("new"), F.col("new").alias("_new2")
            ),
            "new",
            "left",
        ).select(
            "old", F.coalesce(F.col("_new2"), F.col("new")).alias("new")
        )
        # (2) compose node labels through the mapping, then compress
        # paths: component <- component's component
        hopped = labels.join(
            mapping.select(
                F.col("old").alias("component"), F.col("new").alias("_c2")
            ),
            "component",
            "left",
        ).select(
            "node",
            F.coalesce(F.col("_c2"), F.col("component")).alias("component"),
        )
        parents = hopped.select(
            F.col("node").alias("_pn"), F.col("component").alias("_pc")
        )
        # Eager: under checkpointAllMarkedAncestors=false a lazy
        # checkpoint that is only an ancestor of the edge count never
        # truncates its lineage, and the per-round plan would grow.
        labels = (
            hopped.join(parents, hopped.component == parents._pn, "left")
            .select(
                "node",
                F.coalesce(F.col("_pc"), F.col("component")).alias("component"),
            )
            .localCheckpoint()
        )
        # (3) contract the edge set through the compressed labels; the
        # count below materializes the lazy checkpoint and is the
        # convergence scalar in one job
        edges = (
            edges.join(
                labels.select(F.col("node").alias("src"), F.col("component").alias("_s")),
                "src",
                "left",
            )
            .join(
                labels.select(F.col("node").alias("dst"), F.col("component").alias("_d")),
                "dst",
                "left",
            )
            .select(
                F.coalesce(F.col("_s"), F.col("src")).alias("src"),
                F.coalesce(F.col("_d"), F.col("dst")).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates()
            .localCheckpoint(eager=False)
        )
        n_edges = edges.count()
    # Final pointer compression: an edge (L1, L2) is dropped as soon
    # as the label table knows comp(L1) == comp(L2), which can leave
    # plain nodes pointing at intermediate labels (a pointer forest,
    # not yet its roots). Compress component <- its component's
    # component to fixpoint; chains halve each round.
    compressed = False
    for _ in range(max_iters):
        parents = labels.select(
            F.col("node").alias("_pn"), F.col("component").alias("_pc")
        )
        # Lazy: nxt is the first marked RDD the changed-count job
        # reaches, so this checkpoint both materializes and cuts
        # lineage under that one action (one job per round).
        nxt = (
            labels.join(parents, labels.component == parents._pn, "left")
            .select(
                "node",
                F.coalesce(F.col("_pc"), F.col("component")).alias("component"),
                (F.coalesce(F.col("_pc"), F.col("component"))
                 < F.col("component")).cast("int").alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = nxt.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = nxt.drop("_chg")
        if changed == 0:
            compressed = True
            break
    # A graph that contracts to empty exactly on round max_iters exits
    # the loop without re-visiting the top-of-loop emptiness check.
    if not converged and n_edges == 0:
        converged = True
    if not (converged and compressed):
        import warnings

        warnings.warn(
            f"connected_component_labels: no fixpoint after {max_iters} "
            "rounds; labels may span partial components",
            RuntimeWarning,
            stacklevel=3,
        )
    return labels


def connected_component_labels(
    pairs: DataFrame, nodes: DataFrame, id_col: str, max_iters: int = 25
) -> DataFrame:
    """Connected components over a pair list. Output: (id, component),
    where component is the min id reachable from id and keeps the id
    type (int, long or string).

    Self-loops dropped, at most `_LOCAL_FINISH_PAIRS + 1` pair rows
    are collected to the driver as Arrow in one job, and their count
    picks one of two paths:
    - up to the bound: `_union_find` labels every node in the driver,
      whatever the graph's diameter, and the labels come back as a
      local frame. The bound is the scale limit of this path (see the
      constant for its driver memory).
    - above it: the pairs become a symmetric deduplicated edge set and
      the distributed HashMin loop (`_hashmin_labels`) runs, two
      actions per round plus one per compression round, with the edge
      set shrinking as components contract; `max_iters` bounds both
      loops, and an unconverged exit raises a RuntimeWarning (the
      transitive-closure contract of dedup_transitive needs full
      convergence).

    Only nodes that appear in a pair are labeled by either path: an
    isolated node (no pair, the overwhelming majority of a deduped
    corpus) is its own component and is unioned back in at the end."""
    # both columns in the type a union of them resolves to
    id_type = pairs.select("id_a").union(pairs.select("id_b")).schema[0].dataType
    pairs = pairs.where(F.col("id_a") != F.col("id_b")).select(
        F.col("id_a").cast(id_type), F.col("id_b").cast(id_type)
    )
    bounded = pairs.limit(_LOCAL_FINISH_PAIRS + 1).toArrow()
    if bounded.num_rows <= _LOCAL_FINISH_PAIRS:
        labels = pairs.sparkSession.createDataFrame(
            _union_find(bounded),
            StructType(
                [StructField("node", id_type), StructField("component", id_type)]
            ),
        )
    else:
        del bounded
        edges = (
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
            .dropDuplicates()
            .localCheckpoint(eager=False)
        )
        # materializes the lazy checkpoint
        labels = _hashmin_labels(edges, edges.count(), max_iters)
    isolated = (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels.select("node"), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return labels.unionByName(isolated).select(
        F.col("node").alias(id_col), "component"
    )


def _verify_jaccard_pairs(
    cands: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int,
    df_b: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard check on LSH candidate pairs via per-doc
    shingle-set arrays: `size(array_intersect(sa, sb))` per pair.
    `df_b` selects the id_b side's documents (defaults to `df` for
    self-join dedup; pass the corpus table for incremental dedup).

    Scale shape: each input is scanned ONCE (map-only
    `shingle_sets`), then the small candidate relation makes two
    equi-joins against the compact (id, shingles) table — versus the
    old formulation's three shingle explosions plus a
    candidates×shingles join. Verify cost is O(|cands| · doc_len);
    intersection counts over distinct arrays are integer-identical
    to the exploded join-count, so oracles are unaffected."""
    sets = shingle_sets(df, id_col, text_col, n=shingle_n)
    sets_b = (
        sets
        if df_b is None
        else shingle_sets(df_b, id_col, text_col, n=shingle_n)
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("_sa"))
    b = sets_b.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("_sb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        # project the intersection size once; referencing it from the
        # filter keeps array_intersect to a single eval per pair
        .withColumn("_common", F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))))
        .where(
            F.col("_common") / (F.size("_sa") + F.size("_sb") - F.col("_common"))
            >= threshold
        )
        .select("id_a", "id_b")
    )


def _near_dup_components(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int, bands: int, threshold: float, shingle_n: int,
) -> DataFrame:
    """The near-dup chain the transitive dedups share: MinHash
    signatures → LSH candidate pairs → exact-Jaccard verify →
    connected components over the verified pairs. Returns
    (id_col, component) for every document; a document without a
    verified near-dup is its own component."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes=num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes=num_hashes, bands=bands)
    verified = _verify_jaccard_pairs(
        cands, df, id_col, text_col, threshold, shingle_n
    )
    return connected_component_labels(verified, df.select(id_col), id_col)


def dedup_transitive(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dedup with TRANSITIVE closure: where dedup_minhash_lsh
    keeps B when A~B and B~C but A!~C (pairwise rule),
    this collapses the whole chain to min(A,B,C) via connected
    components over the verified-pair graph. Returns kept ids
    (one per component)."""
    comps = _near_dup_components(
        df, id_col, text_col, num_hashes, bands, threshold, shingle_n
    )
    return (
        comps.groupBy("component")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def dedup_minhash_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dedup, end to end: MinHash-LSH candidates → exact Jaccard
    verification on candidates only → drop every doc that has a
    verified near-dup with a smaller id. Returns kept ids.

    This is the 100 TB path: LSH bounds candidate generation, the
    expensive exact check runs only on candidates, and the "keep min
    id" rule needs one more small join instead of connected
    components (transitive closures are deliberately NOT chased —
    same choice as most production dedup pipelines)."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes=num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes=num_hashes, bands=bands)
    verified = _verify_jaccard_pairs(
        cands, df, id_col, text_col, threshold, shingle_n
    )
    dupes = verified.select(F.col("id_b").alias(id_col)).dropDuplicates()
    return df.select(id_col).join(dupes, id_col, "left_anti")


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental ingest dedup: keep only new-batch docs that are
    NOT near-dups of any EXISTING corpus doc. Candidates come from a
    band-bucket equi-join between the batch's signatures and the
    corpus's (not a self-join); only those pairs get the exact
    Jaccard check; kept = new ids with no verified corpus match.

    This is the steady-state shape of a training-data pipeline: the
    corpus signatures are computed once per doc ever (persist the
    `minhash_signatures` output and this function's corpus side
    becomes a parquet scan), so each ingest costs
    O(batch) + O(matching buckets) regardless of corpus size.
    Within-batch duplicates are a separate `dedup_minhash_lsh` pass."""
    sigs_new = minhash_signatures(
        new_df, id_col, text_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    sigs_corp = minhash_signatures(
        corpus_df, id_col, text_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    bn = _band_buckets(sigs_new, id_col, num_hashes, bands).select(
        F.col(id_col).alias("id_a"), "band", "bucket"
    )
    bc = _band_buckets(sigs_corp, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        small = (
            bc.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") <= max_bucket_size)
            .select("band", "bucket")
        )
        bc = bc.join(small, ["band", "bucket"])
    cands = (
        bn.join(bc.select(F.col(id_col).alias("id_b"), "band", "bucket"),
                ["band", "bucket"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = _verify_jaccard_pairs(
        cands, new_df, id_col, text_col, threshold, shingle_n, df_b=corpus_df
    )
    dupes = verified.select(F.col("id_a").alias(id_col)).dropDuplicates()
    return new_df.select(id_col).join(dupes, id_col, "left_anti")


def dedup_sorted_neighborhood(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    threshold: float = 0.1,
    shingle_n: int = 3,
    key_len: int = 32,
) -> DataFrame:
    """Sorted-neighborhood near-dup detection — the third classic
    candidate-generation family next to MinHash-LSH banding and
    SimHash blocking: sort the corpus on a normalized key (lowercased
    alnum prefix), pair each doc with its `window` successors in sort
    order, then exact-verify n-gram Jaccard on just those candidates.
    O(n·window) candidates instead of O(n²).

    Output (id_a, id_b, jaccard) for verified pairs, ids canonically
    ordered, jaccard rounded to 6 dp.

    Scale: candidate generation is rank + an equi-join on rank (each
    doc explodes to `window` probe ranks) — both shuffle O(n) rows of
    (id, key) only, never text. The global row_number here is the
    demo-scale formulation; at 100 TB replace it with the standard
    two-phase distributed rank (repartitionByRange on the key,
    per-partition index + cumulative partition offsets, e.g. RDD
    zipWithIndex) — the neighborhood join is unchanged. Verification
    reuses the map-only shingle-set arrays (one corpus scan)."""
    from pyspark.sql import Window

    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""), 1, key_len
    )
    ranked = df.select(
        F.col(id_col),
        F.row_number()
        .over(Window.orderBy(key.asc(), F.col(id_col).asc()))
        .alias("_rn"),
    )
    probes = ranked.select(
        F.col(id_col).alias("_id_lo"),
        F.explode(
            F.sequence(F.col("_rn") + 1, F.col("_rn") + F.lit(window))
        ).alias("_rn"),
    )
    cands = (
        probes.join(ranked, "_rn")
        .select(
            F.least(F.col("_id_lo"), F.col(id_col)).alias("id_a"),
            F.greatest(F.col("_id_lo"), F.col(id_col)).alias("id_b"),
        )
    )
    sets = shingle_sets(df, id_col, text_col, n=shingle_n)
    a = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("_sa"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("_sb"))
    common = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    jac = common / (F.size("_sa") + F.size("_sb") - common)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric containment detection: (id_a, id_b) pairs where
    EVERY shingle of a also appears in b (a ⊆ b, a ≠ b) — catches
    subset-duplicates (a paragraph lifted into a longer doc) that
    symmetric Jaccard under-scores when |b| >> |a|. Output includes
    a's shingle count as the evidence size.

    Scale shape: same sub-quadratic inverted-index self-join as
    jaccard_pairs — docs meet only through shared shingles, and
    containment needs just the intersection count compared to |a|
    (one groupBy, no second pass). `max_shingle_freq` is the same
    hot-shingle skew valve."""
    sh = shingles_per_doc(df, id_col, text_col, n=shingle_n)
    if max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_f"))
            .where(F.col("_f") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col(f"a.shingle") == F.col(f"b.shingle"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a"), "id_a")
        .where(F.col("common") == F.col("n_sh"))
        .select("id_a", "id_b", F.col("n_sh").cast("long").alias("n_sh"))
        .orderBy("id_a", "id_b")
    )


def dedup_canonical(
    df: DataFrame,
    quality: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Cluster-representative selection: the step after transitive
    near-dedup in a real curation pipeline. `dedup_transitive` keeps
    min(id) per duplicate cluster; a training-data pipeline instead
    keeps the BEST document of each cluster (highest quality score,
    id as the tie-break) so dedup never discards the cleanest copy.

    `quality` is any (id_col, quality) frame — here
    `text_analysis.quality_score`; in production a model score.
    Returns one row per cluster: (cluster_id = min member id,
    kept_id, n_members, quality of the kept doc).

    Shape: same sub-quadratic LSH + verify + CC machinery as
    dedup_transitive, then ONE window (partitioned by cluster label,
    k rows each) to pick the argmax — partition-local, no global
    sort. Singleton docs are their own cluster and keep themselves.
    """
    comps = _near_dup_components(
        df, id_col, text_col, num_hashes, bands, threshold, shingle_n
    )
    scored = comps.join(quality, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .where(F.col("_rn") == 1)
        .select(
            F.col("component").alias("cluster_id"),
            F.col(id_col).alias("kept_id"),
            F.col("n_members").cast("long").alias("n_members"),
            "quality",
        )
    )


def banding_recall_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    sample_mod: int = 2,
    sample_cap: int = 500,
) -> DataFrame:
    """Dedup-quality evaluation harness: banding RECALL and candidate
    PRECISION of the MinHash-LSH pipeline against EXACT all-pairs
    Jaccard ground truth (threshold 0.5) on a deterministic sample
    (id < sample_cap, id % sample_mod == 0) — "measure, don't guess"
    for the b/r banding knobs. Exactly `banding_sweep_report`
    evaluated at ONE bands value (it shares the sweep's fixed-budget
    ground truth and signature construction; round-3 dedupe of the
    previously copy-pasted ~40-line block), minus the bands columns.

    Output (one row): n_true, n_candidates, n_hits,
    recall = hits/true, precision = hits/candidates."""
    return banding_sweep_report(
        df,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands_list=(bands,),
        sample_mod=sample_mod,
        sample_cap=sample_cap,
    ).select("n_true", "n_candidates", "n_hits", "recall", "precision")


def banding_sweep_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands_list: tuple[int, ...] = (2, 4, 8),
    sample_mod: int = 2,
    sample_cap: int = 500,
) -> DataFrame:
    """Banding parameter sweep: `banding_recall_report`'s ground
    truth evaluated against EVERY (bands, rows) split of the same
    8-hash signatures — the measured recall/precision trade-off
    curve behind choosing b/r (more bands → higher recall, more
    false candidates). Signatures and ground truth are computed ONCE
    on the fixed-budget sample; each sweep point only re-bands them.
    Output: one row per bands value."""
    sample = df.where(
        (F.col(id_col) < sample_cap) & (F.col(id_col) % sample_mod == 0)
    )
    ss = shingle_sets(sample, id_col, text_col, n=n).localCheckpoint(eager=True)
    a = ss.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sa"))
    b = ss.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(inter * 3 >= F.size("sa") + F.size("sb"))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    sigs = minhash_signatures(
        sample, id_col, text_col, num_hashes=num_hashes, shingle_n=n
    ).localCheckpoint(eager=True)
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    from stream_processing_system_spark.functions.scalar import det_round

    out = None
    for bands in bands_list:
        cands = lsh_candidate_pairs(sigs, id_col, num_hashes=num_hashes, bands=bands)
        nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
        nh = cands.join(truth, ["id_a", "id_b"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        row = (
            nt.crossJoin(F.broadcast(nc))
            .crossJoin(F.broadcast(nh))
            .select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(num_hashes // bands).cast("int").alias("rows_per_band"),
                "n_true",
                "n_candidates",
                "n_hits",
                F.when(
                    F.col("n_true") > 0,
                    det_round(
                        F.col("n_hits").cast("double")
                        / F.col("n_true").cast("double")
                    ),
                ).alias("recall"),
                F.when(
                    F.col("n_candidates") > 0,
                    det_round(
                        F.col("n_hits").cast("double")
                        / F.col("n_candidates").cast("double")
                    ),
                ).alias("precision"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("bands")


def substring_dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 64,
    stride: int = 1,
) -> DataFrame:
    """Exact-substring dedup spans, the Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") operator the LSH
    family can't express: find the CHARACTER RANGES of each document
    that also occur verbatim in another document, so a pipeline can
    cut the spans instead of dropping whole near-dup docs.

    Contract: duplication is detected at fixed-width character
    windows (`width`) at EVERY position (stride=1 by default — a
    stride > 1 only matches duplicates whose offsets agree mod
    stride, which silently misses almost all cross-doc copies; the
    fuzz test proved this with a shared region at misaligned
    offsets); a window is duplicated iff its md5 appears in ≥2
    DISTINCT docs; overlapping/adjacent duplicated windows merge
    into maximal spans (the islands pattern: running max of span
    ends per doc, window breaks start new islands). Spans are exact
    to the character for duplicated regions ≥ `width`; regions
    shorter than `width` are below the detection floor — the same
    length-threshold semantics as the paper's suffix-array pass
    (their threshold: 50 BPE tokens).

    Scale shape: windows are (id, pos, 16-byte digest) rows — the
    text itself never re-shuffles; the duplicated-hash set comes from
    ONE groupBy on the digest (map-side combinable count of distinct
    docs, capped at 2 by min(2, ...)); the island merge is one
    per-doc window sort. All integers and md5 — the whole operator
    value-hashes against a pure-SQL oracle.

    Output: (id, span_start, span_end, span_len), 1-based inclusive
    character positions, ordered."""
    wins = (
        df.where(F.length(text_col) >= width)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.length(text_col) - (width - 1),
                    F.lit(stride),
                )
            ).alias("pos"),
            F.col(text_col),
        )
        .select(
            F.col(id_col),
            # long on purpose: the SQL oracle's range() yields BIGINT
            F.col("pos").cast("long").alias("pos"),
            # hex md5 on purpose: a round-10 unhex variant (16-byte
            # binary key, half the shuffle/sort bytes) measured
            # FLAT-to-slower on a paired quiet window (3.90 vs
            # 3.72 s) — the unhex eval outweighs the narrower key
            F.md5(F.expr(f"substring({text_col}, pos, {width})")).alias("_h"),
        )
    )
    # cross-doc duplicate test as ONE window pass over the digest
    # partition (min id != max id ⟺ ≥2 distinct docs): the 10M-row
    # window frame shuffles once and the md5s are computed once —
    # the groupBy-then-self-join formulation re-ran the whole
    # scan+md5 stage on both sides (2x cost, measured at sf0.1 in
    # round 4 AND re-measured in round 10: the hash-aggregate +
    # shuffled-hash-join variant cannot reuse the exchange because
    # the two consumers project different columns, so it re-scanned
    # too — 5.85 s vs 3.9 s, rejected).
    w_hash = Window.partitionBy("_h")
    dup_wins = (
        wins.withColumn("_mn", F.min(id_col).over(w_hash))
        .withColumn("_mx", F.max(id_col).over(w_hash))
        .where(F.col("_mn") != F.col("_mx"))
        .select(id_col, "pos")
    )
    w_order = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max(F.col("pos") + (width - 1)).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    with_break = dup_wins.withColumn(
        "_brk",
        F.when(
            prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    with_island = with_break.withColumn(
        "_isl",
        F.sum("_brk").over(w_order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_island.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (width - 1)).alias("span_end"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
        .orderBy(id_col, "span_start")
    )


def dedup_family_histogram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """Duplicate-family size histogram: the same
    signatures → candidates → verified-pairs → connected-components
    chain as `dedup_transitive`, reduced to the distribution view a
    corpus report needs — for each family size k: how many families,
    how many documents they hold, how many a canonical-per-family
    dedup would remove, and the corpus share. Singletons (k = 1) are
    included, so the table partitions the corpus exactly.

    Scale: identical to `dedup_transitive` (bucketed candidates,
    exact verify on candidates only, HashMin components) plus two
    constant-size aggregates on the component labels."""
    from stream_processing_system_spark.functions.scalar import det_round

    comps = _near_dup_components(
        df, id_col, text_col, num_hashes, bands, threshold, shingle_n
    )
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("fam_size")
    )
    hist = sizes.groupBy("fam_size").agg(
        F.count(F.lit(1)).alias("n_families")
    )
    total = df.select(id_col).count()
    return hist.select(
        F.col("fam_size").cast("long").alias("fam_size"),
        F.col("n_families").cast("long").alias("n_families"),
        (F.col("fam_size") * F.col("n_families"))
        .cast("long")
        .alias("n_docs"),
        ((F.col("fam_size") - F.lit(1)) * F.col("n_families"))
        .cast("long")
        .alias("n_removable"),
        det_round(
            (F.col("fam_size") * F.col("n_families")).cast("double")
            / F.lit(float(total)),
            6,
        ).alias("corpus_share"),
    ).orderBy("fam_size")
