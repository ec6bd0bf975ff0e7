"""Count-min sketch (SURVEY.md §2.4 family).

The relational core Crane hand-codes — the combiner, the per-key
counts and sets, the sorted top-k — is plain DataFrame calls in
`plans/reference.py`: Catalyst plans partial/final HashAggregate
(reference: `bolt/bolt.go:544-564` hand-rolled combiner) and
TakeOrderedAndProject (reference: full sort + break at k,
`bolt/bolt.go:408-430`) on its own. What Spark lacks as a built-in is
a mergeable fixed-size frequency sketch, built here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stream_processing_system_spark.functions.scalar import md5_prefix_long


def cms_bucket(key: Column, j: int, width: int) -> Column:
    """Row `j`'s counter of a string key: md5 of `"{j}|" || key`,
    first 8 hex digits, mod `width` (DuckDB's `md5` gives the same
    hex, so the oracle rebuilds the same cells)."""
    return F.pmod(md5_prefix_long(F.concat(F.lit(f"{j}|"), key)), F.lit(width))


def cms_cells(df: DataFrame, key_col: str, depth: int, width: int) -> DataFrame:
    """The sketch's counters as `(j, b, n)` rows: each row of `df`
    explodes to its `depth` cells, and the groupBy partial-aggregates
    map-side to at most depth×width rows per task. Cell counts are
    sums, so counters built from batches or micro-batches merge
    cell-wise into the same sketch."""
    key = F.col(key_col).cast("string")
    return (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"), cms_bucket(key, j, width).alias("b")
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.j", "c.b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_heavy_hitters(
    df,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    k: int = 20,
):
    """Count-min-sketch heavy hitters: estimate per-key frequencies
    from a fixed-size depth×width counter array and return the top-k
    keys by ESTIMATE (estimates over-count on collisions, never
    under-count). The deterministic md5 bucket hashes make this the
    oracle-checkable member of the sketch family (approx_distinct's
    HLL is engine-internal and only property-testable).

    Scale shape: the sketch build (`cms_cells`) shuffles at most
    depth×width (=1024 here) rows per task — the shuffle is
    CONSTANT-size no matter the input, the whole point of a sketch.
    The candidate side reuses the keys' distinct shuffle, probes the
    broadcast sketch `depth` times (array lookup, no join), and
    top-k's via TakeOrderedAndProject. At 100 TB the sketch would be
    built once per partition-batch and merged by cell-wise sum —
    the build here IS that merge expressed as one aggregation."""
    cells = cms_cells(df, key_col, depth, width)
    # sketch as one broadcast row: depth arrays of width counters
    # (missing cells are 0 via a dense spine built from sequence())
    sketch = (
        cells.groupBy("j")
        .agg(F.map_from_arrays(F.collect_list("b"), F.collect_list("n")).alias("m"))
        .groupBy()
        .agg(F.map_from_arrays(F.collect_list("j"), F.collect_list("m")).alias("mm"))
    )
    # probe with the ORIGINAL key column (hash on its string form) so
    # the output keeps the key's type and ordering semantics
    key = F.col(key_col).cast("string")
    probes = df.select(key_col).distinct().crossJoin(F.broadcast(sketch))
    est = F.least(
        *[
            F.coalesce(
                F.element_at(
                    F.element_at(F.col("mm"), F.lit(j)), cms_bucket(key, j, width)
                ),
                F.lit(0),
            )
            for j in range(depth)
        ]
    )
    return (
        probes.select(F.col(key_col), est.cast("long").alias("est"))
        .orderBy(F.col("est").desc(), F.col(key_col).asc())
        .limit(k)
    )
