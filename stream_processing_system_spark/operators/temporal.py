"""Temporal join operators Spark lacks as built-ins: AS-OF join and
binned interval (range) join.

Both are expressed as compositions of existing DataFrame ops
(SURVEY.md §7.3 strategy (a)) — no UDF, no driver loop:

- `asof_join`: the union-sort formulation. Tag both sides, union,
  sort per key by (ts, side), carry the last right-side value forward
  with last_value(ignorenulls) over an unbounded-preceding window
  (or, `forward=True`, the next one back with first_value over an
  unbounded-following window), keep left rows. ONE shuffle on the
  key — same cost shape as a sort-merge join, no point-in-time loop.
  Matches DuckDB's native ASOF JOIN semantics (latest right.ts <=
  left.ts, inclusive; forward: earliest right.ts >= left.ts), which
  is the differential oracle.
- `interval_count_join`: count right-side events in [left.ts - w,
  left.ts) per key. A naive inequality join is a broadcast
  nested-loop (quadratic); instead both sides are binned to
  ceil(w)-sized buckets and equi-joined on (key, bucket) for bucket
  and bucket+1, then the exact predicate filters — the classic
  bounded-range join at scale: fan-out is exactly 2 buckets per row
  regardless of data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    prefix: str = "r_",
    forward: bool = False,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For every left row, attach the most recent right row with
    right.ts <= left.ts (same key); with `forward=True`, the EARLIEST
    right row with right.ts >= left.ts instead (e.g. "next fill after
    the order", "next click after the purchase"). Inner semantics:
    left rows with no such right row are dropped, and so are matches
    more than `tolerance_seconds` away from the left row (like pandas
    merge_asof's tolerance). Output: all left columns +
    prefix-renamed right value columns + `{prefix}ts`.

    Backward, right rows sort before left rows at equal ts and
    last_value(ignorenulls) carries over [UNBOUNDED PRECEDING,
    CURRENT ROW]; forward mirrors both: left rows sort first and
    first_value(ignorenulls) looks over [CURRENT ROW, UNBOUNDED
    FOLLOWING], so either bound stays inclusive. Oracle: DuckDB
    `ASOF JOIN ... ON l.ts >= r.ts` (forward: `l.ts <= r.ts`, plus
    an epoch-difference post-filter for the tolerance)."""
    right_cols = right_cols or []
    l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*left.columns).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in right_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_rts"),
        F.lit(None).cast("long").alias("_tie"),
    )
    r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(l.schema["_lrow"].dataType).alias("_lrow"),
        *[F.col(c).alias(f"_rv_{c}") for c in right_cols],
        F.col(right_ts).alias("_rts"),
        # value-deterministic tie-break: when several right rows share
        # (key, ts), the carry must pick the SAME one every run — order
        # ties by a hash of the whole right row, not partition luck
        F.xxhash64(F.struct(*right.columns)).alias("_tie"),
    )
    # at equal ts the right rows sort before a left row backward and
    # after it forward, so both "<=" and ">=" are inclusive
    if forward:
        side, tie = F.col("_is_left").desc(), F.col("_tie").asc_nulls_first()
        frame, carry = (0, Window.unboundedFollowing), F.first
    else:
        side, tie = F.col("_is_left").asc(), F.col("_tie").asc_nulls_last()
        frame, carry = (Window.unboundedPreceding, 0), F.last
    w = Window.partitionBy("_k").orderBy(F.col("_ts").asc(), side, tie).rowsBetween(*frame)
    carried = r.unionByName(l).select(
        "_is_left",
        "_lrow",
        carry("_rts", ignorenulls=True).over(w).alias(f"{prefix}ts"),
        *[
            carry(f"_rv_{c}", ignorenulls=True).over(w).alias(f"{prefix}{c}")
            for c in right_cols
        ],
    )
    matched = carried.where(
        (F.col("_is_left") == 1) & F.col(f"{prefix}ts").isNotNull()
    )
    if tolerance_seconds is not None:
        lts = F.col(f"_lrow.{left_ts}").cast("long")
        rts = F.col(f"{prefix}ts").cast("long")
        gap = rts - lts if forward else lts - rts
        matched = matched.where(gap <= F.lit(int(tolerance_seconds)))
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out_cols += [F.col(f"{prefix}ts")] + [F.col(f"{prefix}{c}") for c in right_cols]
    return matched.select(*out_cols)


def interval_count_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    window_seconds: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    out: str = "n_in_window",
) -> DataFrame:
    """Per left row: count right rows with the same key in
    [left.ts - window_seconds, left.ts). Bucketed equi-join; exact
    predicate applied post-join. Output: left columns + `out`."""
    bucket_l = (F.col(left_ts).cast("long") / window_seconds).cast("long")
    bucket_r = (F.col(right_ts).cast("long") / window_seconds).cast("long")
    l = left.select(
        F.struct(*left.columns).alias("_lrow"),
        F.col(key).alias("_lk"),
        F.col(left_ts).cast("long").alias("_lt"),
        F.explode(F.array(bucket_l, bucket_l - 1)).alias("_lb"),
    )
    r = right.select(
        F.col(key).alias("_rk"),
        F.col(right_ts).cast("long").alias("_rt"),
        bucket_r.alias("_rb"),
    )
    # The window predicate is part of the JOIN condition — a post-join
    # filter on a left join silently drops left rows whose candidates
    # all miss the window (they'd count 0, not disappear).
    cond = (
        (F.col("_lk") == F.col("_rk"))
        & (F.col("_lb") == F.col("_rb"))
        & (F.col("_rt") >= F.col("_lt") - window_seconds)
        & (F.col("_rt") < F.col("_lt"))
    )
    hits = (
        l.join(r, cond, "left")
        .groupBy("_lrow", "_lt")
        .agg(F.sum(F.when(F.col("_rt").isNotNull(), 1).otherwise(0)).alias(out))
    )
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns] + [F.col(out)]
    return hits.select(*out_cols)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_seconds: int,
    prefix: str = "r_",
) -> DataFrame:
    """Interval-OVERLAP join (both sides are [start, end) ranges in
    epoch seconds): pairs where left ∩ right ≠ ∅. The naive form is
    an inequality join (nested-loop); the scalable form explodes each
    interval into the `bucket_seconds`-grain buckets it covers and
    equi-joins on the bucket. A pair overlapping several shared
    buckets would match once per bucket, so the join keeps only the
    bucket containing the OVERLAP START
    (bucket == floor(max(starts)/size)) — each qualifying pair
    emerges exactly once, no distinct pass.

    Fan-out per row = interval length / bucket size (pick the bucket
    near the typical interval length; fan-out is bounded and
    data-independent, which is what makes this safe at 100 TB).
    Output: left columns + prefixed right columns."""
    lb = F.explode(
        F.sequence(
            F.floor(F.col(left_start) / bucket_seconds).cast("long"),
            F.floor((F.col(left_end) - 1) / bucket_seconds).cast("long"),
        )
    )
    rb = F.explode(
        F.sequence(
            F.floor(F.col(right_start) / bucket_seconds).cast("long"),
            F.floor((F.col(right_end) - 1) / bucket_seconds).cast("long"),
        )
    )
    l = left.select(F.struct(*left.columns).alias("_lrow"), lb.alias("_b"))
    r = right.select(F.struct(*right.columns).alias("_rrow"), rb.alias("_b"))
    ls, le = F.col(f"_lrow.{left_start}"), F.col(f"_lrow.{left_end}")
    rs, re_ = F.col(f"_rrow.{right_start}"), F.col(f"_rrow.{right_end}")
    first_shared = F.floor(F.greatest(ls, rs) / bucket_seconds).cast("long")
    joined = (
        l.join(r, "_b")
        .where((ls < re_) & (rs < le))
        .where(F.col("_b") == first_shared)
    )
    out = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out += [F.col(f"_rrow.{c}").alias(f"{prefix}{c}") for c in right.columns]
    return joined.select(*out)


def scd2_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension (SCD type 2) point-in-time join:
    attach the dimension VERSION whose validity interval
    [valid_from, valid_to) contains each fact's timestamp. Because
    versions of one key tile time disjointly, the correct plan is a
    plain EQUI-join on the key with the interval predicate as a
    post-filter — fan-out before the filter is the per-key version
    count (small by construction in any SCD2 table), never data².
    This is the warehouse sibling of `asof_join`: as-of picks
    "latest before", SCD2 picks "the version valid AT ts", and an
    open-ended current version makes the two agree.

    Facts whose ts falls in no version drop out (inner semantics) —
    surface them with a left_anti join against this result when
    auditing dimension coverage."""
    return facts.join(dim, key).where(
        (F.col(ts_col) >= F.col(valid_from)) & (F.col(ts_col) < F.col(valid_to))
    )
