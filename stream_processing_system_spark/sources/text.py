"""Raw-text sources: line scan, positional CSV, Apache-common-log parse.

Reference parity (SURVEY.md §2.1):
- S1 text-line scan: `spout/spout.go:82-97, 212-251` reads a file
  line-by-line with bufio.Scanner. Here: `spark.read.text` — a
  splittable, parallel scan instead of a single-goroutine reader.
- S2 CSV scan: `spout/spout.go:253-301` reads headerless CSV and
  keeps positional columns 2,3,4,5,10,11,12 with renames
  (`spout/spout.go:279-286`). Here: `spark.read.csv` with an
  all-string schema (the reference's tuple model is all-string,
  SURVEY.md §1.2) plus a positional-rename projection.
- S3 log scan + tokenize: `spout/spout.go:163-210` whitespace-splits
  Apache common-log lines, drops malformed rows with <9 tokens
  (`spout/spout.go:190-192`), and extracts positional fields with
  substring slices (`spout/spout.go:193-197`). Here: `split` +
  `element_at` + `substring` — all JVM-side, codegen'd.

All three also work as Structured Streaming sources by swapping
`spark.read` for `spark.readStream` (see streaming/jobs.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: Minimum whitespace tokens for a valid Apache common-log line
#: (reference drops shorter lines, `spout/spout.go:190-192`).
APACHE_LOG_MIN_TOKENS = 9

#: Reddit CSV positional column mapping (`spout/spout.go:279-286`).
REDDIT_COLUMNS = {
    2: "rawtime",
    3: "title",
    4: "total_votes",
    5: "reddit_id",
    10: "score",
    11: "number_of_comments",
    12: "username",
}


def read_text_lines(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """S1: one row per line, column `line: string`.

    Line numbers (the reference emits `linenumber`,
    `spout/spout.go:235-237`) are deliberately NOT materialized:
    no downstream reference computation consumes them, and a global
    line number forces a total order (single-partition zipWithIndex)
    that does not scale. Numbered-line fidelity lives in
    `sources/spout_source.py`; unique row ids via
    `monotonically_increasing_id()` (unique, not dense).
    """
    reader = spark.readStream if streaming else spark.read
    return reader.text(path).withColumnRenamed("value", "line")


def read_csv_positional(
    spark: SparkSession,
    path: str,
    n_cols: int,
    keep: dict[int, str] | None = None,
    streaming: bool = False,
) -> DataFrame:
    """S2: headerless CSV with an all-string positional schema.

    `keep` maps 0-based column index → output name; None keeps all
    columns as c0..c{n-1}. Types are applied downstream at first use
    with `try_cast`, matching the reference's lenient
    `strconv.Atoi`-with-ignored-error semantics (`bolt/bolt.go:348`).
    """
    schema = StructType([StructField(f"c{i}", StringType()) for i in range(n_cols)])
    reader = spark.readStream if streaming else spark.read
    df = reader.csv(path, schema=schema, header=False)
    if keep:
        df = df.select(*[F.col(f"c{i}").alias(name) for i, name in sorted(keep.items())])
    return df


def read_reddit_csv(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """S2+P2: the reference's reddit source — 13+ column headerless CSV,
    keep columns 2,3,4,5,10,11,12 renamed (`spout/spout.go:279-286`)."""
    return read_csv_positional(spark, path, n_cols=13, keep=REDDIT_COLUMNS, streaming=streaming)


def _tokens(line: Column) -> Column:
    return F.split(F.trim(line), r"\s+")


def parse_apache_log(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """S3+P1+F4: Apache-common-log schema-on-read transform.

    Whitespace-tokenize, drop malformed rows (<9 tokens,
    `spout/spout.go:190-192`), extract the reference's 5 fields
    (`spout/spout.go:193-197`):
      host    = token 0
      date    = token 3 chars [1:3)   (day-of-month of
                `[01/Jul/1995:00:00:01`)
      request = token 5 without its leading quote (`"GET` → `GET`)
      url     = token 6
      status  = token 8 (kept as string; the reference compares
                `status == "200"` as strings, `bolt/bolt.go:477-479`)

    Works on batch and streaming DataFrames alike; entirely built-in
    expressions, so it stays inside whole-stage codegen.
    """
    toks = _tokens(F.col(line_col))
    return (
        lines.select(toks.alias("_t"))
        .where(F.size("_t") >= APACHE_LOG_MIN_TOKENS)
        .select(
            F.element_at("_t", 1).alias("host"),
            F.substring(F.element_at("_t", 4), 2, 2).alias("date"),
            F.substring(F.element_at("_t", 6), 2, 100).alias("request"),
            F.element_at("_t", 7).alias("url"),
            F.element_at("_t", 9).alias("status"),
        )
    )
