"""Scalar expression builders.

Each maps a reference scalar computation (SURVEY.md §2.8) onto
built-in Spark SQL expressions:

- X1 split on ' '         → `tokenize`
- X3 substring slice       → inlined where used
- X5 lenient int parse     → `lenient_int` (try_cast + coalesce)
- X7/X8 prefix+length test → `is_noise_line`
- (new) md5-derived 64-bit hash → `md5_prefix_long` (shared with the
  DuckDB oracle: both engines produce identical md5 hex, so
  hash-dependent operators like MinHash stay differentially testable)
- (new) cosine similarity over array<numeric> → `cosine_similarity`
  via `zip_with` + `aggregate`: JVM-side, no UDF, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokenize(col: Column | str, sep: str = " ", drop_empty: bool = True) -> Column:
    """X1: split on a literal separator (`bolt/bolt.go:224,547,569`
    splits on a single space). The reference keeps empty tokens from
    doubled spaces; we drop them by default (declared deviation, see
    FIXTURES.md §3 — both engine and oracle drop them)."""
    toks = F.split(F.col(col) if isinstance(col, str) else col, sep)
    if drop_empty:
        toks = F.filter(toks, lambda t: t != "")
    return toks


def first_token(col: Column | str) -> Column:
    """First space-separated token of a line (`bolt/bolt.go:224-229`
    `words[0]`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")[0]


def is_noise_line(col: Column | str) -> Column:
    """F1: the wordcount noise filter (`bolt/bolt.go:222-232`):
    a line is noise when its first token is longer than 8 chars AND
    starts with 'http' or '2008' (URL/date lines in memetracker)."""
    tok = first_token(col)
    return (F.length(tok) > 8) & F.substring(tok, 1, 4).isin("http", "2008")


def lenient_int(col: Column | str) -> Column:
    """X5: lenient string→int. The reference ignores `strconv.Atoi`
    errors, so an unparseable value silently becomes 0 and flows on
    (`bolt/bolt.go:348-351`). `try_cast` + `coalesce` reproduces that
    exactly, without the per-row exception cost of a plain cast."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.try_cast("int"), F.lit(0))


def md5_prefix_long(col: Column, salt: str = "") -> Column:
    """Deterministic 32-bit-range hash as a bigint: first 8 hex chars
    of md5(salt || value), parsed base-16. Chosen because DuckDB's
    `md5()` produces byte-identical hex, which keeps MinHash/SimHash
    signatures differentially testable against the SQL oracle."""
    salted = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long")


def det_round(col: Column, digits: int = 6) -> Column:
    """Deterministic cross-engine rounding: floor(x*10^d + 0.5)/10^d.

    Engine ROUND() disagrees on exact half-boundaries (Spark rounds
    the shortest decimal repr HALF_UP; DuckDB rounds the binary
    double), and ratio-valued columns (averages of exact decimals)
    DO land on halves — found at sf0.1 where quality=0.5123125
    rounded differently. floor/*/+ are exact IEEE ops, so both
    engines see identical doubles end-to-end. SQL twin:
    `floor(x * 1e6 + 0.5) / 1e6`."""
    s = float(10**digits)
    return F.floor(col * s + F.lit(0.5)) / F.lit(s)


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns via `zip_with` +
    `aggregate` — JVM-side, no Python UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def vector_norm(a: Column) -> Column:
    """L2 norm of an array<numeric> column. Exactly the norm
    expression `cosine_similarity` uses, exposed so pairwise joins
    can precompute it ONCE per row: a blocked similarity join then
    pays one dot product per pair instead of three array passes
    (dot + both norms), with bit-identical results."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed with
    `zip_with` + `aggregate` — stays in the JVM (no Python UDF), so a
    brute-force scan over 100 TB of embeddings is a single codegen'd
    map stage with no data movement."""
    return dot_product(a, b) / (vector_norm(a) * vector_norm(b))
