"""Scalar/table function surface as PySpark expressions (SURVEY §2.6
F1-F14) — the programmatic twin of the SQL dialect layer, for users
building DataFrame plans directly.

Production-speed hashing lives here too: the oracle-checked operators use
md5 (engine-portable); ``fast_hash``/``fast_hash64`` are the xxhash64
(JVM codegen) equivalents to swap in on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def iff(cond: Column, a, b) -> Column:
    """F1: Snowflake IFF."""
    return F.when(cond, a).otherwise(b)


def null_byte_scrub(col) -> Column:
    """P7 (data_transfer.py:343-352): strip NUL bytes — only needed for
    text-protocol legacy sinks."""
    return F.regexp_replace(col, "\x00", "")


def fast_hash(*cols) -> Column:
    """Production 32-bit hash (murmur3, JVM codegen) — the fast-path twin
    of the portable md5 used in oracle-checked operators."""
    return F.hash(*cols)


def fast_hash64(*cols) -> Column:
    """Production 64-bit hash (xxhash64): minhash/simhash/bucketing at
    scale should use this, ~10× cheaper than md5's hex-string path."""
    return F.xxhash64(*cols)


def approx_distinct(col, rsd: float = 0.05) -> Column:
    """HLL++ sketch — the approximate twin of COUNT(DISTINCT) for
    100 TB-scale fingerprinting (SURVEY §2.4 note)."""
    return F.approx_count_distinct(col, rsd)


def zeroifnull(col) -> Column:
    """ZEROIFNULL(x) → COALESCE(x, 0)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(0))


def nullifzero(col) -> Column:
    """NULLIFZERO(x) → NULLIF(x, 0)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(c, F.lit(0))


def div0(a, b) -> Column:
    """DIV0(a, b): division that yields 0 (not NULL, not error) on a
    zero divisor — Snowflake's safe-division idiom."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.when(b == 0, F.lit(0)).otherwise(a / b)


def equal_null(a, b) -> Column:
    """EQUAL_NULL: NULL-safe equality (NULL == NULL is true) →
    Spark's <=> operator."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return a.eqNullSafe(b)


def try_to_number(col, precision: int = 38, scale: int = 0) -> Column:
    """TRY_TO_NUMBER: NULL on unparseable input instead of an error
    (Spark's try_cast ANSI-safe path)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(f"decimal({precision},{scale})")


def listagg(col, delim: str = ",") -> Column:
    """LISTAGG(x, d) WITHIN GROUP (ORDER BY x): deterministic ordered
    string aggregation — sort inside the aggregate, since collect_list
    order is otherwise partition-dependent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.collect_list(c)), delim)


def object_construct(**kv) -> Column:
    """OBJECT_CONSTRUCT('k', v, ...) → JSON text of a struct (the
    VARIANT-producing constructor; pairs with parse_json)."""
    return F.to_json(F.struct(*[
        (F.col(v) if isinstance(v, str) else v).alias(k) for k, v in kv.items()
    ]))


def parse_json(col, schema: str) -> Column:
    """PARSE_JSON with a declared shape → from_json (the typed VARIANT
    path; path extraction over untyped text is get_json_object)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, schema)


def regexp_substr(col, pattern: str, group: int = 0) -> Column:
    """REGEXP_SUBSTR → regexp_extract (empty string when no match, like
    Spark; Snowflake returns NULL — wrap with NULLIF('') for that)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, pattern, group)


def split_part(col, delim: str, part: int) -> Column:
    """SPLIT_PART(str, delim, n) — 1-based, NULL when out of range
    (try_element_at tolerates the overrun instead of erroring)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_element_at(F.split(c, F.lit(delim), -1), F.lit(part))


def date_part(part: str, col) -> Column:
    """DATE_PART/EXTRACT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.extract(F.lit(part), c)


def time_slice(col, n: int, unit: str = "minute") -> Column:
    """TIME_SLICE(ts, n, unit): floor a timestamp to an n-unit bucket —
    the hypertable bucketing primitive (window(ts, interval).start)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.window(c, f"{n} {unit}").getField("start")
