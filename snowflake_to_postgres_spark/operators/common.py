"""Shared expression helpers for cross-engine-deterministic queries.

The driver compares every query against a DuckDB oracle by value hash, so
every expression must produce *bit-identical* results in Spark and DuckDB:

* **Never SUM raw doubles** — float addition is order-dependent and Spark's
  partial aggregation visits rows in a different order than DuckDB. Cast to
  DECIMAL first (exact, associative), sum, then cast to a fixed final scale.
  This mirrors the reference's Decimal-normalize comparison kernel
  (validator.py:880-886) but pushed into the engines instead of driver Python.
* **Averages** = CAST(exact decimal SUM AS DOUBLE) / COUNT — one IEEE
  division on identical inputs is deterministic in both engines.
* **Dates** out as DATE (both engines yield datetime.date), never raw
  timestamps with sub-second noise.
* **Deterministic sampling** via md5 prefix buckets instead of TABLESAMPLE
  (validator.py:623-631's random sample is not reproducible cross-engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dec(col: str | Column, prec: int = 18, scale: int = 2) -> Column:
    """Exact decimal view of a money-ish double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def one(scale: int = 2) -> Column:
    return F.lit("1." + "0" * scale).cast(f"decimal({scale + 1},{scale})")


def md5_bucket(col: str | Column, prefix: str) -> Column:
    """Deterministic pseudo-random sample predicate: keeps rows whose
    md5(key) starts with ``prefix`` (1 hex char ≈ 1/16 of rows)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("string")).startswith(prefix)


def partition_exchange(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Hash exchange on ``cols`` into one partition per core, for the
    write right before ``partitionBy(*cols)``: each partition value
    still lands in exactly one task, so one file per value.

    The count is fixed on purpose. A bare ``repartition(col)`` is
    coalescible, and AQE folds any input under its minimum partition
    size (1 MB) into one task, which then writes every partition
    directory alone while the other cores idle."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)
