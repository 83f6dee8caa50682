"""Continuous aggregate (hypertable-rollup style): an incrementally
maintained pre-aggregation table over the event stream.

The pattern: stream → per-batch partial aggregate → merge into the
rollup table keyed by (bucket, dims). Because count/sum partials are
associative, merging re-aggregates only the touched keys — the
TimescaleDB continuous-aggregate / materialized-rollup idea on Spark
primitives. Here the merge is read-union-reaggregate-overwrite on
parquet (atomic via staging dir + rename); on a real deployment the
sink would be Delta/Iceberg `MERGE INTO` — same plan, transactional
commit.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowflake_to_postgres_spark.streaming.pipeline import _drain


ROLLUP_KEYS = ["bucket_start", "event_type"]


def _partials(batch: DataFrame, granularity: str = "1 hour") -> DataFrame:
    return (
        batch.groupBy(
            F.window("ts", granularity).start.alias("bucket_start"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(38,2)").alias("s_value"),
        )
    )


def merge_rollup(spark: SparkSession, partials: DataFrame, rollup_dir: str) -> None:
    """Merge batch partials into the rollup table: re-aggregate the
    union (associative partials make this exact), write to a staging
    dir, atomically swap."""
    if os.path.exists(rollup_dir):
        existing = spark.read.parquet(rollup_dir)
        merged = (
            existing.unionByName(partials)
            .groupBy(*ROLLUP_KEYS)
            .agg(
                F.sum("cnt").cast("bigint").alias("cnt"),
                F.sum("s_value").cast("decimal(38,2)").alias("s_value"),
            )
        )
    else:
        merged = partials.select(
            *ROLLUP_KEYS,
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("s_value").cast("decimal(38,2)").alias("s_value"),
        )
    staging = rollup_dir + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    final_df = spark.read.parquet(staging)
    final_df.count()  # materialize before the swap
    if os.path.exists(rollup_dir):
        shutil.rmtree(rollup_dir)
    os.replace(staging, rollup_dir)


def run_continuous_rollup(
    spark: SparkSession,
    events_stream: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
    granularity: str = "1 hour",
) -> None:
    """Drive the rollup with foreachBatch under AvailableNow: each
    micro-batch folds its partial aggregates into the rollup table;
    restart resumes from the checkpoint without double-counting."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        merge_rollup(spark, _partials(batch, granularity), rollup_dir)

    _drain(events_stream, checkpoint_dir, fold)
