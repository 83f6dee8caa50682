"""Spark job accounting per operator call: every job a call submits,
including those from its worker threads, lands in the caller's job
group, and the job counts of the merge, the keyed delete, the repair,
the row-sample check and the validator profile stay pinned. Hive-partitioned
writes and listings use one task per core."""

from __future__ import annotations

import pyspark.sql.functions as F

from snowflake_to_postgres_spark.operators.transfer import (
    TransferEngine,
    delete_keys_partitioned,
    list_partition_files,
    merge_upsert_partitioned,
    repair_partitions,
    transfer_partitioned,
)
from snowflake_to_postgres_spark.operators.validation import DataValidator
from snowflake_to_postgres_spark.sources import load_table, table_path


def _group_jobs(spark, group: str, fn) -> set[int]:
    """Run ``fn`` under job group ``group``; return the ids of the jobs
    it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _stage_tasks(spark, jobs: set[int]) -> dict[int, int]:
    """{stage id: task count} over every stage of ``jobs``."""
    tracker = spark.sparkContext.statusTracker()
    return {
        s: tracker.getStageInfo(s).numTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    }


def _untagged_jobs(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_transfer_schema_jobs_inherit_the_callers_group(spark, sf_dir, tmp_path):
    """The fan-out's pool threads submit their jobs under the job group
    of the thread that called transfer_schema, not untagged."""
    tables = {t: table_path(sf_dir, t) for t in ("nation", "region")}
    untagged = _untagged_jobs(spark)
    stats = []
    jobs = _group_jobs(
        spark,
        "transfer_schema_group",
        lambda: stats.extend(
            TransferEngine(spark).transfer_schema(tables, str(tmp_path / "out"), workers=2)
        ),
    )
    assert all(s.error is None and s.rows > 0 for s in stats)
    assert len(jobs) >= len(tables)
    # no new untagged job; the status store may evict old ones meanwhile
    # (it keeps spark.ui.retainedJobs and drops the oldest in batches)
    assert not _untagged_jobs(spark) - untagged


def test_partitioned_write_runs_one_task_per_core(spark, sf_dir, tmp_path):
    """The write stage of transfer_partitioned runs one task per core
    and still leaves one file per partition directory. A coalescible
    repartition("_pt") let AQE fold the small input into one task."""
    out = str(tmp_path / "orders_pt")
    jobs = _group_jobs(
        spark,
        "partitioned_write",
        lambda: transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate"),
    )
    tasks = _stage_tasks(spark, jobs)
    assert tasks[max(tasks)] == spark.sparkContext.defaultParallelism
    files = list_partition_files(spark, out)
    assert len(files) > spark.sparkContext.defaultParallelism
    assert {n for n, _ in files.values()} == {1}


def test_partitioned_listing_runs_at_most_one_task_per_shuffle_partition(
    spark, sf_dir, tmp_path
):
    """Reading a target with more partition directories than shuffle
    partitions runs no stage wider than the shuffle-partition count:
    the listing job is capped there instead of one task per directory.
    get_spark sets both confs from the same value, so the cap is read
    back from the session."""
    out = str(tmp_path / "orders_pt")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    n_parts = len(list_partition_files(spark, out))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_parts > max(cap, 32)  # 32: the size at which Spark lists by job
    jobs = _group_jobs(spark, "partitioned_read", lambda: spark.read.parquet(out).count())
    assert max(_stage_tasks(spark, jobs).values()) <= cap


def test_merge_job_count_pinned(spark, sf_dir, tmp_path):
    """One listing of the target, no distinct shuffles on the update
    keys and one dynamic-overwrite write: 10 jobs. Staging the slice
    through a sibling path, listing the target twice and de-duplicating
    the keys took the same merge to 19. Each rewritten partition keeps
    one file."""
    out = str(tmp_path / "orders_pt")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    upd_path = str(tmp_path / "updates")
    (
        spark.read.parquet(out)
        .filter(F.col("_pt").isin("1997-03", "1997-04"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1))
        .write.parquet(upd_path)
    )
    updates = spark.read.parquet(upd_path)
    jobs = _group_jobs(
        spark,
        "merge_job_count",
        lambda: merge_upsert_partitioned(spark, out, updates, ["o_orderkey"]),
    )
    assert len(jobs) == 10
    assert {n for n, _ in list_partition_files(spark, out).values()} == {1}


def test_delete_keys_job_count_pinned(spark, sf_dir, tmp_path):
    """One listing of the target and one write straight into it, which
    observes the survivor count and the partitions it wrote: 12 jobs.
    Staging the survivors through a sibling copy, re-reading it and
    counting it per partition took 19."""
    out = str(tmp_path / "orders_pt")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    doomed_keys = [
        r[0]
        for r in spark.read.parquet(out)
        .filter(F.col("_pt").isin("1997-03", "1997-04"))
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    doomed = spark.createDataFrame([(k,) for k in doomed_keys], "o_orderkey bigint")
    stats = []
    jobs = _group_jobs(
        spark,
        "delete_keys_job_count",
        lambda: stats.append(delete_keys_partitioned(spark, out, doomed, ["o_orderkey"])),
    )
    assert stats[0].rows > 0
    assert len(jobs) == 12


def test_repair_job_count_pinned(spark, sf_dir, tmp_path):
    """The per-partition diff is collected once, and one write of the
    stale source slice also removes the target-only partition: 11
    jobs. Counting the diff again and deleting the target-only
    partition before the write took 17."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), src, "o_orderdate")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), tgt, "o_orderdate")
    half = (
        spark.read.parquet(tgt)
        .filter((F.col("_pt") == "1997-03") & (F.col("o_orderkey") % 2 == 0))
        .collect()
    )
    (
        spark.createDataFrame(half, spark.read.parquet(tgt).schema)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_pt")
        .parquet(tgt)
    )
    (
        spark.read.parquet(tgt)
        .limit(10)
        .withColumn("_pt", F.lit("2099-12"))
        .write.mode("append")
        .partitionBy("_pt")
        .parquet(tgt)
    )
    res = []
    jobs = _group_jobs(
        spark, "repair_job_count", lambda: res.append(repair_partitions(spark, src, tgt))
    )
    assert res[0]["stale"] == ["1997-03", "2099-12"]
    assert res[0]["deleted_partitions"] == ["2099-12"]
    assert len(jobs) == 11


def test_row_sample_job_count_pinned(spark, sf_dir):
    """The sample join runs once: missing rows are counted inside the
    same aggregate as the mismatches (7 jobs; a second pass of the join
    for the missing rows took 11)."""
    orders = load_table(spark, sf_dir, "orders")
    v = DataValidator(orders, orders, pk_columns=["o_orderkey"])
    res = []
    jobs = _group_jobs(spark, "row_sample_job_count", lambda: res.append(v.check_row_sample()))
    assert res[0].passed
    assert len(jobs) == 7


def test_profile_checks_job_count_pinned(spark, sf_dir):
    """L1-L4 read one memoized profile: one aggregate per side and one
    collect for all four checks (2 jobs; four aggregates per side and a
    join per layer took 12), and none on a second call."""
    orders = load_table(spark, sf_dir, "orders")
    v = DataValidator(orders, orders, pk_columns=["o_orderkey"])
    checks = [
        v.check_row_count,
        v.check_partition_counts,
        v.check_column_stats,
        v.check_aggregate_fingerprints,
    ]
    res = []
    jobs = _group_jobs(spark, "profile_job_count", lambda: res.extend(c() for c in checks))
    assert all(r.passed for r in res)
    assert len(jobs) == 2
    for c in checks:
        assert not _group_jobs(spark, f"profile_again_{c.__name__}", c)
