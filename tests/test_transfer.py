"""Transfer engine: round-trip fidelity, pushdown, checkpoint resume,
parallel fan-out, legacy CSV sink."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from snowflake_to_postgres_spark.operators.transfer import (
    CheckpointManager,
    TransferEngine,
    rollup_stats,
)
from snowflake_to_postgres_spark.operators.validation import DataValidator
from snowflake_to_postgres_spark.sources import load_table, table_path


def test_roundtrip_parquet_validates(spark, sf_dir, tmp_path):
    eng = TransferEngine(spark)
    stats = eng.transfer_table(
        table_path(sf_dir, "orders"), str(tmp_path / "orders"), "orders"
    )
    assert stats.error is None and stats.rows == load_table(spark, sf_dir, "orders").count()
    # the engine's own validator certifies the copy — the reference's
    # post-transfer validate flow (README.md:199-241)
    tgt = spark.read.parquet(str(tmp_path / "orders"))
    res = DataValidator(
        load_table(spark, sf_dir, "orders"), tgt, pk_columns=["o_orderkey"]
    ).validate("orders")
    assert res.passed, [c.name for c in res.checks if not c.passed]


def test_where_and_limit_pushdown(spark, sf_dir, tmp_path):
    eng = TransferEngine(spark)
    stats = eng.transfer_table(
        table_path(sf_dir, "orders"),
        str(tmp_path / "o2"),
        "orders",
        where="o_totalprice > 100000",
        limit=50,
    )
    assert stats.rows == 50
    out = spark.read.parquet(str(tmp_path / "o2"))
    assert out.count() == 50
    assert out.filter(F.col("o_totalprice") <= 100000).count() == 0


def test_checkpoint_skip_and_resume(spark, sf_dir, tmp_path):
    ckpt_path = str(tmp_path / "ckpt.json")
    eng = TransferEngine(spark, CheckpointManager(ckpt_path))
    s1 = eng.transfer_table(table_path(sf_dir, "nation"), str(tmp_path / "n"), "nation")
    assert not s1.skipped and s1.rows > 0
    # fresh engine, same manifest → skip
    eng2 = TransferEngine(spark, CheckpointManager(ckpt_path))
    s2 = eng2.transfer_table(table_path(sf_dir, "nation"), str(tmp_path / "n"), "nation")
    assert s2.skipped


def test_parallel_schema_fanout(spark, sf_dir, tmp_path):
    eng = TransferEngine(spark, CheckpointManager(str(tmp_path / "c.json")))
    tables = {t: table_path(sf_dir, t) for t in ("region", "nation", "customer", "supplier")}
    stats = eng.transfer_schema(tables, str(tmp_path / "out"), workers=4)
    assert [s.table for s in stats] == list(tables)  # order preserved
    assert all(s.error is None for s in stats)
    roll = rollup_stats(stats)
    assert roll["transferred"] == 4 and roll["total_rows"] > 0
    for t in tables:
        assert spark.read.parquet(str(tmp_path / "out" / t)).count() > 0


def test_error_isolation(spark, tmp_path):
    eng = TransferEngine(spark)
    s = eng.transfer_table("/nonexistent/path.parquet", str(tmp_path / "x"), "bad")
    assert s.error is not None and s.rows == 0


def test_legacy_csv_sink_null_marker(spark, sf_dir, tmp_path):
    eng = TransferEngine(spark, target_format="csv")
    df = load_table(spark, sf_dir, "supplier").withColumn(
        "s_comment",
        F.when(F.col("s_suppkey") % 2 == 0, None).otherwise(F.lit("ok")),
    )
    df.createOrReplaceTempView("_sup_nulls")
    out = str(tmp_path / "sup_csv")
    # write through the engine's CSV path
    rows = eng._write(df, out)
    assert rows == df.count()
    text = ""
    for f in os.listdir(out):
        if f.endswith(".csv"):
            text += open(os.path.join(out, f)).read()
    assert "\\N" in text  # reference NULL marker (data_transfer.py:277-292)


def test_partitioned_transfer_prunes(spark, sf_dir, tmp_path):
    from snowflake_to_postgres_spark.operators.transfer import transfer_partitioned

    out = str(tmp_path / "li_pt")
    stats = transfer_partitioned(
        spark, table_path(sf_dir, "lineitem"), out, "l_shipdate"
    )
    src = load_table(spark, sf_dir, "lineitem")
    assert stats.rows == src.count()
    got = spark.read.parquet(out)
    assert got.count() == src.count()
    # partition pruning: a _pt filter must hit PartitionFilters, not data
    q = got.filter(F.col("_pt") == "1997-03")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_pt" in plan.split("PartitionFilters")[1][:120]
    # and the pruned count matches the source month
    n_src = src.filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    ).count()
    assert q.count() == n_src


def test_merge_upsert_partition_scoped(spark, sf_dir, tmp_path):
    """MERGE upsert: updated rows replaced, new keys appended, untouched
    rows intact — and untouched PARTITIONS never rewritten (file mtimes
    identical), proving the IO is scoped to affected partitions."""
    import glob
    import os

    from snowflake_to_postgres_spark.operators.transfer import (
        merge_upsert_partitioned,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_pt")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    before = spark.read.parquet(out)
    n_before = before.count()

    # updates: bump price on 5 existing march-1997 orders + 2 new keys
    sample = (
        before.filter(F.col("_pt") == "1997-03")
        .orderBy("o_orderkey")
        .limit(5)
        .withColumn("o_totalprice", F.lit(99999.5))
    )
    fresh = sample.limit(2).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    updates = sample.unionByName(fresh)
    upd_keys = [r[0] for r in sample.select("o_orderkey").collect()]

    mtimes = {
        p: os.path.getmtime(p)
        for p in glob.glob(out + "/_pt=*/**/*.parquet", recursive=True)
    }
    stats = merge_upsert_partitioned(spark, out, updates, ["o_orderkey"])
    assert stats.rows > 0

    after = spark.read.parquet(out)
    assert after.count() == n_before + 2  # replaced in place + 2 appends
    got = after.filter(F.col("o_orderkey").isin(upd_keys)).select("o_totalprice")
    assert {float(r[0]) for r in got.collect()} == {99999.5}
    assert after.filter(F.col("o_orderkey") > 10_000_000).count() == 2
    # untouched partitions: same files, same mtimes
    untouched = {
        p: t for p, t in mtimes.items() if "/_pt=1997-03/" not in p
    }
    for p, t in untouched.items():
        assert os.path.exists(p) and os.path.getmtime(p) == t, p


def test_merge_staging_rooted_in_target_fs(spark, sf_dir, tmp_path):
    """The merge and the keyed delete stage nothing outside the target:
    their only staging is Spark's own ``.spark-staging-*`` directory
    under it, on the target's filesystem. After either, no sibling
    ``*__staging_*`` directory and no ``.spark-staging-*`` is left."""
    import glob
    import os

    from snowflake_to_postgres_spark.operators.transfer import (
        delete_keys_partitioned,
        merge_upsert_partitioned,
        transfer_partitioned,
    )

    def no_leftovers() -> bool:
        return glob.glob(str(tmp_path / "*__staging_*")) == [] and not any(
            ".spark-staging" in d for d, _, _ in os.walk(out)
        )

    out = str(tmp_path / "orders_pt")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    upd = (
        spark.read.parquet(out)
        .filter(F.col("_pt") == "1997-03")
        .limit(3)
        .withColumn("o_totalprice", F.lit(1.0))
    )
    merge_upsert_partitioned(spark, out, upd, ["o_orderkey"])
    assert no_leftovers()
    doomed = spark.createDataFrame(
        spark.read.parquet(out)
        .filter(F.col("_pt") == "1997-03")
        .select("o_orderkey")
        .limit(3)
        .collect()
    )
    assert delete_keys_partitioned(spark, out, doomed, ["o_orderkey"]).rows > 0
    assert no_leftovers()


def test_merge_moved_key_guard(spark, sf_dir, tmp_path):
    """check_moved_keys: an update whose partition value differs from the
    target's existing row for the same key must fail loudly BEFORE any
    write (otherwise the stale copy in the unscanned partition survives
    as a duplicate). A partition-stable update passes the same check."""
    import pytest

    from snowflake_to_postgres_spark.operators.transfer import (
        merge_upsert_partitioned,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_mk")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    before = spark.read.parquet(out)
    n_before = before.count()

    moved = (
        before.filter(F.col("_pt") == "1997-03")
        .limit(2)
        .withColumn("_pt", F.lit("1998-01"))  # key migrates partitions
    )
    # DEFAULT path (no flag passed): the guard is on unless explicitly
    # disabled — a moved-key update must fail loudly out of the box.
    with pytest.raises(ValueError, match="stale duplicates"):
        merge_upsert_partitioned(spark, out, moved, ["o_orderkey"])
    # guard fired before any write: target untouched
    assert spark.read.parquet(out).count() == n_before
    # explicit opt-out skips the guard (and leaves the stale duplicate —
    # the documented hazard); run on a throwaway copy
    import shutil as _sh

    out2 = str(tmp_path / "orders_mk_optout")
    _sh.copytree(out, out2)
    merge_upsert_partitioned(
        spark, out2, moved, ["o_orderkey"], check_moved_keys=False
    )
    keys = [r[0] for r in moved.select("o_orderkey").collect()]
    dup = (
        spark.read.parquet(out2)
        .filter(F.col("o_orderkey").isin(keys))
        .groupBy("o_orderkey")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == len(keys)  # the silent-duplicate hazard the guard stops

    stable = (
        before.filter(F.col("_pt") == "1997-03")
        .limit(2)
        .withColumn("o_totalprice", F.lit(7.5))
    )
    stats = merge_upsert_partitioned(
        spark, out, stable, ["o_orderkey"], check_moved_keys=True
    )
    assert stats.rows > 0


def test_merge_upsert_version_latest_wins(spark, sf_dir, tmp_path):
    """With a version column, replaying an OLD feed cannot regress a
    newer target row (idempotent at-least-once semantics)."""
    from snowflake_to_postgres_spark.operators.transfer import (
        merge_upsert_partitioned,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_v")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    before = spark.read.parquet(out)
    row = before.orderBy("o_orderkey").limit(1)
    key = row.collect()[0]["o_orderkey"]
    old_price = float(row.collect()[0]["o_totalprice"])

    # stale update: older o_orderdate-as-version than the target row
    stale = row.withColumn("o_totalprice", F.lit(1.0)).withColumn(
        "o_orderdate", F.date_sub(F.col("o_orderdate"), 1000)
    )
    merge_upsert_partitioned(
        spark, out, stale, ["o_orderkey"], version_col="o_orderdate"
    )
    got = (
        spark.read.parquet(out)
        .filter(F.col("o_orderkey") == key)
        .select("o_totalprice")
        .collect()
    )
    assert len(got) == 1 and float(got[0][0]) == old_price


def test_merge_repeated_update_keys_latest_wins(spark, sf_dir, tmp_path):
    """Updates that carry one key several times: with a version column
    the newest update row is the only copy left; without one, no target
    copy of the key survives the anti-join."""
    from snowflake_to_postgres_spark.operators.transfer import (
        merge_upsert_partitioned,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_rep")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    key = spark.read.parquet(out).agg(F.min("o_orderkey")).collect()[0][0]
    n_before = spark.read.parquet(out).count()
    base = spark.createDataFrame(
        spark.read.parquet(out).filter(F.col("o_orderkey") == key).collect()
    )

    def bumped(price: float, days: int):
        return base.withColumn(
            "o_totalprice", F.lit(price).cast(base.schema["o_totalprice"].dataType)
        ).withColumn("o_orderdate", F.date_add(F.col("o_orderdate"), days))

    repeated = bumped(1.0, 1).unionByName(bumped(3.0, 3)).unionByName(bumped(2.0, 2))
    merge_upsert_partitioned(spark, out, repeated, ["o_orderkey"], version_col="o_orderdate")
    after = spark.read.parquet(out)
    got = after.filter(F.col("o_orderkey") == key).select("o_totalprice").collect()
    assert [float(r[0]) for r in got] == [3.0]
    assert after.count() == n_before

    old_price = float(got[0][0])
    merge_upsert_partitioned(
        spark, out, bumped(5.0, 5).unionByName(bumped(5.0, 5)), ["o_orderkey"]
    )
    got = spark.read.parquet(out).filter(F.col("o_orderkey") == key).collect()
    assert got and all(float(r["o_totalprice"]) == 5.0 for r in got)
    assert old_price not in {float(r["o_totalprice"]) for r in got}


def test_merge_failed_write_leaves_target_untouched(spark, sf_dir, tmp_path):
    """The merge writes straight into the target. A task that raises
    mid-write aborts the job: every target file keeps its bytes and
    mtime, and neither a sibling staging directory nor Spark's
    ``.spark-staging-*`` directory is left behind."""
    import glob

    import pytest

    from snowflake_to_postgres_spark.operators.transfer import (
        merge_upsert_partitioned,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_fail")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")

    def snapshot() -> dict[str, tuple[int, float]]:
        return {
            os.path.relpath(os.path.join(d, f), out): (
                os.path.getsize(os.path.join(d, f)),
                os.path.getmtime(os.path.join(d, f)),
            )
            for d, _, files in os.walk(out)
            for f in files
        }

    before = snapshot()
    n_before = spark.read.parquet(out).count()
    poisoned = (
        spark.read.parquet(out)
        .filter(F.col("_pt").isin("1997-03", "1997-04"))
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") > 0, F.raise_error(F.lit("poisoned update"))).otherwise(
                F.col("o_totalprice")
            ),
        )
    )
    with pytest.raises(Exception, match="poisoned update"):
        merge_upsert_partitioned(spark, out, poisoned, ["o_orderkey"])
    assert snapshot() == before
    assert not any(".spark-staging" in d for d, _, _ in os.walk(out))
    assert glob.glob(str(tmp_path / "*__staging_*")) == []
    assert spark.read.parquet(out).count() == n_before


def test_compact_partitions_scoped(spark, sf_dir, tmp_path):
    """Compaction rewrites ONLY partitions over the file-count bar, back
    to one file; untouched partitions keep their exact files/mtimes, and
    the data survives byte-identical (count + fingerprint)."""
    import glob
    import os

    from snowflake_to_postgres_spark.operators.transfer import (
        compact_partitions,
        list_partition_files,
        merge_upsert_partitioned,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_cp")
    src = load_table(spark, sf_dir, "orders").withColumn(
        "_pt", F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
    )
    # append-mode ingestion is what accretes small files: split 1997-03
    # in two and append the second half as a separate write
    hot = (F.col("_pt") == "1997-03") & (F.col("o_orderkey") % 2 == 0)
    src.filter(~hot).repartition("_pt").write.partitionBy("_pt").parquet(out)
    src.filter(hot).repartition("_pt").write.mode("append").partitionBy(
        "_pt"
    ).parquet(out)
    n_src = src.count()
    sum_src = src.agg(F.sum(F.col("o_totalprice").cast("decimal(38,2)"))).collect()[0][0]
    files = list_partition_files(spark, out)
    assert files["1997-03"][0] > 1, "append did not accrete files; fixture broken"

    mtimes = {
        p: os.path.getmtime(p)
        for p in glob.glob(out + "/_pt=*/**/*.parquet", recursive=True)
        if "/_pt=1997-03/" not in p
    }
    stats = compact_partitions(spark, out)
    assert stats.rows > 0
    after_files = list_partition_files(spark, out)
    assert after_files["1997-03"][0] == 1
    for p, t in mtimes.items():
        assert os.path.exists(p) and os.path.getmtime(p) == t, p
    after = spark.read.parquet(out)
    assert after.count() == n_src
    got_sum = after.agg(F.sum(F.col("o_totalprice").cast("decimal(38,2)"))).collect()[0][0]
    assert got_sum == sum_src
    # idempotent: nothing left to compact
    assert compact_partitions(spark, out).rows == 0
    assert glob.glob(str(tmp_path / "*__staging_*")) == []


def test_compact_splits_large_partitions(spark, sf_dir, tmp_path):
    """A partition bigger than target_file_bytes must compact to
    ceil(bytes/target) files, not one monolith — the salt-per-partition
    file-count control."""
    import math

    from snowflake_to_postgres_spark.operators.transfer import (
        compact_partitions,
        list_partition_files,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_split")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    # force every partition over the bar: max_files=0 means "rewrite all"
    sizes = list_partition_files(spark, out)
    target = 6000  # bytes — small enough that real partitions need >1 file
    compact_partitions(
        spark, out, max_files_per_partition=0, target_file_bytes=target
    )
    after = list_partition_files(spark, out)
    for p, (n, size) in after.items():
        expected = max(1, math.ceil(sizes[p][1] / target))
        assert n <= expected, (p, n, expected)
        if expected > 1:
            assert n > 1, (p, n, expected)
    got = spark.read.parquet(out)
    assert got.count() == spark.read.parquet(
        table_path(sf_dir, "orders")
    ).count()


def test_compact_split_survives_adaptive_coalescing(spark, sf_dir, tmp_path):
    """With a file target far below every partition's size, compaction
    really splits: no partition exceeds its computed file count, and
    the target ends with more files than partitions. The (partition,
    salt) exchange was coalescible, so AQE folded the small input into
    one task that wrote one file per partition."""
    import math

    from snowflake_to_postgres_spark.operators.transfer import (
        compact_partitions,
        list_partition_files,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_split")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    sizes = list_partition_files(spark, out)
    target = min(size for _, size in sizes.values()) // 2
    compact_partitions(spark, out, max_files_per_partition=0, target_file_bytes=target)
    after = list_partition_files(spark, out)
    assert after.keys() == sizes.keys()
    for p, (n, _) in after.items():
        assert 1 <= n <= math.ceil(sizes[p][1] / target), (p, n)
    assert sum(n for n, _ in after.values()) > len(after)
    assert spark.read.parquet(out).count() == load_table(spark, sf_dir, "orders").count()


def test_compact_reads_null_and_escaped_partitions(spark, tmp_path):
    """The NULL partition (__HIVE_DEFAULT_PARTITION__) and one whose
    directory name is escaped (``a:b`` lives in ``_pt=a%3Ab``) compact
    like any other: every row of them is read and rewritten into one
    file, so the rewrite, which drops the compacted partitions it did
    not write, keeps them."""
    from snowflake_to_postgres_spark.operators.transfer import (
        compact_partitions,
        list_partition_files,
    )

    rows = [(i, [None, "2020-01", "a:b"][i % 3]) for i in range(60)]
    df = spark.createDataFrame(rows, "k bigint, _pt string")
    out = str(tmp_path / "t")
    df.repartition(3).write.partitionBy("_pt").parquet(out)
    df.repartition(3).write.mode("append").partitionBy("_pt").parquet(out)
    before = list_partition_files(spark, out)
    assert set(before) == {"__HIVE_DEFAULT_PARTITION__", "2020-01", "a%3Ab"}
    assert all(n > 1 for n, _ in before.values())

    assert compact_partitions(spark, out).rows == 120
    assert {p: n for p, (n, _) in list_partition_files(spark, out).items()} == dict.fromkeys(
        before, 1
    )
    counts = {r[0]: r[1] for r in spark.read.parquet(out).groupBy("_pt").count().collect()}
    assert counts == {None: 40, "2020-01": 40, "a:b": 40}


def test_compact_keeps_exponent_form_partitions(spark, tmp_path):
    """Spark names a double partition in Java's exponent form
    (``_pt=1.23456785E7``, ``_pt=2.5E-4``), which no Python ``str`` of
    the value matches. Compaction rewrites such partitions into one file
    each and loses no row."""
    from snowflake_to_postgres_spark.operators.transfer import (
        compact_partitions,
        list_partition_files,
    )

    rows = [(i, [12345678.5, 2.5e-4][i % 2]) for i in range(40)]
    df = spark.createDataFrame(rows, "k bigint, _pt double")
    out = str(tmp_path / "t")
    df.repartition(2).write.partitionBy("_pt").parquet(out)
    df.repartition(2).write.mode("append").partitionBy("_pt").parquet(out)
    before = list_partition_files(spark, out)
    assert set(before) == {"1.23456785E7", "2.5E-4"}
    assert all(n > 1 for n, _ in before.values())

    assert compact_partitions(spark, out).rows == 80
    assert {p: n for p, (n, _) in list_partition_files(spark, out).items()} == {
        "1.23456785E7": 1,
        "2.5E-4": 1,
    }
    got = sorted((r.k, r._pt) for r in spark.read.parquet(out).collect())
    assert got == sorted(rows + rows)


def test_scd2_apply_semantics_and_replay(spark):
    """SCD2: changed keys close out and version; unchanged keys pass
    untouched; new keys insert; replaying the same batch is a no-op."""
    from snowflake_to_postgres_spark.operators.transfer import scd2_apply

    dim = spark.createDataFrame(
        [
            # key, attr, valid_from, valid_to, is_current
            (1, "a-v1", "2024-01-01", "2024-06-01", False),
            (1, "a-v2", "2024-06-01", None, True),
            (2, "b-v1", "2024-01-01", None, True),
            (3, "c-v1", "2024-01-01", None, True),
        ],
        "k long, attr string, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, "a-v3", "2024-09-01"),   # changed -> close + new version
            (2, "b-v1", "2024-09-01"),   # identical attrs -> untouched
            (9, "new-v1", "2024-09-01"), # brand-new key
            (1, "a-v2b", "2024-08-01"),  # stale update for k=1: newer wins
        ],
        "k long, attr string, effective_ts string",
    )
    out = scd2_apply(dim, updates, ["k"], ["attr"])
    rows = {(r["k"], r["attr"]): r for r in out.collect()}
    assert len(rows) == 6  # 4 original + v3 + new key (v2 closed, not dropped)
    assert rows[(1, "a-v2")]["valid_to"] == "2024-09-01"
    assert not rows[(1, "a-v2")]["is_current"]
    assert rows[(1, "a-v3")]["is_current"] and rows[(1, "a-v3")]["valid_from"] == "2024-09-01"
    assert (1, "a-v2b") not in rows  # older update superseded within batch
    assert rows[(2, "b-v1")]["is_current"] and rows[(2, "b-v1")]["valid_to"] is None
    assert rows[(3, "c-v1")]["is_current"]
    assert rows[(9, "new-v1")]["is_current"] and rows[(9, "new-v1")]["valid_from"] == "2024-09-01"
    # exactly one current row per key
    cur = [k for (k, _), r in rows.items() if r["is_current"]]
    assert sorted(cur) == [1, 2, 3, 9]

    # replay: identical batch on the new state changes nothing
    replay = scd2_apply(out, updates, ["k"], ["attr"])
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in replay.collect())
    assert a == b


def test_repair_partitions_rewrites_only_stale(spark, sf_dir, tmp_path):
    """Corrupt one partition of a copy; repair must restore equality,
    report exactly that partition, and leave every other partition's
    files untouched (mtime-asserted)."""
    import os

    import pyspark.sql.functions as F

    from snowflake_to_postgres_spark.operators.transfer import (
        repair_partitions,
        transfer_partitioned,
    )
    from snowflake_to_postgres_spark.sources import table_path

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), src, None, granularity="month")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), tgt, None, granularity="month")

    parts = sorted(
        r["_pt"] for r in spark.read.parquet(tgt).select("_pt").distinct().collect()
    )
    victim = parts[len(parts) // 2]
    # corrupt: drop half the victim partition's rows
    dmg = (
        spark.read.parquet(tgt)
        .filter(F.col("_pt") == victim)
        .filter(F.col("o_orderkey") % 2 == 0)
    )
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        dmg.repartition("_pt").write.mode("overwrite").partitionBy("_pt").parquet(tgt)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)

    def mtimes():
        out = {}
        for p in os.listdir(tgt):
            if p.startswith("_pt="):
                d = os.path.join(tgt, p)
                out[p] = {f: os.path.getmtime(os.path.join(d, f))
                          for f in os.listdir(d) if f.endswith(".parquet")}
        return out

    before = mtimes()
    stats = repair_partitions(spark, src, tgt, "_pt")
    assert stats["stale"] == [str(victim)]
    assert stats["rewritten_rows"] > 0
    after = mtimes()
    for p in before:
        if p != f"_pt={victim}":
            assert before[p] == after[p], f"untouched partition {p} was rewritten"

    a = sorted(tuple(str(x) for x in r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(str(x) for x in r) for r in spark.read.parquet(tgt).collect())
    assert a == b

    # idempotence: a second repair finds nothing
    assert repair_partitions(spark, src, tgt, "_pt")["stale"] == []


def test_repair_partitions_deletes_target_only(spark, sf_dir, tmp_path):
    """A partition present ONLY in the target must be DELETED by repair
    (dynamic overwrite alone cannot remove it — the source slice writes
    no rows for that value, so without an explicit directory delete the
    extra partition survives every repair and drift never converges)."""
    import os

    import pyspark.sql.functions as F

    from snowflake_to_postgres_spark.operators.transfer import (
        repair_partitions,
        transfer_partitioned,
    )
    from snowflake_to_postgres_spark.sources import table_path

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), src, None, granularity="month")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), tgt, None, granularity="month")

    # plant an extra partition in the target only
    extra = (
        spark.read.parquet(tgt)
        .limit(10)
        .withColumn("_pt", F.lit("2099-12"))
    )
    extra.write.mode("append").partitionBy("_pt").parquet(tgt)
    assert os.path.isdir(os.path.join(tgt, "_pt=2099-12"))

    stats = repair_partitions(spark, src, tgt, "_pt")
    assert stats["stale"] == ["2099-12"]
    assert stats["deleted_partitions"] == ["2099-12"]
    assert stats["rewritten_rows"] == 0
    assert not os.path.exists(os.path.join(tgt, "_pt=2099-12"))

    # converged: equality restored, second repair clean
    a = sorted(tuple(str(x) for x in r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(str(x) for x in r) for r in spark.read.parquet(tgt).collect())
    assert a == b
    again = repair_partitions(spark, src, tgt, "_pt")
    assert again["stale"] == [] and again["deleted_partitions"] == []


def test_delete_keys_partition_scoped(spark, sf_dir, tmp_path):
    """Targeted delete: doomed keys vanish, survivors intact, untouched
    partitions never rewritten (mtime-asserted), and a partition whose
    every row dies is REMOVED from disk."""
    import glob
    import os

    import pyspark.sql.functions as F

    from snowflake_to_postgres_spark.operators.transfer import (
        delete_keys_partitioned,
        transfer_partitioned,
    )

    out = str(tmp_path / "orders_del")
    transfer_partitioned(spark, table_path(sf_dir, "orders"), out, "o_orderdate")
    before = spark.read.parquet(out)
    n_before = before.count()

    # doom 5 keys from 1997-03 plus EVERY key of one whole partition
    parts = sorted(r[0] for r in before.select("_pt").distinct().collect())
    victim_part = parts[0]
    doomed_keys = sorted(
        {
            r[0]
            for r in before.filter(F.col("_pt") == "1997-03")
            .limit(5)
            .select("o_orderkey")
            .unionByName(
                before.filter(F.col("_pt") == victim_part).select("o_orderkey")
            )
            .collect()
        }
    )
    # materialized as literals: the lazy frame would re-read files the
    # delete is about to remove
    doomed = spark.createDataFrame([(k,) for k in doomed_keys], "o_orderkey bigint")
    n_doomed = len(doomed_keys)

    mtimes = {
        p: os.path.getmtime(p)
        for p in glob.glob(out + "/_pt=*/**/*.parquet", recursive=True)
    }
    stats = delete_keys_partitioned(spark, out, doomed, ["o_orderkey"])
    after = spark.read.parquet(out)
    assert after.count() == n_before - n_doomed
    assert after.join(doomed, "o_orderkey", "left_semi").count() == 0
    # fully-doomed partition removed from disk
    assert not os.path.exists(os.path.join(out, f"_pt={victim_part}"))
    # untouched partitions: identical files and mtimes
    untouched = {
        p: t
        for p, t in mtimes.items()
        if f"/_pt={victim_part}/" not in p and "/_pt=1997-03/" not in p
    }
    for p, t in untouched.items():
        assert os.path.exists(p) and os.path.getmtime(p) == t, p
    assert stats.rows == after.filter(F.col("_pt") == "1997-03").count()

    # idempotence: deleting the same keys again touches nothing
    again = delete_keys_partitioned(spark, out, doomed, ["o_orderkey"])
    assert again.rows == 0
    assert spark.read.parquet(out).count() == n_before - n_doomed


def test_delete_and_repair_handle_null_partition(spark, tmp_path):
    """NULL partition values (__HIVE_DEFAULT_PARTITION__): a delete
    touching the NULL partition must keep its survivors (isin() would
    silently exclude — then destroy — them), repair must converge on a
    drifted NULL partition, and a delete that kills every row of the
    NULL partition removes its directory and leaves the others as they
    were."""
    import os

    import pyspark.sql.functions as F

    from snowflake_to_postgres_spark.operators.transfer import (
        delete_keys_partitioned,
        repair_partitions,
    )

    rows = [(i, "x", None if i < 50 else "2020-01") for i in range(100)]
    df = spark.createDataFrame(rows, "k bigint, v string, _pt string")
    tgt = str(tmp_path / "tgt_null")
    df.write.partitionBy("_pt").parquet(tgt)
    assert os.path.isdir(os.path.join(tgt, "_pt=__HIVE_DEFAULT_PARTITION__"))

    doomed = spark.createDataFrame([(0,), (1,)], "k bigint")
    delete_keys_partitioned(spark, tgt, doomed, ["k"])
    after = spark.read.parquet(tgt)
    assert after.count() == 98
    assert after.filter(F.col("_pt").isNull()).count() == 48  # survivors kept

    # repair: source has the full NULL partition, target's is now
    # different → one repair must restore equality and converge
    src = str(tmp_path / "src_null")
    df.write.partitionBy("_pt").parquet(src)
    stats = repair_partitions(spark, src, tgt, "_pt")
    assert "__HIVE_DEFAULT_PARTITION__" in stats["stale"]
    assert stats["rewritten_rows"] >= 50
    a = sorted(tuple(str(x) for x in r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(str(x) for x in r) for r in spark.read.parquet(tgt).collect())
    assert a == b
    assert repair_partitions(spark, src, tgt, "_pt")["stale"] == []

    kept = os.path.join(tgt, "_pt=2020-01")
    mtimes = {f: os.path.getmtime(os.path.join(kept, f)) for f in os.listdir(kept)}
    every_null = spark.createDataFrame([(i,) for i in range(50)], "k bigint")
    assert delete_keys_partitioned(spark, tgt, every_null, ["k"]).rows == 0
    assert not os.path.exists(os.path.join(tgt, "_pt=__HIVE_DEFAULT_PARTITION__"))
    assert {f: os.path.getmtime(os.path.join(kept, f)) for f in os.listdir(kept)} == mtimes
    assert spark.read.parquet(tgt).count() == 50


def test_delete_and_repair_drop_exponent_form_partitions(spark, tmp_path):
    """A partition emptied by a keyed delete, or present only in a
    repair's target, is dropped under the directory Spark's writer named
    (``_pt=1.23456785E7``), not one named from Python's ``str`` of the
    value (``12345678.5``), which does not exist."""
    from snowflake_to_postgres_spark.operators.transfer import (
        delete_keys_partitioned,
        list_partition_files,
        repair_partitions,
    )

    rows = [(i, [12345678.5, 2.5][i % 2]) for i in range(80)]
    df = spark.createDataFrame(rows, "k bigint, _pt double")
    tgt = str(tmp_path / "tgt")
    df.write.partitionBy("_pt").parquet(tgt)
    assert os.path.isdir(os.path.join(tgt, "_pt=1.23456785E7"))

    doomed = spark.createDataFrame([(i,) for i in range(0, 80, 2)], "k bigint")
    assert delete_keys_partitioned(spark, tgt, doomed, ["k"]).rows == 0
    assert not os.path.exists(os.path.join(tgt, "_pt=1.23456785E7"))
    after = spark.read.parquet(tgt)
    assert after.count() == 40
    assert after.join(doomed, "k", "left_semi").count() == 0

    src = str(tmp_path / "src")
    df.filter(F.col("_pt") == 2.5).write.partitionBy("_pt").parquet(src)
    df.write.mode("overwrite").partitionBy("_pt").parquet(tgt)
    listed = list_partition_files(spark, tgt, "_pt")
    stats = repair_partitions(spark, src, tgt, "_pt")
    assert stats["deleted_partitions"] == ["1.23456785E7"]
    assert set(stats["stale"]) <= set(listed)
    assert not os.path.exists(os.path.join(tgt, "_pt=1.23456785E7"))
    assert spark.read.parquet(tgt).count() == 40


def test_failed_rewrite_drops_no_partition(spark, tmp_path, monkeypatch):
    """Repair and delete drop partitions only after their write commits.
    When the write raises, every target file keeps its bytes and mtime:
    repair keeps its target-only partition and delete keeps the
    partition whose every row it was about to remove."""
    import pytest

    from snowflake_to_postgres_spark.operators import transfer

    rows = [(i, "x", "2020-01" if i < 50 else "2020-02") for i in range(100)]
    df = spark.createDataFrame(rows, "k bigint, v string, _pt string")
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    df.write.partitionBy("_pt").parquet(src)
    # the target lost half of 2020-01 and holds a partition the source lacks
    planted = spark.createDataFrame([(i, "y", "2099-12") for i in range(200, 205)], df.schema)
    df.filter((F.col("k") % 2 == 0) | (F.col("_pt") == "2020-02")).unionByName(
        planted
    ).write.partitionBy("_pt").parquet(tgt)

    def snapshot() -> dict[str, tuple[int, float]]:
        return {
            os.path.relpath(os.path.join(d, f), tgt): (
                os.path.getsize(os.path.join(d, f)),
                os.path.getmtime(os.path.join(d, f)),
            )
            for d, _, files in os.walk(tgt)
            for f in files
        }

    exchange = transfer.partition_exchange

    def poisoned(frame, *cols):
        return exchange(frame, *cols).withColumn(
            "v", F.raise_error(F.lit("poisoned write")).cast("string")
        )

    before = snapshot()
    assert "_pt=2099-12" in {os.path.dirname(p) for p in before}
    monkeypatch.setattr(transfer, "partition_exchange", poisoned)
    with pytest.raises(Exception, match="poisoned write"):
        transfer.repair_partitions(spark, src, tgt, "_pt")
    assert snapshot() == before
    doomed = spark.createDataFrame([(i,) for i in [60, *range(200, 205)]], "k bigint")
    with pytest.raises(Exception, match="poisoned write"):
        transfer.delete_keys_partitioned(spark, tgt, doomed, ["k"])
    assert snapshot() == before
    assert not any(".spark-staging" in d for d, _, _ in os.walk(tgt))
