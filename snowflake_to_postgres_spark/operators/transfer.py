"""Bulk transfer engine: read → optional filter/limit → write, with a
table-granular checkpoint manifest and cross-table fan-out.

Reference shape (data_transfer.py): one cursor per table, fetchmany
batches serialized row-by-row to CSV, COPY per batch, row-offset resume
on auth failure — the reference itself documents that OFFSET resume
without ORDER BY is non-deterministic (data_transfer.py:33-36).

Spark shape: ``spark.read → df.write`` per table. Partitioned reads
replace the fetch loop (intra-table parallelism the reference never had,
SURVEY §4 'intra-table parallelism: none'); task retry replaces the
auth-retry/offset dance; the checkpoint manifest tracks *completed
tables* (deterministic unit) instead of row offsets. Cross-table
concurrency is a driver-side thread pool submitting concurrent Spark
jobs under the FAIR scheduler (replacing data_transfer.py:611-668's
one-connection-per-worker pool).

Sinks: parquet (native target) and CSV-with-NULL-marker (legacy
compatibility with the reference's COPY format: NULL as ``\\N``,
data_transfer.py:277-292). JDBC writing uses the same ``df.write`` path
with ``format('jdbc')`` when a URL is configured — gated, since this
environment has no database to hit.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from snowflake_to_postgres_spark.operators.common import partition_exchange
from snowflake_to_postgres_spark.operators.validation import detect_date_column


@dataclass
class TransferStats:
    """Mirror of data_transfer.py:60-69."""

    table: str
    rows: int = 0
    seconds: float = 0.0
    skipped: bool = False
    error: str | None = None

    @property
    def rows_per_sec(self) -> float:
        return self.rows / self.seconds if self.seconds > 0 else 0.0


class CheckpointManager:
    """Thread-safe JSON manifest of completed tables (checkpoint.py:29-104
    reshaped: completed tables only — no in-progress row offsets, because
    Spark writes are atomic per job; a crashed write leaves no committed
    partial state worth resuming into). Atomic tmp+rename persistence
    (checkpoint.py:56-61)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._lock = threading.Lock()
        self._completed: set[str] = set()
        if os.path.exists(path):
            with open(path) as fh:
                doc = json.load(fh)
            self._completed = set(doc.get("completed", []))

    def is_completed(self, table: str) -> bool:
        with self._lock:
            return table in self._completed

    def mark_completed(self, table: str) -> None:
        with self._lock:
            self._completed.add(table)
            self._write()

    def _write(self) -> None:
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".ckpt_")
        with os.fdopen(fd, "w") as fh:
            json.dump({"completed": sorted(self._completed)}, fh)
        os.replace(tmp, self.path)

    @property
    def completed(self) -> list[str]:
        with self._lock:
            return sorted(self._completed)


class TransferEngine:
    """Schema-level transfer with WHERE/LIMIT pushdown, checkpoint skip,
    and parallel table fan-out (data_transfer.py:98-208, :536-670)."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint: CheckpointManager | None = None,
        target_format: str = "parquet",
        target_jdbc=None,
    ) -> None:
        self.spark = spark
        self.checkpoint = checkpoint
        self.target_format = target_format
        #: JdbcConfig → targets are DATABASE TABLES, not paths: the
        #: reference's actual Snowflake→Postgres shape. The "path"
        #: argument is interpreted as the target table name.
        self.target_jdbc = target_jdbc

    # -- single table --------------------------------------------------
    def transfer_table(
        self,
        source_path: str,
        target_path: str,
        table: str,
        where: str | None = None,
        limit: int | None = None,
        columns: list[str] | None = None,
    ) -> TransferStats:
        """data_transfer.py:98-208 as one declarative plan: the WHERE
        string and column list reach the parquet scan via Catalyst
        (PushedFilters/ReadSchema) instead of being spliced into a SQL
        string."""
        if self.checkpoint and self.checkpoint.is_completed(table):
            return TransferStats(table, skipped=True)
        t0 = time.perf_counter()
        try:
            df = self.spark.read.parquet(source_path)
            if columns:
                df = df.select(*columns)
            if where:
                df = df.filter(F.expr(where))
            if limit is not None:
                df = df.limit(limit)
            rows = self._write(df, target_path)
            stats = TransferStats(table, rows, time.perf_counter() - t0)
            if self.checkpoint:
                self.checkpoint.mark_completed(table)
            return stats
        except Exception as e:  # noqa: BLE001 — per-table isolation, like the reference
            return TransferStats(table, 0, time.perf_counter() - t0, error=str(e))

    def _write(self, df: DataFrame, target_path: str) -> int:
        # Observe row count during the write itself — no second scan.
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if self.target_jdbc is not None:
            from snowflake_to_postgres_spark.sources.jdbc import write_jdbc

            table_name = os.path.basename(target_path.rstrip("/"))
            write_jdbc(df, self.target_jdbc, table_name, mode="overwrite")
            return obs.get["rows"]
        writer = df.write.mode("overwrite")
        if self.target_format == "csv":
            # legacy-compatible sink: the reference's COPY CSV protocol
            # (NULL '\N', data_transfer.py:288-292); Spark needs no
            # null-byte scrub because it never round-trips through text
            writer = writer.option("nullValue", r"\N").option("header", "true")
        writer.format(self.target_format).save(target_path)
        return obs.get["rows"]

    # -- schema fan-out --------------------------------------------------
    def transfer_schema(
        self,
        tables: dict[str, str],
        target_dir: str,
        workers: int = 4,
        where: dict[str, str] | None = None,
    ) -> list[TransferStats]:
        """Parallel table fan-out (data_transfer.py:611-668): a thread
        pool submits concurrent Spark *jobs*; the FAIR scheduler shares
        executors across them. Order of results preserved like the
        reference's order-preserving stats collection."""
        names = list(tables)

        def one(name: str) -> TransferStats:
            return self.transfer_table(
                tables[name],
                os.path.join(target_dir, name),
                name,
                where=(where or {}).get(name),
            )

        if workers <= 1:
            return [one(n) for n in names]
        # Pool threads start without the caller's local properties, so
        # their jobs would escape its job group. Each task is wrapped on
        # its own and so carries its own copy: threads sharing one would
        # race on the SQL execution id that every query sets there.
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(one), n) for n in names
            ]
            return [f.result() for f in futures]


def rollup_stats(stats: list[TransferStats]) -> dict:
    """Per-run roll-up (data_transfer.py:176-193, sf_migrate.py:878-907)."""
    done = [s for s in stats if not s.skipped and s.error is None]
    total_rows = sum(s.rows for s in done)
    total_sec = sum(s.seconds for s in done)
    return {
        "tables": len(stats),
        "transferred": len(done),
        "skipped": sum(1 for s in stats if s.skipped),
        "errors": [s.error for s in stats if s.error],
        "total_rows": total_rows,
        "total_seconds": round(total_sec, 3),
        "rows_per_sec": int(total_rows / total_sec) if total_sec > 0 else 0,
    }


def transfer_partitioned(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    partition_col: str,
    granularity: str = "month",
) -> TransferStats:
    """Date-partitioned transfer: lays the target out hive-partitioned on
    a derived date bucket so downstream scans (the validator's L2/L4
    date-keyed layers, incremental re-transfers, TTL deletes) get
    *partition pruning* instead of full scans — the storage-layout twin
    of the reference's monthly chunk planner (validator.py:515-570).

    At 100 TB this is the difference between reading one month and
    reading the table; the derived column stays low-cardinality (months,
    not days) so the file count remains sane."""
    t0 = time.perf_counter()
    df = spark.read.parquet(source_path)
    date_col = partition_col or detect_date_column(df.schema)
    bucket = F.date_format(F.col(date_col).cast("date"),
                           "yyyy-MM" if granularity == "month" else "yyyy-MM-dd")
    obs = Observation()
    out = df.withColumn("_pt", bucket).observe(obs, F.count(F.lit(1)).alias("rows"))
    (
        partition_exchange(out, "_pt")  # one file per partition value
        .write.mode("overwrite")
        .partitionBy("_pt")
        .parquet(target_path)
    )
    return TransferStats("partitioned", obs.get["rows"], time.perf_counter() - t0)


def _in_parts(partition_col: str, parts: list):
    """NULL-safe partition membership: ``isin`` evaluates NULL for NULL
    rows, so a list containing None would silently exclude (and, in the
    delete path, destroy) the __HIVE_DEFAULT_PARTITION__ rows."""
    non_null = [p for p in parts if p is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if any(p is None for p in parts):
        cond = cond | F.col(partition_col).isNull()
    return cond


def _drop_partitions(
    spark: SparkSession, target_path: str, partition_col: str, names: list
) -> None:
    """Delete the hive partition directories of ``names`` under
    ``target_path`` through the Hadoop FileSystem API, which resolves
    the path's own filesystem, so it works for any scheme the write did.
    A name is the partition value as Spark's writer renders it,
    ``CAST(value AS STRING)`` (None is the __HIVE_DEFAULT_PARTITION__):
    Python's ``str`` differs for doubles (``12345678.5`` against the
    writer's ``1.23456785E7``) and would name no directory."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for value in names:
        name = utils.getPartitionPathString(partition_col, value)
        jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{target_path.rstrip('/')}/{name}")
        jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)


def _rewrite_partitions(
    spark: SparkSession, df: DataFrame, target_path: str, partition_col: str, affected: dict
) -> int:
    """Write ``df`` into ``target_path``, drop the ``affected``
    partitions it emptied and return its row count. ``df`` is written
    hive-partitioned under dynamic partition overwrite, which replaces
    only the partitions it has rows for; the row count and the partition
    values written are observed during that write. A partition with no
    rows left is invisible to that write, so once it commits every
    ``affected`` value it did not produce is dropped. A write that fails
    drops nothing.

    ``affected`` maps each partition value a caller may empty, typed as
    ``df``'s column, to its directory value, ``CAST(value AS STRING)``
    taken in the caller's collect of it. A value that compares unequal
    to the one written would drop a partition that was just rewritten."""
    obs = Observation()
    (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            # array(): a bare collect_set skips NULL, and the NULL
            # partition would then read as emptied
            F.collect_set(F.array(partition_col)).alias("parts"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_path)
    )
    m = obs.get
    written = {v for (v,) in m["parts"]}
    _drop_partitions(
        spark, target_path, partition_col, [n for v, n in affected.items() if v not in written]
    )
    return m["rows"]


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str = "_pt",
    version_col: str | None = None,
    check_moved_keys: bool = True,
) -> TransferStats:
    """MERGE (upsert) into a hive-partitioned parquet target: rows in
    ``updates`` replace target rows with the same key; new keys append.
    The reference has no merge at all — its ``transfer`` verb is
    truncate-and-reload (data_transfer.py's full-table SELECT) — but an
    incremental pipeline needs one, and this is the scale-correct shape
    without a table format:

    * **Partition-scoped IO.** The affected partition list comes from
      the updates (driver-sized — a day's feed touches a day's
      partitions); only those partitions are read and merged. The
      write's ``partitionOverwriteMode=dynamic`` option then rewrites
      exactly the partitions present in the merged frame — untouched
      partitions are never read, never written (asserted by file mtime
      in tests). A 100 TB table with a 100 GB daily feed does 100 GB of
      IO, not 100 TB.
    * **Latest-wins semantics.** Without ``version_col``, updates win
      over target rows (DELETE+INSERT merge). With ``version_col``, the
      max-version row per key survives, source-of-update winning ties —
      the idempotent form for at-least-once feeds (replaying yesterday's
      feed cannot regress a newer row).
    * **One write, straight into the target.** The merged slice is
      written to ``target_path`` itself under dynamic partition
      overwrite, and its row count is observed during that write. Spark
      allows this self-overwrite in dynamic mode: tasks write under
      ``{target}/.spark-staging-<job>``, and the touched partitions are
      swapped in only at job commit, after every task has finished
      reading them. A job that fails aborts and removes its staging
      directory, leaving every target file as it was (pinned in tests).
      One bounded write of the affected slice, spill-safe at any
      partition size.

    **Contract: ``partition_col`` must be functionally determined by
    ``key_cols``** (e.g. ``_pt`` derived from an immutable event date).
    Only target partitions present in the updates are scanned, so if an
    update carries a *different* partition value than the target's
    existing row for the same key, the old copy in the unscanned
    partition survives — duplicate keys after the merge.
    ``check_moved_keys`` (DEFAULT ON — round-5 verdict: the silent
    duplicate outranks the scan cost) detects this loudly: a
    column-pruned scan of the full target's (key, partition) index is
    semi-joined with the update keys, and any hit outside the scanned
    partitions raises before anything is written. The check costs one
    key-column scan of the target; pass ``check_moved_keys=False``
    only when the partition derivation is provably key-stable and the
    scan matters.

    Updates must already carry ``partition_col`` (use the same bucket
    expression as :func:`transfer_partitioned`)."""
    t0 = time.perf_counter()
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    # duplicate keys on the build side of a semi/anti join change nothing
    keys = updates.select(*key_cols)
    target = spark.read.parquet(target_path)  # one listing for both uses
    if check_moved_keys:
        moved = (
            target.select(*key_cols, partition_col)
            .filter(~_in_parts(partition_col, parts))
            .join(keys, key_cols, "left_semi")
        )
        sample = moved.limit(5).collect()
        if sample:
            raise ValueError(
                "merge_upsert_partitioned: update keys exist in target "
                f"partitions outside the update's {partition_col} values — "
                "the merge would leave stale duplicates. partition_col must "
                f"be functionally determined by key_cols. Sample: "
                f"{[tuple(r) for r in sample]}"
            )
    tgt = target.filter(_in_parts(partition_col, parts))
    if version_col is None:
        merged = tgt.join(keys, key_cols, "left_anti").unionByName(updates)
    else:
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(version_col).desc(), F.col("_is_update").desc()
        )
        merged = (
            tgt.withColumn("_is_update", F.lit(0))
            .unionByName(updates.withColumn("_is_update", F.lit(1)))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_is_update")
        )
    # every partition in ``parts`` keeps the update rows: none is emptied
    n = _rewrite_partitions(
        spark, partition_exchange(merged, partition_col), target_path, partition_col, {}
    )
    return TransferStats("merge_upsert", n, time.perf_counter() - t0)


def list_partition_files(
    spark: SparkSession, target_path: str, partition_col: str = "_pt"
) -> dict[str, tuple[int, int]]:
    """{partition_value: (n_data_files, total_bytes)} for a
    hive-partitioned parquet dir, via the Hadoop FileSystem API (works
    for any scheme). Partition lists are driver-sized by definition —
    the same bound every dynamic-overwrite plan already relies on."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    out: dict[str, tuple[int, int]] = {}
    prefix = f"{partition_col}="
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        n = size = 0
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            f = it.next()
            fname = f.getPath().getName()
            if fname.endswith(".parquet") and not fname.startswith(("_", ".")):
                n += 1
                size += f.getLen()
        out[name[len(prefix):]] = (n, size)
    return out


def compact_partitions(
    spark: SparkSession,
    target_path: str,
    partition_col: str = "_pt",
    max_files_per_partition: int = 1,
    target_file_bytes: int = 128 << 20,
) -> TransferStats:
    """Small-file compaction for a hive-partitioned parquet target — the
    maintenance pass every incrementally-written table needs.
    Append-mode ingestion and high-parallelism writers accrete files
    per partition (every appended micro-batch is at least one new file)
    until scans pay per-file open/footer costs that dwarf the data —
    the classic 100 TB operational failure. The reference never needs
    this (truncate-and-reload rewrites everything); an incremental
    pipeline does.

    Scale shape, mirroring the merge's partition-scoped discipline:

    * **Only offending partitions are touched.** The driver lists
      per-partition file counts/bytes (:func:`list_partition_files` —
      driver-sized), selects partitions with more than
      ``max_files_per_partition`` data files, and reads ONLY those.
      Untouched partitions are never read, never written (file mtimes
      pinned in tests).
    * **Output file count is computed, not guessed**: each compacted
      partition gets at most ``ceil(bytes / target_file_bytes)`` files
      via a per-partition salt — ``pmod(hash(whole row), n_files)`` —
      and a hash exchange on (partition, salt) into as many tasks as
      there are files in total, so one task writes one file per
      (partition, salt) it holds. Fewer files land where two salts of
      a partition hash to the same task. The task count is fixed:
      AQE would coalesce a bare ``repartition(partition_col, "_salt")``
      of a small input into one task, which writes ONE file per
      partition regardless of size — wrong for a partition bigger than
      a sane file target.
    * **Same single write as the merge**: the compacted partitions are
      written straight into the target under dynamic partition
      overwrite, which swaps only them in at job commit. Directory
      names are unescaped to the values the read sees, so the NULL
      partition and escaped names (``a%3Ab``) are compacted too.
    """
    t0 = time.perf_counter()
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    stats = list_partition_files(spark, target_path, partition_col)
    # directory name -> partition value, as the read sees it
    offenders = {
        None if p == utils.DEFAULT_PARTITION_NAME() else utils.unescapePathName(p):
            max(1, math.ceil(size / target_file_bytes))
        for p, (n, size) in stats.items()
        if n > max_files_per_partition
    }
    if not offenders:
        return TransferStats("compact", 0, time.perf_counter() - t0)

    desired = spark.createDataFrame(list(offenders.items()), "_d_pt string, _n_files int")
    df = (
        spark.read.parquet(target_path)
        .filter(_in_parts(partition_col, list(offenders)))
        .join(F.broadcast(desired), F.col(partition_col).eqNullSafe(F.col("_d_pt")))
        .drop("_d_pt")
    )
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[c for c in df.columns if c != "_n_files"]),
                        F.col("_n_files")).cast("int")
    ).drop("_n_files")

    n = _rewrite_partitions(
        spark,
        salted.repartition(sum(offenders.values()), partition_col, "_salt").drop("_salt"),
        target_path,
        partition_col,
        {},  # every row of an offending partition is rewritten: none is emptied
    )
    return TransferStats("compact", n, time.perf_counter() - t0)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str = "effective_ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_flag: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 apply — the dimension-history
    maintenance the reference's truncate-and-reload transfer can never
    express: given the history table (every version of every key, the
    live one flagged ``is_current`` with NULL ``valid_to``) and an
    update batch, close out rows whose attributes actually changed
    (valid_to = the update's effective_ts) and append the new versions;
    unchanged keys are untouched, so a replay of the same batch is a
    no-op (idempotent at-least-once).

    100-TB shape: every join is an equi-join on key_cols; the history's
    non-current majority passes through without joining anything
    (filter only), the current slice joins the (feed-sized) latest
    updates once, and attribute comparison is null-safe (<=>) inside
    that join — no window over the dimension, no full rewrite. Pair
    with ``merge_upsert_partitioned`` to write the result back
    partition-scoped."""
    cur = dim.filter(F.col(current_flag))
    hist = dim.filter(~F.col(current_flag))
    out_cols = key_cols + attr_cols + [valid_from, valid_to, current_flag]

    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc())
    latest = (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    u = latest.alias("u")
    c = cur.alias("c")
    same_attrs = None
    for a in attr_cols:
        eq = F.col(f"u.{a}").eqNullSafe(F.col(f"c.{a}"))
        same_attrs = eq if same_attrs is None else (same_attrs & eq)
    joined = u.join(c, key_cols, "inner")

    changed = joined.filter(~same_attrs)
    changed_keys = changed.select(*key_cols)

    closed = (
        cur.join(changed.select(*key_cols, F.col(ts_col).alias("_close_ts")), key_cols)
        .withColumn(valid_to, F.col("_close_ts"))
        .withColumn(current_flag, F.lit(False))
        .select(*out_cols)
    )
    untouched_cur = cur.join(changed_keys, key_cols, "left_anti").select(*out_cols)
    new_versions = (
        changed.select(*key_cols, *[f"u.{a}" for a in attr_cols], F.col(ts_col))
        .withColumn(valid_from, F.col(ts_col))
        .withColumn(valid_to, F.lit(None).cast(dim.schema[valid_to].dataType))
        .withColumn(current_flag, F.lit(True))
        .select(*out_cols)
    )
    brand_new = (
        latest.join(cur, key_cols, "left_anti")
        .select(*key_cols, *attr_cols, F.col(ts_col))
        .withColumn(valid_from, F.col(ts_col))
        .withColumn(valid_to, F.lit(None).cast(dim.schema[valid_to].dataType))
        .withColumn(current_flag, F.lit(True))
        .select(*out_cols)
    )
    return (
        hist.select(*out_cols)
        .unionByName(closed)
        .unionByName(untouched_cur)
        .unionByName(new_versions)
        .unionByName(brand_new)
    )


def repair_partitions(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    partition_col: str = "_pt",
) -> dict:
    """Anti-entropy repair: the ACTION that follows validation. Compare
    source and target per partition by (row count, order-insensitive
    content hash = SUM of xxhash64 over all non-partition columns) and
    rewrite ONLY the stale or missing partitions from the source —
    matching partitions are never read beyond their hash pass and never
    written (asserted by file mtimes in tests). The source slice of
    every stale value is written, then the stale partitions the write
    emptied are dropped: those present ONLY in the target, which the
    slice has no rows for (dynamic overwrite alone cannot remove them,
    so a target-only partition would be re-flagged on every run and the
    repair would never converge). A failed write drops nothing.

    100-TB shape: the fingerprint pass is one map-side-combined
    aggregation per side keyed on the partition value (driver-sized
    result, like every dynamic-overwrite plan); repair IO is
    proportional to the DRIFT, not the table. The content hash is
    duplicate-sensitive (hashes accumulate under SUM) and
    order-insensitive (SUM commutes) — the same properties as the
    validator's fingerprint kernel.

    Returns {"checked": n, "stale": [...], "deleted_partitions": [...],
    "rewritten_rows": n}; partitions are named by their directory
    value, as :func:`list_partition_files` keys them (``1.23456785E7``,
    NULL as ``__HIVE_DEFAULT_PARTITION__``)."""
    t0 = time.perf_counter()
    src = spark.read.parquet(source_path)
    tgt = spark.read.parquet(target_path)

    def fp(df: DataFrame, side: str) -> DataFrame:
        cols = sorted(c for c in df.columns if c != partition_col)
        # decimal accumulator: a bigint SUM of int64 hashes overflows
        # under ANSI mode; DECIMAL(38,0) holds ~10^12 rows x 2^63 exactly
        h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
        return df.groupBy(partition_col).agg(
            F.count("*").alias(f"{side}_n"),
            F.sum(h).alias(f"{side}_h"),
        )

    # NULL-SAFE full outer: a plain column-name join never matches NULL
    # partition keys, so a drifted __HIVE_DEFAULT_PARTITION__ would show
    # up as TWO stale rows (one per side) and the rewrite-set difference
    # would cancel it out of the repair entirely.
    fs = fp(src, "s").withColumnRenamed(partition_col, "_s_pt")
    ft = fp(tgt, "t").withColumnRenamed(partition_col, "_t_pt")
    pt = F.coalesce(fs["_s_pt"], ft["_t_pt"])
    diff = fs.join(
        ft, fs["_s_pt"].eqNullSafe(ft["_t_pt"]), "full_outer"
    ).select(
        pt.alias(partition_col),
        pt.cast("string").alias("_pt_name"),
        "s_n", "s_h", "t_n", "t_h",
    )
    rows = diff.collect()  # one row per partition
    stale_rows = [r for r in rows if (r["s_n"], r["s_h"]) != (r["t_n"], r["t_h"])]
    stale = [r[partition_col] for r in stale_rows]
    # target-only partitions (s_n IS NULL): the slice writes no rows for
    # them, so the rewrite drops them. Only these are passed as affected:
    # every other stale value has source rows, and the diff's coalesced
    # type may differ from the source column's
    extra = {r[partition_col]: r["_pt_name"] for r in stale_rows if r["s_n"] is None}
    rewritten = 0
    if stale:
        slice_ = src.filter(_in_parts(partition_col, stale))
        rewritten = _rewrite_partitions(
            spark, partition_exchange(slice_, partition_col), target_path, partition_col, extra
        )
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return {
        "checked": len(rows),
        "stale": sorted(utils.getPartitionValueString(r["_pt_name"]) for r in stale_rows),
        "deleted_partitions": sorted(utils.getPartitionValueString(n) for n in extra.values()),
        "rewritten_rows": rewritten,
        "seconds": round(time.perf_counter() - t0, 3),
    }


def delete_keys_partitioned(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key_cols: list[str],
    partition_col: str = "_pt",
) -> TransferStats:
    """Targeted delete (the GDPR/right-to-be-forgotten verb): remove
    every target row matching ``keys`` — the deletion twin of
    :func:`merge_upsert_partitioned`, sharing its scale shape:

    * **Partition-scoped IO.** Affected partitions come from a
      column-pruned (key, partition) index scan of the target
      semi-joined with the delete keys (driver-sized list); only those
      partitions are read, anti-joined, and rewritten via dynamic
      partition overwrite. A 100 TB table with 1k doomed users rewrites
      the partitions those users touch, nothing else.
    * **Whole-partition drops.** A partition whose every row dies
      writes ZERO rows — invisible to dynamic overwrite (the
      repair_partitions lesson). The write observes which partitions
      it produced; after it commits, the affected partitions it did not
      produce are deleted through the Hadoop FS API. A failed write
      drops nothing.

    ``keys`` may be any frame carrying ``key_cols`` (a parquet list of
    user ids, a subquery); it is reduced to distinct keys and broadcast
    when small."""
    t0 = time.perf_counter()
    k = keys.select(*key_cols).distinct()
    target = spark.read.parquet(target_path)  # one listing for both uses
    idx = target.select(*key_cols, partition_col).join(k, key_cols, "left_semi")
    pcol = F.col(partition_col)
    # partition value -> its directory value, as Spark's writer names it
    parts = dict(idx.select(pcol, pcol.cast("string")).distinct().collect())
    if not parts:
        return TransferStats("delete_keys", 0, time.perf_counter() - t0)

    survivors = target.filter(_in_parts(partition_col, parts)).join(k, key_cols, "left_anti")
    n = _rewrite_partitions(
        spark, partition_exchange(survivors, partition_col), target_path, partition_col, parts
    )
    return TransferStats("delete_keys", n, time.perf_counter() - t0)
