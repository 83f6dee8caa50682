"""Structured Streaming over the ``events`` table.

SURVEY §2.9: the reference has no streaming; its closest notion is
resumable incremental batch via JSON checkpoint offsets (checkpoint.py,
data_transfer.py:300-323). The idiomatic Spark successor is
``readStream → transform → writeStream`` with ``Trigger.AvailableNow``
and a ``checkpointLocation`` — exactly-once incremental processing with
deterministic restart, replacing the reference's (self-documented
non-deterministic) OFFSET resume.

Watermarked tumbling-window aggregation and within-watermark dedup cover
the late-data story the reference never had.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from snowflake_to_postgres_spark.operators.common import partition_exchange
from snowflake_to_postgres_spark.sources import (
    load_table,
    normalize_external_types,
    table_path,
)


def _read_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """THE file-source stream idiom (one copy — round-13 review
    finding): schema pinned from a batch read (required for file
    streams), type normalization via the SAME function the batch loader
    applies (``normalize_external_types``: raw-nanos long or
    TIMESTAMP_NTZ → instant TIMESTAMP), and a stream/batch schema-drift
    assert so a stream and its batch twin cannot diverge."""
    batch = load_table(spark, sf_dir, table)
    raw_schema = spark.read.parquet(table_path(sf_dir, table)).schema
    # file streams require a directory source; glob-filter to one file
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", f"{table}.parquet")
        .load(sf_dir)
    )
    stream = normalize_external_types(stream, table=table)
    assert stream.schema == batch.schema, (
        f"stream/batch schema drift for {table}: {stream.schema} != {batch.schema}"
    )
    return stream


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream — event-time normalized so ``withWatermark``
    downstream gets the TIMESTAMP it requires."""
    return _read_table_stream(spark, sf_dir, "events")


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents stream — the ingest feed the mixture monitor drains
    (documents, not events: source mix is a corpus property)."""
    return _read_table_stream(spark, sf_dir, "documents")


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts+sums per event_type. Works on
    both a stream (incremental state, late rows beyond the watermark
    dropped) and a batch frame (degenerates to a plain groupBy)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(38,2)").alias("s_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            "s_value",
        )
    )


def enrich_events(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment join: events (stream or batch) left-join
    the customer dim on user_id. On a stream this is Spark's
    stream-static join — the static side is (re)broadcast per
    micro-batch, no streaming state at all, which is THE scalable shape
    for dimension enrichment (state-free, any stream volume). Works
    identically on a batch frame for the oracle path."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        "c_mktsegment",
        "c_nationkey",
    )
    return events.join(F.broadcast(dim), "user_id", "left")


def dedup_events_within_watermark(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming dedup on event_id with bounded state — the scalable
    form of exact dedup for infinite streams (state expires with the
    watermark instead of growing forever)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


def ohlc_bars(events: DataFrame, window: str = "1 hour",
              watermark: str = "2 hours") -> DataFrame:
    """Watermarked hourly OHLC bars per event type — the streaming twin
    of ``operators.analytics_ext.ts_resample_ohlc``. Open/close come
    from lexicographic min/max over a (ts, event_id, value) struct, so
    the whole bar is ONE incremental aggregation: state per open
    window is a handful of scalars, closed by the watermark. Works
    identically on a batch frame."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    v = F.col("value").cast("decimal(18,2)")
    tev = F.struct(F.col("ts"), F.col("event_id"), v.alias("v"))
    return (
        events.select(F.col("ts"), F.col("event_type"), tev.alias("tev"), v.alias("v"))
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("tev").getField("v").alias("open"),
            F.max("tev").getField("v").alias("close"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bar_ts"),
            "event_type", "n_events", "open", "close", "high", "low",
        )
    )


def ingest_dedup_against_corpus(events: DataFrame, ingested: DataFrame) -> DataFrame:
    """Streaming incremental ingestion with dedup — the streaming twin
    of ``operators.dedup.dedup_incremental``: drop events whose key was
    already ingested (stream-static LEFT ANTI join against the corpus
    key set), then exact-dedup WITHIN the stream under a watermark
    (replays inside the watermark horizon collapse; state stays
    bounded).

    Scale shape: the static side reduces to its key column before the
    join (at 100 TB you persist this key index bucketed by key, exactly
    like dedup_incremental's digest index; Spark re-reads it per
    micro-batch so its freshness is per-batch). The anti join keeps NO
    streaming state — only the within-stream dedup holds state, and the
    watermark expires it. Works identically on a batch frame for the
    oracle path."""
    keys = ingested.select("event_id").distinct()
    fresh = events.join(keys, "event_id", "left_anti")
    return dedup_events_within_watermark(fresh)


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, out_dir: str
) -> StreamingQuery:
    """Drain everything currently available and stop — the Structured
    Streaming replacement for the reference's checkpoint-resume batch
    loop (O3/O4): re-running after a crash resumes from the checkpoint,
    per-file granularity, deterministic. Returns the terminated query
    (its ``recentProgress`` is the run's per-batch telemetry)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _drain(stream: DataFrame, checkpoint_dir: str, handle) -> None:
    """THE foreachBatch sink: drain everything currently available
    (``Trigger.AvailableNow``) under ``checkpoint_dir`` and call
    ``handle(batch, batch_id)`` on every non-empty micro-batch. An empty
    batch has no rows to write, so skipping it changes no output — and
    stateful handlers then never write state for it (``_prune_state``
    keeps the two newest EXISTING partitions for exactly that reason)."""

    def run(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            handle(batch, batch_id)

    (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_windowed_counts_available_now(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str, out_dir: str
) -> None:
    """End-to-end incremental pipeline: parquet stream → watermarked
    window agg → parquet sink, exactly-once via checkpoint."""
    run_available_now(
        windowed_event_counts(read_events_stream(spark, sf_dir)), checkpoint_dir, out_dir
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session-window aggregation (``F.session_window``) — the
    built-in counterpart to the applyInPandasWithState sessionizer:
    merging windows maintained by the engine, watermark-bounded state,
    append-mode emission of CLOSED sessions. Works identically on a
    batch frame (the oracle path). ``w.end`` is last event + gap —
    Spark's session close boundary."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("s_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "s_value",
        )
    )


def interval_join_events(
    events: DataFrame, watermark: str = "1 hour", interval: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval self-join: each 'error' event joined to
    the same user's 'purchase' events in the preceding ``interval``
    (what did they buy right before it broke?). On a stream BOTH sides
    carry watermarks and the join condition bounds event time in both
    directions, so Spark can evict join state once the watermark passes
    the interval — bounded state on an infinite stream, the shape a
    stream-stream join must have to survive. Works identically on a
    batch frame for the oracle path."""
    errors = events.filter(F.col("event_type") == "error")
    purchases = events.filter(F.col("event_type") == "purchase")
    if events.isStreaming:
        errors = errors.withWatermark("ts", watermark)
        purchases = purchases.withWatermark("ts", watermark)
    e = errors.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_event_id"),
        F.col("ts").alias("e_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").cast("decimal(18,2)").alias("p_value"),
    )
    return (
        e.join(
            p,
            F.expr(
                f"e_user = p_user AND p_ts >= e_ts - INTERVAL {interval} AND p_ts <= e_ts"
            ),
        )
        .select(
            "error_event_id",
            F.col("e_user").alias("user_id"),
            F.date_format("e_ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
            "purchase_event_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            "p_value",
        )
    )


def interval_join_events_outer(
    events: DataFrame, watermark: str = "1 hour", interval: str = "1 hour"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every error event, with
    the same user's preceding-hour purchases where they exist and NULL
    purchase columns where none do — the alerting shape ("errors with
    no recent purchase context") the inner join cannot express.

    Streaming semantics worth pinning (and pinned in
    tests/test_streaming.py::test_interval_join_outer_stream_equals_batch):
    Spark emits the null-extended row for an unmatched error only when
    the watermark passes the point where a matching purchase could
    still arrive — so at end-of-stream the errors inside the final
    state-watermark horizon are withheld as open state, exactly like
    un-closed windows in append-mode aggregation (the horizon Spark
    computes for outer-join state is coarser than watermark+interval —
    observed ~10h behind max(ts) on the fixture). The batch twin (this
    function on a batch frame) has no horizon and emits everything;
    the test asserts matched rows stream exactly and null rows emit as
    a watermark-ordered PREFIX of the batch nulls.

    100-TB shape: identical to the inner join — dual watermarks bound
    the join state to the interval, per-user keying shuffles both
    sides once."""
    errors = events.filter(F.col("event_type") == "error")
    purchases = events.filter(F.col("event_type") == "purchase")
    if events.isStreaming:
        errors = errors.withWatermark("ts", watermark)
        purchases = purchases.withWatermark("ts", watermark)
    e = errors.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_event_id"),
        F.col("ts").alias("e_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").cast("decimal(18,2)").alias("p_value"),
    )
    return (
        e.join(
            p,
            F.expr(
                f"e_user = p_user AND p_ts >= e_ts - INTERVAL {interval} AND p_ts <= e_ts"
            ),
            "left_outer",
        )
        .select(
            "error_event_id",
            F.col("e_user").alias("user_id"),
            F.date_format("e_ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
            "purchase_event_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            "p_value",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: streaming sessionization
# ---------------------------------------------------------------------------

SESSION_GAP_SEC = 1800

_SESSION_OUTPUT_DDL = (
    "user_id bigint, session_start double, n_events bigint, s_value double"
)
_SESSION_STATE_DDL = (
    "session_start double, last_ts double, n_events bigint, s_value double"
)


def sessionize_stream(
    events: "DataFrame",
    gap_sec: int = SESSION_GAP_SEC,
    watermark: str = "2 hours",
) -> "DataFrame":
    """Gap-based sessionization as a custom stateful streaming operator
    (``applyInPandasWithState`` — SURVEY §2.9's extension surface) with
    BOUNDED state: event-time timeout expires a user's state once the
    watermark passes their open session's close (last_ts + gap), so state
    size tracks *active* users, not all users ever seen — the property
    that keeps an infinite stream runnable.

    Sessions are identified by (user_id, session_start) — the session's
    first event time as epoch seconds — NOT a per-user ordinal: an
    ordinal cannot survive state expiry (a re-appearing user would
    restart at 1 and collide), a start-timestamp key can. Emitted rows
    are the current state of every session touched in the batch (update
    semantics — downstream keeps MAX(n_events) per key). The batch twin
    (operators/analytics_ext.sessionize_events) groups to the same keys;
    tests assert they agree and that expired state actually leaves the
    store (numRowsTotal)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key: tuple, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            # Watermark passed last_ts + gap: no future event can extend
            # this session (anything older is dropped as late), and its
            # final form was already emitted in update mode. Drop it.
            state.remove()
            return
        if state.exists:
            session_start, last_ts, n_events, s_value = state.get
        else:
            session_start, last_ts, n_events, s_value = None, None, 0, 0.0
        out_rows: dict[float, list] = {}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, value in zip(pdf["ts"], pdf["value"]):
                sec = ts.timestamp()
                if last_ts is None or sec - last_ts > gap_sec:
                    session_start = sec
                    n_events, s_value = 0, 0.0
                n_events += 1
                s_value += float(value)
                last_ts = sec
                out_rows[session_start] = [user_id, session_start, n_events, s_value]
        state.update((session_start, last_ts, n_events, s_value))
        # Clamp to the current watermark: applyInPandasWithState does not
        # guarantee late rows are filtered before the stateful operator,
        # so a group fed only events with last_ts + gap <= watermark
        # would otherwise make setTimeoutTimestamp throw ("timeout
        # timestamp cannot be earlier than watermark") and fail the
        # query instead of expiring the session on the next tick.
        timeout_ms = int((last_ts + gap_sec) * 1000) + 1
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            list(out_rows.values()),
            columns=["user_id", "session_start", "n_events", "s_value"],
        )

    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUTPUT_DDL,
        stateStructType=_SESSION_STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def latest_state(events: DataFrame) -> DataFrame:
    """Per-user latest event — SCD1 materialized state (the CDC "current
    table"). One row per user: the event with the greatest (ts, event_id).
    Works on a batch frame; the streaming path maintains the same table
    incrementally via :func:`upsert_latest_stream`."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").cast("decimal(18,2)").alias("last_value"),
        )
    )


N_STATE_BUCKETS = 8  # hash-bucket partitioning of the state table


def _state_rows(events: DataFrame) -> DataFrame:
    """Reduce an event set to upsert-ready state rows: one row per user
    (greatest (ts, event_id) — ``_ver`` is that struct, so version
    comparison can never tie), partitioned by a stable hash bucket of
    the key. The bucket is functionally determined by user_id, which is
    exactly the merge sink's partition-stability contract."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("_ver").desc())
    return (
        events.withColumn("_ver", F.struct("ts", "event_id"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn(
            "_pt",
            F.pmod(F.crc32(F.col("user_id").cast("string")), F.lit(N_STATE_BUCKETS))
            .cast("string"),
        )
    )


def bootstrap_latest_state(events: DataFrame, target_path: str) -> None:
    """Materialize the initial state table (hash-bucket partitioned)."""
    (
        partition_exchange(_state_rows(events), "_pt")
        .write.mode("overwrite")
        .partitionBy("_pt")
        .parquet(target_path)
    )


def upsert_latest_stream(
    spark: SparkSession, sf_dir: str, target_path: str, checkpoint_dir: str,
    since=None,
) -> None:
    """Streaming CDC apply: drain the events stream (AvailableNow) into
    the latest-state table — each micro-batch reduces to one row per
    user, then ``foreachBatch`` runs the partition-scoped MERGE sink
    (operators/transfer.merge_upsert_partitioned) with ``_ver`` as the
    version column.

    100-TB shape: per batch, IO is bounded by the touched hash buckets,
    never the full state table; and version-wins merge + the stream
    checkpoint make the whole pipeline idempotent — a replayed batch
    (at-least-once delivery) can never regress a newer row. This is the
    "keep a queryable current table off an event feed" pattern without
    a table format."""
    from snowflake_to_postgres_spark.operators.transfer import (
        merge_upsert_partitioned,
    )

    events = read_events_stream(spark, sf_dir)
    if since is not None:
        events = events.filter(F.col("ts") >= F.lit(since))

    def handle(batch: DataFrame, _batch_id: int) -> None:
        merge_upsert_partitioned(
            batch.sparkSession,
            target_path,
            _state_rows(batch),
            key_cols=["user_id"],
            version_col="_ver",
            # _pt is a hash bucket of user_id (provably key-stable), so
            # the moved-key guard's per-batch target scan buys nothing.
            check_moved_keys=False,
        )

    _drain(events, checkpoint_dir, handle)


ATTRIB_OUTPUT_DDL = (
    "purchase_event_id bigint, user_id bigint, touch_event_id bigint,"
    " touch_type string"
)
ATTRIB_STATE_DDL = "tid bigint, ttype string, tts double"


def attribution_stream(
    events: DataFrame, window_sec: int | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming windowed last-touch attribution — the incremental twin
    of analytics_ext.x_attribution, as a custom stateful operator
    (``applyInPandasWithState``): per-user state is exactly ONE row
    (the latest click/view), each purchase emits its attribution the
    moment it arrives, and the attribution window is what BOUNDS the
    state — an event-time timeout expires a user's touch once the
    watermark passes touch_ts + window, because no future purchase
    could attribute to it (anything earlier is dropped as late). State
    size tracks users ACTIVE within one window, not all users ever
    seen.

    Emits in append semantics (each purchase exactly once) — which
    means a purchase is attributed against the state AT ARRIVAL: a
    touch that arrives in a LATER micro-batch (late but still inside
    the watermark) cannot retroactively re-attribute an already-emitted
    purchase. Stream == batch therefore holds for per-user event-time-
    ordered feeds (the common case for an event log; the tests feed
    time-ordered batches). Contrast upsert_latest_stream, whose
    version-wins merge is order-robust by construction. Batch parity —
    same window, same tie rules — is asserted in
    tests/test_streaming.py."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from snowflake_to_postgres_spark.operators.analytics_ext import (
        ATTRIB_WINDOW_SEC,
    )

    win = ATTRIB_WINDOW_SEC if window_sec is None else window_sec

    def fn(key: tuple, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        tid, ttype, tts = state.get if state.exists else (None, None, None)
        out = []
        for pdf in pdfs:
            pdf = pdf[pdf["event_type"].isin(["click", "view", "purchase"])]
            pdf = pdf.assign(kind=(pdf["event_type"] == "purchase").astype(int))
            pdf = pdf.sort_values(["ts", "kind", "event_id"])
            for ts, eid, etype, kind in zip(
                pdf["ts"], pdf["event_id"], pdf["event_type"], pdf["kind"]
            ):
                sec = ts.timestamp()
                if kind == 0:
                    tid, ttype, tts = int(eid), etype, sec
                elif tts is not None and sec - tts <= win:
                    out.append([int(eid), user_id, tid, ttype])
                else:
                    out.append([int(eid), user_id, None, "none"])
        if tts is not None:
            state.update((tid, ttype, tts))
            timeout_ms = int((tts + win) * 1000) + 1
            state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            out,
            columns=["purchase_event_id", "user_id", "touch_event_id", "touch_type"],
        )

    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=ATTRIB_OUTPUT_DDL,
        stateStructType=ATTRIB_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


QUARANTINE_SCHEMA = "k BIGINT, tag STRING"


def quarantine_split(events: DataFrame, schema: str = QUARANTINE_SCHEMA):
    """Dead-letter routing for a streaming ingest: rows whose ``props``
    JSON fails the declared-schema parse (malformed OR schema-drifted)
    split into a quarantine stream carrying the RAW payload + failure
    evidence; clean rows continue with the parsed fields PROJECTED as
    typed top-level columns (``schema``'s field names — they must not
    collide with source columns; a genuinely NULL payload passes through
    with NULL typed fields). Returns (good, quarantined) — two
    lazily-derived streams off one source.

    Production pipelines die without this: one malformed upstream record
    either poisons the batch (fail-the-job) or silently nulls through an
    unchecked ``from_json``. Splitting keeps the pipeline flowing while
    preserving every bad payload byte-for-byte for replay after a fix —
    the quarantine sink is replayable INPUT, not a log line.

    100-TB shape: both branches are narrow projections of the same scan
    (Spark evaluates the filter per branch — no shuffle, no duplication
    of source IO under one foreachBatch, and file-stream sources are
    cheap to re-filter); the quarantine branch is ~empty in steady state
    so its sink costs nothing until something breaks."""
    # PERMISSIVE from_json yields an all-null struct (not NULL) for
    # malformed input, so failure detection uses the corrupt-record
    # column: the raw payload lands in _corrupt if and only if the parse
    # failed — which also distinguishes a genuinely NULL payload.
    parsed = events.withColumn(
        "_j",
        F.from_json(
            F.col("props"),
            schema + ", _corrupt STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    failed = F.col("_j._corrupt").isNotNull()
    bad = parsed.filter(failed)
    good = parsed.filter(~failed | F.col("props").isNull())
    quarantined = bad.select(
        "event_id",
        "ts",
        "user_id",
        F.col("props").alias("raw_payload"),
        F.lit("json_parse_failed").alias("reason"),
    )
    # Project the parsed struct's fields as typed top-level columns
    # (round-6 ADVICE: the docstring promised typed columns but the good
    # branch dropped the whole struct, handing callers only the raw
    # payload). _corrupt is evidence, not data — it stays internal.
    typed = [
        f.name
        for f in T._parse_datatype_string(schema).fields
        if f.name != "_corrupt"
    ]
    good = good.select("*", *[F.col(f"_j.{n}").alias(n) for n in typed]).drop("_j")
    return good, quarantined


def run_quarantine_split_available_now(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    good_dir: str,
    dlq_dir: str,
) -> None:
    """Drain the events stream through the DLQ split: clean rows to
    ``good_dir``, quarantined payloads to ``dlq_dir``, one checkpointed
    query via foreachBatch. Both sinks are partitioned by the BATCH ID
    and written with dynamic partition overwrite, which is what makes a
    crash-replay safe: plain ``append`` inside foreachBatch duplicates
    the batch when the driver dies between the append and the
    checkpoint commit; overwriting the batch's own partition makes the
    replay idempotent (the standard exactly-once recipe for foreachBatch
    file sinks). Readers see a ``_batch`` partition column."""
    good, bad = quarantine_split(read_events_stream(spark, sf_dir))
    # The dlq branch null-fills whatever columns the good branch carries
    # beyond its own (event_type, value, plus the typed fields the split
    # now projects) so both routes union into ONE stream under ONE
    # checkpoint — the single-query design that makes the split atomic.
    dlq = bad.select(
        F.lit("dlq").alias("_route"),
        "event_id", "ts", "user_id",
        F.col("raw_payload").alias("props"),
    )
    good_types = dict(good.dtypes)
    dlq = dlq.withColumns(
        {c: F.lit(None).cast(good_types[c]) for c in good.columns if c not in dlq.columns}
    ).select("_route", *good.columns)
    tagged = good.select(F.lit("good").alias("_route"), "*").unionByName(
        dlq, allowMissingColumns=False,
    )

    def handle(batch: DataFrame, bid: int) -> None:
        batch.persist()
        try:
            (
                batch.filter(F.col("_route") == "good")
                .drop("_route")
                .withColumn("_batch", F.lit(bid))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch")
                .parquet(good_dir)
            )
            (
                batch.filter(F.col("_route") == "dlq")
                .select(
                    "event_id", "ts", "user_id",
                    F.col("props").alias("raw_payload"),
                    F.lit("json_parse_failed").alias("reason"),
                )
                .withColumn("_batch", F.lit(bid))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch")
                .parquet(dlq_dir)
            )
        finally:
            batch.unpersist()

    _drain(tagged, checkpoint_dir, handle)


def drain_with_progress(
    stream_df: DataFrame, checkpoint_dir: str, out_dir: str
) -> list[dict]:
    """:func:`run_available_now` with OBSERVABILITY: drain the stream
    and return one record per micro-batch from the engine's own
    progress telemetry — batch id, input rows, processing rate, sink
    description, and the event-time watermark. This is the O5
    "long-query ticker" answered the Spark way: the engine already
    meters every batch; the pipeline's job is to surface it (ship these
    dicts to your metrics system from a real deployment; alert on
    watermark LAG, the signal that late data is about to be dropped).

    100-TB shape: reading ``lastProgress`` is driver-side metadata —
    zero data-path cost at any volume.

    Retention: the engine keeps only the most recent
    ``spark.sql.streaming.numRecentProgressUpdates`` entries (default
    100) in ``recentProgress`` — a drain with more micro-batches would
    silently lose the oldest from the returned telemetry (round-6
    ADVICE). The conf is raised for the run (and restored) so the
    history covers any realistic availableNow drain; a 24/7 deployment
    should ship each batch's progress out via a
    ``StreamingQueryListener`` instead of batching them up like this."""
    spark = stream_df.sparkSession
    conf_key = "spark.sql.streaming.numRecentProgressUpdates"
    prior = spark.conf.get(conf_key, "100")
    spark.conf.set(conf_key, str(max(int(prior), 100_000)))
    try:
        q = run_available_now(stream_df, checkpoint_dir, out_dir)
    finally:
        spark.conf.set(conf_key, prior)
    # recentProgress holds the engine's full per-batch history for the
    # run up to the (raised) retention cap — a lastProgress polling loop
    # MISSES any batch that completes between polls; sub-poll-interval
    # batches would silently vanish from the telemetry, defeating the
    # "every row accounted for" use.
    progress: list[dict] = []
    seen: set[int] = set()
    for p in q.recentProgress:
        if p["batchId"] in seen:
            continue
        seen.add(p["batchId"])
        progress.append(
            {
                "batch_id": p["batchId"],
                "num_input_rows": p.get("numInputRows", 0),
                "rows_per_sec": p.get("processedRowsPerSecond"),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
                "batch_duration_ms": p.get("batchDuration"),
            }
        )
    return progress


# ---------------------------------------------------------------------------
# Streaming SCD2 (round-9 verdict #6): the warehouse family's third leg.
# Batch read-side: operators/warehouse.x_scd2_history. Batch write-side:
# operators/transfer.scd2_apply. This closes the triangle — a foreachBatch
# stream folding scd2_apply over event micro-batches, with the same
# restart/parity discipline as upsert_latest_stream.
# ---------------------------------------------------------------------------

#: History-table schema maintained by the SCD2 stream (key = user_id,
#: tracked attribute = event_type, validity in event time).
SCD2_HISTORY_SCHEMA = (
    "user_id BIGINT, event_type STRING, valid_from TIMESTAMP, "
    "valid_to TIMESTAMP, is_current BOOLEAN"
)


def scd2_updates(batch: DataFrame) -> DataFrame:
    """One DETERMINISTIC update row per user from an event micro-batch:
    the latest event by (ts, event_id) — the event_id tie-break matters
    because scd2_apply's own per-batch latest-wins window orders by the
    timestamp alone, which is nondeterministic under equal timestamps;
    reducing here pins the batch parity tests bit-for-bit."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_type", F.col("ts").alias("effective_ts"))
    )


def _read_scd2_history(spark: SparkSession, target_path: str) -> DataFrame:
    if os.path.isdir(target_path):
        return spark.read.parquet(target_path)
    return spark.createDataFrame([], SCD2_HISTORY_SCHEMA)


def scd2_apply_events(history: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold one event micro-batch into the SCD2 history — the shared
    kernel between the stream below and the batch fold the parity test
    replays (operators/transfer.scd2_apply with this module's key/attr
    binding)."""
    from snowflake_to_postgres_spark.operators.transfer import scd2_apply

    return scd2_apply(
        history,
        scd2_updates(batch),
        key_cols=["user_id"],
        attr_cols=["event_type"],
        ts_col="effective_ts",
    )


def bootstrap_scd2_history(events: DataFrame, target_path: str) -> None:
    """Materialize the initial history from a batch of events (one
    scd2_apply fold over the empty history)."""
    empty = events.sparkSession.createDataFrame([], SCD2_HISTORY_SCHEMA)
    scd2_apply_events(empty, events).write.mode("overwrite").parquet(target_path)


def scd2_stream(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    checkpoint_dir: str,
    since=None,
    batch_log: str | None = None,
) -> None:
    """Streaming SCD2 maintenance: drain the events stream (AvailableNow)
    into the dimension-history table — each micro-batch reduces to one
    deterministic update per user (:func:`scd2_updates`), then
    ``foreachBatch`` folds it with the batch kernel
    (operators/transfer.scd2_apply) and rewrites the history.

    Idempotence under at-least-once delivery: scd2_apply is a no-op on
    a replayed batch (unchanged attributes close nothing and append
    nothing), so a crash between the history write and the stream
    checkpoint commit replays harmlessly — the same argument
    upsert_latest_stream makes with its version-wins merge.

    100-TB shape: the fold is scd2_apply's — the history's non-current
    majority passes through as a filter (here: the rewrite would go
    partition-scoped through merge_upsert_partitioned on a hash bucket
    of user_id, exactly like upsert_latest_stream's state table; the
    fixture-scale rewrite keeps the whole history in one parquet dir to
    keep the parity test readable). ``batch_log`` (tests) archives each
    micro-batch so the parity test can replay the EXACT same fold in
    batch mode."""

    events = read_events_stream(spark, sf_dir)
    if since is not None:
        events = events.filter(F.col("ts") >= F.lit(since))

    def handle(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        if batch_log is not None:
            batch.write.mode("overwrite").parquet(
                os.path.join(batch_log, f"batch={batch_id}")
            )
        hist = _read_scd2_history(sp, target_path)
        # eager localCheckpoint: the new history is derived FROM the
        # files the overwrite below deletes — materialize off them first
        new_hist = scd2_apply_events(hist, batch).localCheckpoint(eager=True)
        new_hist.write.mode("overwrite").parquet(target_path)

    _drain(events, checkpoint_dir, handle)


def drift_stream(
    spark: SparkSession,
    sf_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    since=None,
    cols: "list[str] | None" = None,
    events: DataFrame | None = None,
) -> None:
    """Streaming drift monitor (round-10 verdict #5): drain the events
    stream (AvailableNow) and score every micro-batch's numeric columns
    against the FROZEN first-week reference with the same kernel as the
    registered st_drift twin and the `drift` CLI verb — each batch
    appends rows (batch_id, column_name, psi, bins_used, bins_dropped,
    n_ref, n_cur) to the monitor table.

    The reference is reduced ONCE at setup to its bounded artifacts
    (per-column bounds + (column, bin) counts + totals,
    ≤ |cols|·(bins+2) rows, collected to literal frames), so micro-
    batches never re-aggregate reference data — the production shape: a
    drift monitor ships its frozen reference histogram, not the raw
    snapshot.

    Idempotence under at-least-once delivery: each batch's monitor rows
    land at ``batch=<id>`` with mode=overwrite (the _run_batch_monitor
    contract), so a replayed batch rewrites identical content (the
    scoring is deterministic in the batch's rows) and a restart on the
    same checkpoint appends nothing."""
    from snowflake_to_postgres_spark.operators.validation import (
        psi_reference_artifacts,
        psi_score_vs_reference,
    )
    from snowflake_to_postgres_spark.streaming.queries import (
        ST_DRIFT_COLS,
        ST_DRIFT_REF_DATE,
    )

    score_cols = list(cols) if cols is not None else list(ST_DRIFT_COLS)
    ref = load_table(spark, sf_dir, "events").filter(
        F.col("ts").cast("date") < F.lit(ST_DRIFT_REF_DATE).cast("date")
    )
    artifacts = []
    for frame in psi_reference_artifacts(ref, score_cols):
        artifacts.append(spark.createDataFrame(frame.collect(), frame.schema))
    bounds, ref_counts, ref_meta = artifacts
    # Fail-fast, not a blind spot: a column with no non-NULL reference
    # data yields no artifacts, and the scoring joins would then drop
    # its every micro-batch row SILENTLY — the monitor would report
    # nothing for exactly the column that changed most (all-NULL or
    # newly-added in the reference window). Setup is the place to say so.
    have = {r["column_name"] for r in bounds.collect()}
    missing = sorted(set(score_cols) - have)
    if missing:
        raise ValueError(
            f"drift_stream: no non-NULL reference data for {missing} — "
            "the frozen window cannot score them; widen the reference or "
            "drop the columns explicitly"
        )

    def report(batch: DataFrame, batch_id: int) -> DataFrame:
        return psi_score_vs_reference(
            bounds,
            ref_counts,
            ref_meta,
            batch.withColumn("batch_id", F.lit(batch_id).cast("bigint")),
            score_cols,
            "batch_id",
        )

    _run_batch_monitor(
        spark, sf_dir, monitor_path, checkpoint_dir, report,
        since=since, events=events,
    )


def _run_batch_monitor(
    spark: SparkSession,
    sf_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    report_fn,
    since=None,
    events: DataFrame | None = None,
) -> None:
    """The ONE copy of the foreachBatch monitor discipline shared by
    the drift / orphan / heavy-hitters / cardinality / mixture monitors:
    an AvailableNow :func:`_drain` (which skips empty batches), the
    optional since-filter, and the idempotence contract — each batch's
    report lands at ``batch=<id>`` with mode=overwrite, so a replayed
    batch rewrites identical content and a restart on the same
    checkpoint appends nothing. ``report_fn`` maps (batch_frame,
    batch_id) → the bounded report DataFrame."""
    if events is None:  # tests inject a chunked multi-batch source
        events = read_events_stream(spark, sf_dir)
    if since is not None:
        events = events.filter(F.col("ts") >= F.lit(since))

    def handle(batch: DataFrame, batch_id: int) -> None:
        report_fn(batch, batch_id).write.mode("overwrite").parquet(
            os.path.join(monitor_path, f"batch={batch_id}")
        )

    _drain(events, checkpoint_dir, handle)


def orphan_audit_stream(
    spark: SparkSession,
    sf_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    since=None,
    events: DataFrame | None = None,
    parent_keys: DataFrame | None = None,
) -> None:
    """Streaming referential monitor (round 11): drain the events
    stream (AvailableNow) and audit every micro-batch's ``user_id``
    against the customer dimension's key set with the same kernel as
    the registered st_orphan_audit twin — each batch appends one row
    (batch_id, n_rows, n_orphan_rows, n_null_key_rows) to the monitor
    table. The continuous form of the `ref-check` CLI gate.

    The dimension stays a DataFrame (stream-static join semantics):
    broadcast-sized dims broadcast per batch; corpus-scale dims
    hash-join on the key — never collected to the driver.

    Idempotence under at-least-once delivery: each batch's monitor row
    lands at ``batch=<id>`` with mode=overwrite, so a replayed batch
    rewrites identical content and a restart on the same checkpoint
    appends nothing (the _run_batch_monitor contract)."""
    from snowflake_to_postgres_spark.operators.validation import fk_orphan_counts

    if parent_keys is None:
        parent_keys = (
            load_table(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("k"))
            .distinct()
        )

    def report(batch: DataFrame, batch_id: int) -> DataFrame:
        return fk_orphan_counts(
            batch.withColumn("batch_id", F.lit(batch_id).cast("bigint")),
            "user_id",
            parent_keys,
            "batch_id",
        )

    _run_batch_monitor(
        spark, sf_dir, monitor_path, checkpoint_dir, report,
        since=since, events=events,
    )


def heavy_hitters_stream(
    spark: SparkSession,
    sf_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    since=None,
    events: DataFrame | None = None,
    top: int | None = None,
) -> None:
    """Streaming heavy-keys monitor (round-11 verdict #6): drain the
    events stream (AvailableNow) and fold every micro-batch through the
    per-group CMS kernel shared with the registered st_heavy_hitters
    twin — each batch appends its top-k (rank, user_id, exact_cnt,
    cms_estimate, share_ppm, never_undercounts) rows to the monitor
    table, keyed by batch_id. The skew early-warning a 100-TB ingest
    wants: a key whose share_ppm spikes is the one to salt or
    quarantine BEFORE it lands in a join.

    Idempotence under at-least-once delivery: each batch's rows land at
    ``batch=<id>`` with mode=overwrite, so a replayed batch rewrites
    identical content and a restart on the same checkpoint appends
    nothing (the _run_batch_monitor contract)."""
    from snowflake_to_postgres_spark.operators.analytics_ext import (
        HH_TOP,
        cms_heavy_hitters_by_group,
    )

    k = HH_TOP if top is None else top

    def report(batch: DataFrame, batch_id: int) -> DataFrame:
        return cms_heavy_hitters_by_group(
            batch.withColumn("batch_id", F.lit(batch_id).cast("bigint")),
            "user_id",
            "batch_id",
            top=k,
        ).withColumnRenamed("v", "user_id")

    _run_batch_monitor(
        spark, sf_dir, monitor_path, checkpoint_dir, report,
        since=since, events=events,
    )


def mixture_stream(
    spark: SparkSession,
    sf_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    docs: DataFrame | None = None,
) -> None:
    """Streaming source-mixture monitor (round-12 verdict #7): drain the
    DOCUMENTS stream (AvailableNow) and score every micro-batch's
    per-source char share against the FROZEN tx_mixture_plan targets
    with the same kernel as the registered st_mixture twin — each batch
    appends |sources| rows (batch_id, source, n_docs, obs_chars,
    obs_share_ppm, target_share_ppm, dev_ppm, over_target) to the
    monitor table. The mix early-warning a 100-TB ingest wants: a
    source whose dev_ppm spikes is flooding the corpus NOW, batches
    before the built corpus would show it.

    Targets are reduced ONCE at setup to a literal frame, as
    drift_stream freezes its reference: a monitor ships its frozen
    reference, not a per-batch recomputation (bounded by the
    catalog-sized source domain). A source absent from the frozen
    targets surfaces with NULL target/dev rather than being dropped.

    Idempotence under at-least-once delivery: each batch's rows land at
    ``batch=<id>`` with mode=overwrite — the _run_batch_monitor
    contract."""
    from snowflake_to_postgres_spark.operators.pipeline_ext import (
        mixture_share_by_group,
        mixture_targets,
    )

    t = mixture_targets(load_table(spark, sf_dir, "documents"))
    targets = spark.createDataFrame(t.collect(), t.schema)

    if docs is None:
        docs = read_documents_stream(spark, sf_dir)

    def report(batch: DataFrame, batch_id: int) -> DataFrame:
        return mixture_share_by_group(
            batch.withColumn("batch_id", F.lit(batch_id).cast("bigint")),
            "batch_id",
            targets,
        )

    # documents carry no event time, so no since-filter; _run_batch_monitor
    # is stream-agnostic once a source frame is injected
    _run_batch_monitor(
        spark, sf_dir, monitor_path, checkpoint_dir, report, events=docs
    )


def _state_batch_ids(spark: SparkSession, state_path: str) -> "list[int]":
    """Directory-name listing of state/batch=N partitions via the
    Hadoop FS API (works on any supported filesystem, not just local)
    — cheap because retention keeps the dir at ≤2 entries."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    ids = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(ids)


def _prior_state(
    spark: SparkSession, state_path: str, batch_id: int, schema: str
) -> DataFrame:
    """The state batch ``batch_id`` starts from: the newest state
    partition with id < batch_id, projected to ``schema``'s columns, or
    an empty frame of ``schema`` on the first batch. Never reads more
    than ONE partition's footers."""
    empty = spark.createDataFrame([], schema)
    prior = [b for b in _state_batch_ids(spark, state_path) if b < batch_id]
    if not prior:
        return empty
    return spark.read.parquet(
        os.path.join(state_path, f"batch={prior[-1]}")
    ).select(*empty.columns)


def _commit_state(state: DataFrame, state_path: str, batch_id: int) -> None:
    """Write batch ``batch_id``'s state at ``state/batch=<id>``
    (overwrite: a replayed batch rewrites it), then prune — only once
    that write has committed."""
    state.write.mode("overwrite").parquet(
        os.path.join(state_path, f"batch={batch_id}")
    )
    _prune_state(state.sparkSession, state_path, batch_id)


def _prune_state(spark: SparkSession, state_path: str, batch_id: int) -> None:
    """Keep the two NEWEST existing state partitions, delete the rest —
    only call AFTER the current batch's state write committed. "Two
    newest existing", NOT "ids ≥ batch_id-1": empty micro-batches write
    no state, so after an empty batch N-1 the replay-critical prior
    partition can be any id < N-1 — pruning by id would delete exactly
    the partition a crash-replay of batch N still needs (session-2
    self-review finding)."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(state_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    ids = _state_batch_ids(spark, state_path)
    for b in ids[:-2]:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                os.path.join(state_path, f"batch={b}")
            ),
            True,
        )


def quota_sample_stream(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    state_path: str,
    checkpoint_dir: str,
    docs: DataFrame | None = None,
    quota: int | None = None,
) -> None:
    """Streaming per-source quota ENFORCEMENT — the acting twin of the
    st_mixture monitor (observe → act): admit at most ``quota``
    documents per source ACROSS the whole stream, carrying a running
    per-source admission count between micro-batches. Within a batch,
    admission is deterministic (longest n_chars first, doc_id
    tie-break — pipe_quota_sample's rank key); across batches it is
    first-come streaming admission, which is the semantics a live
    ingest can actually offer (a batch cannot un-admit documents for a
    better one that arrives later — the batch op does the global
    optimum on a finished corpus).

    State discipline (bounded: |sources| rows per batch): batch N reads
    the admission counts written by the LATEST batch < N and writes its
    own at ``state/batch=N`` — so a REPLAYED batch recomputes from the
    same prior state and overwrites identical output/state
    (at-least-once safe), and a restart resumes from the last state.
    Admitted rows land at ``out/batch=N`` (the monitor family's
    idempotence contract).

    State RETENTION (round-14, ADVICE r13): batch N prunes state
    partitions older than N-1 after its own state write commits, so the
    state directory holds at most two ``batch=`` partitions for the
    stream's whole lifetime — the per-batch listing and the prior-state
    scan are O(1), not O(#batches). Keeping N-1 alongside N is exactly
    what at-least-once replay needs: the only batch Structured
    Streaming can re-deliver after a crash is the last uncommitted one,
    and its prior state is N-1. _prior_state never reads more than ONE
    partition (the latest below the current batch id), found by listing
    directory names — no parquet footers are touched for superseded
    batches even before they are pruned."""
    from pyspark.sql import Window

    from snowflake_to_postgres_spark.operators.pipeline_ext import (
        QUOTA_PER_SOURCE,
    )

    q = QUOTA_PER_SOURCE if quota is None else quota
    if docs is None:
        docs = read_documents_stream(spark, sf_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        prior = _prior_state(
            spark, state_path, batch_id, "source string, admitted bigint"
        )
        w = Window.partitionBy("source").orderBy(
            F.col("n_chars").desc(), "doc_id"
        )
        ranked = batch.withColumn("rnk", F.row_number().over(w)).join(
            prior, "source", "left"
        ).withColumn("already", F.coalesce("admitted", F.lit(0)))
        kept = ranked.filter(F.col("rnk") + F.col("already") <= q).drop(
            "rnk", "admitted", "already"
        )
        kept.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={batch_id}")
        )
        new_counts = (
            ranked.groupBy("source", "already")
            .agg(
                F.sum(
                    F.when(F.col("rnk") + F.col("already") <= q, 1).otherwise(0)
                ).alias("batch_kept")
            )
            .select(
                "source",
                (F.col("already") + F.col("batch_kept")).cast("bigint").alias(
                    "admitted"
                ),
            )
        )
        # carry forward sources absent from this batch so their counts
        # survive (state rows are the running totals, not deltas)
        carried = prior.join(
            new_counts.select("source"), "source", "left_anti"
        )
        state = new_counts.unionByName(carried).withColumn(
            "bid", F.lit(batch_id).cast("bigint")
        )
        _commit_state(state, state_path, batch_id)

    _drain(docs, checkpoint_dir, handle)


def cardinality_stream(
    spark: SparkSession,
    sf_dir: str,
    monitor_path: str,
    checkpoint_dir: str,
    since=None,
    events: DataFrame | None = None,
) -> None:
    """Streaming cardinality monitor: drain the events stream
    (AvailableNow) and fold every micro-batch's ``user_id`` through the
    grouped deterministic-HLL kernel shared with the registered
    st_cardinality twin — each batch appends one row (batch_id, k_used,
    s_hit, v_zero, s_scaled, hll_estimate) to the monitor table. The
    register fold is the canonical MERGEABLE sketch, so downstream can
    also union monitor rows across batches and re-estimate (a22's merge
    algebra) without touching the raw stream again.

    Idempotence: batch=<id> partitions, mode=overwrite — the
    _run_batch_monitor contract."""
    from snowflake_to_postgres_spark.operators.analytics_ext import (
        hll_estimate_cols,
        hll_fold_by_group,
    )

    def report(batch: DataFrame, batch_id: int) -> DataFrame:
        return hll_estimate_cols(
            hll_fold_by_group(
                batch.withColumn("batch_id", F.lit(batch_id).cast("bigint")),
                "user_id",
                "batch_id",
            )
        )

    _run_batch_monitor(
        spark, sf_dir, monitor_path, checkpoint_dir, report,
        since=since, events=events,
    )


def quality_gate_stream(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    monitor_path: str,
    checkpoint_dir: str,
    docs: DataFrame | None = None,
) -> None:
    """Streaming LEARNED quality gate — the acting twin of the
    tx_quality_classifier model query: train the probe ONCE on the
    reference corpus at setup (the mixture_stream frozen-targets
    discipline — a gate ships its frozen model, not a per-batch
    retrain), then score every micro-batch of the documents stream
    with the frozen weights and admit only p ≥ ½. Admitted rows land
    at ``out/batch=<id>``; a one-row gate report (batch_id, n_in,
    n_admitted, mean_p ppm) lands at ``monitor/batch=<id>`` — the
    live view of what the filter is throwing away, batches before a
    bad crawl segment would poison the built corpus.

    Because every feature is PER-DOC (quality_features_from — no
    corpus statistics), scoring is a stateless literal-weight
    projection: no cross-batch state at all, so replay idempotence is
    structural (mode=overwrite at batch=<id>, the monitor-family
    contract), and the stream admits EXACTLY the set the batch
    pipe_quality_filter admits on the same data — pinned by pytest.

    100-TB shape: the model is QL_DIM+1 literal coefficients compiled
    into the projection — no join, no broadcast, no state store; the
    only aggregate is the 1-row per-batch report."""
    from pyspark import StorageLevel

    from snowflake_to_postgres_spark.operators.text import (
        QL_SCALE,
        _ql_scored,
        _quality_features,
        quality_features_from,
        train_quality_logreg,
    )

    feats = _quality_features(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    w, _ = train_quality_logreg(feats)
    feats.unpersist()

    if docs is None:
        docs = read_documents_stream(spark, sf_dir)

    half = QL_SCALE // 2

    def handle(batch: DataFrame, batch_id: int) -> None:
        # n_in counts the BATCH, not the scored frame: token-less docs
        # drop out of quality_features_from's join (never admitted) and
        # must still be accounted as rejected input (session-2
        # self-review finding)
        n_in = batch.count()
        scored = _ql_scored(quality_features_from(batch), w).persist()
        kept = scored.filter(F.col("pf") >= half).select("doc_id", "pf")
        kept.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={batch_id}")
        )
        report = scored.agg(
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            F.lit(n_in).cast("bigint").alias("n_in"),
            F.sum(F.when(F.col("pf") >= half, 1).otherwise(0))
            .cast("bigint")
            .alias("n_admitted"),
            F.expr("div(sum(pf), count(*))").cast("bigint").alias("mean_p_ppm"),
        )
        report.write.mode("overwrite").parquet(
            os.path.join(monitor_path, f"batch={batch_id}")
        )
        scored.unpersist()

    _drain(docs, checkpoint_dir, handle)


CUSUM_STREAM_K_DIV = 10  # allowance = 10% of each batch's expectation
CUSUM_STREAM_H_DIV = 2   # alarm when S > half the cumulative expectation


def cusum_stream(
    spark: SparkSession,
    sf_dir: str,
    monitor_path: str,
    state_path: str,
    checkpoint_dir: str,
    events: DataFrame | None = None,
) -> None:
    """Streaming two-sided CUSUM on event-type mix — the
    drift-ACCUMULATION leg of the observability family: st_mixture-style
    per-batch deviation is blind to a source that runs 3% hot every
    batch; CUSUM carries the cumulative evidence S between batches and
    alarms when it crosses a threshold that grows with exposure
    (the sequential-test semantics CUSUM was invented for — Page 1954;
    the batch twin is ts_cusum_changepoint's prefix-min form).

    Frozen reference (the mixture_stream discipline): per-type share
    targets in exact ppm from the static events table at setup. Per
    batch, per type: expected rows ×1e6 = target_ppm · batch_total;
    x_hi = cnt·1e6 − exp − exp//K_DIV, S_hi' = max(0, S_hi + x_hi)
    (mirrored for the low side); alarm when S' exceeds h = half the
    AVERAGE batch expectation (cum_exp'//n'//H_DIV) — h fixed in
    per-batch units, the batch twin's μ//H_DIV, so any persistent
    relative drift beyond the k allowance eventually alarms no matter
    how small each batch's deviation is.
    All exact int64 — no floats anywhere, so replay recomputes
    bit-identical state.

    State discipline: (event_type, s_hi, s_lo, cum_exp, n_batches) —
    |types| rows
    — written at state/batch=N with the quota-stream retention contract
    (read ONLY the latest prior partition, prune < N-1 after commit);
    monitor rows (batch_id, event_type, cnt, exp_x1e6, s_hi, s_lo,
    alarm_hi, alarm_lo) land at monitor/batch=N, mode=overwrite.

    A type never seen in the reference has target 0: any appearance is
    pure excess over zero expectation and alarms immediately — an
    unknown event type IS an anomaly under a frozen catalog."""
    ref = load_table(spark, sf_dir, "events")
    tot = ref.count()
    targets_df = ref.groupBy("event_type").agg(
        F.expr(f"div(count(*) * 1000000L, {tot}L)").cast("bigint").alias(
            "target_ppm"
        )
    )
    # frozen literal frame: |types| rows (SCHEMA/CONST — catalog-sized)
    targets = spark.createDataFrame(
        targets_df.collect(), "event_type string, target_ppm bigint"
    )

    if events is None:
        events = read_events_stream(spark, sf_dir)

    kd, hd = CUSUM_STREAM_K_DIV, CUSUM_STREAM_H_DIV
    state_schema = (
        "event_type string, s_hi bigint, s_lo bigint, cum_exp bigint,"
        " n_batches bigint"
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        total = batch.count()
        counts = batch.groupBy("event_type").agg(F.count("*").alias("cnt"))
        prior = _prior_state(spark, state_path, batch_id, state_schema)
        # every frozen type gets a row each batch (cnt 0 when absent);
        # unknown types join with target 0 via the outer side
        # full_outer on prior too: a type seen before (even an unknown
        # one) that skips this batch keeps its accumulated state —
        # cnt=0/exp=0 steps it unchanged (the quota-stream carried-rows
        # guarantee, session-2 self-review finding)
        frame = (
            targets.join(counts, "event_type", "full_outer")
            .join(prior, "event_type", "full_outer")
            .select(
                "event_type",
                F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
                (
                    F.coalesce("target_ppm", F.lit(0)) * F.lit(total)
                ).cast("bigint").alias("exp"),
                F.coalesce("s_hi", F.lit(0)).cast("bigint").alias("ps_hi"),
                F.coalesce("s_lo", F.lit(0)).cast("bigint").alias("ps_lo"),
                F.coalesce("cum_exp", F.lit(0)).cast("bigint").alias("pce"),
                F.coalesce("n_batches", F.lit(0)).cast("bigint").alias("pnb"),
            )
        )
        kdiv = F.expr(f"div(exp, {kd})")
        stepped = frame.select(
            "event_type",
            "cnt",
            F.col("exp").alias("exp_x1e6"),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.col("ps_hi") + (F.col("cnt") * F.lit(1_000_000) - F.col("exp") - kdiv),
            ).alias("s_hi"),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.col("ps_lo") + (F.col("exp") - F.col("cnt") * F.lit(1_000_000) - kdiv),
            ).alias("s_lo"),
            (F.col("pce") + F.col("exp")).alias("cum_exp"),
            (F.col("pnb") + F.lit(1)).cast("bigint").alias("n_batches"),
        )
        report = stepped.select(
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            "event_type",
            "cnt",
            "exp_x1e6",
            "s_hi",
            "s_lo",
            (F.col("s_hi") > F.expr(f"div(div(cum_exp, n_batches), {hd})"))
            .alias("alarm_hi"),
            (F.col("s_lo") > F.expr(f"div(div(cum_exp, n_batches), {hd})"))
            .alias("alarm_lo"),
        )
        stepped = stepped.persist()
        report.write.mode("overwrite").parquet(
            os.path.join(monitor_path, f"batch={batch_id}")
        )
        _commit_state(
            stepped.select("event_type", "s_hi", "s_lo", "cum_exp", "n_batches"),
            state_path,
            batch_id,
        )
        stepped.unpersist()

    _drain(events, checkpoint_dir, handle)


TOPK_STREAM_K = 10


def topk_stream(
    spark: SparkSession,
    sf_dir: str,
    state_path: str,
    checkpoint_dir: str,
    events: DataFrame | None = None,
) -> None:
    """Streaming per-type top-k leaderboard — the live twin of
    ivm_topk_refresh, built on the SAME insert-monotone theorem:
    for an append-only stream, topk(state ∪ batch) IS the exact
    top-k of everything seen, so the maintained state is both the
    view and the whole algorithm. State is |types|·k rows — bounded
    by the leaderboard, not the stream — written at state/batch=N
    under the quota/cusum retention contract (read latest prior,
    prune to the two newest existing partitions). Replay recomputes
    identical state (rank ties broken on event_id — total order, no
    float accumulation anywhere).

    After an AvailableNow drain the final state partition equals the
    batch top-k over the full table EXACTLY — pinned by pytest; that
    equality is the monotone theorem, not an approximation."""
    from pyspark.sql import Window

    if events is None:
        events = read_events_stream(spark, sf_dir)

    state_schema = "event_type string, event_id bigint, value double"
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        merged = _prior_state(spark, state_path, batch_id, state_schema).unionByName(
            batch.select("event_type", "event_id", "value")
        )
        new_state = (
            merged.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOPK_STREAM_K)
            .drop("rnk")
        )
        _commit_state(new_state, state_path, batch_id)

    _drain(events, checkpoint_dir, handle)
