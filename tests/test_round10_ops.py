"""Round-10 pins: the four round-9 ADVICE defects (NULL handling in the
generic sketch kernels, the 60-bit bloom hash, the CMS cache lifetime)
and the grouped sketches' unbounded group count. Each test is the
degenerate input the review said the code mishandled."""

from __future__ import annotations

import hashlib

import duckdb
import pyspark.sql.functions as F
import pytest

from snowflake_to_postgres_spark.operators.analytics_ext import (
    _bloom_pos,
    a23_grouped_quantiles,
    binned_quantiles,
    cms_heavy_hitters,
    hll_fold,
)
from snowflake_to_postgres_spark.registry import oracle_sql, queries
from snowflake_to_postgres_spark.sources import table_path
from tests.oracle_compare import compare_frames


# ---------------------------------------------------------------------------
# ADVICE #1: binned_quantiles must exclude NULLs (they landed in the top
# bin while min/max ignored them — every estimate shifted).
# ---------------------------------------------------------------------------


def test_binned_quantiles_null_rows_do_not_shift_estimates(spark):
    clean = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    dirty = clean.unionByName(
        spark.createDataFrame([(None,)] * 50, "x double")
    )
    assert binned_quantiles(dirty, "x") == binned_quantiles(clean, "x")


def test_binned_quantiles_all_null_column_is_empty_profile(spark):
    all_null = spark.createDataFrame([(None,)] * 5, "x double")
    assert binned_quantiles(all_null, "x") == []


def test_binned_quantiles_keeps_a_cached_input_cached(spark):
    """The kernel reads its input through SQL; a cached input frame must
    keep its cache entry (a spark.sql parameter would unregister it)."""
    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double").cache()
    try:
        df.count()
        assert binned_quantiles(df, "x")
        plan = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        df.unpersist()


# ---------------------------------------------------------------------------
# ADVICE #2: hll_fold / cms_heavy_hitters exclude NULLs from the sketch
# domain (a NULL key grouped into a 257th register / hashed as the bare
# seed string).
# ---------------------------------------------------------------------------


def test_hll_fold_ignores_null_rows(spark):
    clean = spark.createDataFrame([(i,) for i in range(1, 501)], "v bigint")
    dirty = clean.unionByName(spark.createDataFrame([(None,)] * 20, "v bigint"))
    crow = hll_fold(clean, "v").collect()[0]
    drow = hll_fold(dirty, "v").collect()[0]
    assert (crow["k_used"], crow["s_hit"]) == (drow["k_used"], drow["s_hit"])
    assert crow["k_used"] <= 256  # no NULL register ever inflates k_used


def test_cms_heavy_hitters_ignores_null_keys(spark):
    rows = [("a",)] * 30 + [("b",)] * 20 + [("c",)] * 10 + [(None,)] * 40
    dirty = spark.createDataFrame(rows, "v string")
    got = cms_heavy_hitters(dirty, "v", top=3).collect()
    assert [r["v"] for r in got] == ["a", "b", "c"]
    # a NULL heavier than every real key must not appear anywhere
    assert all(r["v"] is not None for r in got)
    # CMS one-sided error: estimate >= exact, always
    assert all(r["cms_estimate"] >= r["exact_cnt"] for r in got)


def test_cms_heavy_hitters_leaves_no_cached_frame_behind(spark):
    """ADVICE #4: per_v must unpersist before the kernel returns —
    repeated kernel calls in a long-lived session were accumulating
    cached distinct-key frames."""
    # delta-based: the shared test session may carry localCheckpoint
    # RDDs from earlier tests — the kernel must not ADD any
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame([(i % 7,) for i in range(200)], "v int")
    out = cms_heavy_hitters(df, "v", top=3)
    out.collect()
    after = jsc.getPersistentRDDs().size()
    assert after <= before, (
        f"cms_heavy_hitters grew the persistent-RDD set {before} -> {after}"
    )


def _parity(spark, tmp_path, tables, key):
    """(ok, msg) of ``key`` against its DuckDB oracle over ``tables`` —
    {name: DuckDB SELECT} — written as parquet fixture tables."""
    con = duckdb.connect()
    try:
        for name, sql in tables.items():
            path = tmp_path / f"{name}.parquet"
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return compare_frames(queries()[key](spark, str(tmp_path)), con.execute(oracle_sql()[key]))
    finally:
        con.close()


_A24_ORDERS = (
    "SELECT i AS o_orderkey,"
    " CASE WHEN i % 10 = 0 THEN NULL ELSE i % 500 + 1 END AS o_custkey"
    " FROM range(2000) t(i)"
)


@pytest.mark.parametrize(
    "customer",
    [
        pytest.param("SELECT i + 1 AS c_custkey FROM range(500) t(i)", id="null_keys"),
        pytest.param("SELECT i + 10001 AS c_custkey FROM range(500) t(i)", id="disjoint"),
    ],
)
def test_a24_matches_oracle_on_null_and_disjoint_keys(spark, tmp_path, customer):
    """A NULL o_custkey joins nothing, so it stays out of both sketches
    (the oracle's NULL-propagating hash drops it); a disjoint join has
    no exact size, so the guarantee and the ratio are NULL."""
    ok, msg = _parity(
        spark, tmp_path, {"orders": _A24_ORDERS, "customer": customer}, "a24_cms_join_size"
    )
    assert ok, msg


@pytest.mark.parametrize(
    "key", ["a21_binned_quantiles", "a23_grouped_quantiles", "a26_hist_union", "x_approx_sketches"]
)
def test_binned_sketch_keys_match_oracle_with_null_prices(spark, sf_dir, tmp_path, key):
    """NULL prices are outside every binned sketch, in the keys and in
    their oracles alike (a NULL x must not land in the top bin)."""
    src = {
        "lineitem": (
            "SELECT * REPLACE (CASE WHEN l_linenumber = 3 THEN NULL"
            " ELSE l_extendedprice END AS l_extendedprice)"
        ),
        "orders": (
            "SELECT * REPLACE (CASE WHEN o_orderkey % 7 = 0 THEN NULL"
            " ELSE o_totalprice END AS o_totalprice)"
        ),
    }
    tables = {
        t: f"{sql} FROM read_parquet('{table_path(sf_dir, t)}')" for t, sql in src.items()
    }
    ok, msg = _parity(spark, tmp_path, tables, key)
    assert ok, msg


# ---------------------------------------------------------------------------
# ADVICE #3: _bloom_pos draws 60 hash bits (15 md5 hex chars), so bit
# positions stay reachable past m_bits = 2^32 (~5×10^8 keys).
# ---------------------------------------------------------------------------


def test_bloom_pos_is_60_bit_md5(spark):
    m_bits = (1 << 33) + 64  # a filter size beyond any 32-bit hash
    df = spark.createDataFrame([(7, "k1"), (2, "zz")], "i int, v string")
    got = {
        (r["i"], r["v"]): r["p"]
        for r in df.select(
            "i", "v", _bloom_pos(F.col("i"), F.col("v"), m_bits).alias("p")
        ).collect()
    }
    for (i, v), p in got.items():
        h = int(hashlib.md5(f"{i}|{v}".encode()).hexdigest()[:15], 16)
        assert p == h % m_bits
        assert h < 1 << 60


def test_bloom_positions_reach_above_2_32(spark):
    """With a 32-bit hash every position was < 2^32 regardless of m;
    the 60-bit hash must populate the upper range of a >2^32 filter."""
    m_bits = 1 << 36
    df = spark.createDataFrame([(i,) for i in range(2000)], "v bigint")
    top = (
        df.select(_bloom_pos(F.lit(0), F.col("v"), m_bits).alias("p"))
        .agg(F.max("p").alias("mx"))
        .collect()[0]["mx"]
    )
    assert top > 1 << 32


# ---------------------------------------------------------------------------
# Verdict #3: the grouped sketches no longer collect per group, so the
# group count is unbounded and building a sketch key runs no job. The
# semantic dedup's corpus-sized cell count is a scalar subquery too.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "key",
    [
        "a21_binned_quantiles",
        "a22_hll_union",
        "a23_grouped_quantiles",
        "a26_hist_union",
        "a19_cms_heavy_hitters",
        "a24_cms_join_size",
        "a27_cms_join_cardinality",
        "a28_cms_merge",
        "dedup_semantic_clusters",
    ],
)
def test_sketch_key_builds_without_spark_jobs(spark, sf_dir, key):
    from snowflake_to_postgres_spark.sources import load_table

    for table in ("lineitem", "orders", "customer", "events", "embeddings"):
        load_table(spark, sf_dir, table)  # the schema read is not the key's
    sc = spark.sparkContext
    group = f"build-{key}"
    sc.setJobGroup(group, group)
    try:
        queries()[key](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_a23_grouped_quantiles_past_ten_thousand_groups(spark, tmp_path):
    n_groups = 10_001
    orders = spark.range(2 * n_groups).select(
        (F.col("id") % n_groups).cast("string").alias("o_orderpriority"),
        (F.col("id") * 7 % 1000 + 0.25).cast("decimal(15,2)").alias("o_totalprice"),
    )
    orders.write.parquet(str(tmp_path / "orders.parquet"))
    out = a23_grouped_quantiles(spark, str(tmp_path))
    assert out.count() == 3 * n_groups
    assert out.select("g").distinct().count() == n_groups


# ---------------------------------------------------------------------------
# Verdict #4: x_approx_sketches is now oracle-checked; Spark's native
# sketch surface stays covered here (its internals are engine-specific,
# so pytest bounds it against exact truth instead of a cross-engine
# value hash).
# ---------------------------------------------------------------------------


def test_native_sketches_bounded(spark, sf_dir):
    from snowflake_to_postgres_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    native = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.expr("bit_xor(xxhash64(l_orderkey, l_linenumber, l_quantity))").alias("xx"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99))"
        ).alias("pcts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    for r in native.collect():
        # HLL++ default rsd 5%: allow a generous 15% band
        assert abs(r["approx_orders"] - r["exact_orders"]) <= 0.15 * r["exact_orders"]
        assert r["xx"] is not None
        p50, p95, p99 = r["pcts"]
        assert r["mn"] <= p50 <= p95 <= p99 <= r["mx"]


def test_x_approx_sketches_estimates_track_exact(spark, sf_dir):
    from snowflake_to_postgres_spark.operators.analytics_ext import x_approx_sketches

    rows = x_approx_sketches(spark, sf_dir).collect()
    assert len(rows) == 3  # A / N / R
    for r in rows:
        assert abs(r["hll_orders"] - r["exact_orders"]) <= 0.15 * r["exact_orders"]
        assert r["p50"] <= r["p95"] <= r["p99"]


# ---------------------------------------------------------------------------
# Verdict #6: streaming SCD2 — the warehouse triangle's third leg.
# Same discipline as test_stream_cdc_tombstones_match_batch.
# ---------------------------------------------------------------------------


def _hist_rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_scd2_stream_matches_batch_fold_and_is_idempotent(spark, sf_dir, tmp_path):
    """The foreachBatch SCD2 stream must equal the pure batch fold of
    scd2_apply over the EXACT same micro-batches (logged by the
    handler), survive a restart on the same checkpoint unchanged, and
    absorb a replayed batch as a no-op — the at-least-once contract its
    docstring claims."""
    import os

    from snowflake_to_postgres_spark.sources import load_table
    from snowflake_to_postgres_spark.streaming.pipeline import (
        bootstrap_scd2_history,
        scd2_apply_events,
        scd2_stream,
    )

    events = load_table(spark, sf_dir, "events")
    cutoff = events.selectExpr(
        "timestamp_micros(cast(percentile_cont(0.5) WITHIN GROUP "
        "(ORDER BY unix_micros(ts)) AS bigint)) AS m"
    ).collect()[0]["m"]
    target = str(tmp_path / "scd2")
    batch_log = str(tmp_path / "batches")
    bootstrap_scd2_history(events.filter(events.ts < cutoff), target)
    bootstrap = spark.createDataFrame(
        spark.read.parquet(target).collect(), spark.read.parquet(target).schema
    )

    scd2_stream(
        spark, sf_dir, target, str(tmp_path / "ckpt"),
        since=cutoff, batch_log=batch_log,
    )
    streamed = _hist_rows(spark.read.parquet(target))

    # batch fold over the logged micro-batches, in batch-id order
    batch_ids = sorted(
        int(d.split("=")[1]) for d in os.listdir(batch_log) if d.startswith("batch=")
    )
    assert batch_ids, "stream should have processed at least one batch"
    hist = bootstrap
    for bid in batch_ids:
        hist = scd2_apply_events(
            hist, spark.read.parquet(os.path.join(batch_log, f"batch={bid}"))
        ).localCheckpoint(eager=True)
    assert streamed == _hist_rows(hist)

    # the history is a real SCD2: exactly one current version per user,
    # and some user must carry real history (multiple versions)
    cur = spark.read.parquet(target).filter("is_current")
    assert cur.count() == cur.select("user_id").distinct().count()
    assert spark.read.parquet(target).count() > cur.count()

    # restart on the same checkpoint: no new data -> no-op
    scd2_stream(spark, sf_dir, target, str(tmp_path / "ckpt"), since=cutoff)
    assert _hist_rows(spark.read.parquet(target)) == streamed

    # at-least-once: replaying the LAST batch into the final history
    # changes nothing (unchanged attributes close/append nothing)
    last = spark.read.parquet(os.path.join(batch_log, f"batch={batch_ids[-1]}"))
    replayed = scd2_apply_events(spark.read.parquet(target), last)
    assert _hist_rows(replayed) == streamed


def test_scd2_stream_current_rows_match_batch_twin(spark, sf_dir, tmp_path):
    """Batching legitimately collapses intermediate versions, but the
    CURRENT value per user is batching-invariant — the streamed
    history's live rows must agree with the full-granularity st_scd2
    twin (and hence with st_latest_state's last_type)."""
    from snowflake_to_postgres_spark.sources import load_table
    from snowflake_to_postgres_spark.streaming.queries import st_scd2
    from snowflake_to_postgres_spark.streaming.pipeline import (
        bootstrap_scd2_history,
        scd2_stream,
    )

    events = load_table(spark, sf_dir, "events")
    cutoff = events.selectExpr(
        "timestamp_micros(cast(percentile_cont(0.5) WITHIN GROUP "
        "(ORDER BY unix_micros(ts)) AS bigint)) AS m"
    ).collect()[0]["m"]
    target = str(tmp_path / "scd2")
    bootstrap_scd2_history(events.filter(events.ts < cutoff), target)
    scd2_stream(spark, sf_dir, target, str(tmp_path / "ckpt"), since=cutoff)

    got = {
        r["user_id"]: r["event_type"]
        for r in spark.read.parquet(target).filter("is_current").collect()
    }
    exp = {
        r["user_id"]: r["event_type"]
        for r in st_scd2(spark, sf_dir).filter("is_current").collect()
    }
    assert got == exp


# ---------------------------------------------------------------------------
# Round-10 batch 2: ACF, STL strength, histogram union, PSI/schema
# drift, two-hop reach — one parity/property pin per operator.
# ---------------------------------------------------------------------------


def test_ts_acf_matches_pure_python(spark, sf_dir):
    import math

    from snowflake_to_postgres_spark.operators.analytics_ext import (
        ACF_MAX_LAG,
        ts_acf,
    )
    from snowflake_to_postgres_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    hourly = {}
    for r in (
        ev.groupBy(
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
            "event_type",
        )
        .agg(F.count("*").alias("x"))
        .collect()
    ):
        hourly.setdefault(r["event_type"], {})[r["h"]] = r["x"]

    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in ts_acf(spark, sf_dir).collect()
    }
    for etype, series in hourly.items():
        for lag in range(1, ACF_MAX_LAG + 1):
            pairs = [
                (x, series[h + lag]) for h, x in series.items() if h + lag in series
            ]
            n = len(pairs)
            sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            sx2 = sum(x * x for x, _ in pairs); sy2 = sum(y * y for _, y in pairs)
            vx = n * sx2 - sx * sx; vy = n * sy2 - sy * sy
            exp = (
                math.floor((n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)) * 1e9 + 0.5) / 1e9
                if vx > 0 and vy > 0 else None
            )
            assert got[(etype, lag)] == (n, exp)


def test_ts_stl_strength_in_unit_interval(spark, sf_dir):
    from snowflake_to_postgres_spark.operators.analytics_ext import ts_stl_strength

    rows = ts_stl_strength(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r["strength_trend"] <= 1.0
        assert 0.0 <= r["strength_seasonal"] <= 1.0


def test_a26_hist_union_merge_equals_groups(spark, duck, sf_dir):
    from snowflake_to_postgres_spark.operators.analytics_ext import a26_hist_union

    rows = a26_hist_union(spark, sf_dir).collect()
    groups, merged = {}, {}
    for r in rows:
        (merged if r["g"] == "__merged__" else groups).setdefault(r["bin"], 0)
        if r["g"] == "__merged__":
            merged[r["bin"]] += r["n"]
        else:
            groups[r["bin"]] += r["n"]
    assert merged == groups
    total = duck.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert sum(merged.values()) == total


def test_val_psi_drift_properties(spark, duck, sf_dir):
    from snowflake_to_postgres_spark.operators.validation import (
        PSI_BINS,
        val_psi_drift,
    )

    rows = val_psi_drift(spark, sf_dir).collect()
    assert {r["column_name"] for r in rows} == {"o_totalprice", "o_custkey"}
    total = duck.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    for r in rows:
        assert r["psi"] >= 0.0  # (p-q) and ln(p/q) share a sign
        assert r["bins_used"] + r["bins_dropped"] <= PSI_BINS
        assert r["n_a"] + r["n_b"] == total


def test_val_psi_matches_pure_python(spark, duck, sf_dir):
    """Exact parity of the per-bin term algebra with a pure-python PSI
    over the same bins (shared global bounds, per-term 1e-6 integer
    snap, zero-sided bins dropped)."""
    import math

    from snowflake_to_postgres_spark.operators.validation import (
        PSI_BINS,
        PSI_SPLIT_DATE,
        val_psi_drift,
    )

    got = {r["column_name"]: r for r in val_psi_drift(spark, sf_dir).collect()}
    for col in ("o_totalprice", "o_custkey"):
        vals = duck.execute(
            f"SELECT CAST({col} AS DOUBLE), o_orderdate < DATE '{PSI_SPLIT_DATE}' "
            f"FROM orders"
        ).fetchall()
        mn = min(v for v, _ in vals)
        mx = max(v for v, _ in vals)
        ca = [0] * PSI_BINS
        cb = [0] * PSI_BINS
        for v, is_a in vals:
            b = 0 if mx == mn else min(
                PSI_BINS - 1, math.floor((v - mn) / (mx - mn) * PSI_BINS)
            )
            (ca if is_a else cb)[b] += 1
        na, nb = sum(ca), sum(cb)
        scaled = 0
        used = dropped = 0
        for a, b in zip(ca, cb):
            if a > 0 and b > 0:
                p, q = a / na, b / nb
                scaled += math.floor((p - q) * math.log(p / q) * 1e6 + 0.5)
                used += 1
            elif a > 0 or b > 0:
                dropped += 1
        r = got[col]
        assert (r["psi"], r["bins_used"], r["bins_dropped"], r["n_a"], r["n_b"]) == (
            scaled / 1e6, used, dropped, na, nb
        )


def test_val_schema_drift_counts(spark, duck, sf_dir):
    from snowflake_to_postgres_spark.operators.validation import val_schema_drift

    rows = val_schema_drift(spark, sf_dir).collect()
    assert len(rows) == 6
    total = duck.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    for r in rows:
        assert r["n_a"] + r["n_b"] == total
        assert r["distinct_a"] <= r["n_a"] and r["distinct_b"] <= r["n_b"]
        assert r["nulls_a"] == 0 and r["nulls_b"] == 0  # TPC-H orders: no NULLs


def test_two_hop_reach_on_constructed_graph(spark):
    """Path graph 1-2-3-4-5: reach2(3) = 4 (everything), reach2(1) = 2
    (nodes 2, 3); plus a square with a diagonal to exercise dedup of
    multiple 2-hop routes to the same node."""
    from snowflake_to_postgres_spark.operators.graph import two_hop_reach

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u bigint, v bigint"
    )
    got = {r["u"]: (r["deg"], r["reach2"]) for r in two_hop_reach(path).collect()}
    assert got == {1: (1, 2), 2: (2, 3), 3: (2, 4), 4: (2, 3), 5: (1, 2)}

    # square 1-2-3-4-1 plus diagonal 1-3: every node reaches all others
    square = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "u bigint, v bigint"
    )
    got = {r["u"]: r["reach2"] for r in two_hop_reach(square).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


# ---------------------------------------------------------------------------
# Round-10 batch 3: label-noise audit, leakage-safe split, drift kernels.
# ---------------------------------------------------------------------------


def test_psi_drift_of_frame_against_itself_is_zero(spark, sf_dir):
    """PSI(X, X) = 0 exactly — every bin has p = q, so every snapped
    term is 0; any nonzero value means the term algebra or the shared
    bounds are wrong."""
    from snowflake_to_postgres_spark.operators.validation import psi_drift
    from snowflake_to_postgres_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    rows = psi_drift(o, o, ["o_totalprice", "o_custkey"]).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["psi"] == 0.0
        assert r["bins_dropped"] == 0
        assert r["n_a"] == r["n_b"]


def test_profile_drift_shared_columns_only(spark, sf_dir):
    from snowflake_to_postgres_spark.operators.validation import profile_drift
    from snowflake_to_postgres_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_custkey", "o_totalprice")
    b = o.select("o_orderkey", "o_totalprice", "o_orderdate")
    rows = profile_drift(a, b).collect()
    assert {r["column_name"] for r in rows} == {"o_orderkey", "o_totalprice"}


def test_emb_label_noise_properties(spark, sf_dir):
    from snowflake_to_postgres_spark.operators.similarity import (
        LABEL_AUDIT_K,
        LABEL_AUDIT_QUERIES,
        emb_label_noise,
    )

    rows = emb_label_noise(spark, sf_dir).collect()
    assert len(rows) == LABEL_AUDIT_QUERIES
    for r in rows:
        assert 1 <= r["votes_for_predicted"] <= LABEL_AUDIT_K
        assert r["is_suspect"] == (r["predicted"] != r["label"])
    # with 10 random labels and k=5 cosine neighbors over random-ish
    # embeddings, a label should rarely win its own vote — the audit
    # must actually flag something on this fixture
    assert any(r["is_suspect"] for r in rows)


def test_leakage_safe_split_no_cluster_straddles(spark, duck, sf_dir):
    """Reconstruct the cluster→split assignment independently in
    python: every cluster lands in exactly one split, totals match the
    corpus, and n_docs_moved equals the python recount of docs whose
    own doc-hash split differs."""
    import hashlib

    from snowflake_to_postgres_spark.operators.dedup import (
        _lsh_cluster_labels,
        pipe_leakage_safe_split,
    )
    from snowflake_to_postgres_spark.operators.pipeline_ext import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )

    labels = {
        r["doc_id"]: r["component_id"]
        for r in _lsh_cluster_labels(spark, sf_dir).collect()
    }
    doc_ids = [r[0] for r in duck.execute("SELECT doc_id FROM documents").fetchall()]

    def bucket(x):
        return int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16) % 100

    def split_of(b):
        return "train" if b < SPLIT_TRAIN_PCT else ("val" if b < SPLIT_VAL_PCT else "test")

    exp = {}
    cluster_split = {}
    for d in doc_ids:
        canon = labels.get(d, d)
        sp = split_of(bucket(canon))
        cluster_split.setdefault(canon, set()).add(sp)
        e = exp.setdefault(sp, [0, set(), 0])
        e[0] += 1
        e[1].add(canon)
        if sp != split_of(bucket(d)):
            e[2] += 1
    assert all(len(s) == 1 for s in cluster_split.values())  # no straddle

    got = {
        r["split"]: (r["n_docs"], r["n_clusters"], r["n_docs_moved"])
        for r in pipe_leakage_safe_split(spark, sf_dir).collect()
    }
    assert got == {sp: (e[0], len(e[1]), e[2]) for sp, e in exp.items()}
    assert sum(n for n, _, _ in got.values()) == len(doc_ids)
    # the fixture's planted near-dups make the leakage protection
    # do real work: some docs must move relative to the doc-level split
    assert sum(m for _, _, m in got.values()) > 0


def test_cli_drift_report(capsys, sf_dir):
    """The drift verb must score two parquet snapshots: PSI for the
    named columns, profile diff for all shared columns; missing
    columns fail cleanly."""
    import json as _json

    from snowflake_to_postgres_spark.cli import main

    rc = main([
        "drift", "--path-a", f"{sf_dir}/orders.parquet",
        "--path-b", f"{sf_dir}/orders.parquet",
        "--columns", "o_totalprice",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["psi"] == [
        {"column": "o_totalprice", "psi": 0.0, "bins_used": 10, "bins_dropped": 0}
    ]
    assert len(out["ks"]) == 1 and out["ks"][0]["ks_d"] == 0.0  # KS(X,X)=0
    assert all(p["n"][0] == p["n"][1] for p in out["profile"])

    rc2 = main([
        "drift", "--path-a", f"{sf_dir}/orders.parquet",
        "--path-b", f"{sf_dir}/orders.parquet", "--columns", "nope",
    ])
    err = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 2 and "error" in err


def test_dedup_source_matrix_shares(spark, sf_dir):
    from snowflake_to_postgres_spark.operators.dedup import (
        dedup_minhash_lsh_pairs,
        dedup_source_matrix,
    )

    rows = dedup_source_matrix(spark, sf_dir).collect()
    total = dedup_minhash_lsh_pairs(spark, sf_dir).count()
    assert sum(r["n_pairs"] for r in rows) == total
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r["source_a"] <= r["source_b"]  # canonical cell
        assert r["within_source"] == (r["source_a"] == r["source_b"])


def test_xj_scd2_pointintime_self_consistency(spark, duck, sf_dir):
    """The history is derived from these same orders, so the AS OF join
    must cover every order (each date falls in exactly one validity
    interval of its key) and the only version mismatches are same-day
    writes superseded by the max-orderkey tie-break."""
    from snowflake_to_postgres_spark.operators.warehouse import xj_scd2_pointintime

    r = xj_scd2_pointintime(spark, sf_dir).collect()[0]
    total = duck.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert r["n_orders"] == r["n_matched"] == total
    assert r["n_version_correct"] + r["n_same_day_overridden"] == r["n_matched"]
    # the documented tie-break actually bites on the fixture
    overridden = duck.execute(
        "SELECT COUNT(*) FROM orders o WHERE o_orderpriority <> ("
        "  SELECT o2.o_orderpriority FROM orders o2"
        "  WHERE o2.o_custkey = o.o_custkey AND o2.o_orderdate = o.o_orderdate"
        "  ORDER BY o2.o_orderkey DESC LIMIT 1)"
    ).fetchone()[0]
    assert r["n_same_day_overridden"] == overridden


# ---------------------------------------------------------------------------
# Round-10 self-review pins (post-review fixes).
# ---------------------------------------------------------------------------


def test_psi_drift_ignores_null_values(spark):
    """NULLs must not land in the top bin as fake mass: a snapshot pair
    differing only in null RATE scores psi = 0 (null-rate drift is
    profile_drift's job)."""
    from snowflake_to_postgres_spark.operators.validation import psi_drift

    a = spark.createDataFrame([(float(i % 100),) for i in range(1000)], "x double")
    b = a.unionByName(spark.createDataFrame([(None,)] * 500, "x double"))
    r = psi_drift(a, b, ["x"]).collect()[0]
    assert r["psi"] == 0.0
    assert r["n_a"] == r["n_b"] == 1000  # NULL rows excluded from both sides


def test_profile_drift_disjoint_schemas_empty(spark):
    from snowflake_to_postgres_spark.operators.validation import profile_drift

    a = spark.createDataFrame([(1,)], "p int")
    b = spark.createDataFrame([(2,)], "q int")
    assert profile_drift(a, b).count() == 0


def test_cli_drift_rejects_non_numeric_column(capsys, sf_dir):
    import json as _json

    from snowflake_to_postgres_spark.cli import main

    rc = main([
        "drift", "--path-a", f"{sf_dir}/orders.parquet",
        "--path-b", f"{sf_dir}/orders.parquet", "--columns", "o_orderstatus",
    ])
    err = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "not numeric" in err["error"]


def test_bounded_result_queries_leave_no_cache_behind(spark, sf_dir):
    """sim_filtered_recall and two_hop_reach return bounded frames
    collected eagerly — their OWN caches must be gone when they return
    (delta-based; two_hop_reach is driven through the kernel on a
    constructed graph so the graph family's shared partnership-weight
    cache — a deliberate, lazily-referenced materialization — stays out
    of the measurement)."""
    from snowflake_to_postgres_spark.operators.graph import two_hop_reach
    from snowflake_to_postgres_spark.operators.similarity import sim_filtered_recall

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    sim_filtered_recall(spark, sf_dir).collect()
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u bigint, v bigint")
    two_hop_reach(edges).collect()
    after = jsc.getPersistentRDDs().size()
    assert after <= before


def test_st_scd2_tie_break_on_equal_timestamps(spark, tmp_path):
    """Same-microsecond events for one user must resolve by event_id in
    BOTH engines — pinned with a constructed frame through the Spark
    side and a python replay (the oracle's ORDER BY us, event_id is the
    same expression; the fixture has no ties, so this is the latent
    case the round-10 review flagged)."""
    import duckdb

    from snowflake_to_postgres_spark.streaming.queries import ST_SCD2_ORACLE

    rows = [
        (1, "2024-01-01 00:00:00.000001", 10, "view"),
        (2, "2024-01-01 00:00:00.000001", 10, "purchase"),  # same ts, higher id
        (3, "2024-01-01 00:00:00.000002", 10, "view"),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT "
        "CAST(col0 AS BIGINT) AS event_id, CAST(col1 AS TIMESTAMP) AS ts, "
        "CAST(col2 AS BIGINT) AS user_id, col3 AS event_type "
        "FROM (VALUES " + ", ".join(str(r) for r in rows) + ") t(col0, col1, col2, col3)"
    )
    got = con.execute(ST_SCD2_ORACLE).fetchall()
    # arrival order by (ts, event_id): view(1) -> purchase(2) -> view(3):
    # three versions, deterministic bounds
    assert [(r[0], r[1], r[4]) for r in got] == [
        (10, "view", False), (10, "purchase", False), (10, "view", True)
    ]
    assert got[0][3] == got[1][2]  # first version closes exactly at the tie's us


def test_ks_drift_matches_scipy_style_python(spark, duck, sf_dir):
    """Exact parity with a pure-python two-sample KS over the same
    snapshots (integer cumulative gap, smallest-x argmax)."""
    import math

    from snowflake_to_postgres_spark.operators.validation import (
        PSI_SPLIT_DATE,
        val_ks_drift,
    )

    got = {r["column_name"]: r for r in val_ks_drift(spark, sf_dir).collect()}
    for col in ("o_totalprice", "o_custkey"):
        vals = duck.execute(
            f"SELECT CAST({col} AS DOUBLE), o_orderdate < DATE '{PSI_SPLIT_DATE}' "
            f"FROM orders"
        ).fetchall()
        counts = {}
        na = nb = 0
        for v, is_a in vals:
            ca, cb = counts.get(v, (0, 0))
            counts[v] = (ca + (1 if is_a else 0), cb + (0 if is_a else 1))
            na += 1 if is_a else 0
            nb += 0 if is_a else 1
        cum_a = cum_b = 0
        best = (-1, None)
        for v in sorted(counts):
            ca, cb = counts[v]
            cum_a += ca
            cum_b += cb
            gap = abs(cum_a * nb - cum_b * na)
            if gap > best[0]:
                best = (gap, v)
        r = got[col]
        assert r["x_at_max"] == best[1]
        assert r["ks_d"] == math.floor(best[0] / (na * nb) * 1e9 + 0.5) / 1e9
        assert (r["n_a"], r["n_b"]) == (na, nb)


def test_ks_drift_identical_frames_zero(spark, sf_dir):
    from snowflake_to_postgres_spark.operators.validation import ks_drift
    from snowflake_to_postgres_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    for r in ks_drift(o, o, ["o_totalprice"]).collect():
        assert r["ks_d"] == 0.0


def test_pipe_dense_shards_exact_balance_and_stability(spark, sf_dir):
    """Shard sizes balanced to ±1 by the mod-N construction, union
    covers the corpus, and the assignment is STABLE across a
    repartitioned re-read (the reproducible-epoch contract)."""
    from snowflake_to_postgres_spark.operators.pipeline_ext import (
        N_EPOCH_SHARDS,
        pipe_dense_shards,
    )

    rows = pipe_dense_shards(spark, sf_dir).collect()
    assert len(rows) == N_EPOCH_SHARDS
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    again = pipe_dense_shards(spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_sim_index_stats_consistency(spark, sf_dir):
    from snowflake_to_postgres_spark.operators.similarity import sim_index_stats

    r = sim_index_stats(spark, sf_dir).collect()[0]
    assert r["occupied_cells"] <= r["n_cells"]
    assert r["min_occ"] <= r["mean_occ"] <= r["max_occ"]
    assert r["hot_cell_ratio"] >= 1.0
