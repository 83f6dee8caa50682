"""Extended analytics surface: sessionization, TPC-H-flavored decision
queries, correlated subqueries, catalog introspection as a query, and
approximate sketches.

These widen the SQL vocabulary beyond the reference floor (SURVEY §2.4's
"same capabilities is the floor" note) with the query shapes a warehouse
engine is actually judged on: multi-join star queries, conditional
aggregation, correlated scalar subqueries, gap-based sessionization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from snowflake_to_postgres_spark.operators.common import dec, one
from snowflake_to_postgres_spark.registry import QuerySpec
from snowflake_to_postgres_spark.sources import load_table
from snowflake_to_postgres_spark.util.concurrency import run_actions
from snowflake_to_postgres_spark.util.sqlview import temp_view_for

SESSION_GAP_SEC = 1800


def sessionize_events(events: DataFrame, gap_sec: int = SESSION_GAP_SEC) -> DataFrame:
    """Gap-based sessionization (the batch twin of the stateful streaming
    operator in streaming/pipeline.py): a new session starts when the gap
    to the previous event of the same user exceeds ``gap_sec``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    gap = sec - F.lag(sec).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn("session_id", F.sum(new_session).over(w_run))


def x_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup: events, span, value sum — one window pass plus
    one aggregation (shuffles on user_id only)."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize_events(events)
    return s.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.sum(dec("value")).cast("decimal(38,2)").alias("s_value"),
    )


X_SESSION_ORACLE = f"""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch(ts)//1 - epoch(LAG(ts) OVER w)//1 > {SESSION_GAP_SEC}
                OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_value
FROM s GROUP BY 1, 2
"""


def x_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5 flavor: revenue per nation where the supplying and
    ordering nations match — a 6-table star join; every dim broadcasts,
    the single shuffle is the lineitem⋈orders key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = (dec("l_extendedprice") * (one() - dec("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(revenue).cast("decimal(38,4)").alias("revenue"),
             F.count("*").alias("n_lines"))
    )


X_Q5_ORACLE = """
SELECT r_name, n_name,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


def x_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10 flavor: lost revenue per customer from returned items,
    deterministic top-20."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    revenue = (dec("l_extendedprice") * (one() - dec("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(F.sum(revenue).cast("decimal(38,4)").alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


X_Q10_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS lost_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


def x_q14_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 flavor: conditional aggregation — promo revenue share.
    CASE inside SUM; final ratio is one double division of exact sums."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = (dec("l_extendedprice") * (one() - dec("l_discount"))).cast("decimal(18,4)")
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit("0").cast("decimal(18,4)")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.sum(promo).cast("decimal(38,4)").alias("promo_revenue"),
        F.sum(revenue).cast("decimal(38,4)").alias("total_revenue"),
        (
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(revenue).cast("double")
        ).alias("promo_pct"),
    )


X_Q14_ORACLE = """
SELECT
  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE CAST('0' AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS promo_revenue,
  CAST(SUM(rev) AS DECIMAL(38,4)) AS total_revenue,
  100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE CAST('0' AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(SUM(rev) AS DOUBLE) AS promo_pct
FROM (
  SELECT p_type,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
"""


def x_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 flavor: small-quantity orders vs per-part average — the
    correlated scalar subquery decorrelated into an aggregate + join
    (what Catalyst does to the subquery form anyway)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty")
    )
    j = li.join(F.broadcast(per_part), li.l_partkey == per_part.pk)
    small = j.filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
    return small.agg(
        F.count("*").alias("n_small"),
        F.sum(dec("l_extendedprice")).cast("decimal(38,2)").alias("s_price"),
    )


X_CORR_ORACLE = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT COUNT(*) AS n_small,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_price
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE l_quantity < 0.5 * avg_qty
"""


_CATALOG_TABLES = ("customer", "lineitem", "orders")
_SPARK_TO_INFO = {
    "int": "INTEGER",
    "bigint": "BIGINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "timestamp_ntz": "TIMESTAMP",
    "timestamp": "TIMESTAMP",
    "boolean": "BOOLEAN",
    "date": "DATE",
}


def s3_catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 catalog scan as a query: the discovery model rendered as the
    INFORMATION_SCHEMA.columns shape (discovery.py:213-248), checked
    against DuckDB's actual information_schema."""
    from snowflake_to_postgres_spark.plans.catalog import discover_parquet_schema

    info = discover_parquet_schema(spark, sf_dir, "main", with_row_counts=False)
    rows = []
    for t in info.tables:
        if t.name not in _CATALOG_TABLES:
            continue
        for c in t.columns:
            rows.append(
                (
                    t.name,
                    c.name,
                    c.ordinal_position,
                    _SPARK_TO_INFO.get(c.data_type.simpleString(), "VARCHAR"),
                    "YES" if c.is_nullable else "NO",
                )
            )
    return spark.createDataFrame(
        rows,
        "table_name string, column_name string, ordinal_position long, data_type string, is_nullable string",
    )


S3_CATALOG_ORACLE = """
SELECT table_name, column_name, CAST(ordinal_position AS BIGINT) AS ordinal_position,
       data_type, CAST(is_nullable AS VARCHAR) AS is_nullable
FROM information_schema.columns
WHERE table_name IN ('customer', 'lineitem', 'orders')
"""


def x_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketch surface per l_returnflag, on the engine's OWN
    deterministic kernels so the whole row replays in the oracle under
    the value-hash gate (round-9 verdict #4 — this was the last
    rows-only key): a 256-register md5 HLL distinct-order estimate
    (a18/a22's algebra), an order-free 60-bit md5 XOR content
    fingerprint (ivm_join_refresh's monoid), and binned-histogram
    p50/p95/p99 of l_extendedprice (a21/a23's estimator), each next to
    the exact COUNT(DISTINCT) baseline. Spark's native HLL++ /
    approx_percentile / xxhash64 forms remain available and are
    exercised in pytest (test_native_sketches_bounded), but their
    internals are engine-specific and can never be cross-engine-
    checked — the registered key carries the checkable twins.

    100-TB shape: every stage is a map-side-combinable aggregate over
    a 3-value group key (exact+fingerprint one scan; register fold one
    scan over (g, 256) cells; bounds + histogram for the shared-bin
    percentiles); the interpolation windows over 3 groups × bounded
    bins — nothing reaches the driver."""
    # Round 15 (guide §7.3 / §2.6): the four collect jobs (three
    # overlapped in round 14 + the dependent histogram job) and the
    # driver-side interpolation/createDataFrame now build as ONE
    # spark.sql statement mirroring the DuckDB oracle CTE for CTE —
    # the four aggregates become independent STAGES of one job (the
    # scheduler overlaps them without a thread pool), the global price
    # bounds enter the binning as uncorrelated scalar subqueries
    # instead of driver literals, and the percentiles are _qb_sql, the
    # binned-quantile sketch a21/a23 share (window sums plus an explode
    # of the 3 q-values — a generator, never an ON TRUE join, so no
    # BNLJ). Every float op keeps the Python tree term for term
    # (D-suffixed literals; the estimate expression is
    # _HLL_EST_SPARK_SQL, ln forgiven by the 1e6 grid as at
    # HLL_EST_GRID). Paired ABAB and exceptAll both
    # ways prove time and values; {li} is uncached so the
    # util/sqlview temp-view rule does not apply.
    #
    # Preserved performance decisions from the collect era, now encoded
    # in the SQL shape: exact COUNT(DISTINCT) and the md5 fingerprint
    # stay SEPARATE aggregates (mixing countDistinct's Expand with the
    # md5 evaluates the hash on expanded rows — measured 3.4 s vs 2.5 s
    # split); the shared projection is NOT persisted (measured slower
    # than three column-pruned re-scans, round-13 note).
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
WITH exact AS (
  SELECT l_returnflag AS g,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
  FROM {{li}} GROUP BY l_returnflag
),
base AS (
  SELECT l_returnflag AS g,
         bit_xor(CAST(conv(substring(md5(concat_ws('|',
             CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING),
             CAST(CAST(l_quantity * 100 AS BIGINT) AS STRING))), 1, 15),
           16, 10) AS BIGINT)) AS fp_xor
  FROM {{li}} GROUP BY l_returnflag
),
h AS (
  SELECT l_returnflag AS g,
         CAST(conv(substring(md5(CAST(l_orderkey AS STRING)), 1, 15), 16, 10)
              AS BIGINT) AS h
  FROM {{li}}
),
rho AS (
  SELECT g, h div {_HLL_WMOD} AS j,
         CASE WHEN h % {_HLL_WMOD} = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1} - length(bin(h % {_HLL_WMOD})) END AS r
  FROM h
),
regs AS (SELECT g, j, MAX(r) AS mj FROM rho GROUP BY g, j),
scalars AS (
  SELECT g, CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_zero,
         CAST(SUM(shiftleft(CAST(1 AS BIGINT), CAST({_HLL_WBITS + 1} - mj AS INT)))
              + ({HLL_M} - COUNT(*)) * {_HLL_SCALE} AS BIGINT) AS s_scaled
  FROM regs GROUP BY g
),
src AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x FROM {{li}}
),
pick AS ({_qb_sql('src', QB_BINS, (0.5, 0.95, 0.99), True)}
),
pcts AS (
  SELECT g, MAX(CASE WHEN q = 0.5D THEN estimate END) AS p50,
         MAX(CASE WHEN q = 0.95D THEN estimate END) AS p95,
         MAX(CASE WHEN q = 0.99D THEN estimate END) AS p99
  FROM pick GROUP BY g
)
SELECT base.g AS l_returnflag, exact.exact_orders, {_HLL_EST_SPARK_SQL} AS hll_orders,
       base.fp_xor, pcts.p50, pcts.p95, pcts.p99
FROM base
JOIN exact ON exact.g = base.g
JOIN scalars ON scalars.g = base.g
JOIN pcts ON pcts.g = base.g
ORDER BY l_returnflag
""",
        li=li,
    )




KMV_K = 64  # k-minimum-values sketch size


def _kmv_u(col: str):
    """md5-prefix hash of ``col`` mapped into (0, 1] — the deterministic
    KMV draw (same idiom both engines share, see memory of the
    conv/UBIGINT equivalence)."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )


def _a15_sketch_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The two construction-phase aggregations a15 collects — exposed as
    un-executed frames so the plan audit sees the sketch plan that the
    collect otherwise hides (round-7 verdict #2)."""
    orders = load_table(spark, sf_dir, "orders")
    hashes = orders.select(F.col("o_custkey")).distinct().select(_kmv_u("o_custkey").alias("u"))
    sketch = (
        hashes.orderBy("u").limit(KMV_K)
        .agg(F.max("u").alias("u_k"), F.count("*").alias("k_eff"))
    )
    exact = orders.agg(F.count_distinct("o_custkey").alias("n"))
    return {"sketch": sketch, "exact": exact}


def a15_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count estimation via a K-minimum-values sketch
    (Bar-Yossef et al. 2002) — unlike HLL (x_approx_sketches,
    rows-only by design), KMV built on md5 is DETERMINISTIC, so the
    approximate answer itself is oracle-checkable: estimate =
    (K-1) / u_K where u_K is the K-th smallest hash of the distinct
    o_custkey values mapped into (0, 1]. Emitted next to the exact
    count and relative error, so the sketch's accuracy is part of the
    checked result.

    100-TB shape: the sketch is a bounded TakeOrdered(K) over distinct
    hashes — mergeable partials, no full shuffle of the key set (the
    distinct itself reduces map-side); the exact count here is the
    eval-time truth, sampled or omitted at real scale."""
    frames = _a15_sketch_frames(spark, sf_dir)
    kth = frames["sketch"].collect()[0]
    exact = frames["exact"].collect()[0][0]
    # u_k == 0 guard: if >= K distinct keys hash to prefix 00000000 the
    # divisor vanishes — astronomically unlikely, but fall back to the
    # exact-so-far count rather than raise. exact_distinct is BIGINT:
    # the docstring's 100-TB target exceeds 2^31 distinct keys.
    est = (
        (kth["k_eff"] - 1) / kth["u_k"]
        if kth["k_eff"] >= KMV_K and kth["u_k"] > 0
        else float(kth["k_eff"])
    )
    rel = abs(est - exact) / exact
    return spark.createDataFrame(
        [(KMV_K, int(kth["k_eff"]), float(kth["u_k"]), float(est), int(exact), float(rel))],
        "k INT, k_eff INT, u_k DOUBLE, estimate DOUBLE, exact_distinct BIGINT, rel_error DOUBLE",
    )


A15_KMV_ORACLE = f"""
WITH h AS (
  SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
           / 4294967296.0 AS u
  FROM (SELECT DISTINCT o_custkey FROM orders)
),
kth AS (
  SELECT MAX(u) AS u_k, COUNT(*) AS k_eff FROM (
    SELECT u FROM h ORDER BY u LIMIT {KMV_K}
  )
),
ex AS (SELECT COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders)
SELECT CAST({KMV_K} AS INT) AS k,
       CAST(k_eff AS INT) AS k_eff,
       u_k,
       CASE WHEN k_eff >= {KMV_K} AND u_k > 0 THEN (k_eff - 1) / u_k
            ELSE CAST(k_eff AS DOUBLE) END AS estimate,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       abs(CASE WHEN k_eff >= {KMV_K} AND u_k > 0 THEN (k_eff - 1) / u_k
                ELSE CAST(k_eff AS DOUBLE) END - exact_distinct)
         / exact_distinct AS rel_error
FROM kth, ex
"""


ATTRIB_WINDOW_SEC = 3600  # last-touch lookback window


def x_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed last-touch attribution: every purchase event attributed
    to the user's most recent click/view within the preceding hour
    (ties at the same microsecond broken touch-before-purchase, then by
    event_id; no touch in the window → 'none') — the marketing-
    analytics join every event warehouse runs. Expressed as ONE
    carry-forward window over (user, time) — the same no-self-join
    shape as the as-of family, keyed on millions of users at scale, so
    no parallelism ceiling and no range join. The lookback window is
    what makes the STREAMING twin's state bounded
    (streaming/pipeline.attribution_stream: state expires once the
    watermark passes touch_ts + window)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type").isin("click", "view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0)).alias("kind"),
        F.when(F.col("event_type") != "purchase", F.col("event_id")).alias("tid"),
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias("ttype"),
        F.when(F.col("event_type") != "purchase", F.col("ts")).alias("tts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        F.last("tid", ignorenulls=True).over(w).alias("c_tid"),
        F.last("ttype", ignorenulls=True).over(w).alias("c_ttype"),
        F.last("tts", ignorenulls=True).over(w).alias("c_tts"),
    )
    in_window = (
        F.col("c_tts").isNotNull()
        & (F.unix_micros("ts") - F.unix_micros("c_tts") <= ATTRIB_WINDOW_SEC * 1_000_000)
    )
    return carried.filter(F.col("kind") == 1).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.when(in_window, F.col("c_tid")).alias("touch_event_id"),
        F.when(in_window, F.col("c_ttype")).otherwise(F.lit("none")).alias("touch_type"),
    )


X_ATTRIBUTION_ORACLE = f"""
WITH u AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind,
         CASE WHEN event_type <> 'purchase' THEN event_id END AS tid,
         CASE WHEN event_type <> 'purchase' THEN event_type END AS ttype,
         CASE WHEN event_type <> 'purchase' THEN ts END AS tts
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
),
c AS (
  SELECT *,
         LAST_VALUE(tid IGNORE NULLS) OVER w AS c_tid,
         LAST_VALUE(ttype IGNORE NULLS) OVER w AS c_ttype,
         LAST_VALUE(tts IGNORE NULLS) OVER w AS c_tts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_id AS purchase_event_id, user_id,
       CASE WHEN c_tts IS NOT NULL
             AND epoch_us(ts) - epoch_us(c_tts) <= CAST({ATTRIB_WINDOW_SEC} AS BIGINT) * 1000000
            THEN c_tid END AS touch_event_id,
       CASE WHEN c_tts IS NOT NULL
             AND epoch_us(ts) - epoch_us(c_tts) <= CAST({ATTRIB_WINDOW_SEC} AS BIGINT) * 1000000
            THEN c_ttype ELSE 'none' END AS touch_type
FROM c WHERE kind = 1
"""


BASKET_MIN_SUPPORT = 3   # pairs co-occurring in fewer orders are noise
BASKET_TOP_K = 20


def x_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: top part pairs by lift —
    lift(a,b) = N·n_ab / (n_a·n_b) over orders-as-baskets, support
    floor BASKET_MIN_SUPPORT, top BASKET_TOP_K by (lift desc, pa, pb).

    100-TB shape: baskets reduce to DISTINCT (order, part) first; the
    pair join shuffles on the order key only, and its fanout is
    Σ k_i·(k_i−1)/2 over basket sizes — bounded by the largest basket
    (≤7 lines in TPC-H), never N². Item marginals are item-cardinality
    rows (broadcast); N is one scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = basket.select("l_orderkey").distinct().count()
    item = basket.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a = basket.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = basket.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    na = item.select(F.col("l_partkey").alias("pa"), F.col("n_item").alias("n_a"))
    nb = item.select(F.col("l_partkey").alias("pb"), F.col("n_item").alias("n_b"))
    lift = (
        (F.col("n_ab") * F.lit(n_orders)).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return (
        pairs.join(F.broadcast(na), "pa")
        .join(F.broadcast(nb), "pb")
        .select("pa", "pb", F.col("n_ab").cast("bigint").alias("n_ab"), lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(BASKET_TOP_K)
    )


X_BASKET_ORACLE = f"""
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
item AS (SELECT l_partkey, COUNT(*) AS n_item FROM basket GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM basket a JOIN basket b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
)
SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_ab * (SELECT n_orders FROM n) AS DOUBLE)
         / CAST(na.n_item * nb.n_item AS DOUBLE) AS lift
FROM pairs
JOIN item na ON na.l_partkey = pa
JOIN item nb ON nb.l_partkey = pb
ORDER BY lift DESC, pa, pb
LIMIT {BASKET_TOP_K}
"""


SPECS = [
    QuerySpec("x_sessionization", x_sessionization, X_SESSION_ORACLE),
    QuerySpec("a15_kmv_distinct", a15_kmv_distinct, A15_KMV_ORACLE,
              probes=_a15_sketch_frames),
    QuerySpec("x_attribution", x_attribution, X_ATTRIBUTION_ORACLE),
    QuerySpec("x_basket_lift", x_basket_lift, X_BASKET_ORACLE),
    QuerySpec("x_q5_local_volume", x_q5_local_volume, X_Q5_ORACLE),
    QuerySpec("x_q10_returned_items", x_q10_returned_items, X_Q10_ORACLE),
    QuerySpec("x_q14_conditional_agg", x_q14_conditional_agg, X_Q14_ORACLE),
    QuerySpec("x_correlated_subquery", x_correlated_subquery, X_CORR_ORACLE),
    QuerySpec("s3_catalog_columns", s3_catalog_columns, S3_CATALOG_ORACLE),
]


_GROUPING_SETS_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       COALESCE(CAST(YEAR(l_shipdate) AS STRING), 'ALL') AS ship_year,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (YEAR(l_shipdate)), (l_returnflag, YEAR(l_shipdate)), ())
"""


def g4_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the Spark SQL API — the same ANSI text runs
    on both engines verbatim (dialect-shared SQL path of the engine).
    Uses a private view name so a shared driver session's own temp views
    are never clobbered."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_g4_lineitem")
    return spark.sql(_GROUPING_SETS_SQL.replace("FROM lineitem", "FROM _g4_lineitem"))


SPECS.append(QuerySpec("g4_grouping_sets", g4_grouping_sets, _GROUPING_SETS_SQL))


def x_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 flavor: customers whose single orders exceed a quantity
    threshold (aggregate-filtered IN-subquery, decorrelated to a
    semi-join on the aggregated key set)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).cast("decimal(38,2)").alias("total_qty"))
        .filter(F.col("total_qty") > 120)
    )
    return (
        orders.join(big_orders, orders.o_orderkey == big_orders.l_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            dec("o_totalprice").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(50)
    )


X_Q18_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice, total_qty
FROM orders
JOIN (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 120
) b ON o_orderkey = b.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
"""


def x_q21_multi_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21 flavor: suppliers that were the ONLY late shipper on a
    multi-supplier order — EXISTS(other supplier) AND NOT EXISTS(other
    late supplier), decorrelated into semi/anti joins."""
    li = load_table(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp"))
    l1 = late.select("l_orderkey", "l_suppkey").alias("l1")
    # another supplier on the same order (any shipdate)
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    has_other = l1.join(
        l2, (F.col("l1.l_orderkey") == F.col("o2")) & (F.col("l1.l_suppkey") != F.col("s2")),
        "left_semi",
    )
    # no OTHER late supplier on the same order
    l3 = late.select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    only_late = has_other.join(
        l3, (F.col("l1.l_orderkey") == F.col("o3")) & (F.col("l1.l_suppkey") != F.col("s3")),
        "left_anti",
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        only_late.join(F.broadcast(supplier), F.col("l1.l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l1.l_orderkey").alias("n_waiting_orders"))
    )


X_Q21_ORACLE = """
SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS n_waiting_orders
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_shipdate > TIMESTAMP '1999-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > TIMESTAMP '1999-01-01')
GROUP BY s_name
"""


SPECS.append(QuerySpec("x_q18_large_volume", x_q18_large_volume, X_Q18_ORACLE))
SPECS.append(QuerySpec("x_q21_multi_correlated", x_q21_multi_correlated, X_Q21_ORACLE))


def x_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 flavor: shipping volume between two specific nations by
    ship year. Both nation dims broadcast; the only shuffles are the
    lineitem⋈orders key and the final (nation, nation, year) aggregate.
    The symmetric nation-pair OR stays a broadcast-side filter, so the
    fact scan is read once."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    vol = (dec("l_extendedprice") * (one() - dec("l_discount"))).cast("decimal(28,4)")
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(vol).cast("decimal(38,4)").alias("revenue"))
    )


X_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DECIMAL(38,4)) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(28,4)) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def x_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 flavor (partsupp stands in as the lineitem bridge):
    distinct suppliers per (brand, size) for selected sizes, excluding
    negative-balance suppliers via NOT IN → broadcast anti join. One
    shuffle for the distinct-count aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.col("p_brand") != "Brand#5")
        .filter(F.col("p_size").isin(1, 5, 9, 13))
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


X_Q16_ORACLE = """
SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 9, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


def x_q19_flagged_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19 flavor: disjunction of brand/size/quantity band
    predicates — the OR-of-ANDs shape that exercises predicate
    normalization. Part broadcasts; the common p_partkey equi-key keeps
    it a hash join with the disjunction evaluated post-join (Catalyst
    also pushes the derivable common bounds)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    b = F.col("p_brand")
    cond = (
        ((b == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    rev = (dec("l_extendedprice") * (one() - dec("l_discount"))).cast("decimal(28,4)")
    return j.filter(cond).agg(
        F.count("*").alias("n_items"),
        F.sum(rev).cast("decimal(38,4)").alias("revenue"),
    )


X_Q19_ORACLE = """
SELECT COUNT(*) AS n_items,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def x_q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 flavor: high-balance customers with no orders, grouped
    by nation. The scalar AVG subquery is evaluated as its own (tiny)
    job and injected as a literal — exactly what Catalyst's
    ScalarSubquery does internally — which keeps the main plan free of
    nested-loop joins. The comparison cross-multiplies (bal·n > Σbal)
    on exact decimals so both engines agree on the threshold without a
    division whose precision rules differ."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    t = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(dec("c_acctbal")).cast("decimal(38,2)").alias("s"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    s_lit = F.lit(str(t["s"])).cast("decimal(38,2)")
    n_lit = F.lit(int(t["n"]))
    return (
        customer.join(
            orders.select(F.col("o_custkey")),
            customer.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .filter(dec("c_acctbal") * n_lit > s_lit)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(dec("c_acctbal")).cast("decimal(38,2)").alias("totacctbal"),
        )
    )


X_Q22_ORACLE = """
WITH t AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
         COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS totacctbal
FROM customer, t
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


SPECS.append(QuerySpec("x_q7_volume_shipping", x_q7_volume_shipping, X_Q7_ORACLE))
SPECS.append(QuerySpec("x_q16_supplier_variety", x_q16_supplier_variety, X_Q16_ORACLE))
SPECS.append(QuerySpec("x_q19_flagged_revenue", x_q19_flagged_revenue, X_Q19_ORACLE))
SPECS.append(QuerySpec("x_q22_dormant_balance", x_q22_dormant_balance, X_Q22_ORACLE))


def x_q6_banded_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6 flavor: pure filter + aggregate over the fact table —
    the pushdown showcase (every predicate reaches the parquet scan;
    zero joins, one exchange for the global sum)."""
    li = load_table(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.count("*").alias("n_items"),
        F.sum((dec("l_extendedprice") * dec("l_discount")).cast("decimal(28,4)"))
        .cast("decimal(38,4)")
        .alias("revenue"),
    )


X_Q6_ORACLE = """
SELECT COUNT(*) AS n_items,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4)))
            AS DECIMAL(38,4)) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def x_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 flavor: distribution of orders-per-customer including
    zero-order customers — LEFT join + two cascaded aggregations (the
    second one is tiny; both shuffle on their group key only)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.select("o_custkey", "o_orderkey"),
            customer.c_custkey == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


X_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def x_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 flavor: lineitems below 20% of their part's average
    quantity. The correlated AVG subquery decorrelates to a per-part
    aggregate joined back on p_partkey; the 0.2·avg threshold is
    cross-multiplied (5·qty·cnt < Σqty) so the comparison stays in
    exact decimal arithmetic — no division, no engine-specific decimal
    precision rules."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(dec("l_quantity")).cast("decimal(38,2)").alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    j = li.join(per_part, li.l_partkey == F.col("pk"))
    small = j.filter(
        dec("l_quantity") * F.lit(5) * F.col("cnt") < F.col("sum_qty")
    )
    return small.agg(
        F.count("*").alias("n_items"),
        (F.sum(dec("l_extendedprice")).cast("decimal(38,2)").cast("double") / 7.0)
        .alias("avg_yearly"),
    )


X_Q17_ORACLE = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sum_qty
"""


SPECS.append(QuerySpec("x_q6_banded_revenue", x_q6_banded_revenue, X_Q6_ORACLE))
SPECS.append(QuerySpec("x_q13_order_distribution", x_q13_order_distribution, X_Q13_ORACLE))
SPECS.append(QuerySpec("x_q17_small_quantity", x_q17_small_quantity, X_Q17_ORACLE))


def x_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20 flavor: suppliers that shipped > 50 units of any
    'widget' part — an IN over an AGGREGATED subquery, decorrelated to
    aggregate → project key set → LEFT SEMI join. The part dim
    broadcasts into the aggregate's build side; the semi join ships
    only distinct supplier keys."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    widgets = part.filter(F.col("p_name").endswith("widget")).select("p_partkey")
    heavy = (
        li.join(F.broadcast(widgets), li.l_partkey == widgets.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).cast("decimal(38,2)").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supplier.join(heavy, supplier.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", dec("s_acctbal").alias("s_acctbal"))
    )


X_Q20_ORACLE = """
SELECT s_suppkey, s_name, CAST(s_acctbal AS DECIMAL(18,2)) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget'
  GROUP BY l_suppkey, l_partkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) > 50
)
"""


SPECS.append(QuerySpec("x_q20_excess_suppliers", x_q20_excess_suppliers, X_Q20_ORACLE))


HEAVY_TOP_K = 20


def diag_heavy_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the probe an operator runs BEFORE a
    big join to decide between plain hash join, salting, and the AQE
    skew handler: the HEAVY_TOP_K heaviest events.user_id keys with
    their corpus share. A key holding >> 1/parallelism of the rows is
    the straggler task in any shuffle keyed on it.

    100-TB shape: one map-side-combined count per key, then a
    TakeOrdered of the reduced frame (never a global sort); the total
    is one scalar. This pairs with ``operators.skew.salted_join`` —
    its output IS this query's heavy-key list."""
    events = load_table(spark, sf_dir, "events")
    total = events.count()
    return (
        events.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id", "cnt",
            (F.col("cnt").cast("double") / F.lit(float(total))).cast("decimal(12,8)").alias("share"),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(HEAVY_TOP_K)
    )


DIAG_HEAVY_ORACLE = f"""
WITH tot AS (SELECT COUNT(*) AS total FROM events)
SELECT user_id, COUNT(*) AS cnt,
       CAST(CAST(COUNT(*) AS DOUBLE) / CAST((SELECT total FROM tot) AS DOUBLE) AS DECIMAL(12,8)) AS share
FROM events GROUP BY user_id
ORDER BY cnt DESC, user_id LIMIT {HEAVY_TOP_K}
"""


SPECS.append(QuerySpec("diag_heavy_keys", diag_heavy_keys, DIAG_HEAVY_ORACLE))


FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_funnel's construction-phase aggregation (the single shuffle on
    user_id + per-user array expressions), un-executed — shared by the
    query and its plan probe (round-7 verdict #2)."""
    events = load_table(spark, sf_dir, "events")
    t1 = F.min(F.when(F.col("event_type") == FUNNEL_STEPS[0], F.col("ts")))
    per_user = events.groupBy("user_id").agg(
        t1.alias("t1"),
        F.collect_list(F.struct("ts", "event_type")).alias("evs"),
    )
    # steps 2..k need "earliest step event AFTER the previous step's
    # time" — computed per user from the collected (bounded per-user)
    # event list with array expressions, keeping one shuffle total
    per_user = per_user.withColumn(
        "t2",
        F.expr(
            f"array_min(transform(filter(evs, e -> e.event_type = '{FUNNEL_STEPS[1]}'"
            " AND t1 IS NOT NULL AND e.ts > t1), e -> e.ts))"
        ),
    ).withColumn(
        "t3",
        F.expr(
            f"array_min(transform(filter(evs, e -> e.event_type = '{FUNNEL_STEPS[2]}'"
            " AND t2 IS NOT NULL AND e.ts > t2), e -> e.ts))"
        ),
    )
    return per_user.agg(
        F.count("t1").alias("s1"), F.count("t2").alias("s2"), F.count("t3").alias("s3")
    )


def x_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: a user converts
    at step k when their earliest step-k event follows their conversion
    time at step k-1 (min-ts semantics — the standard product-analytics
    funnel). Emits one row per step with the converted-user count and
    the conversion rate from step 1.

    100-TB shape: ONE conditional aggregation per user computes every
    step's earliest-qualifying timestamp in a single shuffle on
    user_id (no per-step self-joins, no window over the raw stream);
    the per-step rollup then reduces |users| rows to |steps|."""
    r = _funnel_counts(spark, sf_dir).collect()[0]
    rows = [(i + 1, FUNNEL_STEPS[i], int(r[f"s{i+1}"])) for i in range(3)]
    out = spark.createDataFrame(rows, "step int, event_type string, n_users long")
    # NULL conversion when s1 == 0, mirrored by NULLIF in the oracle
    s1 = int(r["s1"])
    conv = (
        (F.col("n_users").cast("double") / F.lit(float(s1)))
        if s1 > 0
        else F.lit(None).cast("double")
    )
    return out.withColumn("conversion", conv.cast("decimal(12,8)"))


X_FUNNEL_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
u2 AS (
  SELECT p.user_id, p.t1,
         MIN(CASE WHEN e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > p.t1 THEN e.ts END) AS t2
  FROM per_user p LEFT JOIN events e ON e.user_id = p.user_id
  GROUP BY p.user_id, p.t1
),
u3 AS (
  SELECT u.user_id, u.t1, u.t2,
         MIN(CASE WHEN e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > u.t2 THEN e.ts END) AS t3
  FROM u2 u LEFT JOIN events e ON e.user_id = u.user_id
  GROUP BY u.user_id, u.t1, u.t2
),
c AS (SELECT COUNT(t1) AS s1, COUNT(t2) AS s2, COUNT(t3) AS s3 FROM u3)
SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type, CAST(s1 AS BIGINT) AS n_users,
       CAST(CAST(s1 AS DOUBLE) / NULLIF(CAST(s1 AS DOUBLE), 0) AS DECIMAL(12,8)) AS conversion FROM c
UNION ALL
SELECT 2, '{FUNNEL_STEPS[1]}', CAST(s2 AS BIGINT),
       CAST(CAST(s2 AS DOUBLE) / NULLIF(CAST(s1 AS DOUBLE), 0) AS DECIMAL(12,8)) FROM c
UNION ALL
SELECT 3, '{FUNNEL_STEPS[2]}', CAST(s3 AS BIGINT),
       CAST(CAST(s3 AS DOUBLE) / NULLIF(CAST(s1 AS DOUBLE), 0) AS DECIMAL(12,8)) FROM c
"""


SPECS.append(
    QuerySpec("x_funnel", x_funnel, X_FUNNEL_ORACLE,
              probes=lambda spark, sf: {"counts": _funnel_counts(spark, sf)})
)


def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to hourly OHLC bars per event type —
    the resample step every metrics/feature pipeline runs before
    modeling: open/close = value at the earliest/latest event in the
    bucket (ties broken by event_id, deterministic), high/low = extremes.

    100-TB shape: open/close via min/max over a (ts, event_id, value)
    STRUCT — lexicographic struct ordering gives argmin/argmax INSIDE
    one hash aggregate, so the whole resample is a single map-side-
    combined shuffle on (hour, type); no window over raw rows, no
    second pass."""
    events = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    base = events.select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bar_ts"),
        "event_type",
        F.struct(F.col("ts"), F.col("event_id"), v.alias("v")).alias("tev"),
        v.alias("v"),
    )
    return base.groupBy("bar_ts", "event_type").agg(
        F.count("*").alias("n_events"),
        F.min("tev").getField("v").alias("open"),
        F.max("tev").getField("v").alias("close"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
    )


TS_OHLC_ORACLE = """
WITH base AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_ts,
         event_type, ts, event_id, CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY bar_ts, event_type ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY bar_ts, event_type ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM base
)
SELECT bar_ts, event_type, COUNT(*) AS n_events,
       MIN(CASE WHEN rn_a = 1 THEN v END) AS open,
       MIN(CASE WHEN rn_d = 1 THEN v END) AS close,
       MAX(v) AS high, MIN(v) AS low
FROM ranked GROUP BY bar_ts, event_type
"""


SPECS.append(QuerySpec("ts_resample_ohlc", ts_resample_ohlc, TS_OHLC_ORACLE))


RETENTION_MAX_OFFSET = 7


def x_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, and
    for each day-offset 0..RETENTION_MAX_OFFSET how many of that cohort
    were active again — the standard growth-analytics triangle.

    100-TB shape: the stream reduces to DISTINCT (user, day) first
    (map-side combine), cohorts are one groupBy on user, the retention
    join shuffles on user_id only, and the output is |cohorts| x
    |offsets| — bounded regardless of event volume."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort"))
    return (
        ev.join(first, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort").cast("bigint"))
        .filter(F.col("day_offset") <= RETENTION_MAX_OFFSET)
        .groupBy("cohort", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


X_RETENTION_ORACLE = f"""
WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
first AS (SELECT user_id, MIN(d) AS cohort FROM ev GROUP BY user_id)
SELECT cohort, CAST(d - cohort AS BIGINT) AS day_offset,
       COUNT(DISTINCT ev.user_id) AS n_users
FROM ev JOIN first ON first.user_id = ev.user_id
WHERE d - cohort <= {RETENTION_MAX_OFFSET}
GROUP BY cohort, day_offset
"""


SPECS.append(QuerySpec("x_retention", x_retention, X_RETENTION_ORACLE))


ANOM_TRAIL = 24   # trailing window (hours) for the baseline
ANOM_MIN_N = 6    # need this many trailing bars before scoring


def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type scored
    against their own trailing-24h baseline — z = (cnt - trailing mean)
    / trailing stddev, flagged at |z| > 3. The alerting primitive for
    an ingestion pipeline (a crawler dying or a bot flood both show up
    here first).

    100-TB shape: the raw stream reduces to the (hour, type) rollup
    FIRST (one map-side-combined aggregation); every window below runs
    over that bounded frame partitioned BY TYPE — never a window over
    raw events, never a single global partition. Baselines use
    ROWS BETWEEN trailing frames, excluding the current bar."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bar_ts"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bar_ts")
        .rowsBetween(-ANOM_TRAIL, -1)
    )
    scored = hourly.select(
        "bar_ts", "event_type", "cnt",
        F.count("*").over(w).alias("n_trail"),
        F.avg("cnt").over(w).alias("mu"),
        F.stddev_samp(F.col("cnt").cast("double")).over(w).alias("sigma"),
    )
    z = (F.col("cnt") - F.col("mu")) / F.col("sigma")
    return (
        scored.filter((F.col("n_trail") >= ANOM_MIN_N) & (F.col("sigma") > 0))
        .select(
            "bar_ts", "event_type", "cnt",
            z.cast("decimal(12,6)").alias("zscore"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


TS_ANOMALY_ORACLE = f"""
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_ts,
         event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT bar_ts, event_type, cnt,
         COUNT(*) OVER w AS n_trail,
         AVG(cnt) OVER w AS mu,
         STDDEV_SAMP(CAST(cnt AS DOUBLE)) OVER w AS sigma
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts
               ROWS BETWEEN {ANOM_TRAIL} PRECEDING AND 1 PRECEDING)
)
SELECT bar_ts, event_type, cnt,
       CAST((cnt - mu) / sigma AS DECIMAL(12,6)) AS zscore,
       abs((cnt - mu) / sigma) > 3.0 AS is_anomaly
FROM scored
WHERE n_trail >= {ANOM_MIN_N} AND sigma > 0
"""


SPECS.append(QuerySpec("ts_anomaly_zscore", ts_anomaly_zscore, TS_ANOMALY_ORACLE))


IVM_SPLIT = "1997-06-01"  # base/delta boundary for the refresh demo


def ivm_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a grouped rollup: the maintained
    view is revenue per (o_orderpriority, month); refresh merges the
    stored BASE partials with partials computed over only the DELTA
    batch (orders on/after :data:`IVM_SPLIT`) — SUM/COUNT are
    commutative monoids, so ``merge(partial(base), partial(delta)) ==
    full recompute``, which is exactly what the oracle asserts (the
    oracle aggregates the whole table directly; a hash match proves the
    incremental algebra). AVG is derived from the MERGED sums — the
    averaged-averages bug is structurally impossible here.

    100-TB shape: refresh IO is |delta| + |groups| — the base table is
    never rescanned (in this self-contained demo the base partials are
    derived for checkability; a deployment stores them, cf.
    merge_upsert_partitioned for the storage side). The reference has
    no incremental anything — its transfer is truncate-and-reload
    (data_transfer.py full-table SELECT)."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority", month).agg(
            F.count("*").alias("_c"),
            F.sum(dec("o_totalprice")).alias("_s"),
        )

    base = partials(orders.filter(F.col("o_orderdate") < IVM_SPLIT))
    delta = partials(orders.filter(F.col("o_orderdate") >= IVM_SPLIT))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority", "month")
        .agg(F.sum("_c").alias("cnt"), F.sum("_s").alias("_s"))
    )
    return merged.select(
        "o_orderpriority",
        "month",
        "cnt",
        F.col("_s").cast("decimal(38,2)").alias("s_price"),
        (F.col("_s").cast("double") / F.col("cnt")).alias("avg_price"),
    )


IVM_ORACLE = """
SELECT o_orderpriority,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
FROM orders GROUP BY 1, 2
"""


KMV_SET_A = "click"      # left user set: users who clicked
KMV_SET_B = "purchase"   # right user set: users who purchased


def _a16_set_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """a16's construction-phase frames (sketches, exact counts, exact
    intersection), un-executed — shared by the query and its plan probe
    (round-7 verdict #2)."""
    events = load_table(spark, sf_dir, "events")

    def sketch_frame(event_type: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == event_type)
            .select("user_id").distinct()
            .select(_kmv_u("user_id").alias("u"))
            .orderBy("u").limit(KMV_K)
        )

    exact = events.agg(
        F.count_distinct(
            F.when(F.col("event_type") == KMV_SET_A, F.col("user_id"))
        ).alias("a"),
        F.count_distinct(
            F.when(F.col("event_type") == KMV_SET_B, F.col("user_id"))
        ).alias("b"),
    )
    intersection = (
        events.filter(F.col("event_type") == KMV_SET_A)
        .select("user_id").distinct()
        .join(
            events.filter(F.col("event_type") == KMV_SET_B)
            .select("user_id").distinct(),
            "user_id",
        )
    )
    return {
        f"sketch_{KMV_SET_A}": sketch_frame(KMV_SET_A),
        f"sketch_{KMV_SET_B}": sketch_frame(KMV_SET_B),
        "exact": exact,
        "intersection": intersection,
    }


def a16_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations on mergeable KMV sketches (theta-sketch style,
    Dasgupta et al. / Beyer et al. — public literature): two user sets
    (users who {KMV_SET_A} vs who {KMV_SET_B}) are each summarized by
    their K smallest md5 hashes; the UNION sketch is the K smallest of
    the merged hash lists, and the intersection estimate comes from the
    fraction of retained union hashes present in BOTH input sketches
    (Jaccard over the union's theta region). Deterministic md5 makes
    every estimate oracle-checkable — the sketch math itself is part of
    the value-hash gate, exact counts emitted alongside.

    100-TB shape: each sketch is a map-side TakeOrdered(K) over distinct
    keys — sketches are tiny, mergeable, and the union/intersection
    estimates never touch the raw sets again (the exact counts here are
    eval-time truth, omitted at real scale)."""
    frames = _a16_set_frames(spark, sf_dir)

    def kmv_est(us: list[float]) -> float:
        if len(us) >= KMV_K and us[-1] > 0:
            return (len(us) - 1) / us[-1]
        return float(len(us))

    # all four action jobs (two sketches, exact counts, exact
    # intersection) are independent — overlap them (guide §2.6) so the
    # construct phase costs ~max(job) instead of the sum
    rows_a, rows_b, exact_rows, i_ex = run_actions(
        frames[f"sketch_{KMV_SET_A}"].collect,
        frames[f"sketch_{KMV_SET_B}"].collect,
        frames["exact"].collect,
        frames["intersection"].count,
    )
    sa = [r["u"] for r in rows_a]
    sb = [r["u"] for r in rows_b]
    union_sorted = sorted(set(sa) | set(sb))[:KMV_K]
    theta = union_sorted[-1] if union_sorted else 0.0
    common = len({h for h in set(sa) & set(sb) if h <= theta})
    union_est = kmv_est(union_sorted)
    # denominator = RETAINED union hashes (k_eff), not K: below the
    # sketch capacity the union keeps every hash, and dividing by K
    # would understate Jaccard by k_eff/K (two identical 30-user sets
    # must estimate J=1.0, not 30/64)
    jaccard_est = common / len(union_sorted) if union_sorted else 0.0
    inter_est = jaccard_est * union_est

    ex = exact_rows[0]
    a_ex, b_ex = ex["a"], ex["b"]
    union_ex = a_ex + b_ex - i_ex
    return spark.createDataFrame(
        [(
            KMV_K,
            float(kmv_est(sa)), float(kmv_est(sb)),
            float(union_est), float(jaccard_est), float(inter_est),
            int(a_ex), int(b_ex), int(union_ex), int(i_ex),
        )],
        "k INT, a_est DOUBLE, b_est DOUBLE, union_est DOUBLE,"
        " jaccard_est DOUBLE, inter_est DOUBLE,"
        " a_exact BIGINT, b_exact BIGINT, union_exact BIGINT, inter_exact BIGINT",
    )


A16_KMV_SET_ORACLE = f"""
WITH ha AS (
  SELECT u FROM (
    SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
             / 4294967296.0 AS u
    FROM (SELECT DISTINCT user_id FROM events WHERE event_type = '{KMV_SET_A}')
  ) ORDER BY u LIMIT {KMV_K}),
hb AS (
  SELECT u FROM (
    SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
             / 4294967296.0 AS u
    FROM (SELECT DISTINCT user_id FROM events WHERE event_type = '{KMV_SET_B}')
  ) ORDER BY u LIMIT {KMV_K}),
un AS (
  SELECT u FROM (
    SELECT DISTINCT u FROM (SELECT u FROM ha UNION ALL SELECT u FROM hb)
  ) ORDER BY u LIMIT {KMV_K}),
unstats AS (SELECT MAX(u) AS theta, COUNT(*) AS k_eff FROM un),
astats AS (SELECT MAX(u) AS u_k, COUNT(*) AS k_eff FROM ha),
bstats AS (SELECT MAX(u) AS u_k, COUNT(*) AS k_eff FROM hb),
common AS (
  SELECT COUNT(*) AS c FROM (SELECT u FROM ha INTERSECT SELECT u FROM hb) x, unstats
  WHERE x.u <= unstats.theta),
exact AS (
  SELECT COUNT(DISTINCT CASE WHEN event_type = '{KMV_SET_A}' THEN user_id END) AS a_ex,
         COUNT(DISTINCT CASE WHEN event_type = '{KMV_SET_B}' THEN user_id END) AS b_ex
  FROM events),
iexact AS (
  SELECT COUNT(*) AS i_ex FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = '{KMV_SET_A}'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = '{KMV_SET_B}')),
est AS (
  SELECT
    CASE WHEN astats.k_eff >= {KMV_K} AND astats.u_k > 0
         THEN (astats.k_eff - 1) / astats.u_k ELSE CAST(astats.k_eff AS DOUBLE) END AS a_est,
    CASE WHEN bstats.k_eff >= {KMV_K} AND bstats.u_k > 0
         THEN (bstats.k_eff - 1) / bstats.u_k ELSE CAST(bstats.k_eff AS DOUBLE) END AS b_est,
    CASE WHEN unstats.k_eff >= {KMV_K} AND unstats.theta > 0
         THEN (unstats.k_eff - 1) / unstats.theta ELSE CAST(unstats.k_eff AS DOUBLE) END AS union_est,
    CAST(common.c AS DOUBLE) / unstats.k_eff AS jaccard_est
  FROM astats, bstats, unstats, common)
SELECT CAST({KMV_K} AS INT) AS k,
       a_est, b_est, union_est, jaccard_est,
       jaccard_est * union_est AS inter_est,
       CAST(a_ex AS BIGINT) AS a_exact,
       CAST(b_ex AS BIGINT) AS b_exact,
       CAST(a_ex + b_ex - i_ex AS BIGINT) AS union_exact,
       CAST(i_ex AS BIGINT) AS inter_exact
FROM est, exact, iexact
"""


SPECS.append(QuerySpec("ivm_agg_refresh", ivm_agg_refresh, IVM_ORACLE))
SPECS.append(
    QuerySpec("a16_kmv_set_ops", a16_kmv_set_ops, A16_KMV_SET_ORACLE,
              probes=_a16_set_frames)
)


KMV_GROUP_K = 32  # per-group sketch size


def a17_kmv_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP distinct-count estimation: one KMV sketch per
    event_type (distinct users who performed it). The grouped form is
    what dashboards actually run — a15/a16 sketch one set, this sketches
    every group in ONE pass: distinct (group, key) pairs, a per-group
    rank window over the hash, and a per-group aggregate of the K-th
    smallest. Deterministic md5 → the per-group estimates are part of
    the value-hash gate; exact counts alongside.

    100-TB shape: the rank window partitions BY GROUP (parallel across
    groups, never a global window); state per group is K hashes. The
    exact count is eval-time truth, omitted at real scale."""
    events = load_table(spark, sf_dir, "events")
    u = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    pairs = (
        events.select("event_type", "user_id")
        .distinct()
        .select("event_type", u.alias("u"))
    )
    w = Window.partitionBy("event_type").orderBy("u")
    sketch = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KMV_GROUP_K)
        .groupBy("event_type")
        .agg(F.max("u").alias("u_k"), F.count("*").alias("k_eff"))
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    est = F.when(
        (F.col("k_eff") >= KMV_GROUP_K) & (F.col("u_k") > 0),
        (F.col("k_eff") - 1) / F.col("u_k"),
    ).otherwise(F.col("k_eff").cast("double"))
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            F.col("k_eff").cast("int").alias("k_eff"),
            "u_k",
            est.alias("est_users"),
            "exact_users",
            (F.abs(est - F.col("exact_users")) / F.col("exact_users")).alias("rel_error"),
        )
    )


A17_KMV_GROUPED_ORACLE = f"""
WITH pairs AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
           / 4294967296.0 AS u
  FROM (SELECT DISTINCT event_type, user_id FROM events)),
sk AS (
  SELECT event_type, MAX(u) AS u_k, COUNT(*) AS k_eff FROM (
    SELECT event_type, u,
           row_number() OVER (PARTITION BY event_type ORDER BY u) AS rnk
    FROM pairs) WHERE rnk <= {KMV_GROUP_K}
  GROUP BY event_type),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY event_type)
SELECT event_type,
       CAST(k_eff AS INT) AS k_eff,
       u_k,
       CASE WHEN k_eff >= {KMV_GROUP_K} AND u_k > 0 THEN (k_eff - 1) / u_k
            ELSE CAST(k_eff AS DOUBLE) END AS est_users,
       exact_users,
       abs(CASE WHEN k_eff >= {KMV_GROUP_K} AND u_k > 0 THEN (k_eff - 1) / u_k
                ELSE CAST(k_eff AS DOUBLE) END - exact_users) / exact_users AS rel_error
FROM sk JOIN ex USING (event_type)
"""


SPECS.append(QuerySpec("a17_kmv_grouped", a17_kmv_grouped, A17_KMV_GROUPED_ORACLE))


TS_TREND_HALF = 12  # centered moving-average half-width (hours)


def ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive time-series decomposition of the hourly event
    counts per type: trend (centered ±{TS_TREND_HALF}h moving average),
    seasonal (mean detrended value per hour-of-day), residual — the
    hypertable diagnostic behind anomaly baselines (ts_anomaly_zscore
    scores against a trailing window; this separates WHY: drift vs
    daily cycle vs noise).

    Determinism: counts are exact ints; both divisions (trend,
    seasonal) land on the tie-free fixed-point grid floor(x·10⁸ + 0.5)
    — the similarity-kernel idiom — so Spark's HALF_UP and DuckDB's
    rounding can never disagree; every subtraction is exact decimal.

    100-TB shape: one hash aggregate to hourly grain (map-side
    combined), then all windows/joins run over the BUCKETED series
    (|types| × |hours| rows — bounded by wall-clock time, not events),
    partitioned by type."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"))
    )
    hrs = (F.unix_timestamp("bucket") / 3600).cast("bigint")
    w = (
        Window.partitionBy("event_type")
        .orderBy(hrs)
        .rangeBetween(-TS_TREND_HALF, TS_TREND_HALF)
    )
    grid = lambda x: (  # noqa: E731 — tie-free 1e-8 grid, both engines
        F.floor(x * 1e8 + F.lit(0.5)).cast("decimal(28,0)")
        / F.lit(100000000).cast("decimal(10,0)")
    ).cast("decimal(18,8)")
    t = hourly.withColumn(
        "trend",
        grid(
            F.sum("cnt").over(w).cast("double") / F.count("*").over(w)
        ),
    ).withColumn("diff", F.col("cnt").cast("decimal(18,8)") - F.col("trend"))
    hod = F.hour("bucket")
    seasonal = (
        t.groupBy("event_type", hod.alias("hod"))
        .agg(
            grid(
                F.sum("diff").cast("double") / F.count("*")
            ).alias("seasonal")
        )
    )
    return (
        t.withColumn("hod", hod)
        .join(F.broadcast(seasonal), ["event_type", "hod"])
        .select(
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
            "event_type",
            "cnt",
            "trend",
            "seasonal",
            (
                F.col("cnt").cast("decimal(18,8)")
                - F.col("trend")
                - F.col("seasonal")
            ).cast("decimal(18,8)").alias("residual"),
        )
    )


TS_DECOMPOSE_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
tr AS (
  SELECT bucket, event_type, cnt,
         CAST(CAST(floor((CAST(SUM(cnt) OVER w AS DOUBLE)
                          / COUNT(*) OVER w) * 100000000.0 + 0.5) AS DECIMAL(28,0))
              / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8)) AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type
               ORDER BY CAST(epoch(bucket) // 3600 AS BIGINT)
               RANGE BETWEEN {TS_TREND_HALF} PRECEDING AND {TS_TREND_HALF} FOLLOWING)),
dt AS (
  SELECT *, CAST(cnt AS DECIMAL(18,8)) - trend AS diff,
         CAST(hour(bucket) AS INT) AS hod
  FROM tr),
seas AS (
  SELECT event_type, hod,
         CAST(CAST(floor((CAST(SUM(diff) AS DOUBLE) / COUNT(*)) * 100000000.0 + 0.5) AS DECIMAL(28,0))
              / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8)) AS seasonal
  FROM dt GROUP BY 1, 2)
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       dt.event_type, cnt, trend, seasonal,
       CAST(CAST(cnt AS DECIMAL(18,8)) - trend - seasonal AS DECIMAL(18,8)) AS residual
FROM dt JOIN seas ON dt.event_type = seas.event_type AND dt.hod = seas.hod
"""


SPECS.append(QuerySpec("ts_decompose", ts_decompose, TS_DECOMPOSE_ORACLE))


TS_SEASON_LAG_H = 24  # seasonal-naive lag (hours)


def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast with a full backtest: predict each hour's
    event count per type as the count {TS_SEASON_LAG_H} hours earlier,
    then score MAE / MAPE / bias over every hour where the lag exists —
    the capacity-planning baseline every fancier model must beat, and
    the backtest harness is the reusable part (swap the predictor, keep
    the scoring).

    Exact integer errors, one tie-free grid division per metric —
    deterministic cross-engine. One bucketing aggregate; the self-join
    runs on the bounded hourly series keyed by (type, hour)."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    hrs = (F.unix_timestamp("bucket") / 3600).cast("bigint")
    cur = hourly.select("event_type", hrs.alias("h"), "cnt")
    past = hourly.select(
        "event_type",
        (hrs + TS_SEASON_LAG_H).alias("h"),
        F.col("cnt").alias("pred"),
    )
    grid = lambda x: (  # noqa: E731
        F.floor(x * 1e8 + F.lit(0.5)).cast("decimal(28,0)")
        / F.lit(100000000).cast("decimal(10,0)")
    ).cast("decimal(18,8)")
    j = cur.join(past, ["event_type", "h"]).withColumn(
        # per-row ratio snapped to the grid BEFORE summation: a sum of
        # raw doubles is order-dependent across engines; a sum of exact
        # decimals is not
        "_ape",
        grid(F.abs(F.col("cnt") - F.col("pred")).cast("double") / F.col("cnt")),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours"),
            F.sum(F.abs(F.col("cnt") - F.col("pred"))).alias("_sae"),
            F.sum("_ape").alias("_sape"),
            F.sum(F.col("pred") - F.col("cnt")).alias("_bias"),
        )
        .select(
            "event_type",
            "n_hours",
            grid(F.col("_sae").cast("double") / F.col("n_hours")).alias("mae"),
            grid(F.col("_sape").cast("double") / F.col("n_hours")).alias("mape"),
            grid(F.col("_bias").cast("double") / F.col("n_hours")).alias("bias"),
        )
    )


TS_FORECAST_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
cur AS (
  SELECT event_type, CAST(epoch(bucket) // 3600 AS BIGINT) AS h, cnt FROM hourly),
past AS (
  SELECT event_type, CAST(epoch(bucket) // 3600 AS BIGINT) + {lag} AS h,
         cnt AS pred
  FROM hourly),
j AS (
  SELECT cur.event_type, cur.cnt, past.pred,
         CAST(CAST(floor((CAST(abs(cur.cnt - past.pred) AS DOUBLE) / cur.cnt)
                         * 100000000.0 + 0.5) AS DECIMAL(28,0))
              / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8)) AS ape
  FROM cur JOIN past ON cur.event_type = past.event_type AND cur.h = past.h)
SELECT event_type,
       COUNT(*) AS n_hours,
       CAST(CAST(floor((CAST(SUM(abs(cnt - pred)) AS DOUBLE) / COUNT(*))
                       * 100000000.0 + 0.5) AS DECIMAL(28,0))
            / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8)) AS mae,
       CAST(CAST(floor((CAST(SUM(ape) AS DOUBLE) / COUNT(*))
                       * 100000000.0 + 0.5) AS DECIMAL(28,0))
            / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8)) AS mape,
       CAST(CAST(floor((CAST(SUM(pred - cnt) AS DOUBLE) / COUNT(*))
                       * 100000000.0 + 0.5) AS DECIMAL(28,0))
            / CAST(100000000 AS DECIMAL(10,0)) AS DECIMAL(18,8)) AS bias
FROM j GROUP BY event_type
""".format(lag=TS_SEASON_LAG_H)


SPECS.append(QuerySpec("ts_forecast_backtest", ts_forecast_backtest, TS_FORECAST_ORACLE))


RFM_REF_DATE = "1998-08-02"  # TPC-H dataset end date (recency anchor)


def x_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse marketing
    query: per customer, Recency (days from last order to the dataset
    end date), Frequency (order count), Monetary (exact-decimal spend),
    each scored into quartiles (ntile over the customer population,
    recency ranked best-first) and concatenated into the familiar
    '444'-style segment code.

    100-TB shape: one aggregation over orders shuffles on o_custkey;
    the three ntile windows run over the CUSTOMER-sized aggregate (not
    orders), each a single global ordering of an already-reduced frame
    — at extreme customer counts swap ntile for percentile-bucket
    joins, same output contract. Deterministic: ntile ties broken by
    customer key in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_REF_DATE).cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(dec("o_totalprice")).cast("decimal(38,2)").alias("monetary"),
    )
    w_r = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey"))
    w_f = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    w_m = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    scored = (
        base.withColumn("r_score", F.lit(5) - F.ntile(4).over(w_r))
        .withColumn("f_score", F.lit(5) - F.ntile(4).over(w_f))
        .withColumn("m_score", F.lit(5) - F.ntile(4).over(w_m))
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws("", "r_score", "f_score", "m_score").alias("segment"),
    )


X_RFM_ORACLE = f"""
WITH base AS (
  SELECT o_custkey,
         CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '{RFM_REF_DATE}') AS INT)
           AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS monetary
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT *,
    5 - ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
    5 - ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
    5 - ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM base)
SELECT o_custkey, recency_days, frequency, monetary,
       CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


SPECS.append(QuerySpec("x_rfm_segmentation", x_rfm_segmentation, X_RFM_ORACLE))


#: Rolling active-user window in days (x_rolling_dau).
ROLLING_WINDOW_DAYS = 7


def x_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: per observed day, DAU (distinct users that
    day), WAU (distinct users in the trailing ROLLING_WINDOW_DAYS-day
    window, inclusive) and the DAU/WAU stickiness ratio — the classic
    rolling-COUNT-DISTINCT operator no window frame can express (count
    distinct over a RANGE frame is unsupported in every engine; the
    textbook rewrite is a grid x activity range join).

    Plan shape: the range join is BANDED into an equi-join — each
    distinct (user, day) carries its week bucket day//7; each grid day
    explodes to the (at most 2) buckets its trailing window overlaps;
    the join is equi on bucket with the exact day-range as a residual
    filter. A naive `ON e.d BETWEEN g.d - 6 AND g.d` would plan as a
    BroadcastNestedLoopJoin (the global plan guard forbids it); the
    banded form is a hash join whose per-row fan-out is bounded by the
    window length, independent of corpus size.

    100-TB shape: events reduce to DISTINCT (user, day) first
    (map-side combine); everything after is |users x days| sized, and
    the banded join fan-out is <= 2 buckets per grid day."""
    events = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    du = (
        events.select(
            "user_id",
            F.to_date("ts").alias("d"),
        )
        .distinct()
        .withColumn("dn", F.datediff(F.col("d"), epoch))
        .withColumn("bucket", F.floor(F.col("dn") / ROLLING_WINDOW_DAYS))
    )
    grid = (
        du.select("d", "dn")
        .distinct()
        .withColumn(
            "bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(
                            (F.col("dn") - (ROLLING_WINDOW_DAYS - 1))
                            / ROLLING_WINDOW_DAYS
                        ),
                        F.floor(F.col("dn") / ROLLING_WINDOW_DAYS),
                    )
                )
            ),
        )
    )
    g = grid.alias("g")
    e = du.alias("e")
    joined = g.join(e, "bucket").filter(
        (F.col("e.dn") <= F.col("g.dn"))
        & (F.col("e.dn") > F.col("g.dn") - ROLLING_WINDOW_DAYS)
    )
    agg = joined.groupBy(F.col("g.d").alias("d")).agg(
        F.countDistinct(
            F.when(F.col("e.dn") == F.col("g.dn"), F.col("e.user_id"))
        )
        .cast("bigint")
        .alias("dau"),
        F.countDistinct("e.user_id").cast("bigint").alias("wau"),
    )
    return agg.select(
        "d",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    ).orderBy("d")


X_ROLLING_DAU_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
dn AS (
  SELECT user_id, d, (d - DATE '1970-01-01') AS dn,
         CAST(floor((d - DATE '1970-01-01') / {ROLLING_WINDOW_DAYS}.0) AS BIGINT)
           AS bucket
  FROM du
),
grid AS (
  SELECT d, dn, bucket FROM (
    SELECT DISTINCT d, dn FROM dn
  ), UNNEST(list_distinct([
      CAST(floor((dn - {ROLLING_WINDOW_DAYS - 1}) / {ROLLING_WINDOW_DAYS}.0) AS BIGINT),
      CAST(floor(dn / {ROLLING_WINDOW_DAYS}.0) AS BIGINT)
    ])) AS t(bucket)
),
joined AS (
  SELECT g.d, g.dn AS gdn, e.dn AS edn, e.user_id
  FROM grid g JOIN dn e USING (bucket)
  WHERE e.dn <= g.dn AND e.dn > g.dn - {ROLLING_WINDOW_DAYS}
)
SELECT d,
       CAST(COUNT(DISTINCT CASE WHEN edn = gdn THEN user_id END) AS BIGINT) AS dau,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau,
       CAST(COUNT(DISTINCT CASE WHEN edn = gdn THEN user_id END) AS DOUBLE)
         / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS stickiness
FROM joined
GROUP BY d
ORDER BY d
"""


SPECS.append(QuerySpec("x_rolling_dau", x_rolling_dau, X_ROLLING_DAU_ORACLE))


#: LTV horizon in weeks since first order (x_cohort_ltv).
LTV_MAX_WEEKS = 12


def x_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by weeks-since-first-order — the
    growth-analytics companion to the retention triangle (x_retention
    answers "do they come back", this answers "what are they worth by
    week k"). Output: (cohort_month, week_offset, n_customers, revenue,
    cum_revenue) with cum_revenue the running sum across offsets within
    the cohort.

    100-TB shape: one groupBy on o_custkey for first-order dates, one
    broadcast-friendly join back (customer-dim sized), one
    (cohort x offset) aggregate — the cumulative window runs over the
    |cohorts| x |offsets| result frame, not the fact table."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_d"))
    j = o.join(first, "o_custkey").withColumn(
        "week_offset",
        F.floor(F.datediff("o_orderdate", "first_d") / LTV_WEEK_DAYS).cast(
            "bigint"
        ),
    )
    per_cell = (
        j.filter(F.col("week_offset") <= LTV_MAX_WEEKS)
        .groupBy(
            F.date_trunc("month", "first_d").cast("date").alias("cohort_month"),
            "week_offset",
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("revenue"),
        )
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_cell.withColumn(
        "cum_revenue", F.sum("revenue").over(w).cast("decimal(38,2)")
    ).orderBy("cohort_month", "week_offset")


LTV_WEEK_DAYS = 7


X_COHORT_LTV_ORACLE = f"""
WITH first AS (
  SELECT o_custkey, MIN(o_orderdate) AS first_d FROM orders GROUP BY o_custkey
),
j AS (
  SELECT o.o_custkey, o.o_totalprice, f.first_d,
         CAST(floor(date_diff('day', f.first_d, o.o_orderdate)
                    / {LTV_WEEK_DAYS}.0) AS BIGINT) AS week_offset
  FROM orders o JOIN first f USING (o_custkey)
),
per_cell AS (
  SELECT CAST(date_trunc('month', first_d) AS DATE) AS cohort_month,
         week_offset,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS revenue
  FROM j WHERE week_offset <= {LTV_MAX_WEEKS}
  GROUP BY 1, 2
)
SELECT cohort_month, week_offset, n_customers, revenue,
       CAST(SUM(revenue) OVER (
         PARTITION BY cohort_month ORDER BY week_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DECIMAL(38,2)) AS cum_revenue
FROM per_cell
ORDER BY cohort_month, week_offset
"""


SPECS.append(QuerySpec("x_cohort_ltv", x_cohort_ltv, X_COHORT_LTV_ORACLE))


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (a18) — the oracle-checkable twin of the
# engine-native HLL++ surface in x_approx_sketches.
# ---------------------------------------------------------------------------

HLL_P = 8                     # register-index bits -> m = 256 registers
HLL_M = 1 << HLL_P            # register count
_HLL_WBITS = 60 - HLL_P       # remaining hash bits fed to rho (md5 15-hex = 60)
_HLL_WMOD = 1 << _HLL_WBITS   # 2^52
_HLL_SCALE = 1 << (_HLL_WBITS + 1)  # 2^53: integer scale for sum(2^-M[j])
HLL_EST_GRID = 1e6            # estimate snap grid (ln is libm — see note)


def _hll_alpha() -> float:
    """alpha_m for m = 256 (Flajolet et al. 2007, fig. 3) — written as
    the same float expression the oracle uses so both engines round
    identically (division and addition are IEEE-exact given equal
    operands)."""
    return 0.7213 / (1.0 + 1.079 / 256.0)


def _hll_est_parts(k_used: int, s_hit: int) -> tuple:
    """(v_zero, s_scaled, grid-snapped estimate) from a register fold —
    the driver-side copy of the estimator math, used by the generic
    hll_estimate kernel; a18 and x_approx_sketches replay it in SQL
    (_HLL_EST_SPARK_SQL). Since round 12 a COLUMN-expression twin
    exists (:func:`hll_estimate_cols`, for grouped/streaming consumers
    that must not collect); the two are pinned to produce the identical
    double by test_column_estimator_matches_driver_twin — change the
    math in BOTH or that test fails."""
    import math

    v_zero = HLL_M - int(k_used or 0)
    s_scaled = int(s_hit or 0) + v_zero * _HLL_SCALE
    est = _hll_alpha() * 256.0 * 256.0 * float(_HLL_SCALE) / float(s_scaled)
    if est <= 2.5 * HLL_M and v_zero > 0:
        est = HLL_M * math.log(HLL_M / float(v_zero))
    return v_zero, s_scaled, math.floor(est * HLL_EST_GRID + 0.5) / HLL_EST_GRID


#: Spark-SQL replay of :func:`_hll_est_parts` over (v_zero, s_scaled)
#: columns: D-suffixed double literals, term for term the Python tree,
#: so both produce the same double (ln is forgiven by the 1e6 grid).
_HLL_EST_SPARK_SQL = (
    f"CASE WHEN ((0.7213D / (1.0D + 1.079D / {float(HLL_M)!r}D))"
    f" * {float(HLL_M)!r}D * {float(HLL_M)!r}D"
    f" * {float(_HLL_SCALE)!r}D / CAST(s_scaled AS DOUBLE))"
    f" <= {2.5 * HLL_M!r}D AND v_zero > 0"
    f" THEN floor({HLL_M} * ln({HLL_M} / CAST(v_zero AS DOUBLE))"
    f" * {HLL_EST_GRID!r}D + 0.5D) / {HLL_EST_GRID!r}D"
    f" ELSE floor(((0.7213D / (1.0D + 1.079D / {float(HLL_M)!r}D))"
    f" * {float(HLL_M)!r}D * {float(HLL_M)!r}D"
    f" * {float(_HLL_SCALE)!r}D / CAST(s_scaled AS DOUBLE))"
    f" * {HLL_EST_GRID!r}D + 0.5D) / {HLL_EST_GRID!r}D END"
)


def _a18_hll_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Construction-phase aggregations (plan-audit probes, the a15
    pattern): the register fold (the shared hll_fold kernel) and the
    exact-count baseline."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("v")
    )
    exact = li.agg(F.count_distinct("v").alias("n"))
    return {"registers": hll_fold(li, "v"), "exact": exact}


def a18_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct count (Flajolet et al. 2007)
    over lineitem part keys: md5-derived 60-bit hashes, m = 256
    registers (index = top 8 bits, rho = leading-zero rank of the low
    52), harmonic-mean estimator with the small-range linear-counting
    correction. Unlike Spark's native HLL++ (x_approx_sketches, whose
    register layout is engine-private and therefore rows-only), every
    register here is a pure md5 function of the data, so the SKETCH
    ITSELF — not just its input — replays exactly in DuckDB and the
    approximate answer sits under the full value-hash gate, the same
    promotion the KMV family got in round 6.

    Determinism: registers and the scaled harmonic sum
    S' = sum(2^(53 - M[j])) are exact bigints (max 256·2^52 + padding
    < 2^61); the estimator is one float expression over those exact
    integers evaluated in the same operand order by both engines. The
    linear-counting branch uses ln — libm, not IEEE-pinned — so the
    estimate snaps to the 1e6 grid (floor(x·1e6 + 0.5), the PageRank
    honesty idiom; a 1-ulp ln drift is ~1e-13 relative against a 1e-6
    grid step).

    100-TB shape: one map-side-combinable groupBy over 256 register
    keys — the canonical mergeable sketch; the exact COUNT(DISTINCT)
    baseline is eval-time truth, sampled or omitted at real scale.

    Round 15 (guide §7.3 / §2.6): the two collect jobs (overlapped in
    round 14) + driver estimator + createDataFrame fold into ONE
    spark.sql execution — the 1-row register fold is the FROM table,
    the exact baseline enters as an uncorrelated scalar subquery (a
    Subquery node, never a 1-row cross join → no BNLJ), and the
    estimator / rel-error math moves into SQL with D-suffixed double
    literals term-for-term identical to :func:`_hll_est_parts` (whose
    SQL replay the DuckDB oracle has used since round 9; the 1e6 grid
    absorbs ln() libm variance as documented at HLL_EST_GRID). Both
    scan stages now overlap INSIDE one job's DAG — no thread pool, no
    two driver round trips. Neither substituted frame is cached, so
    the util/sqlview rule does not apply."""
    frames = _a18_hll_frames(spark, sf_dir)
    return spark.sql(
        f"""
SELECT CAST({HLL_M} AS INT) AS m, v_zero, s_scaled,
       {_HLL_EST_SPARK_SQL} AS hll_estimate,
       exact_distinct,
       CASE WHEN exact_distinct = 0 THEN 0.0D
            ELSE abs(({_HLL_EST_SPARK_SQL}) - CAST(exact_distinct AS DOUBLE))
                 / CAST(exact_distinct AS DOUBLE)
       END AS rel_error
FROM (
  SELECT CAST({HLL_M} - k_used AS BIGINT) AS v_zero,
         CAST(COALESCE(s_hit, 0) + ({HLL_M} - k_used) * {_HLL_SCALE}
              AS BIGINT) AS s_scaled,
         CAST(COALESCE((SELECT n FROM {{exact}}), 0) AS BIGINT)
           AS exact_distinct
  FROM {{folded}}
)
""",
        folded=frames["registers"],
        exact=frames["exact"],
    )


_A18_EST_SQL = f"""CASE
  WHEN ((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
        * CAST({_HLL_SCALE} AS DOUBLE) / CAST(s_scaled AS DOUBLE))
         <= {2.5 * HLL_M}
       AND v_zero > 0
  THEN floor({HLL_M} * ln({HLL_M} / CAST(v_zero AS DOUBLE))
             * {HLL_EST_GRID} + 0.5) / {HLL_EST_GRID}
  ELSE floor(((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
              * CAST({_HLL_SCALE} AS DOUBLE) / CAST(s_scaled AS DOUBLE))
             * {HLL_EST_GRID} + 0.5) / {HLL_EST_GRID}
END"""


A18_HLL_ORACLE = f"""
WITH h AS (
  SELECT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM lineitem
),
rho AS (
  SELECT h // {_HLL_WMOD} AS j,
         CASE WHEN h % {_HLL_WMOD} = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1} - length(bin(h % {_HLL_WMOD})) END AS r
  FROM h
),
regs AS (SELECT j, MAX(r) AS mj FROM rho GROUP BY j),
folded AS (
  SELECT COUNT(*) AS k_used,
         COALESCE(SUM(CAST(1 AS BIGINT) << CAST({_HLL_WBITS + 1} - mj AS INT)), 0) AS s_hit
  FROM regs
),
scalars AS (
  SELECT CAST({HLL_M} - k_used AS BIGINT) AS v_zero,
         CAST(s_hit + ({HLL_M} - k_used) * {_HLL_SCALE} AS BIGINT) AS s_scaled
  FROM folded
),
ex AS (SELECT COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
SELECT CAST({HLL_M} AS INT) AS m,
       v_zero,
       s_scaled,
       {_A18_EST_SQL} AS hll_estimate,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       CASE WHEN exact_distinct = 0 THEN 0.0
            ELSE abs(({_A18_EST_SQL}) - exact_distinct) / exact_distinct
       END AS rel_error
FROM scalars, ex
"""


SPECS.append(
    QuerySpec(
        "a18_hll_distinct", a18_hll_distinct, A18_HLL_ORACLE, probes=_a18_hll_frames
    )
)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (a19) — the frequency twin of the
# cardinality sketches above.
# ---------------------------------------------------------------------------

CMS_D = 4        # hash rows
CMS_W = 256      # buckets per row
CMS_TOP = 10     # heavy hitters reported

#: Oracle-side seed list — derived from CMS_D so the constant cannot
#: silently diverge from the Spark side's range(CMS_D) (review finding).
_CMS_SEEDS_SQL = ", ".join(str(i) for i in range(CMS_D))


def _cms_bucket(seed, val, w: int = CMS_W):
    """Row-``seed`` bucket of ``val``: md5 of 'seed|value', 8 hex chars,
    mod ``w`` (default CMS_W) — the shared deterministic hash family
    (same idiom both engines replay byte-for-byte). ``w`` is the CMS
    memory dial: production sizes it to the key cardinality it guards
    (round-12 verdict #5), the hash family is width-agnostic."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", seed.cast("string"), val.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % w
    )


def _cms_seeds():
    """One row per hash row ``i`` of the d×w table (explode of 0..d-1)."""
    return F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("i")


def _cms_cells(per_key: DataFrame, key: str, cnt: str, group_cols=(), w: int = CMS_W) -> DataFrame:
    """(group…, i, b, c): the d×w count-min cells of pre-aggregated
    ``(group…, key, cnt)`` rows — each key's count lands in one bucket
    per hash row, and cells sum. Counters are linear, so cells of
    disjoint inputs merge by SUM into the cells of their union."""
    return (
        per_key.select(*group_cols, key, cnt, _cms_seeds())
        .select(*group_cols, "i", _cms_bucket(F.col("i"), F.col(key), w=w).alias("b"), cnt)
        .groupBy(*group_cols, "i", "b")
        .agg(F.sum(cnt).alias("c"))
    )


def _cms_estimate(cand: DataFrame, cells: DataFrame, key: str, group_cols=()) -> DataFrame:
    """``cand``'s columns plus, for every counter column of ``cells``
    (all but group…, i, b), its minimum over the d cells ``cand[key]``
    hashes to — the count-min estimate, which never undercounts. The
    cells are the default width CMS_W."""
    cols = cand.columns
    counters = [c for c in cells.columns if c not in (*group_cols, "i", "b")]
    return (
        cand.select(*cols, _cms_seeds())
        .select(*cols, "i", _cms_bucket(F.col("i"), F.col(key)).alias("b"))
        .join(cells, [*group_cols, "i", "b"])
        .groupBy(*cols)
        .agg(*[F.min(c).cast("bigint").alias(c) for c in counters])
    )


def a19_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    a d x w = 4 x 256 counter table over lineitem part keys, then the
    top-CMS_TOP keys by exact frequency carry their sketch estimate
    next to the truth. Every counter is an exact bigint over md5
    buckets, so the whole sketch — build AND probe — replays in DuckDB
    under the value-hash gate; the CMS overestimate guarantee
    (estimate >= exact, always) is emitted as a checked column.

    100-TB shape: the build is one map-side-combinable groupBy over
    d·w = 1024 counter cells (posexplode fans each row to d=4 — a
    constant — before partial aggregation); the probe broadcasts the
    1024-cell table against the candidate set. No shuffle grows with
    the key domain — that is the point of the sketch."""
    # One shared kernel (cms_heavy_hitters) carries the build/probe
    # pipeline — the registered query adds only the fixture column
    # names and the guarantee column.
    li = load_table(spark, sf_dir, "lineitem")
    return cms_heavy_hitters(li, "l_partkey", top=CMS_TOP).select(
        F.col("v").alias("l_partkey"),
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        F.col("cms_estimate"),
        (F.col("cms_estimate") >= F.col("exact_cnt")).alias("never_undercounts"),
    ).orderBy(F.col("exact_cnt").desc(), "l_partkey")


A19_CMS_ORACLE = f"""
WITH base AS (SELECT l_partkey AS v FROM lineitem),
expanded AS (
  SELECT i, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8)
                AS BIGINT) % {CMS_W} AS b
  FROM base, unnest([{_CMS_SEEDS_SQL}]) AS s(i)
),
cells AS (SELECT i, b, COUNT(*) AS c FROM expanded GROUP BY i, b),
top AS (
  SELECT v, exact_cnt FROM (
    SELECT v, COUNT(*) AS exact_cnt,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, v) AS rn
    FROM base GROUP BY v
  ) WHERE rn <= {CMS_TOP}
),
probes AS (
  SELECT v, exact_cnt, i,
         CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8)
              AS BIGINT) % {CMS_W} AS b
  FROM top, unnest([{_CMS_SEEDS_SQL}]) AS s(i)
)
SELECT v AS l_partkey,
       CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(MIN(c) AS BIGINT) AS cms_estimate,
       MIN(c) >= exact_cnt AS never_undercounts
FROM probes JOIN cells USING (i, b)
GROUP BY v, exact_cnt
ORDER BY exact_cnt DESC, l_partkey
"""


SPECS.append(QuerySpec("a19_cms_heavy_hitters", a19_cms_heavy_hitters, A19_CMS_ORACLE))


# ---------------------------------------------------------------------------
# Bloom-filter membership (a20) — with HLL (cardinality) and CMS
# (frequency) this completes the deterministic-sketch trifecta.
# ---------------------------------------------------------------------------

BLOOM_K = 3              # hash functions
BLOOM_BITS_PER_KEY = 8   # m = 8n bits -> ~3% fp at k=3 (demonstrable, not vacuous)
_BLOOM_WORD = 32         # bits per packed word (shifts stay < 2^31, safe in both engines)
BLOOM_SPEND = 400000     # filter set: custkeys with an order above this

#: Oracle-side seed list — derived from BLOOM_K (same discipline as
#: _CMS_SEEDS_SQL).
_BLOOM_SEEDS_SQL = ", ".join(str(i) for i in range(BLOOM_K))


def _bloom_m_bits(n_keys: int) -> int:
    """Filter size: BLOOM_BITS_PER_KEY per key, rounded up to whole
    32-bit words, never zero — pure integer math the oracle replays."""
    return max(1, (BLOOM_BITS_PER_KEY * n_keys + _BLOOM_WORD - 1) // _BLOOM_WORD) * _BLOOM_WORD


def _bloom_pos(seed, val, m_bits: int):
    """Hash-``seed`` bit position of ``val`` — the HLL md5 family (15
    hex chars = 60 bits, positive in a bigint) reduced mod the filter
    size. 60 bits, not 32: m_bits = 8·n_keys passes 2^32 at ~5×10^8
    keys, beyond which a 32-bit hash leaves the upper bit positions
    unreachable and the fp rate silently degrades (round-9 ADVICE);
    modulo bias is negligible at 60 bits for any reachable m."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", seed.cast("string"), val.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % m_bits
    )


def _a20_bloom_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Construction/probe-phase plans for the audit: the key-count
    scalar collapses lineage, so expose the packed-word build and the
    probe join with a literal stand-in size (plan SHAPE is what the
    guard checks)."""
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > BLOOM_SPEND)
        .select(F.col("o_custkey").alias("v"))
        .distinct()
    )
    m_bits = 1024  # literal stand-in
    seeds = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("i")
    pos = keys.select(seeds, _bloom_pos(F.col("i"), F.col("v"), m_bits).alias("p"))
    words = (
        pos.select(
            F.expr(f"p div {_BLOOM_WORD}").alias("word"),
            (F.col("p") % _BLOOM_WORD).cast("int").alias("bit"),
        )
        .distinct()
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("wv"))
    )
    probe = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("v"), seeds)
        .select("v", "i", _bloom_pos(F.col("i"), F.col("v"), m_bits).alias("p"))
        .select(
            "v",
            F.expr(f"p div {_BLOOM_WORD}").alias("word"),
            (F.col("p") % _BLOOM_WORD).cast("int").alias("bit"),
        )
        .join(F.broadcast(words), "word", "left")
        .groupBy("v")
        .agg(
            F.expr(
                "bool_and(wv IS NOT NULL AND (wv & shiftleft(CAST(1 AS BIGINT), bit)) <> 0)"
            ).alias("candidate")
        )
    )
    return {"build": words, "probe": probe}


def a20_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (Bloom 1970) as join pruning: the filter
    set is every customer with an order above BLOOM_SPEND; the filter
    is k=3 md5 bit positions packed into 32-bit words (m = 8n bits —
    sized from one bounded COUNT, the threshold-literal pattern); every
    customer then probes it. The summary row carries the exact
    semi-join truth next to the sketch verdicts: candidates,
    true matches, false positives, and the no-false-negatives
    guarantee as a checked column — at m = 8n, k = 3 the ~3% fp rate
    is visible in the artifact rather than rounding to zero.

    Determinism: bits, packed words, and every count are exact integers
    over md5; the only float is the final fp_rate division. The whole
    filter — build AND probe — replays in DuckDB under the value-hash
    gate; engine-native bloom pruning (Spark's runtime row-group
    filters) stays on the scan path where it belongs.

    100-TB shape: the build is one distinct + one groupBy over m/32
    packed words (mergeable, map-side combinable — the filter IS the
    shuffle payload, ~n bytes); the probe broadcasts those words. This
    is how a join against a huge build side prunes its probe scan
    without shuffling the probe table."""
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > BLOOM_SPEND)
        .select(F.col("o_custkey").alias("v"))
        .distinct()
        .persist()
    )
    n_keys = keys.count()  # bounded scalar (distinct dimension keys)
    m_bits = _bloom_m_bits(n_keys)
    seeds = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("i")
    words = (
        keys.select(seeds, _bloom_pos(F.col("i"), F.col("v"), m_bits).alias("p"))
        .select(
            F.expr(f"p div {_BLOOM_WORD}").alias("word"),
            (F.col("p") % _BLOOM_WORD).cast("int").alias("bit"),
        )
        .distinct()
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("wv"))
    )
    probes = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("v"), seeds)
        .select("v", "i", _bloom_pos(F.col("i"), F.col("v"), m_bits).alias("p"))
        .select(
            "v",
            F.expr(f"p div {_BLOOM_WORD}").alias("word"),
            (F.col("p") % _BLOOM_WORD).cast("int").alias("bit"),
        )
        .join(F.broadcast(words), "word", "left")
        .groupBy("v")
        .agg(
            F.expr(
                "bool_and(wv IS NOT NULL AND (wv & shiftleft(CAST(1 AS BIGINT), bit)) <> 0)"
            ).alias("candidate")
        )
    )
    verdicts = probes.join(
        keys.withColumn("is_member", F.lit(True)), "v", "left"
    ).select(
        "v", "candidate", F.coalesce("is_member", F.lit(False)).alias("is_member")
    )
    # The summary is one row: collect it eagerly so keys.unpersist()
    # runs AFTER both cached uses execute — unpersisting under a lazy
    # result frame silently re-derived the key set twice at action
    # time (round-9 review finding).
    agg = verdicts.agg(
        F.count("*").alias("n_probe"),
        F.sum(F.when(F.col("candidate"), 1).otherwise(0)).cast("bigint").alias("candidates"),
        F.sum(F.when(F.col("candidate") & F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("true_matches"),
        F.bool_and(F.when(F.col("is_member"), F.col("candidate")).otherwise(F.lit(True)))
        .alias("no_false_negatives"),
    ).collect()[0]
    keys.unpersist()
    n_probe = int(agg["n_probe"] or 0)
    cand = int(agg["candidates"] or 0)
    true_m = int(agg["true_matches"] or 0)
    fp = cand - true_m
    non_members = n_probe - true_m
    return spark.createDataFrame(
        [
            (
                n_keys,
                m_bits,
                BLOOM_K,
                n_probe,
                cand,
                true_m,
                fp,
                fp / non_members if non_members > 0 else 0.0,
                bool(agg["no_false_negatives"]) if n_probe else True,
            )
        ],
        "n_keys BIGINT, m_bits BIGINT, k_hashes INT, n_probe BIGINT, "
        "candidates BIGINT, true_matches BIGINT, false_positives BIGINT, "
        "fp_rate DOUBLE, no_false_negatives BOOLEAN",
    )


A20_BLOOM_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT o_custkey AS v FROM orders WHERE o_totalprice > {BLOOM_SPEND}
),
sz AS (
  SELECT COUNT(*) AS n_keys,
         GREATEST(1, ({BLOOM_BITS_PER_KEY} * COUNT(*) + {_BLOOM_WORD - 1}) // {_BLOOM_WORD})
           * {_BLOOM_WORD} AS m_bits
  FROM keys
),
kpos AS (
  SELECT CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 15)
              AS BIGINT) % (SELECT m_bits FROM sz) AS p
  FROM keys, unnest([{_BLOOM_SEEDS_SQL}]) AS s(i)
),
words AS (
  SELECT word, bit_or(CAST(1 AS BIGINT) << bit) AS wv FROM (
    SELECT DISTINCT p // {_BLOOM_WORD} AS word, CAST(p % {_BLOOM_WORD} AS INT) AS bit
    FROM kpos
  ) GROUP BY word
),
ppos AS (
  SELECT c_custkey AS v,
         CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(c_custkey AS VARCHAR)), 1, 15)
              AS BIGINT) % (SELECT m_bits FROM sz) AS p
  FROM customer, unnest([{_BLOOM_SEEDS_SQL}]) AS s(i)
),
probe AS (
  SELECT v, bool_and(wv IS NOT NULL AND (wv & (CAST(1 AS BIGINT) << bit)) <> 0) AS candidate
  FROM (
    SELECT v, p // {_BLOOM_WORD} AS word, CAST(p % {_BLOOM_WORD} AS INT) AS bit
    FROM ppos
  ) LEFT JOIN words USING (word)
  GROUP BY v
),
verdicts AS (
  SELECT probe.v, candidate, keys.v IS NOT NULL AS is_member
  FROM probe LEFT JOIN keys ON probe.v = keys.v
),
agg AS (
  SELECT (SELECT CAST(n_keys AS BIGINT) FROM sz) AS n_keys,
         (SELECT CAST(m_bits AS BIGINT) FROM sz) AS m_bits,
         CAST({BLOOM_K} AS INT) AS k_hashes,
         COUNT(*) AS n_probe,
         CAST(COALESCE(SUM(CASE WHEN candidate THEN 1 ELSE 0 END), 0) AS BIGINT) AS candidates,
         CAST(COALESCE(SUM(CASE WHEN candidate AND is_member THEN 1 ELSE 0 END), 0) AS BIGINT) AS true_matches,
         COALESCE(bool_and(CASE WHEN is_member THEN candidate ELSE TRUE END), TRUE) AS no_false_negatives
  FROM verdicts
)
SELECT n_keys, m_bits, k_hashes, n_probe, candidates, true_matches,
       candidates - true_matches AS false_positives,
       CASE WHEN n_probe - true_matches > 0
            THEN CAST(candidates - true_matches AS DOUBLE)
                 / CAST(n_probe - true_matches AS DOUBLE)
            ELSE 0.0 END AS fp_rate,
       no_false_negatives
FROM agg
"""


SPECS.append(
    QuerySpec(
        "a20_bloom_membership",
        a20_bloom_membership,
        A20_BLOOM_ORACLE,
        probes=_a20_bloom_frames,
    )
)


# ---------------------------------------------------------------------------
# Binned quantile estimation (a21) — the scale path next to the
# exact-sort percentiles (a13/a14): cardinality (HLL), frequency (CMS),
# membership (bloom), and now quantiles, all under the value-hash gate.
# ---------------------------------------------------------------------------

QB_BINS = 1024
QB_QUANTILES = (0.5, 0.9, 0.99)


def _qb_bounds(src: str) -> str:
    """The global (mn, mx) of ``src.x`` as one struct scalar subquery;
    Spark reuses it at every place the same text is referenced."""
    return f"(SELECT struct(MIN(x) AS mn, MAX(x) AS mx) FROM {src})"


def _qb_hist_sql(src: str, bins: int, grouped: bool) -> str:
    """(g?, bin, n): the equi-width histogram of the non-NULL ``x`` of
    relation ``src`` (columns ``(g?, x)``) over ``bins`` bins between
    its global MIN and MAX — shared bounds keep per-group histograms
    comparable and mergeable. A constant column sits in bin 0 (the
    unguarded (x-mn)/(mx-mn) is 0/0)."""
    g = "g, " if grouped else ""
    return f"""
SELECT {g}bin, COUNT(*) AS n FROM (
  SELECT {g}CASE WHEN bd.mx = bd.mn THEN 0
              ELSE CAST(LEAST({bins - 1},
                floor((x - bd.mn) / (bd.mx - bd.mn) * {bins})) AS INT) END AS bin
  FROM (SELECT {g}x, {_qb_bounds(src)} AS bd FROM {src} WHERE x IS NOT NULL) s
) b GROUP BY {g}bin"""


def _qb_sql(src: str, bins: int, qs, grouped: bool) -> str:
    """(g?, q, estimate, bin, bin_lo, bin_n, err_bound): the binned
    quantile sketch of relation ``src`` — for each (g, q) the first bin
    whose cumulative count reaches q·total (the type-1 rank-ceil(q·N)
    target), linearly interpolated inside that bin. The prior count
    ``cb`` and ``total`` are window sums over the histogram, so no join
    is needed; err_bound is one bin width. The float expressions are
    the DuckDB oracles' term for term."""
    g = "g, " if grouped else ""
    by_g = "PARTITION BY g" if grouped else ""
    width = f"((bd.mx - bd.mn) / {bins})"
    q_arr = ", ".join(f"{float(q)!r}D" for q in qs)
    return f"""
SELECT {g}q, bd.mn + (bin + (q * total - cb) / n) * {width} AS estimate,
       bin, bd.mn + bin * {width} AS bin_lo, n AS bin_n, {width} AS err_bound
FROM (
  SELECT {g}q, bin, n, cb, total, {_qb_bounds(src)} AS bd,
         ROW_NUMBER() OVER (PARTITION BY {g}q ORDER BY bin) AS rn
  FROM (
    SELECT {g}bin, n,
           COALESCE(SUM(n) OVER ({by_g} ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
           SUM(n) OVER ({by_g}) AS total
    FROM ({_qb_hist_sql(src, bins, grouped)}) h
  ) c LATERAL VIEW explode(array({q_arr})) t AS q
  WHERE cb + n >= q * total
) p WHERE rn = 1"""


def a21_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a fixed equi-width histogram: one
    bounded min/max pass, one map-side-combinable fold into QB_BINS
    counters, linear interpolation inside the target bin. The exact
    percentiles (a13/a14) sort; this is their mergeable scale path —
    the error bound is one bin width ((max-min)/1024), emitted per
    quantile so the artifact carries its own accuracy contract.

    Determinism: bin indexes and cumulative counts are exact integers
    (the bin expression is identical IEEE double arithmetic over exact
    decimal-to-double casts in both engines — same operands, same
    order, so no boundary flip is possible); each estimate is one float
    interpolation over those integers, mirrored operation-for-operation
    in the oracle. Empty input yields no rows; a constant column puts
    every row in bin 0 with zero width.

    100-TB shape: two scans (bounds + fold), both fully partial-
    aggregatable; the interpolation windows over ≤ QB_BINS counters.
    t-digest/KLL trade determinism for adaptivity — an equi-width
    histogram is the variant whose every intermediate replays in SQL."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    return spark.sql(
        _qb_sql("{src}", QB_BINS, QB_QUANTILES, False) + "\nORDER BY q", src=li
    )


A21_QB_ORACLE = f"""
WITH src AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
  WHERE l_extendedprice IS NOT NULL
),
bounds AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM src),
hist AS (
  SELECT CASE WHEN (SELECT mx FROM bounds) = (SELECT mn FROM bounds) THEN 0
              ELSE CAST(LEAST({QB_BINS - 1},
              floor((x - (SELECT mn FROM bounds))
                    / ((SELECT mx FROM bounds) - (SELECT mn FROM bounds))
                    * {QB_BINS})) AS INT) END AS bin,
         COUNT(*) AS n
  FROM src GROUP BY 1
),
cum AS (
  SELECT bin, n,
         COALESCE(SUM(n) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM hist
),
tot AS (SELECT SUM(n) AS total FROM hist),
qs AS (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                             (CAST(0.99 AS DOUBLE))) AS v(q)),
pick AS (
  SELECT q, bin, n, cb FROM (
    SELECT qs.q, cum.bin, cum.n, cum.cb,
           ROW_NUMBER() OVER (PARTITION BY qs.q ORDER BY cum.bin) AS rn
    FROM qs JOIN cum ON cum.cb + cum.n >= qs.q * (SELECT total FROM tot)
  ) WHERE rn = 1
)
SELECT CAST(q AS DOUBLE) AS q,
       (SELECT mn FROM bounds)
         + (bin + (q * (SELECT total FROM tot) - cb) / n)
           * (((SELECT mx FROM bounds) - (SELECT mn FROM bounds)) / {QB_BINS})
         AS estimate,
       bin,
       (SELECT mn FROM bounds)
         + bin * (((SELECT mx FROM bounds) - (SELECT mn FROM bounds)) / {QB_BINS})
         AS bin_lo,
       CAST(n AS BIGINT) AS bin_n,
       ((SELECT mx FROM bounds) - (SELECT mn FROM bounds)) / {QB_BINS} AS err_bound
FROM pick
ORDER BY q
"""


SPECS.append(QuerySpec("a21_binned_quantiles", a21_binned_quantiles, A21_QB_ORACLE))


def a22_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability proof (the property the sketch exists for):
    build one register set per o_orderstatus partition, merge by
    register-wise MAX, and the merged estimate must equal — exactly,
    register for register — the single-pass sketch over the union.
    Emitted per partition AND for the merge, with the union row's
    s_scaled doubling as the cross-check: a22's merged row equals
    a18's sketch construction applied to this key column.

    This is the distributed-aggregation contract: partial sketches per
    partition/executor/day, one cheap max-merge at the top — no rescan
    of history when a new partition arrives. KMV set ops (a16) show
    union/intersection algebra; HLL's max-merge is the form engines
    actually ship for COUNT(DISTINCT) rollups.

    100-TB shape: identical to a18 plus one 256-row-per-group merge;
    the per-group register build is one map-side-combinable groupBy on
    (group, register), and the estimator is :func:`hll_estimate_cols`'
    column expressions — nothing reaches the driver."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("g"), F.col("o_custkey").alias("v")
    )
    regs = (
        _hll_rho_frame(o, "v", ["g"])
        .groupBy("g", "j")
        .agg(F.max("r").alias("mj"))
    )
    fold = [F.count("*").alias("k_used"), F.sum(F.expr(_HLL_SHIFT_EXPR)).alias("s_hit")]
    per_group = regs.groupBy("g").agg(*fold)
    merged = (
        regs.groupBy("j")
        .agg(F.max("mj").alias("mj"))
        .agg(*fold)
        .select(
            F.lit("__merged__").alias("g"),
            "k_used",
            F.coalesce("s_hit", F.lit(0)).alias("s_hit"),
        )
    )
    return (
        hll_estimate_cols(per_group.unionByName(merged))
        .select("g", "v_zero", "s_scaled", "hll_estimate")
        .orderBy("g")
    )


_A22_EST_SQL = f"""CASE
  WHEN ((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
        * CAST({_HLL_SCALE} AS DOUBLE) / CAST(s_scaled AS DOUBLE))
         <= {2.5 * HLL_M}
       AND v_zero > 0
  THEN floor({HLL_M} * ln({HLL_M} / CAST(v_zero AS DOUBLE))
             * {HLL_EST_GRID} + 0.5) / {HLL_EST_GRID}
  ELSE floor(((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
              * CAST({_HLL_SCALE} AS DOUBLE) / CAST(s_scaled AS DOUBLE))
             * {HLL_EST_GRID} + 0.5) / {HLL_EST_GRID}
END"""


X_APPROX_SKETCHES_ORACLE = f"""
WITH base AS (
  SELECT l_returnflag AS g,
         COUNT(DISTINCT l_orderkey) AS exact_orders,
         bit_xor(CAST('0x' || substr(md5(
             CAST(l_orderkey AS VARCHAR) || '|' ||
             CAST(l_linenumber AS VARCHAR) || '|' ||
             CAST(CAST(l_quantity * 100 AS BIGINT) AS VARCHAR)), 1, 15)
           AS BIGINT)) AS fp_xor
  FROM lineitem GROUP BY 1
),
h AS (
  SELECT l_returnflag AS g,
         CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM lineitem
),
rho AS (
  SELECT g, h // {_HLL_WMOD} AS j,
         CASE WHEN h % {_HLL_WMOD} = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1} - length(bin(h % {_HLL_WMOD})) END AS r
  FROM h
),
regs AS (SELECT g, j, MAX(r) AS mj FROM rho GROUP BY g, j),
scalars AS (
  SELECT g,
         CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << CAST({_HLL_WBITS + 1} - mj AS INT))
              + ({HLL_M} - COUNT(*)) * {_HLL_SCALE} AS BIGINT) AS s_scaled
  FROM regs GROUP BY g
),
src AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
  WHERE l_extendedprice IS NOT NULL
),
bounds AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM src),
hist AS (
  SELECT g,
         CASE WHEN (SELECT mx FROM bounds) = (SELECT mn FROM bounds) THEN 0
              ELSE CAST(LEAST({QB_BINS - 1},
              floor((x - (SELECT mn FROM bounds))
                    / ((SELECT mx FROM bounds) - (SELECT mn FROM bounds))
                    * {QB_BINS})) AS INT) END AS bin,
         COUNT(*) AS n
  FROM src GROUP BY 1, 2
),
cum AS (
  SELECT g, bin, n,
         COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM hist
),
tot AS (SELECT g, SUM(n) AS total FROM hist GROUP BY g),
qvals AS (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.95 AS DOUBLE)),
                                (CAST(0.99 AS DOUBLE))) AS v(q)),
pick AS (
  SELECT g, q, estimate FROM (
    SELECT cum.g, qvals.q,
           (SELECT mn FROM bounds)
             + (cum.bin + (qvals.q * tot.total - cum.cb) / cum.n)
               * (((SELECT mx FROM bounds) - (SELECT mn FROM bounds)) / {QB_BINS})
             AS estimate,
           ROW_NUMBER() OVER (PARTITION BY cum.g, qvals.q ORDER BY cum.bin) AS rn
    FROM qvals JOIN cum ON TRUE
    JOIN tot ON tot.g = cum.g AND cum.cb + cum.n >= qvals.q * tot.total
  ) WHERE rn = 1
),
pcts AS (
  SELECT g,
         MAX(CASE WHEN q = 0.5 THEN estimate END) AS p50,
         MAX(CASE WHEN q = 0.95 THEN estimate END) AS p95,
         MAX(CASE WHEN q = 0.99 THEN estimate END) AS p99
  FROM pick GROUP BY g
)
SELECT base.g AS l_returnflag, base.exact_orders, {_A22_EST_SQL} AS hll_orders,
       base.fp_xor, pcts.p50, pcts.p95, pcts.p99
FROM base JOIN scalars ON scalars.g = base.g JOIN pcts ON pcts.g = base.g
ORDER BY 1
"""


def _x_approx_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Plan probe: x_approx_sketches' exact COUNT(DISTINCT) and md5
    fingerprint as one groupBy (the key itself runs them as two
    aggregates, see its note)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.expr(
            "bit_xor(CAST(conv(substring(md5(concat_ws('|',"
            " CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING),"
            " CAST(CAST(l_quantity * 100 AS BIGINT) AS STRING))), 1, 15),"
            " 16, 10) AS BIGINT))"
        ).alias("fp_xor"),
    )
    return {"base": base}


SPECS.append(
    QuerySpec(
        "x_approx_sketches",
        x_approx_sketches,
        X_APPROX_SKETCHES_ORACLE,
        probes=_x_approx_frames,
    )
)


A22_HLL_UNION_ORACLE = f"""
WITH h AS (
  SELECT o_orderstatus AS g,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM orders
),
rho AS (
  SELECT g, h // {_HLL_WMOD} AS j,
         CASE WHEN h % {_HLL_WMOD} = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1} - length(bin(h % {_HLL_WMOD})) END AS r
  FROM h
),
regs AS (SELECT g, j, MAX(r) AS mj FROM rho GROUP BY g, j),
per_group AS (
  SELECT g, COUNT(*) AS k_used,
         SUM(CAST(1 AS BIGINT) << CAST({_HLL_WBITS + 1} - mj AS INT)) AS s_hit
  FROM regs GROUP BY g
),
merged AS (
  SELECT '__merged__' AS g, COUNT(*) AS k_used,
         SUM(CAST(1 AS BIGINT) << CAST({_HLL_WBITS + 1} - mj AS INT)) AS s_hit
  FROM (SELECT j, MAX(mj) AS mj FROM regs GROUP BY j)
),
allrows AS (SELECT * FROM per_group UNION ALL SELECT * FROM merged),
scalars AS (
  SELECT g,
         CAST({HLL_M} - k_used AS BIGINT) AS v_zero,
         CAST(s_hit + ({HLL_M} - k_used) * {_HLL_SCALE} AS BIGINT) AS s_scaled
  FROM allrows
)
SELECT g, v_zero, s_scaled, {_A22_EST_SQL} AS hll_estimate
FROM scalars
ORDER BY g
"""


SPECS.append(QuerySpec("a22_hll_union", a22_hll_union, A22_HLL_UNION_ORACLE))


def x_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour by sweep line: every session
    (gap-based, the x_sessionization kernel) emits +1 at its start and
    -1 at its end; the running sum of deltas IS the concurrency, and
    its per-hour max is the capacity-planning curve. Boundary ties are
    inclusive (at equal ts, starts order before ends — a session ending
    at T counts as concurrent with one starting at T) under the total
    order (ts, d desc, user_id, session_id).

    100-TB shape: the naive sweep is ONE global ordered running sum —
    unbounded data through one task. This is the two-level prefix-sum
    construction instead (the dense_ids pattern): a running sum WITHIN
    each hour partition plus each hour's carry-in offset, where the
    offsets come from a window over per-hour totals — bounded metadata
    (one row per hour), never the event stream."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize_events(events)
    sessions = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    )
    deltas = sessions.select(
        F.col("start_ts").alias("ts"), F.lit(1).alias("d"), "user_id", "session_id"
    ).unionByName(
        sessions.select(
            F.col("end_ts").alias("ts"), F.lit(-1).alias("d"), "user_id", "session_id"
        )
    )
    deltas = deltas.withColumn(
        "hour", F.date_trunc("hour", F.col("ts"))
    )
    within = Window.partitionBy("hour").orderBy(
        F.col("ts"), F.col("d").desc(), F.col("user_id"), F.col("session_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = deltas.withColumn("run", F.sum("d").over(within))
    hour_totals = deltas.groupBy("hour").agg(
        F.sum("d").alias("hd"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("bigint").alias("starts"),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).cast("bigint").alias("ends"),
    )
    offsets = hour_totals.select(
        "hour",
        "starts",
        "ends",
        F.coalesce(
            F.sum("hd").over(
                Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("carry"),
    )
    return (
        running.join(F.broadcast(offsets), "hour")
        .groupBy("hour", "starts", "ends", "carry")
        .agg(F.max(F.col("carry") + F.col("run")).cast("bigint").alias("peak"))
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("peak").alias("max_concurrency"),
            "starts",
            "ends",
        )
        .orderBy("hour")
    )


X_CONCURRENCY_ORACLE = f"""
WITH s AS (
  SELECT user_id, event_id, ts,
         SUM(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM (
    SELECT user_id, event_id, ts,
           CASE WHEN prev_ts IS NULL
                  OR date_diff('second', prev_ts, ts) > {SESSION_GAP_SEC}
                THEN 1 ELSE 0 END AS newsess
    FROM (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
  )
),
sessions AS (
  SELECT user_id, session_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts
  FROM s GROUP BY user_id, session_id
),
deltas AS (
  SELECT start_ts AS ts, 1 AS d, user_id, session_id FROM sessions
  UNION ALL
  SELECT end_ts AS ts, -1 AS d, user_id, session_id FROM sessions
),
runs AS (
  SELECT date_trunc('hour', ts) AS hour, d,
         SUM(d) OVER (ORDER BY ts, d DESC, user_id, session_id) AS conc
  FROM deltas
)
SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(MAX(conc) AS BIGINT) AS max_concurrency,
       CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS starts,
       CAST(SUM(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS ends
FROM runs
GROUP BY hour
ORDER BY hour
"""


SPECS.append(
    QuerySpec("x_concurrency_curve", x_concurrency_curve, X_CONCURRENCY_ORACLE)
)


def a23_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group binned quantiles — the shape the scale path actually
    ships as (p50/p99 latency per service, spend percentiles per
    segment): GLOBAL bounds from one pass (shared bins keep the
    histograms mergeable ACROSS groups — per-group bounds would make
    group sketches incomparable and un-unionable), one (group, bin)
    fold, per-group interpolation by window over the histogram.

    Same determinism argument as a21 (exact integers + one mirrored
    float interpolation); same err_bound contract — one bin width
    around the TYPE-1 (rank-ceil(q*N)) quantile, see a21's note.

    100-TB shape: two scans total for EVERY group at once — bounds +
    a single map-side-combinable (group, bin) aggregate; adding a
    group adds histogram rows, never a pass, and nothing is collected,
    so the group count is unbounded."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").cast("double").alias("x"),
    )
    return spark.sql(
        f"""
SELECT g, q, estimate, bin, bin_n, err_bound
FROM ({_qb_sql("{src}", QB_BINS, QB_QUANTILES, True)}) pick
ORDER BY g, q""",
        src=o,
    )


A23_GQ_ORACLE = f"""
WITH src AS (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_totalprice IS NOT NULL
),
bounds AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM src),
hist AS (
  SELECT g,
         CASE WHEN (SELECT mx FROM bounds) = (SELECT mn FROM bounds) THEN 0
              ELSE CAST(LEAST({QB_BINS - 1},
              floor((x - (SELECT mn FROM bounds))
                    / ((SELECT mx FROM bounds) - (SELECT mn FROM bounds))
                    * {QB_BINS})) AS INT) END AS bin,
         COUNT(*) AS n
  FROM src GROUP BY 1, 2
),
cum AS (
  SELECT g, bin, n,
         COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM hist
),
tot AS (SELECT g, SUM(n) AS total FROM hist GROUP BY g),
qs AS (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                             (CAST(0.99 AS DOUBLE))) AS v(q)),
pick AS (
  SELECT g, q, bin, n, cb FROM (
    SELECT cum.g, qs.q, cum.bin, cum.n, cum.cb,
           ROW_NUMBER() OVER (PARTITION BY cum.g, qs.q ORDER BY cum.bin) AS rn
    FROM qs JOIN cum ON TRUE
    JOIN tot ON tot.g = cum.g AND cum.cb + cum.n >= qs.q * tot.total
  ) WHERE rn = 1
)
SELECT g, q,
       (SELECT mn FROM bounds)
         + (bin + (q * (SELECT total FROM tot t WHERE t.g = pick.g) - cb) / n)
           * (((SELECT mx FROM bounds) - (SELECT mn FROM bounds)) / {QB_BINS})
         AS estimate,
       bin,
       CAST(n AS BIGINT) AS bin_n,
       ((SELECT mx FROM bounds) - (SELECT mn FROM bounds)) / {QB_BINS} AS err_bound
FROM pick
ORDER BY g, q
"""


SPECS.append(
    QuerySpec("a23_grouped_quantiles", a23_grouped_quantiles, A23_GQ_ORACLE)
)


def a24_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation by count-min inner product (Cormode &
    Muthukrishnan 2005, §4.2): |A join B on k| = sum_k fA(k)·fB(k),
    estimated as min over the d hash rows of the sketch dot product
    sum_j CA[i][j]·CB[i][j] — an overestimate, never an under. The
    statistic a cost-based planner wants BEFORE committing to a join
    strategy at 100 TB: two 4x256 integer sketches (already maintainable
    incrementally per partition — see a22's merge contract) replace a
    full pre-join of the fact tables. Sides: orders.o_custkey vs
    customer.c_custkey — two single-table builds; the estimator only
    sees key frequencies, so any key pair works identically.

    The kernel is :func:`cms_join_cardinality` (NULL keys join nothing,
    so they stay out of both sketches); this key projects its row onto
    the join-size columns and the overcount ratio. A disjoint join has
    no exact size, so the guarantee and the ratio are NULL too."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return cms_join_cardinality(o, c).select(
        F.col("exact_pairs").alias("exact_join_size"),
        F.col("cms_estimate").alias("cms_join_size"),
        "never_undercounts",
        F.when(F.col("exact_pairs") == 0, F.lit(0.0))
        .otherwise(F.col("cms_estimate").cast("double") / F.col("exact_pairs").cast("double"))
        .alias("overcount_ratio"),
    )


A24_CMS_JOIN_ORACLE = f"""
WITH a AS (SELECT o_custkey AS v FROM orders),
b AS (SELECT c_custkey AS v FROM customer),
pa AS (SELECT v, COUNT(*) AS cnt FROM a GROUP BY v),
pb AS (SELECT v, COUNT(*) AS cnt FROM b GROUP BY v),
sa AS (
  SELECT i, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8)
                AS BIGINT) % {CMS_W} AS bkt, SUM(cnt) AS c
  FROM pa, unnest([{_CMS_SEEDS_SQL}]) AS s(i) GROUP BY 1, 2
),
sb AS (
  SELECT i, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8)
                AS BIGINT) % {CMS_W} AS bkt, SUM(cnt) AS c
  FROM pb, unnest([{_CMS_SEEDS_SQL}]) AS s(i) GROUP BY 1, 2
),
dots AS (
  SELECT sa.i, SUM(sa.c * sb.c) AS dot
  FROM sa JOIN sb ON sa.i = sb.i AND sa.bkt = sb.bkt
  GROUP BY sa.i
),
est AS (SELECT CAST(MIN(dot) AS BIGINT) AS cms_join_size FROM dots),
ex AS (
  SELECT CAST(SUM(pa.cnt * pb.cnt) AS BIGINT) AS exact_join_size
  FROM pa JOIN pb USING (v)
)
SELECT exact_join_size, cms_join_size,
       cms_join_size >= exact_join_size AS never_undercounts,
       CASE WHEN exact_join_size = 0 THEN 0.0
            ELSE CAST(cms_join_size AS DOUBLE) / CAST(exact_join_size AS DOUBLE)
       END AS overcount_ratio
FROM est, ex
"""


SPECS.append(QuerySpec("a24_cms_join_size", a24_cms_join_size, A24_CMS_JOIN_ORACLE))


def x_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's activity DAYS collapse into
    maximal consecutive-day islands via the date - row_number trick
    (consecutive days share the anchor date), then each user reports
    their longest streak. The engagement metric every product team
    asks for, and the canonical islands shape a SQL surface must
    express.

    100-TB shape: one distinct over (user, day), one keyed window,
    one two-level aggregate — everything shuffles on user_id only."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    best = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("longest_streak_days"),
            "streak_start",
            "streak_end",
        )
        .orderBy("user_id")
    )


X_STREAKS_ORACLE = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
anchored AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT)
           AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, anchor, COUNT(*) AS len,
         MIN(day) AS streak_start, MAX(day) AS streak_end
  FROM anchored GROUP BY user_id, anchor
)
SELECT user_id, CAST(len AS BIGINT) AS longest_streak_days,
       streak_start, streak_end
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY len DESC, streak_start) AS rn
  FROM streaks
) WHERE rn = 1
ORDER BY user_id
"""


SPECS.append(QuerySpec("x_activity_streaks", x_activity_streaks, X_STREAKS_ORACLE))


#: Correlation-matrix columns (a25): the lineitem measures.
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _a25_suffstats_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE aggregation carrying every sufficient statistic the full
    pairwise matrix needs: per-column exact-decimal sums and squares,
    per-pair exact-decimal cross sums — order-independent by
    exactness, so the shuffle layout can never move a correlation."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = {c: F.col(c).cast("decimal(18,4)") for c in CORR_COLS}
    aggs = [F.count("*").alias("n")]
    for c, e in cols.items():
        aggs.append(F.sum(e).cast("decimal(38,8)").alias(f"s_{c}"))
        aggs.append(F.sum(e * e).cast("decimal(38,8)").alias(f"ss_{c}"))
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            aggs.append(
                F.sum(cols[a] * cols[b]).cast("decimal(38,8)").alias(f"x_{a}_{b}")
            )
    return li.agg(*aggs)


def _a25_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {"suffstats": _a25_suffstats_frame(spark, sf_dir)}


def a25_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    from ONE pass of exact-decimal sufficient statistics (sums, squares,
    cross products) — 6 pairs, 15 aggregates, a single scan; adding a
    column adds aggregates, never a pass (the a4/a5 one-pass
    discipline; the reference profiles column-by-column).

    Determinism: the sufficient statistics are exact decimals (sums of
    decimal(18,4) products — order-free); each correlation is then one
    float expression over those scalars, mirrored
    operation-for-operation in the oracle (math.sqrt, never **0.5).
    The one unpinnable step is the wide-decimal -> double CONVERSION
    itself (python rounds the Decimal correctly; DuckDB's int128 path
    can differ by 1 ulp at sf0.1 magnitudes — observed as a hash
    mismatch), so the emitted correlation snaps to the 1e9 grid, the
    PageRank honesty idiom: a 1-ulp operand drift moves a [-1, 1]
    correlation by ~1e-16 against a 1e-9 step.

    100-TB shape: one map-side-combinable aggregate; the matrix math
    happens on 1 row."""
    import math

    row = _a25_suffstats_frame(spark, sf_dir).collect()[0]
    n = int(row["n"])
    out = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            sx, sy = float(row[f"s_{a}"]), float(row[f"s_{b}"])
            sxx, syy = float(row[f"ss_{a}"]), float(row[f"ss_{b}"])
            sxy = float(row[f"x_{a}_{b}"])
            vx = n * sxx - sx * sx
            vy = n * syy - sy * sy
            if n == 0 or vx <= 0 or vy <= 0:
                corr = None
            else:
                corr = (n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))
                corr = math.floor(corr * 1e9 + 0.5) / 1e9
            out.append((a, b, corr, n))
    return spark.createDataFrame(
        out, "col_a STRING, col_b STRING, corr DOUBLE, n BIGINT"
    )


def _a25_oracle() -> str:
    pair_rows = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            pair_rows.append(f"""
  SELECT '{a}' AS col_a, '{b}' AS col_b,
         CASE WHEN n = 0 OR n * ss_{a} - s_{a} * s_{a} <= 0
                   OR n * ss_{b} - s_{b} * s_{b} <= 0 THEN NULL
              ELSE floor((n * x_{a}_{b} - s_{a} * s_{b})
                   / (sqrt(n * ss_{a} - s_{a} * s_{a})
                      * sqrt(n * ss_{b} - s_{b} * s_{b})) * 1e9 + 0.5) / 1e9
              END AS corr,
         n
  FROM stats""")
    sums = ["COUNT(*) AS n"]
    for c in CORR_COLS:
        sums.append(
            f"CAST(CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS DOUBLE) AS s_{c}"
        )
        sums.append(
            f"CAST(CAST(SUM(CAST({c} AS DECIMAL(19,4)) * CAST({c} AS DECIMAL(19,4))) AS DECIMAL(38,8)) AS DOUBLE) AS ss_{c}"
        )
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            sums.append(
                f"CAST(CAST(SUM(CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(19,4))) AS DECIMAL(38,8)) AS DOUBLE) AS x_{a}_{b}"
            )
    body = " UNION ALL".join(pair_rows)
    return (
        "WITH stats AS (\n  SELECT " + ",\n         ".join(sums)
        + "\n  FROM lineitem\n)" + body + "\nORDER BY col_a, col_b"
    )


SPECS.append(
    QuerySpec("a25_corr_matrix", a25_corr_matrix, _a25_oracle(), probes=_a25_frames)
)


def x_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: per
    user, consecutive event pairs (ts, event_id order) count into
    n(cur -> next); each row of the matrix normalizes by the source
    state's outgoing total. The journey-analysis primitive (where do
    users go after a signup? what precedes an error?) and the input to
    next-step prediction and absorbing-state analysis.

    Determinism: counts are exact; each probability is one int/int
    division mirrored in the oracle. 100-TB shape: one keyed lag
    window + one (cur, next) aggregate — shuffles on user_id then on
    the 5x5 state-pair domain (map-side combinable to almost
    nothing)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("cur_type"),
            F.col("next_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("cur_type").agg(F.sum("n").alias("out_total"))
    return (
        pairs.join(F.broadcast(totals), "cur_type")
        .select(
            "cur_type",
            "next_type",
            F.col("n").cast("bigint").alias("n"),
            (F.col("n").cast("double") / F.col("out_total").cast("double")).alias(
                "p"
            ),
        )
        .orderBy("cur_type", "next_type")
    )


X_TRANSITIONS_ORACLE = """
WITH pairs AS (
  SELECT event_type AS cur_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
),
counts AS (
  SELECT cur_type, next_type, COUNT(*) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY cur_type, next_type
),
totals AS (SELECT cur_type, SUM(n) AS out_total FROM counts GROUP BY cur_type)
SELECT cur_type, next_type, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / CAST(out_total AS DOUBLE) AS p
FROM counts JOIN totals USING (cur_type)
ORDER BY cur_type, next_type
"""


SPECS.append(QuerySpec("x_event_transitions", x_event_transitions, X_TRANSITIONS_ORACLE))


def ivm_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (the delta-join algebra
    ivm_agg_refresh's monoid merge doesn't cover): the maintained view
    is orders ⋈ customer; with the dimension static the exact delta is
    ΔV = ΔA ⋈ B over only the orders on/after :data:`IVM_SPLIT` — the
    refresh never rescans the base fact range. Correctness is proven
    IN the result: both sides carry an order-free fingerprint (sum of
    md5-derived row ints — a commutative monoid, so
    fp(base) + fp(delta) must equal fp(full recompute) exactly), and
    the oracle recomputes everything from scratch. A fingerprint
    mismatch would flip `fingerprint_match` and fail the value-hash
    gate.

    100-TB shape: the delta branch is a date-filtered scan (predicate
    pushed to parquet — asserted in the plan tests) joined against the
    broadcastable dimension; refresh cost tracks |Δ|, not |V|. The
    general bilinear form (both sides changing) adds the symmetric
    A ⋈ ΔB and ΔA ⋈ ΔB terms — same algebra, same fingerprint
    proof."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    split = F.lit(IVM_SPLIT).cast("date")

    def fp(joined: DataFrame):
        row_fp = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("c_custkey").cast("string"),
                        F.col("c_mktsegment"),
                    )
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("bigint")
        # 56-bit row fingerprints sum past int64 within ~100 rows; the
        # accumulator is exact DECIMAL(38,0) (DuckDB's BIGINT SUM is
        # already HUGEINT) — good to ~10^21 rows.
        return joined.agg(
            F.count("*").alias("n"),
            F.sum(row_fp.cast("decimal(38,0)")).alias("fp"),
        )

    base = fp(
        o.filter(F.col("o_orderdate") < split).join(c, o.o_custkey == c.c_custkey)
    ).collect()[0]
    delta = fp(
        o.filter(F.col("o_orderdate") >= split).join(c, o.o_custkey == c.c_custkey)
    ).collect()[0]
    full = fp(o.join(c, o.o_custkey == c.c_custkey)).collect()[0]
    b_n, b_fp = int(base["n"] or 0), int(base["fp"] or 0)
    d_n, d_fp = int(delta["n"] or 0), int(delta["fp"] or 0)
    f_n, f_fp = int(full["n"] or 0), int(full["fp"] or 0)
    return spark.createDataFrame(
        [
            (
                b_n,
                d_n,
                b_n + d_n,
                f_n,
                b_fp + d_fp == f_fp,
            )
        ],
        "base_rows BIGINT, delta_rows BIGINT, refreshed_rows BIGINT, "
        "full_rows BIGINT, fingerprint_match BOOLEAN",
    )


IVM_JOIN_ORACLE = f"""
WITH j AS (
  SELECT o_orderkey, c_custkey, c_mktsegment, o_orderdate
  FROM orders JOIN customer ON o_custkey = c_custkey
),
fps AS (
  SELECT o_orderdate >= DATE '{IVM_SPLIT}' AS is_delta,
         COUNT(*) AS n,
         SUM(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                 || CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment), 1, 14)
             AS BIGINT)) AS fp
  FROM j GROUP BY 1
),
base AS (SELECT COALESCE(SUM(CASE WHEN NOT is_delta THEN n END), 0) AS n,
                COALESCE(SUM(CASE WHEN NOT is_delta THEN fp END), 0) AS fp FROM fps),
delta AS (SELECT COALESCE(SUM(CASE WHEN is_delta THEN n END), 0) AS n,
                 COALESCE(SUM(CASE WHEN is_delta THEN fp END), 0) AS fp FROM fps),
full_v AS (SELECT COALESCE(SUM(n), 0) AS n, COALESCE(SUM(fp), 0) AS fp FROM fps)
SELECT CAST(base.n AS BIGINT) AS base_rows,
       CAST(delta.n AS BIGINT) AS delta_rows,
       CAST(base.n + delta.n AS BIGINT) AS refreshed_rows,
       CAST(full_v.n AS BIGINT) AS full_rows,
       base.fp + delta.fp = full_v.fp AS fingerprint_match
FROM base, delta, full_v
"""


def _ivm_join_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Plan probes: the delta branch (date filter must reach the scan)
    and the full-recompute verifier."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    split = F.lit(IVM_SPLIT).cast("date")
    delta = o.filter(F.col("o_orderdate") >= split).join(
        c, o.o_custkey == c.c_custkey
    )
    return {"delta_join": delta, "full_join": o.join(c, o.o_custkey == c.c_custkey)}


SPECS.append(
    QuerySpec(
        "ivm_join_refresh", ivm_join_refresh, IVM_JOIN_ORACLE, probes=_ivm_join_frames
    )
)


# ---------------------------------------------------------------------------
# Generic sketch kernels (df, col) — the reusable forms behind a18/a19/
# a21, consumed by the `sketch` CLI verb. Same expressions, any input.
# ---------------------------------------------------------------------------


def _hll_rho_frame(df: DataFrame, col: str, group_cols: list) -> DataFrame:
    """(group..., j, r): the ONE copy of the md5 60-bit hash → register
    index / rho projection shared by the global fold (hll_fold) and the
    grouped fold (hll_fold_by_group) — a fix to the hash algebra lands
    in every consumer at once. NULLs are excluded from the sketch
    domain: md5(NULL) is NULL, so a 257th j=NULL register row would
    inflate k_used and corrupt the linear-counting zero-register term
    (round-9 ADVICE)."""
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    hashed = df.filter(F.col(col).isNotNull()).select(*group_cols, h.alias("h"))
    w = F.col("h") % _HLL_WMOD
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    return hashed.select(
        *group_cols, F.expr(f"h div {_HLL_WMOD}").alias("j"), rho.alias("r")
    )


_HLL_SHIFT_EXPR = (
    f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_WBITS + 1} - mj AS INT))"
)


def hll_fold(df: DataFrame, col: str) -> DataFrame:
    """(k_used, s_hit): the HLL register fold of ``df[col]`` — identical
    algebra to a18 (md5 60-bit hash, 256 registers, scaled harmonic
    sum), parameterized over any frame/column. Hash/rho projection
    shared with the grouped fold via :func:`_hll_rho_frame`. Note the
    empty-input contract difference: this GLOBAL fold always returns
    one row (k_used=0 on empty input); the grouped fold returns zero
    rows for absent groups."""
    return (
        _hll_rho_frame(df, col, [])
        .groupBy("j")
        .agg(F.max("r").alias("mj"))
        .agg(
            F.count("*").alias("k_used"),
            F.sum(F.expr(_HLL_SHIFT_EXPR)).alias("s_hit"),
        )
    )


def hll_estimate(df: DataFrame, col: str) -> float:
    """Grid-snapped HLL cardinality estimate of ``df[col]`` (the a18
    estimator over :func:`hll_fold`'s exact integers)."""
    row = hll_fold(df, col).collect()[0]
    return _hll_est_parts(row["k_used"], row["s_hit"])[2]


def cms_heavy_hitters(df: DataFrame, col: str, top: int = CMS_TOP) -> DataFrame:
    """(value, exact_cnt, cms_estimate): a19's pre-aggregated build and
    probe over any frame/column, all lazy. The top-``top`` candidates
    probe the d×w cells by broadcast (≤ d·w rows, the sketch hint
    class)."""
    # NULL keys are excluded from the sketch domain: concat_ws DROPS a
    # NULL arg, so a NULL key would hash as md5(str(seed)) and diverge
    # from any NULL-propagating oracle concat.
    vals = df.filter(F.col(col).isNotNull()).select(F.col(col).alias("v"))
    per_v = vals.groupBy("v").agg(F.count("*").alias("exact_cnt"))
    cand = per_v.orderBy(F.col("exact_cnt").desc(), "v").limit(top)
    return (
        _cms_estimate(cand, F.broadcast(_cms_cells(per_v, "v", "exact_cnt")), "v")
        .withColumnRenamed("c", "cms_estimate")
        .orderBy(F.col("exact_cnt").desc(), "v")
    )


HH_TOP = 5  # heavy keys reported per group/micro-batch


def cms_heavy_hitters_by_group(
    df: DataFrame, key_col: str, group_col: str, top: int = HH_TOP
) -> DataFrame:
    """Per-group CMS heavy hitters — the skew early-warning kernel
    shared by the st_heavy_hitters batch twin (group = event day) and
    the foreachBatch stream monitor (group = micro-batch id). Emits
    (group, rank, key, exact_cnt, cms_estimate, share_ppm,
    never_undercounts): the top ``top`` keys per group with their
    sketch estimate next to the truth and their integer-exact
    parts-per-million share of the group's rows — the number a
    salted-join / repartition decision reads.

    One (group, key) pre-aggregation, a d×w-per-group cell fold, a
    rank window over the pre-aggregated keys, and a probe join keyed by
    (group, i, b). 100-TB shape: per-group sketch state is
    bounded at d·w cells; the only key-domain-sized frame is the
    pre-aggregation, which is map-side-combinable; nothing broadcasts
    (cells scale with |groups|, so the probe hash-joins)."""
    reserved = ("v", "exact_cnt", "i", "b", "c", "rank", "n_rows",
                "cms_estimate", "share_ppm", "never_undercounts")
    if group_col in reserved:
        raise ValueError(f"cms_heavy_hitters_by_group: reserved group_col {group_col!r}")
    vals = df.filter(F.col(key_col).isNotNull()).select(
        group_col, F.col(key_col).alias("v")
    )
    per_v = vals.groupBy(group_col, "v").agg(F.count("*").alias("exact_cnt"))
    tot = per_v.groupBy(group_col).agg(F.sum("exact_cnt").alias("n_rows"))
    cells = _cms_cells(per_v, "v", "exact_cnt", group_cols=(group_col,))
    w = Window.partitionBy(group_col).orderBy(F.col("exact_cnt").desc(), "v")
    cand = (
        per_v.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top)
    )
    return (
        _cms_estimate(cand, cells, "v", group_cols=(group_col,))
        .join(tot, group_col)
        .select(
            group_col,
            "rank",
            "v",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("c").alias("cms_estimate"),
            F.expr("exact_cnt * 1000000L div n_rows").alias("share_ppm"),
            (F.col("c") >= F.col("exact_cnt")).alias("never_undercounts"),
        )
    )


def binned_quantiles(df: DataFrame, col: str, qs=QB_QUANTILES) -> list:
    """[(q, estimate, err_bound)] in ``qs`` order: a21's equi-width
    histogram estimator (type-1 quantile target) over any frame/numeric
    column; NULL rows are excluded, an all-NULL column gives []."""
    # a temp view, not a spark.sql parameter: the caller's frame may be
    # cached, and substitution would unregister it (util/sqlview.py)
    src = temp_view_for(df.select(F.col(col).cast("double").alias("x")), "qb")
    rows = df.sparkSession.sql(_qb_sql(src, QB_BINS, qs, False)).collect()
    picks = {r["q"]: (r["q"], r["estimate"], r["err_bound"]) for r in rows}
    return [picks[float(q)] for q in qs if float(q) in picks]


# ---------------------------------------------------------------------------
# Round 10: autocorrelation, decomposition strength, histogram merge.
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 6  # autocorrelation lags evaluated (hours)


def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series, per
    event type and lag 1..ACF_MAX_LAG — the diagnostic that PICKS the
    seasonal-naive lag ts_forecast_backtest assumes and the window
    widths ts_decompose hard-codes (a daily cycle shows as a peak at
    lag 24; short-memory noise decays by lag 2-3).

    ACF(k) here is the Pearson correlation between the series and its
    k-hour lag over all present hour pairs (missing hours drop out of
    the inner join — no imputation). Determinism: every sufficient
    statistic (n, Σx, Σy, Σxy, Σx², Σy²) is an exact bigint; the two
    variance factors stay below 2^53 so their doubles are exact;
    sqrt is correctly rounded everywhere; the single final division
    lands on the tie-free 1e-9 grid.

    100-TB shape: one map-side-combinable aggregate to hourly grain,
    then everything runs over the bucketed series (|types| × |hours| ×
    ACF_MAX_LAG rows — bounded by wall-clock time, not events); the
    lag join keys on (event_type, hour) — the grain's own shuffle."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        "event_type",
    ).agg(F.count("*").alias("x"))
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(1, ACF_MAX_LAG + 1)])
    ).alias("lag")
    left = c.select("event_type", "h", "x", lags)
    right = c.select(
        "event_type", F.col("h").alias("h2"), F.col("x").alias("y")
    )
    stats = (
        left.join(
            right,
            (left.event_type == right.event_type)
            & (F.col("h2") == F.col("h") + F.col("lag")),
        )
        .drop(right.event_type)
        .groupBy("event_type", "lag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sx2"),
            F.sum(F.col("y") * F.col("y")).alias("sy2"),
        )
    )
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    vx = (
        F.col("n").cast("double") * F.col("sx2").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    vy = (
        F.col("n").cast("double") * F.col("sy2").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    acf = F.when(
        (vx > 0) & (vy > 0),
        F.floor(num / (F.sqrt(vx) * F.sqrt(vy)) * 1e9 + F.lit(0.5)) / 1e9,
    ).otherwise(F.lit(None).cast("double"))
    return (
        stats.select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            F.col("n").cast("bigint").alias("n_pairs"),
            acf.alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


TS_ACF_ORACLE = f"""
WITH c AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
         event_type, COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT l.event_type, g.lag,
         CAST(l.x AS BIGINT) AS x, CAST(r.x AS BIGINT) AS y
  FROM c l
  JOIN unnest(generate_series(1, {ACF_MAX_LAG})) AS g(lag) ON TRUE
  JOIN c r ON r.event_type = l.event_type AND r.h = l.h + g.lag
),
stats AS (
  SELECT event_type, lag, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sx2,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM lagged GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN (CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx) > 0
             AND (CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy) > 0
            THEN floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (sqrt(CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy))
                       * 1000000000.0 + 0.5) / 1000000000.0
            ELSE NULL END AS acf
FROM stats
ORDER BY event_type, lag
"""


SPECS.append(QuerySpec("ts_acf", ts_acf, TS_ACF_ORACLE))


def ts_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend/seasonal STRENGTH of the ts_decompose components, per event
    type — Hyndman & Wang's F_T = max(0, 1 - Var(R)/Var(T+R)) and
    F_S = max(0, 1 - Var(R)/Var(S+R)): the one-number answer to "is
    this series actually seasonal/trending, or is the decomposition
    fitting noise", i.e. which series ts_forecast_backtest's
    seasonal-naive lag is even appropriate for.

    Determinism: the decomposition components are already on the
    tie-free 1e-8 decimal grid, so T+R = cnt - seasonal and S+R =
    cnt - trend are exact decimals; every variance numerator
    n·Σx² − (Σx)² is computed entirely in exact decimal (the shared-n
    denominators cancel in the ratio), and the single final division
    snaps to the 1e-6 grid. 100-TB shape: inherits ts_decompose's
    (bucketed series only), plus one aggregate per type."""
    # operands cast DOWN to decimal(18,8) before squaring: Spark's
    # (19,8)x(19,8) product needs precision 39, which caps at 38 and
    # silently ROUNDS the scale to 15 — (18,8)x(18,8) = (37,16) stays
    # exact and matches the oracle's int128 products bit for bit
    # (round-10 review finding; values are component-sized, far inside
    # decimal(18,8))
    d = ts_decompose(spark, sf_dir).select(
        "event_type",
        F.col("residual").cast("decimal(18,8)").alias("r"),
        (F.col("cnt").cast("decimal(18,8)") - F.col("seasonal"))
        .cast("decimal(18,8)")
        .alias("tr"),
        (F.col("cnt").cast("decimal(18,8)") - F.col("trend"))
        .cast("decimal(18,8)")
        .alias("sr"),
    )
    sums = d.groupBy("event_type").agg(
        F.count("*").cast("decimal(18,0)").alias("n"),
        F.sum("r").cast("decimal(38,8)").alias("s_r"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(38,16)")).alias("s_r2"),
        F.sum("tr").cast("decimal(38,8)").alias("s_tr"),
        F.sum((F.col("tr") * F.col("tr")).cast("decimal(38,16)")).alias("s_tr2"),
        F.sum("sr").cast("decimal(38,8)").alias("s_sr"),
        F.sum((F.col("sr") * F.col("sr")).cast("decimal(38,16)")).alias("s_sr2"),
    )

    def var_num(s2, s):  # n·Σx² − (Σx)², exact decimal
        return (
            F.col("n") * F.col(s2) - (F.col(s) * F.col(s)).cast("decimal(38,16)")
        ).cast("double")

    def strength(s2, s):
        ratio = var_num("s_r2", "s_r") / var_num(s2, s)
        return F.when(
            var_num(s2, s) > 0,
            F.floor(
                F.greatest(F.lit(0.0), F.lit(1.0) - ratio) * 1e6 + F.lit(0.5)
            )
            / 1e6,
        ).otherwise(F.lit(None).cast("double"))

    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        strength("s_tr2", "s_tr").alias("strength_trend"),
        strength("s_sr2", "s_sr").alias("strength_seasonal"),
    ).orderBy("event_type")


TS_STL_STRENGTH_ORACLE = f"""
WITH decomp AS ({TS_DECOMPOSE_ORACLE}),
parts AS (
  SELECT event_type,
         CAST(residual AS DECIMAL(19,8)) AS r,
         CAST(CAST(cnt AS DECIMAL(18,8)) - seasonal AS DECIMAL(19,8)) AS tr,
         CAST(CAST(cnt AS DECIMAL(18,8)) - trend AS DECIMAL(19,8)) AS sr
  FROM decomp
),
sums AS (
  SELECT event_type,
         CAST(COUNT(*) AS DECIMAL(18,0)) AS n,
         CAST(SUM(r) AS DECIMAL(38,8)) AS s_r,
         CAST(SUM(CAST(r * r AS DECIMAL(38,16))) AS DECIMAL(38,16)) AS s_r2,
         CAST(SUM(tr) AS DECIMAL(38,8)) AS s_tr,
         CAST(SUM(CAST(tr * tr AS DECIMAL(38,16))) AS DECIMAL(38,16)) AS s_tr2,
         CAST(SUM(sr) AS DECIMAL(38,8)) AS s_sr,
         CAST(SUM(CAST(sr * sr AS DECIMAL(38,16))) AS DECIMAL(38,16)) AS s_sr2
  FROM parts GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_hours,
       CASE WHEN CAST(n * s_tr2 - CAST(s_tr * s_tr AS DECIMAL(38,16)) AS DOUBLE) > 0
            THEN floor(GREATEST(0.0, 1.0 -
                   CAST(n * s_r2 - CAST(s_r * s_r AS DECIMAL(38,16)) AS DOUBLE)
                   / CAST(n * s_tr2 - CAST(s_tr * s_tr AS DECIMAL(38,16)) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE NULL END AS strength_trend,
       CASE WHEN CAST(n * s_sr2 - CAST(s_sr * s_sr AS DECIMAL(38,16)) AS DOUBLE) > 0
            THEN floor(GREATEST(0.0, 1.0 -
                   CAST(n * s_r2 - CAST(s_r * s_r AS DECIMAL(38,16)) AS DOUBLE)
                   / CAST(n * s_sr2 - CAST(s_sr * s_sr AS DECIMAL(38,16)) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0
            ELSE NULL END AS strength_seasonal
FROM sums
ORDER BY event_type
"""


SPECS.append(QuerySpec("ts_stl_strength", ts_stl_strength, TS_STL_STRENGTH_ORACLE))


HIST_UNION_BINS = 64  # a26: equi-width bins (shared global bounds)


def a26_hist_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram mergeability proof — a21/a23's missing third leg (a22
    proved it for HLL registers): per-o_orderstatus equi-width
    histograms of o_totalprice over SHARED global bounds, merged by
    summing bin counts, must equal the single-pass histogram over the
    union — the property that lets per-partition/per-day histogram
    sketches roll up without rescanning history. The oracle computes
    the __merged__ rows DIRECTLY from the raw rows (single pass), so
    the value-hash gate itself is the mergeability proof.

    All counts exact integers; the histogram is :func:`_qb_hist_sql`,
    a21's sketch text (shared global bounds keep bins comparable across
    groups). 100-TB
    shape: one (group, bin) map-side-combinable aggregate, one
    bin-keyed rollup over |groups|×bins rows — bounded metadata."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("g"),
        F.col("o_totalprice").cast("double").alias("x"),
    )
    return spark.sql(
        f"""
WITH per_group AS ({_qb_hist_sql("{src}", HIST_UNION_BINS, True)})
SELECT g, bin, CAST(n AS BIGINT) AS n FROM per_group
UNION ALL
SELECT '__merged__' AS g, bin, CAST(SUM(n) AS BIGINT) AS n
FROM per_group GROUP BY bin
ORDER BY g, bin""",
        src=o,
    )


A26_HIST_UNION_ORACLE = f"""
WITH src AS (
  SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_totalprice IS NOT NULL
),
bounds AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM src),
binned AS (
  SELECT g,
         CASE WHEN (SELECT mx FROM bounds) = (SELECT mn FROM bounds) THEN 0
              ELSE CAST(LEAST({HIST_UNION_BINS - 1},
              floor((x - (SELECT mn FROM bounds))
                    / ((SELECT mx FROM bounds) - (SELECT mn FROM bounds))
                    * {HIST_UNION_BINS})) AS INT) END AS bin
  FROM src
)
SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS n FROM binned GROUP BY g, bin
UNION ALL
SELECT '__merged__' AS g, bin, CAST(COUNT(*) AS BIGINT) AS n
FROM binned GROUP BY bin
ORDER BY g, bin
"""


SPECS.append(QuerySpec("a26_hist_union", a26_hist_union, A26_HIST_UNION_ORACLE))


# ---------------------------------------------------------------------------
# Session-grain funnel (round 11): x_funnel answers "did the USER ever
# convert"; product analytics usually asks "did the SESSION convert" —
# a purchase in tonight's session does not rescue this morning's
# abandoned one. Same min-ts chain, per 30-minute session window.
# ---------------------------------------------------------------------------

_SF_GAP_S = 1800  # single source of truth for the session gap
SESSION_FUNNEL_GAP = f"{_SF_GAP_S} seconds"
_SF_GAP_US = _SF_GAP_S * 1_000_000


def _session_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construction-phase aggregation (shared with the plan probe): ONE
    shuffle on user_id into native session windows, per-session array
    expressions for the step chain, then the |sessions|→1 fold.

    100-TB shape: x_funnel's device at session grain — the collected
    per-session event arrays are bounded by session length (strictly
    tighter than x_funnel's per-user arrays), and no raw-stream window
    pass exists: ``F.session_window`` sessionizes inside the same hash
    aggregate that computes t1."""
    events = load_table(spark, sf_dir, "events")
    t1 = F.min(F.when(F.col("event_type") == FUNNEL_STEPS[0], F.col("ts")))
    per_sess = events.groupBy(
        "user_id", F.session_window("ts", SESSION_FUNNEL_GAP).alias("w")
    ).agg(
        t1.alias("t1"),
        F.collect_list(F.struct("ts", "event_type")).alias("evs"),
    )
    per_sess = per_sess.withColumn(
        "t2",
        F.expr(
            f"array_min(transform(filter(evs, e -> e.event_type = '{FUNNEL_STEPS[1]}'"
            " AND t1 IS NOT NULL AND e.ts > t1), e -> e.ts))"
        ),
    ).withColumn(
        "t3",
        F.expr(
            f"array_min(transform(filter(evs, e -> e.event_type = '{FUNNEL_STEPS[2]}'"
            " AND t2 IS NOT NULL AND e.ts > t2), e -> e.ts))"
        ),
    )
    return per_sess.agg(
        F.count("*").alias("n_sessions"),
        F.count("t1").alias("s1"),
        F.count("t2").alias("s2"),
        F.count("t3").alias("s3"),
    )


def x_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step SESSION conversion: one row per funnel step with the
    number of sessions whose earliest qualifying step-k event follows
    the session's step-(k-1) conversion time, total session count, and
    the conversion rate from step 1. Session boundary = 30-minute gap,
    the st_session_window semantics (half-open [start, last+gap))."""
    r = _session_funnel_counts(spark, sf_dir).collect()[0]
    rows = [
        (i + 1, FUNNEL_STEPS[i], int(r[f"s{i+1}"]), int(r["n_sessions"]))
        for i in range(3)
    ]
    out = spark.createDataFrame(
        rows, "step int, event_type string, n_sessions_converted long, n_sessions long"
    )
    # NULL conversion when no session ever reached step 1 (0/0 would be
    # NULL in Spark's non-ANSI divide but NaN/inf in the oracle's double
    # path — NULLIF on both sides pins the degenerate case to NULL).
    s1 = int(r["s1"])
    conv = (
        (F.col("n_sessions_converted").cast("double") / F.lit(float(s1)))
        if s1 > 0
        else F.lit(None).cast("double")
    )
    return out.withColumn("conversion", conv.cast("decimal(12,8)"))


X_SESSION_FUNNEL_ORACLE = f"""
WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= {_SF_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g),
sess1 AS (
  SELECT user_id, sid,
         MIN(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END) AS t1
  FROM s GROUP BY user_id, sid
),
sess2 AS (
  SELECT p.user_id, p.sid, p.t1,
         MIN(CASE WHEN e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > p.t1 THEN e.ts END) AS t2
  FROM sess1 p LEFT JOIN s e ON e.user_id = p.user_id AND e.sid = p.sid
  GROUP BY p.user_id, p.sid, p.t1
),
sess3 AS (
  SELECT u.user_id, u.sid, u.t1, u.t2,
         MIN(CASE WHEN e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > u.t2 THEN e.ts END) AS t3
  FROM sess2 u LEFT JOIN s e ON e.user_id = u.user_id AND e.sid = u.sid
  GROUP BY u.user_id, u.sid, u.t1, u.t2
),
c AS (SELECT COUNT(*) AS n_sessions, COUNT(t1) AS s1, COUNT(t2) AS s2,
             COUNT(t3) AS s3 FROM sess3)
SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type,
       CAST(s1 AS BIGINT) AS n_sessions_converted,
       CAST(n_sessions AS BIGINT) AS n_sessions,
       CAST(CAST(s1 AS DOUBLE) / NULLIF(CAST(s1 AS DOUBLE), 0) AS DECIMAL(12,8)) AS conversion FROM c
UNION ALL
SELECT 2, '{FUNNEL_STEPS[1]}', CAST(s2 AS BIGINT), CAST(n_sessions AS BIGINT),
       CAST(CAST(s2 AS DOUBLE) / NULLIF(CAST(s1 AS DOUBLE), 0) AS DECIMAL(12,8)) FROM c
UNION ALL
SELECT 3, '{FUNNEL_STEPS[2]}', CAST(s3 AS BIGINT), CAST(n_sessions AS BIGINT),
       CAST(CAST(s3 AS DOUBLE) / NULLIF(CAST(s1 AS DOUBLE), 0) AS DECIMAL(12,8)) FROM c
"""


SPECS.append(
    QuerySpec(
        "x_session_funnel",
        x_session_funnel,
        X_SESSION_FUNNEL_ORACLE,
        probes=lambda spark, sf: {"counts": _session_funnel_counts(spark, sf)},
    )
)


# ---------------------------------------------------------------------------
# a27: CMS join-cardinality estimation (round 12) — the sketch INNER
# PRODUCT (Cormode & Muthukrishnan 2005 §4.2): |A ⋈ B on k| = Σ_k
# cntA(k)·cntB(k) is estimated by min_i Σ_b cmsA[i][b]·cmsB[i][b], and
# the estimate NEVER undercounts. The query-planner helper a warehouse
# runs before committing to a join strategy: two d×w sketches (built
# map-side, one scan per side) answer "how big is this join" without
# shuffling either table on the key.
# ---------------------------------------------------------------------------


def cms_join_cardinality(a_keys: DataFrame, b_keys: DataFrame, w: int = CMS_W) -> DataFrame:
    """UPPER-BOUND |A ⋈ B on k| from two count-min sketches over
    single-column key frames (column ``k``). Emits one row:
    (exact_pairs, cms_estimate, never_undercounts, rel_err_ppm).

    ``w`` (round-12 verdict #5) is the accuracy/memory dial: the inner
    product's slack is additive ≈ ‖a‖₁·‖b‖₁/w, so a production caller
    sizes w ≈ ‖a‖₁·‖b‖₁ / tolerable_slack — rel_err tightens ~linearly
    in w (pinned by the w=256-vs-4096 fixture test) while the plan
    shape below never changes; only the bounded d·w cell count grows.

    100-TB shape: each side folds to d·w counters in one map-side-
    combinable pass over the PER-KEY counts (md5 per distinct key × d,
    not per raw row); the inner product joins two d·w-cell tables —
    driver-free, broadcast-legal (sketch class); the EXACT side exists
    only because the fixture is small enough to verify the guarantee —
    production runs the sketch alone, that being the point."""
    # ONE per-key count pass per side feeds BOTH the sketch (md5 per
    # distinct key × d, not per raw row × d) and the exact verifier —
    # the build hashes |keys|·d values instead of |rows|·d (4× fewer
    # md5s on the lineitem side; 1.38→5.28 s @10× measured before this)
    na = a_keys.filter(F.col("k").isNotNull()).groupBy("k").agg(F.count("*").alias("cnt"))
    nb = b_keys.filter(F.col("k").isNotNull()).groupBy("k").agg(F.count("*").alias("cnt"))
    est = (
        _cms_cells(na, "k", "cnt", w=w).withColumnRenamed("c", "ca")
        .join(_cms_cells(nb, "k", "cnt", w=w).withColumnRenamed("c", "cb"), ["i", "b"])
        .groupBy("i")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
        .agg(F.min("dot").cast("bigint").alias("cms_estimate"))
    )
    exact = (
        na.withColumnRenamed("cnt", "na")
        .join(nb.withColumnRenamed("cnt", "nb"), "k")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("exact_pairs"))
    )
    # 1-row × 1-row combine WITHOUT a join: a literal-key equi-join
    # constant-folds back into BroadcastNestedLoopJoin (audit offender),
    # so the two scalars union into one frame and fold with max()
    combined = (
        exact.select(
            F.col("exact_pairs"), F.lit(None).cast("bigint").alias("cms_estimate")
        )
        .unionByName(
            est.select(
                F.lit(None).cast("bigint").alias("exact_pairs"), "cms_estimate"
            )
        )
        .agg(
            F.max("exact_pairs").alias("exact_pairs"),
            F.max("cms_estimate").alias("cms_estimate"),
        )
    )
    # NULLIF guard (ADVICE r12): a degenerate/empty join leaves
    # exact_pairs NULL (SUM over nothing) or conceivably 0 — the ratio
    # pins to NULL in BOTH engines instead of relying on Spark's
    # non-ANSI div-by-zero behavior diverging from DuckDB's.
    return combined.select(
        "exact_pairs",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_pairs")).alias("never_undercounts"),
        F.expr(
            "(cms_estimate - exact_pairs) * 1000000L div nullif(exact_pairs, 0L)"
        ).alias("rel_err_ppm"),
    )


def a27_cms_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPPER-BOUND |orders ⋈ lineitem ON orderkey| via
    :func:`cms_join_cardinality` at the engine default w=CMS_W (the a19
    hash family, so both sketches AND the exact join size replay in
    DuckDB under the value-hash gate).

    Honest accuracy statement: the CMS inner product NEVER undercounts
    (the pinned guarantee) but at w=256 with 150k keys the fixture
    estimate runs ~59× the exact 60k (rel_err_ppm says so in the
    output). The planner use is therefore the one the bound supports:
    "this join produces AT MOST X pairs" — a cartesian-blowup tripwire,
    cheap enough to run before every large join — not a tight cost
    model. Production sizes ``w`` up through the kernel parameter (the
    fixture test shows rel_err_ppm tightening ~16× at w=4096)."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    return cms_join_cardinality(o, li)


A27_CMS_JOIN_ORACLE = f"""
WITH oa AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey IS NOT NULL),
lb AS (SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey IS NOT NULL),
sa AS (
  SELECT i, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 8)
                AS BIGINT) % {CMS_W} AS b, COUNT(*) AS ca
  FROM oa, unnest([{_CMS_SEEDS_SQL}]) AS s(i) GROUP BY 1, 2
),
sb AS (
  SELECT i, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 8)
                AS BIGINT) % {CMS_W} AS b, COUNT(*) AS cb
  FROM lb, unnest([{_CMS_SEEDS_SQL}]) AS s(i) GROUP BY 1, 2
),
dots AS (
  SELECT sa.i, SUM(ca * cb) AS dot FROM sa JOIN sb ON sa.i = sb.i AND sa.b = sb.b
  GROUP BY sa.i
),
est AS (SELECT CAST(MIN(dot) AS BIGINT) AS cms_estimate FROM dots),
exact AS (
  SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_pairs FROM
    (SELECT k, COUNT(*) AS na FROM oa GROUP BY k) a
    JOIN (SELECT k, COUNT(*) AS nb FROM lb GROUP BY k) b USING (k)
)
SELECT exact_pairs, cms_estimate,
       cms_estimate >= exact_pairs AS never_undercounts,
       CAST((cms_estimate - exact_pairs) * 1000000 // NULLIF(exact_pairs, 0) AS BIGINT)
         AS rel_err_ppm
FROM exact, est
"""


SPECS.append(
    QuerySpec(
        "a27_cms_join_cardinality", a27_cms_join_cardinality, A27_CMS_JOIN_ORACLE
    )
)


def hll_fold_by_group(df: DataFrame, col: str, group_col: str) -> DataFrame:
    """Per-group HLL register fold: (group, k_used, s_hit) — hll_fold's
    algebra keyed by a group column, the cardinality analogue of
    :func:`cms_heavy_hitters_by_group`. Shared by st_cardinality (group
    = event day) and the foreachBatch cardinality monitor (group =
    micro-batch id). 100-TB shape: two map-side-combinable aggregates —
    (group, j) register max, then a |groups|×256-bounded fold."""
    reserved = ("h", "j", "r", "mj", "k_used", "s_hit",
                "v_zero", "s_scaled", "hll_estimate")
    if group_col in reserved:
        raise ValueError(f"hll_fold_by_group: reserved group_col {group_col!r}")
    return (
        _hll_rho_frame(df, col, [group_col])
        .groupBy(group_col, "j")
        .agg(F.max("r").alias("mj"))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("k_used"),
            F.sum(F.expr(_HLL_SHIFT_EXPR)).alias("s_hit"),
        )
    )


def hll_estimate_cols(folded: DataFrame) -> DataFrame:
    """Append (v_zero, s_scaled, hll_estimate) COLUMNS to a register
    fold — the a18 estimator (`_hll_est_parts`) as pure column
    expressions so grouped/streaming consumers estimate WITHOUT driver
    collects. Same float-expression order and 1e6 grid snap as the
    driver-side twin, so both produce identical doubles."""
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    v_zero = (F.lit(HLL_M) - F.col("k_used")).cast("bigint")
    s_scaled = (F.col("s_hit") + v_zero * F.lit(_HLL_SCALE)).cast("bigint")
    raw = (
        F.lit(alpha) * F.lit(256.0) * F.lit(256.0) * F.lit(float(_HLL_SCALE))
        / s_scaled.cast("double")
    )
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_zero.cast("double"))
    est = F.when((raw <= F.lit(2.5 * HLL_M)) & (v_zero > 0), lc).otherwise(raw)
    snapped = F.floor(est * F.lit(HLL_EST_GRID) + F.lit(0.5)) / F.lit(HLL_EST_GRID)
    return folded.select(
        "*",
        v_zero.alias("v_zero"),
        s_scaled.alias("s_scaled"),
        snapped.alias("hll_estimate"),
    )


#: diag_salt_plan: keys holding more than this fraction of the rows get
#: a salt recommendation (1/32 = one full local[32] task's fair share).
SALT_PLAN_SHARE_PPM = 31_250  # 1/32 in parts-per-million
SALT_PLAN_PARTITIONS = 32     # planning parallelism the salt is sized for


def diag_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actionable skew plan — diag_heavy_keys' diagnosis turned into the
    decision ``operators.skew.salted_join`` consumes: per hot key
    (share > SALT_PLAN_SHARE_PPM of rows, integer ppm math), the
    recommended salt bucket count ceil(share × SALT_PLAN_PARTITIONS) —
    enough splits that no single salted partial exceeds one task's fair
    share of the shuffle. Emits (user_id, cnt, share_ppm, salt_buckets)
    for hot keys only; an empty result means "plain hash join is fine".

    100-TB shape: one map-side-combined count per key, a scalar total,
    and a filter — the reduced |keys| frame never sorts globally; the
    output is bounded by how many keys can mathematically exceed the
    share threshold (< 1/threshold keys)."""
    events = load_table(spark, sf_dir, "events")
    total = events.count()
    per_key = events.filter(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.count("*").alias("cnt")
    )
    share_ppm = F.expr(f"cnt * 1000000L div {total}")
    # ceil(share * P) in exact integer math: (cnt*P + total - 1) div total
    salt = F.expr(
        f"(cnt * {SALT_PLAN_PARTITIONS}L + {total - 1}L) div {total}L"
    )
    return (
        per_key.select(
            "user_id",
            F.col("cnt").cast("bigint").alias("cnt"),
            share_ppm.alias("share_ppm"),
            salt.cast("bigint").alias("salt_buckets"),
        )
        .filter(F.col("share_ppm") > SALT_PLAN_SHARE_PPM)
        .orderBy(F.col("cnt").desc(), "user_id")
    )


DIAG_SALT_PLAN_ORACLE = f"""
WITH tot AS (SELECT COUNT(*) AS total FROM events),
per_key AS (
  SELECT user_id, COUNT(*) AS cnt FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
       CAST((cnt * {SALT_PLAN_PARTITIONS} + total - 1) // total AS BIGINT)
         AS salt_buckets
FROM per_key, tot
WHERE cnt * 1000000 // total > {SALT_PLAN_SHARE_PPM}
ORDER BY cnt DESC, user_id
"""


SPECS.append(QuerySpec("diag_salt_plan", diag_salt_plan, DIAG_SALT_PLAN_ORACLE))


#: Broadcast advisory cutoff for join_plan_advice, in ROWS of the
#: smaller side's key frame. Spark's own autoBroadcastJoinThreshold is
#: 10 MB of build-side bytes; at typical dim-row widths (tens of bytes
#: keyed + pruned columns) 100k rows sits safely inside it while
#: leaving headroom for the caller to widen via --broadcast-rows when
#: the dim is known-narrow.
JOIN_PLAN_BROADCAST_ROWS = 100_000
#: Cap on hot keys reported per side — bounded by the share threshold
#: anyway (< 1e6/SALT_PLAN_SHARE_PPM keys can exceed it), this is the
#: explicit TOPK/LIMIT bound the collect ledger wants.
JOIN_PLAN_HOT_TOP = 20


#: (pair label, left table, left key, right table, right key) — the
#: fixture join pairs diag_join_plan advises on: a classic dim⋈fact
#: (broadcast territory), the biggest fact⋈fact equi-join, and the
#: behavioral join whose key family carries the fixture's planted skew.
JOIN_PLAN_PAIRS = (
    ("supplier_lineitem", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer_events", "customer", "c_custkey", "events", "user_id"),
)


def diag_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy advisory rows for the fixture's three canonical join
    pairs — the registered (oracle-checked) twin of the ``join-plan``
    CLI verb's decision logic: per pair, both sides' row counts, each
    side's hot-key count (keys above SALT_PLAN_SHARE_PPM of their
    side's rows — diag_salt_plan's threshold), and the recommendation
    the CLI would print (broadcast when either side fits under
    JOIN_PLAN_BROADCAST_ROWS, salt when both are big and either side
    is skewed, shuffle otherwise; ties broadcast the left side, the
    join_plan_advice convention).

    Scale shape: per side one map-side-combined per-key count and two
    scalar aggregates (SCALAR-1ROW driver literals, the diag_salt_plan
    idiom); the emitted frame is |JOIN_PLAN_PAIRS| rows. The CMS pair
    bound itself is a24/a27/cms_join_cardinality — this query is the
    DECISION layer on top."""
    rows = []
    for pair, lt, lk, rt, rk in JOIN_PLAN_PAIRS:
        sides = []
        for t, k in ((lt, lk), (rt, rk)):
            df = load_table(spark, sf_dir, t).select(F.col(k).alias("k"))
            total = df.count()
            hot = (
                df.filter(F.col("k").isNotNull())
                .groupBy("k")
                .agg(F.count("*").alias("cnt"))
                .filter(F.expr(f"cnt * 1000000L div {total}") > SALT_PLAN_SHARE_PPM)
                .count()
            )
            sides.append((total, hot))
        (lrows, lhot), (rrows, rhot) = sides
        if min(lrows, rrows) <= JOIN_PLAN_BROADCAST_ROWS:
            rec = "broadcast"
            side = "left" if lrows <= rrows else "right"
        elif lhot or rhot:
            rec, side = "salt", None
        else:
            rec, side = "shuffle", None
        rows.append((pair, lrows, rrows, lhot, rhot, rec, side))
    return spark.createDataFrame(
        rows,
        "pair string, left_rows bigint, right_rows bigint, "
        "hot_left bigint, hot_right bigint, recommendation string, "
        "broadcast_side string",
    ).orderBy("pair")


def _join_plan_pair_sql(pair: str, lt: str, lk: str, rt: str, rk: str) -> str:
    def side(t, k):
        return f"""
  SELECT COUNT(*) AS rows_n,
         (SELECT COUNT(*) FROM (
            SELECT {k} FROM {t} WHERE {k} IS NOT NULL GROUP BY {k}
            HAVING COUNT(*) * 1000000 // (SELECT COUNT(*) FROM {t})
                   > {SALT_PLAN_SHARE_PPM}
          )) AS hot_n
  FROM {t}"""

    return f"""
SELECT '{pair}' AS pair,
       CAST(l.rows_n AS BIGINT) AS left_rows,
       CAST(r.rows_n AS BIGINT) AS right_rows,
       CAST(l.hot_n AS BIGINT) AS hot_left,
       CAST(r.hot_n AS BIGINT) AS hot_right,
       CASE WHEN least(l.rows_n, r.rows_n) <= {JOIN_PLAN_BROADCAST_ROWS}
              THEN 'broadcast'
            WHEN l.hot_n > 0 OR r.hot_n > 0 THEN 'salt'
            ELSE 'shuffle' END AS recommendation,
       CASE WHEN least(l.rows_n, r.rows_n) > {JOIN_PLAN_BROADCAST_ROWS}
              THEN NULL
            WHEN l.rows_n <= r.rows_n THEN 'left'
            ELSE 'right' END AS broadcast_side
FROM ({side(lt, lk)}) l, ({side(rt, rk)}) r"""


DIAG_JOIN_PLAN_ORACLE = (
    "\nUNION ALL\n".join(
        _join_plan_pair_sql(*p) for p in JOIN_PLAN_PAIRS
    )
    + "\nORDER BY pair"
)


SPECS.append(QuerySpec("diag_join_plan", diag_join_plan, DIAG_JOIN_PLAN_ORACLE))


def join_plan_advice(
    left_keys: DataFrame,
    right_keys: DataFrame,
    w: int = CMS_W,
    broadcast_rows: int = JOIN_PLAN_BROADCAST_ROWS,
) -> dict:
    """Pre-join planning advisory (round-13 verdict #7 — the consumer
    the a24/a27 sketches lacked): given two single-column key frames
    (column ``k``), size the join with the CMS inner-product bound and
    recommend an execution strategy:

    - ``broadcast`` when either side fits under ``broadcast_rows`` —
      name the side; no shuffle at all is the cheapest correct plan;
    - ``salt`` when both sides are big AND either side carries keys
      above SALT_PLAN_SHARE_PPM of its rows — per hot key, the
      diag_salt_plan bucket count ``operators.skew.salted_join``
      consumes;
    - ``shuffle`` otherwise — a plain hash/sort-merge join is fine.

    The emitted ``cms_estimate`` NEVER undercounts the true pair count
    (CMS inner products are upper bounds), so capacity planning from
    this number errs safe; on fixture-scale inputs the kernel also
    carries the exact count + rel_err so the bound is verifiable —
    production callers read the sketch columns alone.

    100-TB shape: two map-side-combined per-key count passes, the d·w
    sketch tables, and two bounded hot-key top-k collects — nothing
    driver-side scales with rows."""
    n_left = left_keys.count()
    n_right = right_keys.count()
    card = cms_join_cardinality(left_keys, right_keys, w=w).first().asDict()

    def hot(keys: DataFrame, total: int) -> list[dict]:
        if total == 0:
            return []
        per_key = (
            keys.filter(F.col("k").isNotNull())
            .groupBy("k")
            .agg(F.count("*").alias("cnt"))
        )
        rows = (
            per_key.select(
                "k",
                F.col("cnt").cast("bigint").alias("cnt"),
                F.expr(f"cnt * 1000000L div {total}").alias("share_ppm"),
                F.expr(
                    f"(cnt * {SALT_PLAN_PARTITIONS}L + {total - 1}L) div {total}L"
                ).cast("bigint").alias("salt_buckets"),
            )
            .filter(F.col("share_ppm") > SALT_PLAN_SHARE_PPM)
            .orderBy(F.col("cnt").desc(), "k")
            .limit(JOIN_PLAN_HOT_TOP)
        )
        return [r.asDict() for r in rows.collect()]

    small_side = (
        ("left" if n_left <= n_right else "right")
        if min(n_left, n_right) <= broadcast_rows
        else None
    )
    hot_left = hot(left_keys, n_left) if small_side is None else []
    hot_right = hot(right_keys, n_right) if small_side is None else []
    if small_side is not None:
        recommendation = "broadcast"
    elif hot_left or hot_right:
        recommendation = "salt"
    else:
        recommendation = "shuffle"
    return {
        "left_rows": n_left,
        "right_rows": n_right,
        "cms_width": w,
        "cms_estimate_pairs": card["cms_estimate"],
        "exact_pairs": card["exact_pairs"],
        "never_undercounts": card["never_undercounts"],
        "rel_err_ppm": card["rel_err_ppm"],
        "recommendation": recommendation,
        "broadcast_side": small_side,
        "hot_keys_left": hot_left,
        "hot_keys_right": hot_right,
    }


# ---------------------------------------------------------------------------
# a28: CMS mergeability (round 13) — the frequency twin of a22's HLL
# register-max union and a26's histogram merge. The heavy-hitters
# monitors (st_heavy_hitters / heavy_hitters_stream) persist per-day /
# per-batch d×w cell tables; cell-wise SUM of those tables IS the
# sketch of the union stream (CMS counters are linear), so monitor
# state rolls up to daily/weekly views WITHOUT rescanning — the
# mergeable-rollup contract, proven in-engine by pinning the merged
# estimate equal to a single-pass global build.
# ---------------------------------------------------------------------------


def a28_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge per-day CMS sketches over ``events.user_id`` by cell-wise
    SUM and probe the global top-HH_TOP keys against BOTH the merged
    sketch and a single-pass global build: (rank, user_id, exact_cnt,
    est_merged, est_single_pass, merged_matches_single_pass,
    never_undercounts). Linearity makes the two estimates IDENTICAL —
    emitted as a checked column, the a22/a26 pinned-equal discipline —
    and the merged estimate keeps the never-undercounts guarantee.

    100-TB shape: per-day cells are the monitors' existing bounded
    state (d·w per day); the merge is a groupBy over |days|·d·w rows;
    the top-k candidate set comes from TakeOrderedAndProject over the
    map-side-combinable per-key counts; probes hash-join on (i, b).
    Nothing new scans the raw stream — that is the point."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    vals = ev.filter(F.col("user_id").isNotNull()).select(
        "day", F.col("user_id").alias("v")
    )
    per_v_day = vals.groupBy("day", "v").agg(F.count("*").alias("cnt"))
    merged = (
        _cms_cells(per_v_day, "v", "cnt", group_cols=("day",))
        .groupBy("i", "b")
        .agg(F.sum("c").alias("c_merged"))
    )
    per_v = per_v_day.groupBy("v").agg(F.sum("cnt").alias("exact_cnt"))
    single = _cms_cells(per_v, "v", "exact_cnt").withColumnRenamed("c", "c_single")
    cand = (
        per_v.orderBy(F.col("exact_cnt").desc(), "v")
        .limit(HH_TOP)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("exact_cnt").desc(), "v"))
            .cast("bigint"),
        )
    )
    return (
        _cms_estimate(cand, merged.join(single, ["i", "b"]), "v")
        .select(
            "rank",
            F.col("v").alias("user_id"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("c_merged").alias("est_merged"),
            F.col("c_single").alias("est_single_pass"),
            (F.col("c_merged") == F.col("c_single")).alias(
                "merged_matches_single_pass"
            ),
            (F.col("c_merged") >= F.col("exact_cnt")).alias("never_undercounts"),
        )
        .orderBy("rank")
    )


A28_CMS_MERGE_ORACLE = f"""
WITH vals AS (
  SELECT CAST(ts AS DATE) AS day, user_id AS v FROM events
  WHERE user_id IS NOT NULL
),
per_v_day AS (SELECT day, v, COUNT(*) AS cnt FROM vals GROUP BY 1, 2),
day_cells AS (
  SELECT day, i,
         CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8)
              AS BIGINT) % {CMS_W} AS b,
         SUM(cnt) AS c
  FROM per_v_day, unnest([{_CMS_SEEDS_SQL}]) AS s(i)
  GROUP BY 1, 2, 3
),
merged AS (SELECT i, b, SUM(c) AS c_merged FROM day_cells GROUP BY 1, 2),
per_v AS (SELECT v, SUM(cnt) AS exact_cnt FROM per_v_day GROUP BY v),
single AS (
  SELECT i,
         CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8)
              AS BIGINT) % {CMS_W} AS b,
         SUM(exact_cnt) AS c_single
  FROM per_v, unnest([{_CMS_SEEDS_SQL}]) AS s(i)
  GROUP BY 1, 2
),
cand AS (
  SELECT v, exact_cnt, rank FROM (
    SELECT v, exact_cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, v) AS BIGINT) AS rank
    FROM per_v
  ) WHERE rank <= {HH_TOP}
),
probes AS (
  SELECT v, exact_cnt, rank, i,
         CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 8)
              AS BIGINT) % {CMS_W} AS b
  FROM cand, unnest([{_CMS_SEEDS_SQL}]) AS s(i)
)
SELECT rank, v AS user_id, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(MIN(c_merged) AS BIGINT) AS est_merged,
       CAST(MIN(c_single) AS BIGINT) AS est_single_pass,
       MIN(c_merged) = MIN(c_single) AS merged_matches_single_pass,
       MIN(c_merged) >= exact_cnt AS never_undercounts
FROM probes
JOIN merged USING (i, b)
JOIN single USING (i, b)
GROUP BY rank, v, exact_cnt
ORDER BY rank
"""


SPECS.append(QuerySpec("a28_cms_merge", a28_cms_merge, A28_CMS_MERGE_ORACLE))


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (round 14, session 2) — the sequential
# mean-shift detector (Page 1954) the z-score monitor can't replace:
# ts_anomaly_zscore flags single-bar spikes; CUSUM accumulates SMALL
# persistent drifts (a crawler quietly degrading, a source ramping) and
# alarms when the cumulative evidence crosses h. The recurrence
# S_d = max(0, S_{d-1} + x_d) is not a window sum — but it has the
# exact prefix identity S_d = P_d − min(0, min_{j≤d} P_j) with
# P = running sum of x, so both sides compute as TWO stock window
# functions over the day-bounded rollup. No recursion, no UDF, no
# iteration.
# ---------------------------------------------------------------------------

CUSUM_BASE_DAYS = 7    # baseline window (days) fixing the reference mean
CUSUM_K_DIV = 10       # allowance k = μ/10 (10% drift tolerated)
CUSUM_H_DIV = 2        # alarm threshold h = μ/2 (cumulative excess = 50% of a day)


def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: daily counts scored by two-sided CUSUM against
    the first CUSUM_BASE_DAYS days' mean. Output (event_type, day, cnt,
    cusum_hi, cusum_lo, alarm_hi, alarm_lo) — cusum values in exact
    count×den integer units (den = baseline-day count, so the mean
    never divides; everything stays int64 and order-independent).

    100-TB shape: raw events reduce FIRST to the (day, type) rollup
    (one map-side-combined aggregation); every window below runs over
    that frame partitioned by type — |days| rows per partition, bounded
    by calendar, never by data volume. x_d = cnt·den − μ·den − k is a
    projection; the two CUSUMs are one running sum + one running min
    each."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("cnt"))

    wday = Window.partitionBy("event_type").orderBy("day")
    ranked = daily.withColumn("rn", F.row_number().over(wday))
    base = (
        ranked.filter(F.col("rn") <= CUSUM_BASE_DAYS)
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("mu_num"),
            F.count("*").alias("den"),
        )
    )
    j = ranked.join(F.broadcast(base), "event_type")
    # scaled units: value·den, so μ = mu_num exactly (no division)
    x_hi = F.col("cnt") * F.col("den") - F.col("mu_num") - F.expr(
        f"div(mu_num, {CUSUM_K_DIV})"
    )
    x_lo = F.col("mu_num") - F.col("cnt") * F.col("den") - F.expr(
        f"div(mu_num, {CUSUM_K_DIV})"
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefixed = j.select(
        "event_type",
        "day",
        "cnt",
        F.sum(x_hi).over(run).alias("p_hi"),
        F.sum(x_lo).over(run).alias("p_lo"),
        F.expr(f"div(mu_num, {CUSUM_H_DIV})").alias("h"),
    )
    scored = prefixed.select(
        "event_type",
        "day",
        "cnt",
        "p_hi",
        "p_lo",
        F.min("p_hi").over(run).alias("m_hi"),
        F.min("p_lo").over(run).alias("m_lo"),
        "h",
    )
    return scored.select(
        "event_type",
        "day",
        "cnt",
        (F.col("p_hi") - F.least(F.lit(0), F.col("m_hi"))).alias("cusum_hi"),
        (F.col("p_lo") - F.least(F.lit(0), F.col("m_lo"))).alias("cusum_lo"),
        (
            F.col("p_hi") - F.least(F.lit(0), F.col("m_hi")) > F.col("h")
        ).alias("alarm_hi"),
        (
            F.col("p_lo") - F.least(F.lit(0), F.col("m_lo")) > F.col("h")
        ).alias("alarm_lo"),
    )


TS_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily),
base AS (
  SELECT event_type, SUM(cnt) AS mu_num, COUNT(*) AS den
  FROM ranked WHERE rn <= {CUSUM_BASE_DAYS} GROUP BY event_type),
x AS (
  SELECT r.event_type, r.day, r.cnt,
         r.cnt * b.den - b.mu_num - b.mu_num // {CUSUM_K_DIV} AS x_hi,
         b.mu_num - r.cnt * b.den - b.mu_num // {CUSUM_K_DIV} AS x_lo,
         b.mu_num // {CUSUM_H_DIV} AS h
  FROM ranked r JOIN base b USING (event_type)),
pre AS (
  SELECT event_type, day, cnt, h,
         SUM(x_hi) OVER w AS p_hi, SUM(x_lo) OVER w AS p_lo
  FROM x
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
p AS (
  SELECT event_type, day, cnt, h, p_hi, p_lo,
         MIN(p_hi) OVER w AS m_hi, MIN(p_lo) OVER w AS m_lo
  FROM pre
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, day, cnt,
       p_hi - LEAST(0, m_hi) AS cusum_hi,
       p_lo - LEAST(0, m_lo) AS cusum_lo,
       p_hi - LEAST(0, m_hi) > h AS alarm_hi,
       p_lo - LEAST(0, m_lo) > h AS alarm_lo
FROM p
"""


SPECS.append(
    QuerySpec("ts_cusum_changepoint", ts_cusum_changepoint, TS_CUSUM_ORACLE)
)


IVM_TOPK_K = 20


def ivm_topk_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a per-group top-k view (round 14,
    session 2): the maintained view is the top-:data:`IVM_TOPK_K`
    orders by price per priority; refresh re-ranks ONLY the stored
    top-k rows unioned with the delta batch. Correct by the
    insert-monotone theorem — for insert-only deltas,
    topk(S ∪ D) = topk(topk(S) ∪ D): a row outside the old top-k can
    never enter the new one, because the k rows above it all remain.
    The oracle recomputes the view from the WHOLE table directly, so
    the hash match proves the theorem's instantiation, not just the
    code path. (Deletes would break monotonicity — that needs the
    k+buffer or re-scan strategies; out of scope and documented.)

    100-TB shape: refresh IO is |delta| + |groups|·k — the base table
    is never rescanned (base top-k derived here for checkability; a
    deployment stores it, the ivm_agg_refresh convention)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )

    def topk(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= IVM_TOPK_K)
        )

    full = load_table(spark, sf_dir, "orders")
    base = topk(
        full.filter(F.col("o_orderdate") < IVM_SPLIT).select(
            "o_orderpriority", "o_orderkey", "o_totalprice"
        )
    ).drop("rank")
    delta = full.filter(F.col("o_orderdate") >= IVM_SPLIT).select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return topk(base.unionByName(delta)).select(
        "o_orderpriority", "rank", "o_orderkey", "o_totalprice"
    )


IVM_TOPK_ORACLE = f"""
SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC, o_orderkey)
              AS BIGINT) AS rank
  FROM orders
) WHERE rank <= {IVM_TOPK_K}
"""


SPECS.append(QuerySpec("ivm_topk_refresh", ivm_topk_refresh, IVM_TOPK_ORACLE))
