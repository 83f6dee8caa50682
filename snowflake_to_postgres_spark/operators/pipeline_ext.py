"""Training-data pipeline operators, round-3 extension set.

Five operators a 100 TB pre-training corpus pipeline runs constantly,
each expressed as built-in JVM expressions (zero Python UDFs) with a
DuckDB oracle:

- ``tx_pii_scrub``      — regex PII redaction (email / IPv4 / phone) with
                          seeded-injection verification.
- ``tx_tfidf_top_terms``— per-document top-k TF-IDF keyword extraction.
- ``tx_pack_sequences`` — concat-and-chunk sequence packing: assign each
                          document its training-sequence id from the
                          per-source cumulative token count.
- ``tx_mixture_plan``   — source-mixture balancing: per-source sampling
                          rates that hit a target char budget under
                          configured mixture weights.
- ``ts_gapfill_locf``   — hypertable-style time-bucket gap fill with
                          last-observation-carried-forward interpolation.

Scale notes (100 TB):

- PII scrub and packing are pure projections / bounded windows — no
  shuffle beyond the per-source window sort, which partitions by source
  and parallelizes across sources.  A single giant source is handled the
  same way the salted rollup (operators/skew.py) handles hot keys:
  pre-split the source on a deterministic doc_id range and pack ranges
  independently (documented, not needed at test scale).
- TF-IDF is one hash aggregate over (doc, term) + two bounded windows
  (by term, by doc). The term-partitioned window replaces the classic
  tf⋈df self-join — one shuffle less, and no recomputation of the token
  explode.
- The mixture plan reduces the corpus to one row per source before any
  driver interaction; the two driver scalars (total chars, Σweights) are
  the q11/q15 "threshold literal" pattern — two longs over the wire.
- Gap fill joins a generated time grid (|event_types| × |hours| rows —
  bounded by wall-clock time, not data volume) against the aggregated
  observations; LOCF is a per-type running window over grid rows only.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snowflake_to_postgres_spark.registry import QuerySpec
from snowflake_to_postgres_spark.sources import load_table

# Redaction patterns — restricted to the syntax subset Java regex and
# RE2 (DuckDB) parse identically: char classes, bounded repeats, \b, \d,
# non-capturing groups.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4_RE = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
PII_PHONE_RE = "\\b\\d{3}-\\d{4}\\b"

#: Tokens per packed training sequence (tx_pack_sequences).
PACK_CAPACITY = 64

#: Mixture plan: fraction of the corpus char volume to keep.
MIXTURE_BUDGET_FRACTION = 0.5

#: Gap-fill source filter: high-value events only, so the hourly grid
#: has genuine gaps at every test SF.
GAPFILL_MIN_VALUE = 300.0


def tx_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with seeded-injection verification.

    The synthetic corpus contains no PII, so the query *injects* a
    deterministic email / IPv4 / phone per document (derived from
    doc_id), then scrubs email → IP → phone in that order and proves
    removal (``residual_pii`` must be false everywhere).  The scrub
    itself is the production operator: three chained regexp_replace
    calls inside one codegen'd projection — a pure map stage."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" phone 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    d = docs.select("doc_id", injected.alias("injected"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("injected"), PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    d = d.select(
        "doc_id",
        F.regexp_count("injected", F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count("injected", F.lit(PII_IPV4_RE)).cast("bigint").alias("n_ips"),
        F.regexp_count("injected", F.lit(PII_PHONE_RE)).cast("bigint").alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )
    residual = (
        (F.regexp_count("scrubbed", F.lit(PII_EMAIL_RE)) > 0)
        | (F.regexp_count("scrubbed", F.lit(PII_IPV4_RE)) > 0)
        | (F.regexp_count("scrubbed", F.lit(PII_PHONE_RE)) > 0)
    )
    return d.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        F.md5("scrubbed").alias("scrubbed_md5"),
        residual.alias("residual_pii"),
    )


_PII_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id % 100 AS VARCHAR)"
    " || ' phone 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)
TX_PII_ORACLE = f"""
WITH d AS (SELECT doc_id, {_PII_INJECT_SQL} AS injected FROM documents),
s AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(injected, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(injected, '{PII_IPV4_RE}')) AS BIGINT) AS n_ips,
         CAST(len(regexp_extract_all(injected, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
         regexp_replace(regexp_replace(regexp_replace(injected,
             '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_IPV4_RE}', '<IP>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
  FROM d)
SELECT doc_id, n_emails, n_ips, n_phones, md5(scrubbed) AS scrubbed_md5,
       len(regexp_extract_all(scrubbed, '{PII_EMAIL_RE}')) > 0
       OR len(regexp_extract_all(scrubbed, '{PII_IPV4_RE}')) > 0
       OR len(regexp_extract_all(scrubbed, '{PII_PHONE_RE}')) > 0 AS residual_pii
FROM s
"""


def tx_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by TF-IDF.

    idf is the raw ratio N/df (not ln(N/df)): multiplication and one
    IEEE division of exact integers are bit-identical across engines,
    where ln() is only correctly-rounded-per-libm — the ranking is the
    same, the hashes stay comparable. N is a driver literal (the
    q11/q15 threshold pattern). df comes from a term-partitioned window
    over the (doc, term) aggregate instead of the classic tf⋈df
    self-join: one aggregate + two bounded windows, no recomputation of
    the token explode."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # driver literal: one long over the wire
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    w_term = Window.partitionBy("term")
    scored = tf.withColumn("df", F.count("*").over(w_term)).withColumn(
        "score",
        (F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df").cast("double"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w_doc).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


TX_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
t AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term),
s AS (
  SELECT doc_id, term, tf,
         COUNT(*) OVER (PARTITION BY term) AS df,
         CAST(tf * (SELECT COUNT(*) FROM documents) AS DOUBLE)
           / CAST(COUNT(*) OVER (PARTITION BY term) AS DOUBLE) AS score
  FROM t)
SELECT doc_id, term, tf, df, score, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rnk
  FROM s) q
WHERE rnk <= 3
"""


def tx_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    (source, doc_id) order and split into PACK_CAPACITY-token training
    sequences; each document is assigned the sequence id and offset at
    which it starts. One running-sum window per source — the standard
    deterministic packing used when documents may straddle sequence
    boundaries."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower("text"), " ")).cast("bigint")
    d = docs.select("doc_id", "source", n_tok.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "doc_id", "source", "n_tokens", F.sum("n_tokens").over(w).alias("cum_tokens")
    )
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {PACK_CAPACITY}").alias("seq_id"),
        ((F.col("cum_tokens") - F.col("n_tokens")) % PACK_CAPACITY).alias(
            "start_offset"
        ),
    )


TX_PACK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM d)
SELECT doc_id, source, n_tokens, cum_tokens,
       (cum_tokens - n_tokens) // {PACK_CAPACITY} AS seq_id,
       (cum_tokens - n_tokens) % {PACK_CAPACITY} AS start_offset
FROM c
"""


def tx_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture balancing: compute per-source sampling rates that
    hit MIXTURE_BUDGET_FRACTION of the corpus char volume distributed
    according to configured mixture weights (weight(srcN) = 1 + N % 3 —
    a stand-in for a hand-tuned mixture table). The corpus reduces to
    one row per source before any driver interaction; total chars and
    Σweights are driver literals."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("actual_chars"),
    ).withColumn("weight", _mixture_weight())
    total_chars = docs.agg(F.sum("n_chars").cast("bigint")).first()[0]
    sum_weights = per_src.agg(F.sum("weight")).first()[0]
    share = F.col("weight").cast("double") / F.lit(float(sum_weights))
    target = share * (F.lit(float(total_chars)) * F.lit(MIXTURE_BUDGET_FRACTION))
    rate = F.least(F.lit(1.0), target / F.col("actual_chars").cast("double"))
    return per_src.select(
        "source",
        "n_docs",
        "actual_chars",
        "weight",
        share.alias("share"),
        target.alias("target_chars"),
        rate.alias("rate"),
        (rate * F.col("actual_chars").cast("double")).alias("planned_chars"),
    )


TX_MIXTURE_ORACLE = f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS actual_chars,
         CAST(1 + CAST(substr(source, 4) AS INT) % 3 AS BIGINT) AS weight
  FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS t FROM documents),
sw AS (SELECT CAST(SUM(weight) AS BIGINT) AS s FROM per)
SELECT source, n_docs, actual_chars, weight,
  CAST(weight AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE) AS share,
  (CAST(weight AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE))
    * (CAST((SELECT t FROM tot) AS DOUBLE) * CAST({MIXTURE_BUDGET_FRACTION} AS DOUBLE)) AS target_chars,
  least(CAST(1.0 AS DOUBLE),
    ((CAST(weight AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE))
      * (CAST((SELECT t FROM tot) AS DOUBLE) * CAST({MIXTURE_BUDGET_FRACTION} AS DOUBLE)))
    / CAST(actual_chars AS DOUBLE)) AS rate,
  least(CAST(1.0 AS DOUBLE),
    ((CAST(weight AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE))
      * (CAST((SELECT t FROM tot) AS DOUBLE) * CAST({MIXTURE_BUDGET_FRACTION} AS DOUBLE)))
    / CAST(actual_chars AS DOUBLE)) * CAST(actual_chars AS DOUBLE) AS planned_chars
FROM per
"""


def _mixture_weight():
    """THE configured mixture weight column — weight(srcN) = 1 + N % 3,
    the stand-in for a hand-tuned mixture table. One definition shared
    by tx_mixture_plan, tx_mixture_draw (via the plan) and
    mixture_targets so the 'targets mirror the plan' contract cannot
    silently fork (round-13 review finding)."""
    src_num = F.substring("source", 4, 10).cast("int")
    return (F.lit(1) + src_num % 3).cast("bigint")


def mixture_targets(docs: DataFrame) -> DataFrame:
    """(source, weight, target_share_ppm) — :func:`tx_mixture_plan`'s
    configured weights (:func:`_mixture_weight`) as an exact-integer
    share target: target_share_ppm = weight·10⁶ div Σweights. Integer
    ppm so the batch twin, the DuckDB oracle, and every micro-batch of
    the stream monitor replay the SAME arithmetic with no float
    rounding seam. Bounded by the source domain (a catalog-sized
    dimension); Σweights is a driver literal like tx_mixture_plan's."""
    per_src = docs.select("source").distinct().withColumn(
        "weight", _mixture_weight()
    )
    sw = per_src.agg(F.sum("weight")).first()[0]
    # empty corpus: the frame below is empty too, the literal is unused
    sum_weights = int(sw) if sw is not None else 1
    return per_src.select(
        "source",
        "weight",
        F.expr(f"weight * 1000000L div {sum_weights}L").alias("target_share_ppm"),
    )


def mixture_share_by_group(
    df: DataFrame, group_col: str, targets: DataFrame
) -> DataFrame:
    """Per-(group, source) observed char share vs the mixture-plan
    target: (group, source, n_docs, obs_chars, obs_share_ppm,
    target_share_ppm, dev_ppm, over_target) — the mixture twin of
    ``cms_heavy_hitters_by_group``, shared by the registered st_mixture
    batch twin (group = whole corpus) and the foreachBatch mixture
    monitor (group = micro-batch id). A source missing from ``targets``
    (new mid-stream) surfaces with NULL target/dev rather than being
    dropped.

    100-TB shape: one map-side-combinable (group, source) aggregate is
    the only data-scaled frame; the per-group totals are a WINDOW over
    that already-bounded |groups|·|sources| frame rather than a
    group-totals self-join — the batch twin's group key is a literal,
    and a literal-key equi-join constant-folds into
    BroadcastNestedLoopJoin (the a27 lesson; plan pinned by
    test_plan_quality); targets broadcast (catalog-sized). All shares
    are exact integer ppm (x·10⁶ div total)."""
    from pyspark.sql import Window

    reserved = (
        "source", "n_docs", "obs_chars", "total_chars", "obs_share_ppm",
        "target_share_ppm", "dev_ppm", "over_target", "weight", "n_chars",
    )
    if group_col in reserved:
        raise ValueError(f"mixture_share_by_group: reserved group_col {group_col!r}")
    per = df.groupBy(group_col, "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("obs_chars"),
    )
    j = per.withColumn(
        "total_chars", F.sum("obs_chars").over(Window.partitionBy(group_col))
    ).join(
        F.broadcast(targets.select("source", "target_share_ppm")),
        "source",
        "left",
    )
    # NULLIF (the a27 discipline, same PR): an all-empty-docs group has
    # total_chars = 0 — the share pins to NULL instead of relying on
    # non-ANSI div-by-zero (ANSI mode would kill the stream monitor)
    obs = F.expr("obs_chars * 1000000L div nullif(total_chars, 0L)")
    dev = obs - F.col("target_share_ppm")
    return j.select(
        group_col,
        "source",
        "n_docs",
        "obs_chars",
        obs.alias("obs_share_ppm"),
        "target_share_ppm",
        dev.alias("dev_ppm"),
        (dev > 0).alias("over_target"),
    )


def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: hourly sum of high-value event volume
    per event_type over a *dense* generated hour grid, missing buckets
    interpolated by last-observation-carried-forward. Sums run on exact
    decimal internals (events.value is double; cast before aggregation
    makes the sum order-independent), doubles leave the query.

    The grid is |event_types| × |hours| — bounded by wall-clock span,
    not data volume; the LOCF window walks grid rows only. For
    multi-year spans chunk the window by (event_type, month) with a
    carried seed, same as the streaming rollup's restart path."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value") >= GAPFILL_MIN_VALUE
    )
    obs = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("s_value"),
        F.count("*").alias("n_events"),
    )
    grid = (
        obs.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
        )
    )
    filled = grid.join(obs, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "h",
        "s_value",
        F.last("s_value", ignorenulls=True).over(w).alias("filled_value"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("s_value").isNull().alias("is_gap"),
    )


TS_GAPFILL_ORACLE = f"""
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_value,
         COUNT(*) AS n_events
  FROM events WHERE value >= {GAPFILL_MIN_VALUE} GROUP BY event_type, h),
grid AS (
  SELECT event_type, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
  FROM obs GROUP BY event_type)
SELECT g.event_type, g.h, o.s_value,
       last_value(o.s_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       COALESCE(o.n_events, 0) AS n_events,
       o.s_value IS NULL AS is_gap
FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.h = o.h
"""


def _hex_threshold(rate: float) -> str:
    """6-hex-char keep threshold for an md5-bucket sample at ``rate``."""
    return format(int(rate * 16**6), "06x")


def pipe_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning as ONE Catalyst plan: quality gate →
    exact-dup keep-first → deterministic per-source downsample. The
    point is composition — each stage is an operator this engine
    already ships (tx_quality_score's ratios, dedup_exact_keep_first's
    window, s10's md5-bucket sampling), and chained they stay a single
    job: the quality filter runs in the scan stage before any exchange
    (it's on derived expressions, so it can't reach the parquet reader,
    but it still drops rows before they're shuffled), dedup is the ONE
    shuffle (by content digest), sampling is a post-window map.
    Plan-asserted: exactly one Exchange. At 100 TB nothing about the
    shape changes.

    Per-source keep rates use the deterministic literal formula
    rate(srcN) = 1 / (1 + N % 3) — a stand-in for a tuned mixture
    table, chosen so every rate is IEEE-exact in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    n_tok = F.size(toks).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    mean_word_len = (n_chars - n_tok + 1).cast("double") / n_tok.cast("double")
    quality = docs.select(
        "doc_id", "source", "text", n_tok.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
    ).filter((F.col("n_tokens") >= 10) & (mean_word_len < F.lit(8.0)))
    digested = quality.withColumn("content_md5", F.md5(F.trim(F.lower("text"))))
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    deduped = (
        digested.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "text")
    )
    src_num = F.substring("source", 4, 10).cast("int")
    rate = F.lit(1.0) / (F.lit(1) + src_num % 3).cast("double")
    # Keep iff the first 6 hex chars of md5(source|doc_id) fall below the
    # per-rate threshold. Fixed-width lowercase hex compares
    # lexicographically == numerically in both engines, so no float or
    # hex-parsing is involved; 'g' sorts above every hex char (rate 1).
    thresholds = {1.0: "g", 0.5: _hex_threshold(0.5), 1.0 / 3.0: _hex_threshold(1 / 3)}
    thr = (
        F.when(src_num % 3 == 0, F.lit(thresholds[1.0]))
        .when(src_num % 3 == 1, F.lit(thresholds[0.5]))
        .otherwise(F.lit(thresholds[1.0 / 3.0]))
    )
    bucket = F.substring(F.md5(F.concat_ws("|", "source", F.col("doc_id").cast("string"))), 1, 6)
    return (
        deduped.withColumn("keep_rate", rate)
        .filter(bucket < thr)
        .select("doc_id", "source", "n_tokens", "mean_word_len", "keep_rate")
    )


PIPE_CLEAN_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source, text,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(length(text) - len(string_split(lower(text), ' ')) + 1 AS DOUBLE)
           / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS mean_word_len
  FROM documents),
f AS (
  SELECT * FROM q WHERE n_tokens >= 10 AND mean_word_len < CAST(8.0 AS DOUBLE)),
d AS (
  SELECT *, md5(trim(lower(text))) AS content_md5 FROM f),
k AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn FROM d)
SELECT doc_id, source, n_tokens, mean_word_len,
       CAST(1.0 AS DOUBLE) / CAST(1 + CAST(substr(source, 4) AS INT) % 3 AS DOUBLE) AS keep_rate
FROM k
WHERE rn = 1
  AND substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 6) <
      CASE CAST(substr(source, 4) AS INT) % 3
        WHEN 0 THEN 'g'
        WHEN 1 THEN '{_hex_threshold(0.5)}'
        ELSE '{_hex_threshold(1 / 3)}'
      END
"""


#: Feature-hashing dimensionality. 2^5 buckets is sized for the test
#: corpus; at scale pick ``hash_dim ≈ 2^ceil(log2(vocab_size))`` —
#: 2^18–2^20 for a web-scale vocabulary — so the expected bucket
#: collision rate stays below 1 term/bucket (Weinberger et al. §4:
#: estimation error decays with dimensionality). Everything downstream
#: (df computation, broadcast size = hash_dim rows) scales gracefully.
HASH_DIM = 32


def tx_hashed_features(
    spark: SparkSession, sf_dir: str, hash_dim: int = HASH_DIM
) -> DataFrame:
    """Fixed-dimension document feature vectors via the hashing trick
    (Weinberger et al., "Feature Hashing for Large Scale Multitask
    Learning" — public paper): term → md5-derived bucket in [0,
    HASH_DIM), tf aggregated per (doc, bucket), weighted by a
    fixed-point idf. No vocabulary, no fit step, no driver state — the
    property that makes featurization embarrassingly parallel at 100 TB
    (a vocabulary-based vectorizer needs a global dictionary build +
    broadcast; this needs nothing).

    Determinism: the bucket comes from md5 (identical across engines,
    the minhash idiom) and the idf is FIXED-POINT — floor(N·10⁶ / df) in
    pure int64 — so weights are exact integers in both engines; no ln(),
    no IEEE division, nothing libm-dependent. Output is sparse COO
    (doc_id, dim_idx, tf, weight) — the honest layout at scale; dense
    assembly is :func:`hashed_features_dense`.

    Scale shape of the idf: the document frequency per bucket is a
    ``groupBy("dim_idx").count()`` — a map-side partial aggregate whose
    result is exactly ``hash_dim`` rows — broadcast back onto the
    (doc, dim) frame. The obvious alternative (a ``COUNT(*) OVER
    (PARTITION BY dim_idx)`` window) would funnel the entire corpus-
    sized frame through ``hash_dim`` partitions — a hard parallelism
    ceiling no executor count can beat; the grouped-then-broadcast form
    keeps the big frame's partitioning untouched."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # driver literal (the q11/q15 threshold pattern)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint")
        % F.lit(hash_dim)
    ).alias("dim_idx")
    tf = toks.select("doc_id", bucket).groupBy("doc_id", "dim_idx").agg(
        F.count("*").alias("tf")
    )
    # tf feeds BOTH the df aggregation and the join probe side; without
    # a persist the scan+explode+shuffle subtree executes twice (the
    # round-4→5 rework traded the Window parallelism ceiling for this
    # double-compute). Persisting the compact (doc, dim, tf) frame —
    # ids and ints, far smaller than the text it came from — makes the
    # corpus pass happen once; MEMORY_AND_DISK so a 100 TB corpus
    # spills instead of evicting mid-job.
    from pyspark import StorageLevel

    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    # df = docs-per-bucket: hash_dim rows total, broadcast onto tf.
    dfc = tf.groupBy("dim_idx").agg(F.count("*").alias("df"))
    return tf.join(F.broadcast(dfc), "dim_idx").select(
        "doc_id",
        "dim_idx",
        "tf",
        (F.col("tf") * F.expr(f"div({n_docs}L * 1000000L, df)"))
        .cast("bigint")
        .alias("weight"),
    )


def hashed_features_dense(sparse: DataFrame, dim: int = HASH_DIM) -> DataFrame:
    """Sparse COO → dense array<bigint> per doc (for downstream ANN):
    map_from_entries + one transform over 0..dim-1, zero-filled."""
    return sparse.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("dim_idx", "weight"))
        ).alias("_m")
    ).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(F.col("_m")[i], F.lit(0).cast("bigint")),
        ).alias("vector"),
    )


_TX_HASHED_CTE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
t AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % {HASH_DIM} AS dim_idx,
         COUNT(*) AS tf
  FROM toks WHERE term <> '' GROUP BY 1, 2),
dfc AS (
  SELECT dim_idx, COUNT(*) AS df FROM t GROUP BY dim_idx),
feats AS (
  SELECT t.doc_id, t.dim_idx, t.tf,
         CAST(t.tf * (((SELECT COUNT(*) FROM documents) * 1000000) // dfc.df) AS BIGINT) AS weight
  FROM t JOIN dfc USING (dim_idx))
"""

TX_HASHED_FEATURES_ORACLE = _TX_HASHED_CTE + "SELECT doc_id, dim_idx, tf, weight FROM feats"


N_DOC_QUERIES = 3  # sim_doc_hashed_topk: query docs (doc_id < 3), top-3 each


def sim_doc_hashed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end in-engine embed-and-search: featurize documents with
    the hashing trick (:func:`tx_hashed_features`) and find each query
    document's top-3 neighbors by cosine over those vectors — no
    external embedding model, no vocabulary, one engine.

    Determinism: weights are exact int64, scored as DECIMAL(19,0)
    components, so dot products and squared norms are DECIMAL(38,0)
    (weights can reach ~1e10, so their products overflow int64 — decimal
    keeps them exact and order-independent in both engines); only the
    final cosine divides in IEEE doubles, on the shared DECIMAL(10,8)
    grid.

    Scale shape: the sim_topk_bruteforce scorer (similarity._cosine_sql)
    over generated features — sparse dot via equi-join on dim_idx with
    the query block broadcast."""
    from snowflake_to_postgres_spark.operators.similarity import _cosine_sql
    from snowflake_to_postgres_spark.util.sqlview import temp_view_for

    feats = tx_hashed_features(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"),
        F.col("dim_idx").alias("idx"),
        F.col("weight").cast("decimal(19,0)").alias("val"),
    )
    feats_v = temp_view_for(feats, "doc_feats")
    return spark.sql(_cosine_sql(feats_v, k=3, n_queries=N_DOC_QUERIES))


SIM_DOC_HASHED_ORACLE = _TX_HASHED_CTE + f""",
fw AS (SELECT doc_id, dim_idx, CAST(weight AS DECIMAL(19,0)) AS w FROM feats),
norms AS (SELECT doc_id, CAST(SUM(w * w) AS DECIMAL(38,0)) AS n2 FROM fw GROUP BY doc_id),
q AS (SELECT doc_id AS qid, dim_idx, w AS qw FROM fw WHERE doc_id < {N_DOC_QUERIES}),
dots AS (
  SELECT q.qid, fw.doc_id, CAST(SUM(fw.w * q.qw) AS DECIMAL(38,0)) AS dot
  FROM fw JOIN q USING (dim_idx)
  WHERE fw.doc_id <> q.qid
  GROUP BY q.qid, fw.doc_id
),
ranked AS (
  SELECT qid, dots.doc_id AS neighbor_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.doc_id = dots.qid
  JOIN norms nn ON nn.doc_id = dots.doc_id
)
SELECT qid, rank, neighbor_id, cosine FROM (
  SELECT qid, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ranked
) WHERE rank <= 3
"""


SPLIT_TRAIN_PCT = 90   # buckets 0-89 -> train
SPLIT_VAL_PCT = 95     # buckets 90-94 -> val, 95-99 -> test


def tx_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-hash bucketing
    (the split step every training pipeline runs before mixing). Hash,
    not random: a document keeps its split forever — adding data or
    re-running the pipeline never leaks documents across splits, which a
    seeded random() cannot guarantee once the corpus is re-partitioned.

    100-TB shape: a pure per-row projection — no shuffle, no state, and
    the assignment is reproducible on any engine that can md5."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


TX_TRAIN_SPLIT_ORACLE = f"""
SELECT doc_id,
       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
       CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < {SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def fit_linear_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine model fitting: per-language ordinary-least-squares of
    n_chars on token count (a chars-per-token model), solved in CLOSED
    FORM from sufficient statistics — slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx*Sx), intercept from the means, r2 from the same sums.

    This is the scale template for fitting segmented linear models (one
    per group) over a 100-TB corpus: ONE map-side-combined aggregation
    produces the five sufficient statistics per group (exact integer
    sums — order-independent), and the solve is O(groups) arithmetic on
    the reduced frame. No iteration, no driver loop, no collect.

    Determinism: the sums are exact (bigint inputs, DECIMAL(38,0)
    accumulators); the solve divides exact integers in IEEE double with
    the same expression shape in both engines, and outputs round through
    DECIMAL(18,8)."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("x"),
        F.col("n_chars").alias("y"),
    )
    sums = obs.groupBy("lang").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        # products widen to decimal BEFORE the sum: long*long can wrap at
        # corpus scale, DECIMAL(38,0) accumulators cannot (DuckDB's
        # bigint SUM widens to int128 natively — same exactness)
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("syy"),
    )
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, sxy, syy = (F.col(c).cast("double") for c in ("sxx", "sxy", "syy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    sst = syy - (sy * sy) / n
    sse = syy - intercept * sy - slope * sxy
    return sums.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        slope.cast("decimal(18,8)").alias("slope"),
        intercept.cast("decimal(18,8)").alias("intercept"),
        (F.lit(1.0) - sse / sst).cast("decimal(18,8)").alias("r2"),
    ).orderBy("lang")


FIT_LINEAR_ORACLE = """
WITH obs AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS x, n_chars AS y
  FROM documents
),
sums AS (
  SELECT lang,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
  FROM obs GROUP BY lang
),
solved AS (
  SELECT lang, CAST(n AS BIGINT) AS n_docs,
         ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS slope,
         CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy, CAST(n AS DOUBLE) AS dn,
         CAST(sxx AS DOUBLE) AS dxx, CAST(sxy AS DOUBLE) AS dxy, CAST(syy AS DOUBLE) AS dyy
  FROM sums
)
SELECT lang, n_docs,
       CAST(slope AS DECIMAL(18,8)) AS slope,
       CAST((dy - slope * dx) / dn AS DECIMAL(18,8)) AS intercept,
       CAST(1.0 - (dyy - ((dy - slope * dx) / dn) * dy - slope * dxy)
                  / (dyy - (dy * dy) / dn) AS DECIMAL(18,8)) AS r2
FROM solved ORDER BY lang
"""


def pipe_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data preparation composed: quality gate →
    exact-dup keep-first → boilerplate-span strip → deterministic hash
    split, rolled up to per-split document and clean-token budgets —
    the one number a training run actually consumes ("how many tokens
    of train data survive cleaning?").

    Every stage is an operator this engine ships individually
    (pipe_clean_corpus's gate + dedup window, tx_boilerplate_strip,
    tx_train_split); composed they remain ONE Catalyst job whose
    shuffles are: the dedup digest exchange, the boilerplate gram
    aggregations, and the final 3-row rollup. The documents table is
    scanned, never collected; the output is |splits| rows."""
    from snowflake_to_postgres_spark.operators.text import tx_boilerplate_strip

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    n_tok = F.size(toks).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    mean_word_len = (n_chars - n_tok + 1).cast("double") / n_tok.cast("double")
    gated = docs.select("doc_id", "text", n_tok.alias("n_tok")).filter(
        (F.col("n_tok") >= 10) & (mean_word_len < F.lit(8.0))
    )
    w = Window.partitionBy(F.md5(F.trim(F.lower("text")))).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    bp = tx_boilerplate_strip(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        deduped.join(bp, "doc_id")
        .withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens") - F.col("n_removed")).cast("bigint").alias("clean_tokens"),
            F.sum("n_removed").cast("bigint").alias("removed_tokens"),
        )
        .orderBy("split")
    )


from snowflake_to_postgres_spark.operators.text import TX_BOILERPLATE_ORACLE as _BP_SQL

# DuckDB allows a full WITH...SELECT as a parenthesized subquery, so the
# boilerplate oracle embeds verbatim — the composed oracle IS the
# component oracles, not a re-derivation.
PIPE_TRAINING_ORACLE = f"""
WITH bp AS ({_BP_SQL}),
gated AS (
  SELECT doc_id, md5(trim(lower(text))) AS content_md5
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 10
    AND CAST(length(text) - len(string_split(lower(text), ' ')) + 1 AS DOUBLE)
          / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) < 8.0
),
ded AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
sp AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < {SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT sp.split, COUNT(*) AS n_docs,
       CAST(SUM(bp.n_tokens - bp.n_removed) AS BIGINT) AS clean_tokens,
       CAST(SUM(bp.n_removed) AS BIGINT) AS removed_tokens
FROM ded JOIN bp USING (doc_id) JOIN sp USING (doc_id)
GROUP BY sp.split ORDER BY sp.split
"""


DOWNSAMPLE_RATE_NUM = 3   # target keep rate = 3/10 of corpus rows (expected)
DOWNSAMPLE_RATE_DEN = 10
_HASH_SPAN = 4294967296   # 2^32 — first 8 md5 hex chars as a uniform draw


def tx_weighted_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional Poisson downsampling (Horvitz-Thompson style):
    keep each document with probability p_i = min(1, R · w_i / mean(w)),
    so the expected kept fraction is R while heavier (here: longer)
    documents are proportionally favored — the quality-weighted corpus
    downsampler (a Gopher/DoReMi-style mixture step executes exactly
    this with quality or domain weights).

    Deterministic and cross-engine exact: the uniform draw is the first
    8 md5 hex chars of doc_id as an integer in [0, 2^32), and the
    inclusion test  u·DEN·Σw < NUM·w_i·2^32·n  is pure DECIMAL(38,0)
    integer arithmetic — no float comparison anywhere, so Spark and the
    oracle keep the identical row set (p_i is emitted as a double for
    reporting only, computed with the identical operation order).

    100-TB shape: one map-side-combined global aggregate reduces to two
    scalars (Σw, n — a bounded collect, the same class as the engine's
    other threshold scalars), then a single codegen'd filter over the
    scan with the scalars as literals — no shuffle and no join of the
    corpus at all (a 1-row cross join would plan as a nested-loop join,
    which the global plan guard forbids)."""
    docs = load_table(spark, sf_dir, "documents")
    trow = docs.agg(
        F.sum("n_chars").cast("decimal(38,0)").alias("sw"),
        F.count("*").cast("decimal(38,0)").alias("n"),
    ).collect()[0]
    sw, n = int(trow["sw"]), int(trow["n"])
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "decimal(38,0)"
    )
    w = F.col("n_chars").cast("decimal(38,0)")
    keep = (u * DOWNSAMPLE_RATE_DEN * F.lit(sw).cast("decimal(38,0)")) < (
        w * DOWNSAMPLE_RATE_NUM * _HASH_SPAN * F.lit(n).cast("decimal(38,0)")
    )
    p = F.least(
        F.lit(1.0),
        (F.lit(float(DOWNSAMPLE_RATE_NUM)) * F.col("n_chars").cast("double")
         * F.lit(float(n)))
        / (F.lit(float(DOWNSAMPLE_RATE_DEN)) * F.lit(float(sw))),
    )
    return docs.filter(keep).select("doc_id", "source", "n_chars", p.alias("p_keep"))


TX_WEIGHTED_DOWNSAMPLE_ORACLE = f"""
WITH s AS (
  SELECT CAST(SUM(n_chars) AS DECIMAL(38,0)) AS sw,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n
  FROM documents
)
SELECT doc_id, source, n_chars,
       LEAST(1.0, ({DOWNSAMPLE_RATE_NUM}.0 * CAST(n_chars AS DOUBLE) * CAST(n AS DOUBLE))
                  / ({DOWNSAMPLE_RATE_DEN}.0 * CAST(sw AS DOUBLE))) AS p_keep
FROM documents, s
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS DECIMAL(38,0))
      * {DOWNSAMPLE_RATE_DEN} * sw
    < CAST(n_chars AS DECIMAL(38,0)) * {DOWNSAMPLE_RATE_NUM} * {_HASH_SPAN} * n
"""


#: A-ES sample size per source (tx_weighted_sample_topk).
WSAMPLE_K = 5

#: Grid for the A-ES key ln(u)/w: keys live in (-23, 0] (u ≥ 2⁻³²), so
#: 1e-12 absolute resolution keeps ~4 decimal-digit headroom above the
#: ~4e-15 worst-case 1-ulp disagreement between the two engines' ln —
#: the PageRank-grid honesty argument applies verbatim (residual
#: boundary-straddle flip ~1e-9 per key, accepted and documented).
WSAMPLE_GRID = 1e12


def tx_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per source — the
    Efraimidis-Spirtakis A-ES scheme (Inf. Proc. Letters 97(5), 2006):
    draw u_i uniform per item, keep the k largest u_i^(1/w_i). This is
    the exact-k per-stratum draw a mixture pipeline uses where the
    Bernoulli samplers (tx_weighted_downsample / tx_mixture_draw) only
    hit their quota in expectation.

    Ranking by u^(1/w) is order-equivalent to ranking by ln(u)/w — one
    transcendental instead of pow, and the value is snapped to the
    WSAMPLE_GRID integer grid with a (gkey DESC, doc_id) tie-break so
    both engines rank identical bigints. u derives from the first 8 md5
    hex chars of doc_id (the engine-wide hash-uniform), shifted to
    (0, 1] so ln is finite; w = max(n_chars, 1) guards zero-length docs.

    100-TB shape: one codegen'd projection computes the key; the
    per-source top-k is the w1 windowed-rank pattern (shuffle by
    source, per-group sort); a pathologically hot source pre-splits on
    a doc_id range exactly like the packing operator documents."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(_HASH_SPAN))
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    gkey = F.floor(F.log(u) / w * F.lit(WSAMPLE_GRID) + F.lit(0.5)).cast("bigint")
    keyed = docs.select("source", "doc_id", "n_chars", gkey.alias("gkey"))
    win = Window.partitionBy("source").orderBy(
        F.col("gkey").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= WSAMPLE_K)
        .select("source", "sample_rank", "doc_id", "n_chars")
        .orderBy("source", "sample_rank")
    )


TX_WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         CAST(floor(
           ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                AS DOUBLE) + 1.0) / {float(_HASH_SPAN)})
           / CAST(GREATEST(n_chars, 1) AS DOUBLE) * {WSAMPLE_GRID} + 0.5
         ) AS BIGINT) AS gkey
  FROM documents
),
r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY gkey DESC, doc_id)
           AS sample_rank
  FROM keyed
)
SELECT source, sample_rank, doc_id, n_chars
FROM r WHERE sample_rank <= {WSAMPLE_K}
ORDER BY source, sample_rank
"""


def tx_mixture_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realize the mixture plan: actually DRAW the per-source sample the
    tx_mixture_plan rates describe, with the same deterministic
    hash-uniform used everywhere else (u = first 8 md5 hex chars of
    doc_id; keep iff u < rate·2³²). Emits a per-source reconciliation —
    drawn docs/chars vs the plan's target — the report a pipeline run
    publishes after materializing a mixture.

    Cross-engine determinism: rate is computed with the identical
    operation order in both engines, and the keep test compares the
    integer draw against rate·2³² in one IEEE multiply — identical
    inputs, identical ops, identical kept set.

    100-TB shape: the plan is source-cardinality rows (broadcast); the
    draw is a codegen'd filter over the scan; the reconciliation is one
    map-side-combined rollup of the kept rows."""
    docs = load_table(spark, sf_dir, "documents")
    plan = tx_mixture_plan(spark, sf_dir).select("source", "rate", "planned_chars")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    )
    drawn = (
        docs.join(F.broadcast(plan), "source")
        .filter(u < F.col("rate") * F.lit(float(_HASH_SPAN)))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("drawn_docs"),
            F.sum("n_chars").cast("bigint").alias("drawn_chars"),
            F.first("planned_chars").alias("planned_chars"),
        )
    )
    return drawn.withColumn(
        "realization",
        F.col("drawn_chars").cast("double") / F.col("planned_chars"),
    )


TX_MIXTURE_DRAW_ORACLE = f"""
WITH plan AS ({TX_MIXTURE_ORACLE}),
kept AS (
  SELECT d.source, d.n_chars, p.planned_chars
  FROM documents d JOIN plan p USING (source)
  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
        < p.rate * {float(_HASH_SPAN)}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS drawn_docs,
       CAST(SUM(n_chars) AS BIGINT) AS drawn_chars,
       ANY_VALUE(planned_chars) AS planned_chars,
       CAST(SUM(n_chars) AS DOUBLE) / ANY_VALUE(planned_chars) AS realization
FROM kept GROUP BY source
"""


def tx_lm_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model evaluation composed from the split and the
    bigram trainer: fit the add-one-smoothed bigram LM on the TRAIN
    split only, score every VAL-split document — mean log-probability
    plus the unseen-bigram count. The honest form of LM-based quality
    scoring (tx_bigram_lm_score trains on everything, fine for
    filtering; an evaluation must never score its own training data).

    Unseen mass under add-one smoothing: a val bigram absent from the
    train counts contributes ln(1 / (c(w1) + V)); an unseen history
    contributes ln(1 / V) — the left joins + coalesce below, with V
    from the train vocabulary.

    100-TB shape: identical to the trainer — count aggregations on
    word keys over the train partition of the corpus, scoring join on
    the same keys over the val partition, per-doc rollup. The split
    predicate is the same no-shuffle hash projection as tx_train_split."""
    from snowflake_to_postgres_spark.operators.text import _toks

    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    docs = docs.withColumn("bucket", bucket).withColumn("toks", _toks())
    docs = docs.filter(F.size("toks") >= 2)
    big = docs.select(
        "doc_id",
        "bucket",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks)-1),"
                " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "bucket", "b.w1", "b.w2")
    train_big = big.filter(F.col("bucket") < SPLIT_TRAIN_PCT)
    val_big = big.filter(
        (F.col("bucket") >= SPLIT_TRAIN_PCT) & (F.col("bucket") < SPLIT_VAL_PCT)
    )
    bi = train_big.groupBy("w1", "w2").agg(F.count("*").alias("cb")).cache()
    uni = bi.groupBy("w1").agg(F.sum("cb").alias("cu"))
    vocab = (
        bi.select(F.col("w1").alias("w"))
        .union(bi.select(F.col("w2").alias("w")))
        .distinct()
        .count()
    )
    cb0 = F.coalesce(F.col("cb"), F.lit(0))
    cu0 = F.coalesce(F.col("cu"), F.lit(0))
    logprob = F.log((cb0 + 1).cast("double") / (cu0 + F.lit(vocab)).cast("double"))
    return (
        val_big.join(bi, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("cb").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unseen"),
            F.avg(logprob).cast("decimal(18,8)").alias("avg_logprob"),
        )
    )


TX_LM_HELDOUT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
         string_split(lower(text), ' ') AS t
  FROM documents
),
big AS (
  SELECT doc_id, bucket, t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(t)-1)) AS g(i)
  WHERE len(t) >= 2
),
train_big AS (SELECT * FROM big WHERE bucket < {SPLIT_TRAIN_PCT}),
val_big AS (SELECT * FROM big WHERE bucket >= {SPLIT_TRAIN_PCT} AND bucket < {SPLIT_VAL_PCT}),
bi AS (SELECT w1, w2, COUNT(*) AS cb FROM train_big GROUP BY w1, w2),
uni AS (SELECT w1, SUM(cb) AS cu FROM bi GROUP BY w1),
v AS (
  SELECT COUNT(DISTINCT w) AS vocab FROM (
    SELECT w1 AS w FROM bi UNION SELECT w2 AS w FROM bi
  )
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
       CAST(AVG(ln(CAST(COALESCE(cb, 0) + 1 AS DOUBLE)
                   / CAST(COALESCE(cu, 0) + vocab AS DOUBLE))) AS DECIMAL(18,8))
         AS avg_logprob
FROM val_big
LEFT JOIN bi USING (w1, w2)
LEFT JOIN uni USING (w1)
CROSS JOIN v
GROUP BY doc_id
"""


SPECS = [
    QuerySpec("tx_pii_scrub", tx_pii_scrub, TX_PII_ORACLE),
    QuerySpec("tx_weighted_downsample", tx_weighted_downsample, TX_WEIGHTED_DOWNSAMPLE_ORACLE),
    QuerySpec("tx_weighted_sample_topk", tx_weighted_sample_topk, TX_WEIGHTED_SAMPLE_ORACLE),
    QuerySpec("tx_mixture_draw", tx_mixture_draw, TX_MIXTURE_DRAW_ORACLE),
    QuerySpec("tx_lm_heldout_ppl", tx_lm_heldout_ppl, TX_LM_HELDOUT_ORACLE),
    QuerySpec("tx_tfidf_top_terms", tx_tfidf_top_terms, TX_TFIDF_ORACLE),
    QuerySpec("tx_pack_sequences", tx_pack_sequences, TX_PACK_ORACLE),
    QuerySpec("tx_mixture_plan", tx_mixture_plan, TX_MIXTURE_ORACLE),
    QuerySpec("ts_gapfill_locf", ts_gapfill_locf, TS_GAPFILL_ORACLE),
    QuerySpec("pipe_clean_corpus", pipe_clean_corpus, PIPE_CLEAN_ORACLE),
    QuerySpec("tx_hashed_features", tx_hashed_features, TX_HASHED_FEATURES_ORACLE),
    QuerySpec("sim_doc_hashed_topk", sim_doc_hashed_topk, SIM_DOC_HASHED_ORACLE),
    QuerySpec("tx_train_split", tx_train_split, TX_TRAIN_SPLIT_ORACLE),
    QuerySpec("fit_linear_by_group", fit_linear_by_group, FIT_LINEAR_ORACLE),
    QuerySpec("pipe_training_corpus", pipe_training_corpus, PIPE_TRAINING_ORACLE),
]


PR_ITERS = 8
PR_DAMP = 0.85
# Per-iteration rank grid (round-6 verdict #3 — oracle the recurrence):
# after every iteration ranks snap to the 1e-9 grid via the tie-free
# floor(x*1e9 + 0.5) idiom (same as similarity._components /
# layout_hilbert's integer recurrence). Gridding makes the recurrence
# cross-engine deterministic IN PRACTICE: each iteration's inputs are
# bit-identical doubles, so the only divergence source is that
# iteration's summation order — error ~1e-18, nine orders of magnitude
# below the half-grid boundary — and the snap stops it compounding
# across iterations. The argument is probabilistic, not absolute
# (round-7 ADVICE): a pre-snap value landing within ~1e-18 of a grid
# boundary still flips, at ~1e-9 probability per snap — over ~1e5 nodes
# × 8 iterations × 2 SFs per FULL run that is a ~1e-3-per-round latent
# flake, accepted and documented rather than claimed impossible. If the
# FULL gate ever hash-mismatches ONLY on graph_pagerank*, suspect a
# boundary flip first: tests/test_round6_ops.py's parity harness
# localizes the offending node and first diverging iteration. This is
# what lets DuckDB run the identical 8-step recurrence as an unrolled
# CTE chain and hash-match, promoting graph_pagerank out of rows-only.
PR_GRID = 1e9


def _grid(col):
    return F.floor(col * F.lit(PR_GRID) + F.lit(0.5)) / F.lit(PR_GRID)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer—supplier trade graph from lineitem⋈orders:
    node ids disjoint by parity (customer 2k, supplier 2k+1), each
    distinct trading pair contributing both edge directions."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    damp: float = PR_DAMP,
    tol: float = 0.0,
    stats: dict | None = None,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Distributed PageRank (Brin & Page) by iterated join-aggregate:
    each round joins the node-sized rank frame to the edge list on src,
    ships rank/degree contributions, and re-aggregates per dst — the
    canonical Spark formulation (two shuffles per round, both on node
    id; an edge table bucketed by src drops the edge-side exchange —
    plan-proven in tests/test_round7_ops.py). Every
    ``checkpoint_every`` rounds the rank frame is ``localCheckpoint``ed:
    persist() alone keeps the logical lineage, which grows a quadratic
    plan TEXT over iterations (measured: the 8-round plan audited at
    ~11k scan nodes); the checkpoint truncates lineage to the
    materialized partitions, bounding every round's plan at
    ``checkpoint_every`` chained join-aggs — the iterative-plan
    discipline that keeps the optimizer (and any plan audit) working on
    O(1)-size trees. The cadence is a pure scheduling knob, never a
    value knob: the per-iteration grid snap fixes each round's doubles
    bit-for-bit regardless of where barriers fall. Measured at sf0.1
    (8 iters, medians of 3): cadence 1 = 6.90 s, 2 = 5.02 s, 4 =
    4.63 s, 8 = 4.35 s — each eager barrier costs ~0.3-0.6 s of
    stage-scheduling floor. Round 14 re-measured cadence 4 vs 8 under
    the paired in-JVM ABAB protocol (6 alternating rounds): med 3.55 →
    2.93 s, min 2.88 → 2.45 s — so the default now checkpoints every 8
    rounds: for the registered 8-iteration query that is exactly ONE
    end-of-loop barrier, and for arbitrary ``iters`` the plan stays
    bounded at 8 chained join-aggs (a size the same measurement table
    already showed the optimizer handles). A SHUFFLE_HASH hint on the
    rank side of the per-round join was ALSO measured and LOST (med
    4.76 vs ~3.5 at cadence 4, 5.43 vs 3.07 at cadence 8 — rebuilding
    a per-partition hash table of the rank frame every round costs
    more than SMJ's sorts at every measured layout). Lazy checkpoints
    LOSE (10-13 s): the un-materialized tail recomputes under the next
    round's join.

    Ranks snap to the ``PR_GRID`` grid each iteration (see the constant's
    comment — this is what makes the recurrence cross-engine
    deterministic and DuckDB-oracle-able).

    ``tol`` > 0 adds a convergence early-exit (round-6 verdict #7): stop
    when Σ|Δrank| < tol. The check is ONE extra node-keyed join-agg per
    round collecting a single scalar — the same bounded convergence
    signal the components loop reads. The registered query keeps
    tol=0.0 so its result is the fixed 8-iteration recurrence the
    oracle replays.

    Round 15: the ``deg.count()`` construct job is gone — n enters the
    rank init and the teleport term as an uncorrelated SCALAR SUBQUERY
    over the persisted degree frame (through a temp view, never a
    spark.sql parameter — util/sqlview.py), so the recurrence launches
    zero jobs before its checkpoint. Same doubles: ``1.0/n`` and
    ``(1.0-damp)/n`` are single IEEE divisions of exactly-representable
    operands whether Python or the JVM evaluates them (the oracle
    already computes both SQL-side). Subquery reuse executes the count
    once per checkpoint job. The REMAINING eager barrier — the
    end-of-loop localCheckpoint — was ALSO measured against a fully
    lazy tail (round 15 ABAB, 6 alternating rounds each, bucketed
    edges, sf0.1): lazy med 3.440 / lazy+subquery med 3.431 vs
    checkpointed med 3.000 — the un-truncated 8-round chain loses
    ~15% to per-stage AQE re-planning of the growing remainder plan,
    so the checkpoint stays (consistent with the round-14 lazy-
    checkpoint measurement above). The subquery-n variant with the
    checkpoint kept won its paired ABAB (med 4.609 vs 4.807, 4/6
    rounds faster under load).

    Undirected input ⇒ every node has out-degree ≥ 1 ⇒ no dangling-mass
    correction needed. Numpy parity pinned in tests/test_round6_ops.py."""
    from snowflake_to_postgres_spark.util.sqlview import temp_view_for

    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    deg = deg.persist()
    deg_v = temp_view_for(deg, "pr_deg")
    n_expr = f"(SELECT CAST(COUNT(*) AS DOUBLE) FROM {deg_v})"
    e = edges.join(deg, "src").select("src", "dst", "deg").persist()
    ranks = deg.select(
        F.col("src").alias("node"),
        F.expr(f"CAST(1.0 AS DOUBLE) / {n_expr}").alias("rank"),
    )
    done = 0
    # tol > 0 materializes a scalar delta every round anyway (the
    # convergence join would otherwise recompute the un-checkpointed
    # tail twice), so the cadence only applies to the fixed-iteration
    # path.
    cadence = 1 if tol > 0.0 else max(1, checkpoint_every)
    for i in range(iters):
        done += 1
        contribs = e.join(ranks, e["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        new_ranks = contribs.groupBy("node").agg(F.sum("c").alias("s")).select(
            "node",
            _grid(
                F.expr(f"(CAST(1.0 AS DOUBLE) - {damp!r}D) / {n_expr}")
                + F.lit(damp) * F.col("s")
            ).alias("rank"),
        )
        if (i + 1) % cadence == 0 or i == iters - 1:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        if tol > 0.0:
            delta = (
                new_ranks.alias("a")
                .join(ranks.alias("b"), F.col("a.node") == F.col("b.node"))
                .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))).alias("d"))
                .collect()[0]["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    deg.unpersist()
    e.unpersist()
    if stats is not None:
        stats["iters"] = done
    return ranks


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: (node_kind, key, rank) over the trade graph.
    The rank is already on the 1e-9 grid — no display rounding needed
    (and none wanted: the oracle replays the identical gridded
    recurrence, so the doubles must match bit-for-bit)."""
    ranks = pagerank(_trade_edges(spark, sf_dir))
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_kind"),
        (F.col("node") / 2).cast("bigint").alias("key"),
        F.col("rank"),
    ).orderBy("node_kind", "key")


def _pr_oracle() -> str:
    """The identical gridded recurrence, unrolled to PR_ITERS chained
    CTEs (recursive-term aggregation is not portable SQL; unrolling is
    — the iteration count is a fixed constant of the operator). Every
    float op mirrors the Spark expression tree node-for-node:
    (1.0-0.85)/n, 0.85*sum(rank/deg), floor(x*1e9+0.5)/1e9 — IEEE
    doubles are deterministic given identical operands and operation
    order, and the grid absorbs the one order-dependent op (the sum)
    up to the residual boundary-flip probability documented at
    ``PR_GRID``."""
    teleport = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n"
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
  SELECT dst AS node,
         FLOOR(({teleport} + CAST(0.85 AS DOUBLE) * SUM(rank / deg)) * 1e9 + 0.5) / 1e9 AS rank
  FROM e JOIN r{i - 1} ON e.src = r{i - 1}.node, nn
  GROUP BY dst, n
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
e AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / n AS rank FROM deg, nn),
{chain}
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_kind,
       node // 2 AS key,
       rank
FROM r{PR_ITERS}
ORDER BY node_kind, key
"""


def _pr_probes(spark: SparkSession, sf_dir: str) -> "dict[str, DataFrame]":
    """Construction-phase plans (round-7 verdict #2): one live-lineage
    PageRank round — the per-iteration join-agg the localCheckpoints
    hide from the global plan audit."""
    return {"round": _pagerank_round_plan(_trade_edges(spark, sf_dir))}


def _pr_bucketed_probes(spark: SparkSession, sf_dir: str) -> "dict[str, DataFrame]":
    return {"round": _pagerank_round_plan(_bucketed_trade_edges(spark, sf_dir))}


SPECS.append(
    QuerySpec("graph_pagerank", graph_pagerank, _pr_oracle(), probes=_pr_probes)
)


# ---------------------------------------------------------------------------
# Bucketed + converged PageRank twins (round-7 verdict #3 / #7)

#: bucket count of the resident edge fixture; any count satisfies the
#: clustered-distribution requirement (the scan reports
#: HashPartitioning(src, numBuckets)), 32 matches the test session's
#: shuffle parallelism.
PR_EDGE_BUCKETS = 32

#: fixture tables written this session, keyed by (appId, table name) —
#: the write-once discipline: one shuffle write per session, every
#: subsequent call (bench warm-up + timed runs, repeated FULL checks)
#: reads the resident bucketed table. Keyed by appId so a NEW session
#: rewrites: the in-memory catalog forgets the table anyway, and
#: rewriting also protects against a stale warehouse dir if the
#: testdata fixture changed between sessions.
_PR_FIXTURES: set[tuple[str, str]] = set()


def _bucketed_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trade-edge table as a resident parquet table bucketed by
    ``src`` — the production layout for an iterated graph: the
    per-iteration contribution join and the degree aggregation both
    cluster on src, so the bucketed scan satisfies their distribution
    requirement and the edge-side Exchange disappears from every round
    (plan-pinned in tests/test_round8_ops.py; measured 1.9× on the
    8-iteration run in round 7)."""
    import re as _re

    from snowflake_to_postgres_spark.sources.bucketed import write_bucketed_table

    tag = _re.sub(r"[^0-9a-z]+", "_", sf_dir.strip("/").lower())
    # The application id is part of the table name: each session rewrites
    # its fixture anyway (the in-memory catalog forgets tables between
    # sessions), and a SHARED name lets two concurrent sessions on one
    # machine race on the same warehouse location (one drops/rewrites
    # while the other reads — observed as a flaky test under parallel
    # pytest runs). Unique-per-app names make the fixture race-free at
    # zero reuse cost.
    app = _re.sub(r"[^0-9a-z]+", "_", spark.sparkContext.applicationId.lower())
    tbl = f"pr_edges_bucketed_{tag}_{app}"
    key = (spark.sparkContext.applicationId, tbl)
    if key not in _PR_FIXTURES:
        write_bucketed_table(
            _trade_edges(spark, sf_dir), tbl, "src", num_buckets=PR_EDGE_BUCKETS
        )
        # The per-app name can never pre-exist, so no pre-write cleanup
        # is needed; what DOES need handling is the orphaned warehouse
        # dir this session leaves behind (the in-memory catalog forgets
        # the table at exit but the directory survives — unbounded disk
        # growth across bench/pytest/audit sessions, round-8 review
        # finding). Best-effort removal at process exit; only this
        # process's own dir, so concurrent sessions are untouched.
        # Crash leftovers remain — bounded by crash count, not runs.
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = os.path.join(warehouse.removeprefix("file:"), tbl.lower())
        atexit.register(shutil.rmtree, loc, True)
        _PR_FIXTURES.add(key)
    return spark.table(tbl)


def _pagerank_round_plan(edges: DataFrame) -> DataFrame:
    """ONE un-executed PageRank round over the given edge frame — the
    construction-phase plan probe (round-7 verdict #2): the registered
    query's lineage is truncated by per-round localCheckpoints, so the
    expensive per-iteration join-agg never reaches the global plan
    audit. This exposes it: same join-agg shape ``pagerank`` runs every
    round, built from live lineage so exchange/scan counts are real."""
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = edges.join(deg, "src").select("src", "dst", "deg")
    ranks = deg.select(F.col("src").alias("node"), F.lit(0.01).alias("rank"))
    contribs = e.join(ranks, e["src"] == ranks["node"]).select(
        F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
    )
    return contribs.groupBy("node").agg(F.sum("c").alias("s"))


def graph_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_pagerank on the write-once bucketed edge fixture — the same
    gridded recurrence and oracle, different physical layout. At 100 TB
    the resident bucketed edge table IS the production design: the
    one-time bucketing shuffle is amortized over every subsequent
    iteration (and every other src-keyed query on the graph)."""
    ranks = pagerank(_bucketed_trade_edges(spark, sf_dir))
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_kind"),
        (F.col("node") / 2).cast("bigint").alias("key"),
        F.col("rank"),
    ).orderBy("node_kind", "key")


#: convergence threshold for the registered converged variant: Σ|Δrank|
#: across all nodes (total mass is 1, so this is a mass fraction).
#: PageRank's delta contracts at exactly the damping factor — measured
#: on the trade graph: Σ|Δ| = 1.487·0.85^k — so tol=1e-2 exits at
#: iteration ~32 and a tighter 1e-6 would need ~87 rounds: the
#: tolerance is a wall-clock/precision dial, and 1% of total mass still
#: moving is where the RANKING has long stopped changing (hub order is
#: stable from ~iteration 10; pinned in tests/test_round8_ops.py).
PR_TOL = 1e-2
#: iteration cap for the converged variant — the early exit is the
#: point; the cap only bounds a pathological non-converging graph.
PR_MAX_ITERS = 40


def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PageRank mode (round-7 verdict #7): run to
    convergence (Σ|Δrank| < PR_TOL, one 1-row collect per round) instead
    of a fixed iteration count, report the iteration count taken, and
    read the bucketed edge fixture (the two production improvements
    compose: co-partitioned edges make each round cheaper, the early
    exit bounds how many rounds run).

    ORACLE-CHECKED since round 8 despite the data-dependent exit: the
    DuckDB oracle unrolls the gridded recurrence to the PR_MAX_ITERS
    cap, computes every step's Σ|Δrank| the same way, and selects the
    FIRST step under PR_TOL — replaying the exit decision itself in
    SQL. The per-iteration ranks are bit-identical (the PR_GRID
    argument); the delta is an un-gridded sum of gridded terms, so the
    exit comparison carries the same ~1e-16-near-the-threshold residual
    the grid comment documents — delta contracts geometrically (×0.85
    per round), so landing within 1e-16 of PR_TOL at the exit round is
    vanishingly rare. Also pinned in pytest: the result must equal a
    tol=0 run of the same iteration count bit-for-bit (the early exit
    changes WHEN you stop, never the recurrence)."""
    stats: dict = {}
    ranks = pagerank(
        _bucketed_trade_edges(spark, sf_dir),
        iters=PR_MAX_ITERS,
        tol=PR_TOL,
        stats=stats,
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_kind"),
        (F.col("node") / 2).cast("bigint").alias("key"),
        F.col("rank"),
        F.lit(stats["iters"]).cast("int").alias("iters"),
    ).orderBy("node_kind", "key")


SPECS.append(
    QuerySpec(
        "graph_pagerank_bucketed",
        graph_pagerank_bucketed,
        _pr_oracle(),
        probes=_pr_bucketed_probes,
    )
)
def _pr_converged_oracle() -> str:
    """The converged twin's oracle: the same unrolled gridded recurrence
    as ``_pr_oracle`` but to the PR_MAX_ITERS cap, a per-step Σ|Δrank|
    ladder, and the exit decision replayed in SQL — iters* = first step
    with delta < PR_TOL (capped), ranks taken from that step."""
    teleport = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n"
    steps, deltas, all_ranks = [], [], []
    for i in range(1, PR_MAX_ITERS + 1):
        # MATERIALIZED is load-bearing: each r{k} is referenced ~4 times
        # (next step, two delta rows, ranks_all) — DuckDB's default CTE
        # INLINING turns that into an exponentially branching plan that
        # exhausts file handles at 40 levels (the 8-step _pr_oracle chain
        # survives inlining; this one must pin materialization).
        steps.append(
            f"""r{i} AS MATERIALIZED (
  SELECT dst AS node,
         FLOOR(({teleport} + CAST(0.85 AS DOUBLE) * SUM(rank / deg)) * 1e9 + 0.5) / 1e9 AS rank
  FROM e JOIN r{i - 1} ON e.src = r{i - 1}.node, nn
  GROUP BY dst, n
)"""
        )
        deltas.append(
            f"SELECT {i} AS k, SUM(ABS(a.rank - b.rank)) AS d "
            f"FROM r{i} a JOIN r{i - 1} b USING (node)"
        )
        all_ranks.append(f"SELECT {i} AS k, node, rank FROM r{i}")
    chain = ",\n".join(steps)
    delta_union = "\nUNION ALL\n".join(deltas)
    ranks_union = "\nUNION ALL\n".join(all_ranks)
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
e AS MATERIALIZED (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
r0 AS MATERIALIZED (SELECT src AS node, CAST(1.0 AS DOUBLE) / n AS rank FROM deg, nn),
{chain},
delta AS ({delta_union}),
k_star AS (
  SELECT COALESCE(MIN(k), {PR_MAX_ITERS}) AS ks FROM delta WHERE d < {PR_TOL!r}
),
ranks_all AS ({ranks_union})
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_kind,
       node // 2 AS key,
       rank,
       CAST(ks AS INT) AS iters
FROM ranks_all, k_star
WHERE k = ks
ORDER BY node_kind, key
"""


SPECS.append(
    QuerySpec(
        "graph_pagerank_converged",
        graph_pagerank_converged,
        _pr_converged_oracle(),
        probes=_pr_bucketed_probes,
    )
)


#: Coarse order-aligned bucket width for the dense-id assignment.
DENSE_ID_BUCKET = 64

#: Negatives per document (tx_negative_pairs).
NEG_K = 3


def _dense_bucket(key: str):
    """Exact order-aligned bucket for :func:`dense_ids`.

    Integer ``div``, not ``floor(key / width)``: double division rounds
    keys above 2^53 (granularity 512 at 2^62), collapsing up to
    width x granularity neighboring keys into one bucket — the
    per-bucket window's memory bound silently grows ~1000x at exactly
    the >10^9-row scale dense_ids targets (round-8 review finding).
    ``div`` alone truncates toward zero, which would merge the buckets
    either side of 0 into one 2x-wide bucket on a signed key domain
    (round-9 review finding) — the negative branch subtracts the
    remainder first so this is TRUE floor division: buckets stay
    order-aligned, exact, and at most DENSE_ID_BUCKET keys wide over
    the entire signed bigint domain, matching python's ``//`` (which
    the property tests replicate)."""
    b = DENSE_ID_BUCKET
    return F.expr(
        f"IF(`{key}` >= 0, `{key}` div {b},"
        f" (`{key}` - ((({b} + (`{key}` % {b})) % {b}))) div {b})"
    )


def dense_ids(df: DataFrame, key: str) -> DataFrame:
    """Stable dense ids 0..N-1 ordered by ``key`` — the DataFrame-native
    zipWithIndex every downstream consumer of integer row ids needs
    (embedding tables, negative sampling, PQ codebooks), built WITHOUT
    the classic scale-killers: no global sort, no single-partition
    window over the data.

    THREE-level bucket prefix-sum: (1) bucket rows by the
    ORDER-ALIGNED coarse key ``key div DENSE_ID_BUCKET`` and count per
    bucket; (2) each bucket's exclusive offset = a running sum over
    earlier buckets WITHIN its superbucket (window partitioned by
    ``_bucket div DENSE_ID_BUCKET`` — ≤DENSE_ID_BUCKET rows per task)
    plus a global running sum over per-SUPERBUCKET totals only (N/B²
    rows — 10¹¹ rows at width 64 leaves 2.4×10⁷ superbucket rows, and
    the construction recurses mechanically if that ever matters);
    (3) id = offset + (row_number within bucket) - 1. The offset
    frame is one row per bucket — corpus-scaled — so its join back is
    UNHINTED on ``_bucket``, the key the within-bucket window already
    shuffles on. Per-bucket windows are bounded by the bucket width.

    Requires a bigint key (order-aligned integer division) whose values
    are UNIQUE: with duplicate keys the within-bucket row_number breaks
    ties by partition-internal order, which varies with task
    scheduling — the reproducible-epoch-shard contract silently fails
    (round-8 review finding). String keys dense-rank their md5-int64
    first — same discipline as the engine's other hash-keyed
    operators — and must resolve collisions (append a disambiguator)
    before calling this."""
    b = _dense_bucket(key).alias("_bucket")
    bucketed = df.withColumn("_bucket", b)
    counts = bucketed.groupBy("_bucket").agg(F.count("*").alias("_bn")).withColumn(
        "_sbkt", _dense_bucket("_bucket")
    )
    within_super = Window.partitionBy("_sbkt").orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    super_tot = counts.groupBy("_sbkt").agg(F.sum("_bn").alias("_sn"))
    super_carry = super_tot.select(
        "_sbkt",
        F.coalesce(
            F.sum("_sn").over(
                Window.orderBy("_sbkt").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_scarry"),
    )
    offsets = (
        counts.withColumn(
            "_in_super", F.coalesce(F.sum("_bn").over(within_super), F.lit(0))
        )
        .join(super_carry, "_sbkt")
        .select("_bucket", (F.col("_in_super") + F.col("_scarry")).alias("_offset"))
    )
    within = Window.partitionBy("_bucket").orderBy(key)
    return (
        bucketed.join(offsets, "_bucket")
        .withColumn(
            "dense_id",
            (F.col("_offset") + F.row_number().over(within) - 1).cast("bigint"),
        )
        .drop("_bucket", "_offset")
    )


def tx_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: (doc_id, source, dense_id) over documents,
    dense_id = rank of doc_id in 0..N-1."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return dense_ids(docs, "doc_id").select("doc_id", "source", "dense_id")


TX_DENSE_IDS_ORACLE = """
SELECT doc_id, source,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS dense_id
FROM documents
"""


def tx_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document paired with NEG_K pseudo-random OTHER documents, partner
    p_i = md5int(doc_id ':' i) mod N re-probed to (own + 1) mod N on
    self-collision. The uniform draw is the engine-wide md5 idiom, so
    the pairing is reproducible run-over-run and engine-over-engine —
    the property a training pipeline needs to regenerate the same
    epoch shards.

    Plan: dense ids via the bucket prefix-sum (no global sort), one
    explode to NEG_K probe rows, one equi-join back on dense_id to
    resolve partners. No sampling-by-collect, no cartesian.

    100-TB: the probe join shuffles on dense_id like any fact-fact
    equi-join; N arrives as one scalar (the threshold-literal
    pattern)."""
    ids = dense_ids(
        load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    ).persist()
    n = ids.count()
    probes = ids.select(
        "doc_id",
        F.col("dense_id").alias("own_id"),
        F.explode(F.array(*[F.lit(i) for i in range(1, NEG_K + 1)])).alias("i"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("i"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    raw = h % F.lit(n)
    partner = F.when(raw == F.col("own_id"), (raw + 1) % F.lit(n)).otherwise(raw)
    probed = probes.select("doc_id", "i", partner.alias("_p"))
    neg = ids.select(
        F.col("dense_id").alias("_p"), F.col("doc_id").alias("neg_doc_id")
    )
    return (
        probed.join(neg, "_p")
        .select("doc_id", "i", "neg_doc_id")
        .orderBy("doc_id", "i")
    )


TX_NEGATIVE_PAIRS_ORACLE = f"""
WITH ids AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS dense_id
  FROM documents
),
n AS (SELECT COUNT(*) AS n FROM documents),
probes AS (
  SELECT doc_id, dense_id AS own_id, i
  FROM ids, UNNEST(range(1, {NEG_K + 1})) AS t(i)
),
resolved AS (
  SELECT doc_id, i,
         CASE WHEN raw = own_id THEN (raw + 1) % n ELSE raw END AS _p
  FROM (
    SELECT doc_id, own_id, i, n,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                CAST(i AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) % n AS raw
    FROM probes, n
  )
)
SELECT r.doc_id, CAST(r.i AS INT) AS i, ids.doc_id AS neg_doc_id
FROM resolved r JOIN ids ON ids.dense_id = r._p
ORDER BY r.doc_id, r.i
"""


SPECS.append(QuerySpec("tx_dense_ids", tx_dense_ids, TX_DENSE_IDS_ORACLE))
SPECS.append(QuerySpec("tx_negative_pairs", tx_negative_pairs, TX_NEGATIVE_PAIRS_ORACLE))


#: Personalization seed-set size for graph_ppr (top customers by exact
#: decimal spend, custkey tie-break — the deterministic "VIP" set).
PPR_SEEDS = 5


def _ppr_seed_nodes(spark: SparkSession, sf_dir: str) -> list[int]:
    """Top PPR_SEEDS customers by total order spend as trade-graph node
    ids (custkey*2). Exact DECIMAL sums make the ordering engine-exact;
    the oracle recomputes the identical set."""
    o = load_table(spark, sf_dir, "orders")
    top = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("spend")
        )
        .orderBy(F.col("spend").desc(), "o_custkey")
        .limit(PPR_SEEDS)
        .collect()
    )
    return [int(r["o_custkey"]) * 2 for r in top]


def ppr(
    edges: DataFrame,
    seed_nodes: list[int],
    iters: int = PR_ITERS,
    damp: float = PR_DAMP,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Personalized PageRank (topic-sensitive PageRank, Haveliwala
    2002): the pagerank recurrence with the uniform teleport replaced
    by a distribution over ``seed_nodes`` — r₀ = p,
    r_{t+1} = p + d·Aᵀ(r_t/deg), p(v) = (1-d)/|S| for seeds else 0.
    The recommendation/expansion primitive ("similar to these
    customers"). Same per-iteration grid snap, same checkpoint-cadence
    discipline as :func:`pagerank` (the recurrence rewrites only the
    rank frame against a static edge table, so cadence is a pure
    scheduling knob).

    Every node appears every round (the undirected trade graph gives
    every node in-edges), so unreached nodes carry exact 0.0 mass —
    the oracle's join-aggregate replays the identical support."""
    if not seed_nodes:
        raise ValueError(
            "ppr: seed_nodes must be non-empty — the teleport "
            "distribution is uniform over the seed set"
        )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    e = edges.join(deg, "src").select("src", "dst", "deg").persist()
    tp_val = (1.0 - damp) / len(seed_nodes)
    tp_of = lambda col: F.when(  # noqa: E731
        col.isin(seed_nodes), F.lit(tp_val)
    ).otherwise(F.lit(0.0))
    ranks = deg.select(
        F.col("src").alias("node"), tp_of(F.col("src")).alias("rank")
    )
    cadence = max(1, checkpoint_every)
    for i in range(iters):
        contribs = e.join(ranks, e["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        new_ranks = contribs.groupBy("node").agg(F.sum("c").alias("s")).select(
            "node",
            _grid(
                tp_of(F.col("node")) + F.lit(damp) * F.col("s")
            ).alias("rank"),
        )
        if (i + 1) % cadence == 0 or i == iters - 1:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        ranks = new_ranks
    deg.unpersist()
    e.unpersist()
    return ranks


def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: (node_kind, key, rank) — personalized PageRank
    on the trade graph seeded at the top-PPR_SEEDS customers by spend.
    Ranks sit on the PR_GRID grid; the oracle replays the identical
    seeded recurrence unrolled."""
    seeds = _ppr_seed_nodes(spark, sf_dir)
    if not seeds:
        # Empty orders table → no seed customers: a well-formed empty
        # result, not a ZeroDivisionError (degenerate-fixture contract
        # the graph CLI verb promises).
        return spark.createDataFrame(
            [], "node_kind string, key bigint, rank double"
        )
    ranks = ppr(_trade_edges(spark, sf_dir), seeds)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_kind"),
        (F.col("node") / 2).cast("bigint").alias("key"),
        F.col("rank"),
    ).orderBy("node_kind", "key")


def _ppr_oracle() -> str:
    """The seeded gridded recurrence unrolled (see _pr_oracle for the
    grid-honesty argument — it applies verbatim). The teleport term is
    a CASE over the MATERIALIZED seed set; (1.0-0.85)/|S| mirrors the
    Spark float expression exactly."""
    tpv = f"(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / {PPR_SEEDS}"
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
  SELECT dst AS node,
         FLOOR((CASE WHEN dst IN (SELECT node FROM seeds) THEN {tpv}
                     ELSE CAST(0.0 AS DOUBLE) END
                + CAST(0.85 AS DOUBLE) * SUM(rank / deg)) * 1e9 + 0.5) / 1e9 AS rank
  FROM e JOIN r{i - 1} ON e.src = r{i - 1}.node
  GROUP BY dst
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
seeds AS MATERIALIZED (
  SELECT node FROM (
    SELECT o_custkey * 2 AS node,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS spend
    FROM orders GROUP BY o_custkey
  ) ORDER BY spend DESC, node LIMIT {PPR_SEEDS}
),
r0 AS (
  SELECT src AS node,
         CASE WHEN src IN (SELECT node FROM seeds) THEN {tpv}
              ELSE CAST(0.0 AS DOUBLE) END AS rank
  FROM deg
),
{chain}
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_kind,
       node // 2 AS key,
       rank
FROM r{PR_ITERS}
ORDER BY node_kind, key
"""


def _ppr_probes(spark: SparkSession, sf_dir: str) -> "dict[str, DataFrame]":
    return {"round": _pagerank_round_plan(_trade_edges(spark, sf_dir))}


SPECS.append(QuerySpec("graph_ppr", graph_ppr, _ppr_oracle(), probes=_ppr_probes))


#: Temperature-mixture weight grid: w = floor(sqrt(chars)*1e6 + 0.5).
#: sqrt is IEEE correctly-rounded (the reason tau is fixed at 0.5 —
#: pow(x, 0.7) is a libm parity trap), and gridding the irrational
#: weights to integers makes the denominator an EXACT bigint sum,
#: order-free in both engines.
TEMP_WEIGHT_GRID = 1_000_000


def tx_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture plan (tau = 0.5): per-source sampling
    rates proportional to actual_chars^tau — the multilingual-corpus
    balancing rule (T5/mT5 style: temperature < 1 upsamples small
    sources relative to their raw share without letting any source
    dominate). Rates cap at 1; budget is MIXTURE_BUDGET_FRACTION of
    corpus chars, the same dial the weighted plan uses.

    tau is fixed at 0.5 deliberately: sqrt is the one fractional power
    IEEE-754 requires correctly rounded, so the per-source weights are
    bit-identical cross-engine; arbitrary tau would need pow(), whose
    last-ulp behavior differs between libms (the PageRank-grid honesty
    note would apply with a much worse constant).

    100-TB shape: identical to tx_mixture_plan — one per-source rollup,
    two scalar literals, a |sources|-row result."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("actual_chars"),
    )
    w = F.floor(
        F.sqrt(F.col("actual_chars").cast("double")) * F.lit(float(TEMP_WEIGHT_GRID))
        + F.lit(0.5)
    ).cast("bigint")
    per_src = per_src.withColumn("w_sqrt", w)
    total_chars = docs.agg(F.sum("n_chars").cast("bigint")).first()[0]
    sum_w = per_src.agg(F.sum("w_sqrt")).first()[0]
    if not total_chars or not sum_w:
        # Degenerate corpus (empty table → SUM is NULL; or every source
        # has zero chars → weights all zero): emit a well-formed empty
        # plan instead of float(None)/division-by-zero — the same
        # degenerate-input discipline the graph kernels follow.
        per_src = per_src.limit(0)
        total_chars, sum_w = 1, 1
    share = F.col("w_sqrt").cast("double") / F.lit(float(sum_w))
    target = share * (F.lit(float(total_chars)) * F.lit(MIXTURE_BUDGET_FRACTION))
    rate = F.least(F.lit(1.0), target / F.col("actual_chars").cast("double"))
    return per_src.select(
        "source",
        "n_docs",
        "actual_chars",
        "w_sqrt",
        share.alias("share"),
        target.alias("target_chars"),
        rate.alias("rate"),
        (rate * F.col("actual_chars").cast("double")).alias("planned_chars"),
    )


TX_MIXTURE_TEMP_ORACLE = f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS actual_chars,
         CAST(floor(sqrt(CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE))
              * {float(TEMP_WEIGHT_GRID)} + 0.5) AS BIGINT) AS w_sqrt
  FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS t FROM documents),
sw AS (SELECT CAST(SUM(w_sqrt) AS BIGINT) AS s FROM per)
SELECT source, n_docs, actual_chars, w_sqrt,
  CAST(w_sqrt AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE) AS share,
  (CAST(w_sqrt AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE))
    * (CAST((SELECT t FROM tot) AS DOUBLE) * CAST({MIXTURE_BUDGET_FRACTION} AS DOUBLE)) AS target_chars,
  least(CAST(1.0 AS DOUBLE),
    ((CAST(w_sqrt AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE))
      * (CAST((SELECT t FROM tot) AS DOUBLE) * CAST({MIXTURE_BUDGET_FRACTION} AS DOUBLE)))
    / CAST(actual_chars AS DOUBLE)) AS rate,
  least(CAST(1.0 AS DOUBLE),
    ((CAST(w_sqrt AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE))
      * (CAST((SELECT t FROM tot) AS DOUBLE) * CAST({MIXTURE_BUDGET_FRACTION} AS DOUBLE)))
    / CAST(actual_chars AS DOUBLE)) * CAST(actual_chars AS DOUBLE) AS planned_chars
FROM per
"""


SPECS.append(
    QuerySpec("tx_mixture_temperature", tx_mixture_temperature, TX_MIXTURE_TEMP_ORACLE)
)


N_EPOCH_SHARDS = 8  # pipe_dense_shards: reproducible shard count


def pipe_dense_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch sharding — the contract :func:`dense_ids`
    exists to serve, promoted to a first-class query: documents get
    dense ids 0..N-1 (three-level bucket prefix-sum, no global sort)
    and shard = dense_id mod N_EPOCH_SHARDS, so shard sizes are EXACTLY
    balanced (max-min ≤ 1 by construction, visible in the result) and
    an assignment never changes when the corpus is re-partitioned or
    re-read — the property a training run needs to resume epoch k
    shard j bit-for-bit. Emits per shard: n_docs, min/max dense id,
    and an md5 XOR fingerprint of member doc_ids (the order-free
    monoid), so the oracle's replay proves the exact MEMBERSHIP, not
    just the sizes.

    100-TB shape: dense_ids' (one (bucket) aggregate + bounded-metadata
    carries), then one map-side-combinable shard aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ids = dense_ids(docs, "doc_id")
    fp = F.expr(
        "bit_xor(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15),"
        " 16, 10) AS BIGINT))"
    )
    return (
        ids.withColumn("shard", (F.col("dense_id") % N_EPOCH_SHARDS).cast("int"))
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("dense_id").cast("bigint").alias("min_id"),
            F.max("dense_id").cast("bigint").alias("max_id"),
            fp.alias("member_fp"),
        )
        .orderBy("shard")
    )


PIPE_DENSE_SHARDS_ORACLE = f"""
WITH ids AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS dense_id
  FROM documents
)
SELECT CAST(dense_id % {N_EPOCH_SHARDS} AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(dense_id) AS BIGINT) AS min_id,
       CAST(MAX(dense_id) AS BIGINT) AS max_id,
       bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT))
         AS member_fp
FROM ids
GROUP BY 1
ORDER BY 1
"""


SPECS.append(
    QuerySpec("pipe_dense_shards", pipe_dense_shards, PIPE_DENSE_SHARDS_ORACLE)
)


# ---------------------------------------------------------------------------
# Hybrid retrieval via Reciprocal Rank Fusion (round 11) — fuse the
# lexical BM25 ranking (text.tx_bm25_topk's scorer) with the dense
# embedding cosine ranking (similarity.sim_topk_bruteforce's scorer)
# for the same probe documents. RRF (Cormack, Clarke & Buettcher 2009,
# "Reciprocal Rank Fusion outperforms Condorcet and individual Rank
# Learning Methods") is THE standard hybrid-search combiner: it needs
# only ranks, never score calibration across systems.
# ---------------------------------------------------------------------------

RRF_K = 60  # the paper's smoothing constant
RRF_DEPTH = 20  # per-system candidate depth fed into the fusion
RRF_TOPK = 10


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-:data:`RRF_TOPK` hybrid neighbors per probe doc:
    rrf(d) = Σ_systems 1/(RRF_K + rank_system(d)) over the lexical
    (BM25) and dense (exact cosine over ``embeddings``, vec_id ≡
    doc_id) candidate lists, each cut at :data:`RRF_DEPTH`.

    Determinism: ranks are exact integers from both systems' own
    deterministic orderings; each reciprocal is one IEEE division and
    the fusion is a FIXED two-term expression (never a float SUM over
    a variable row set); ties break on doc_id.

    100-TB shape: both candidate generators keep their own scale
    topology (broadcast probe block ⋈ inverted index / component
    frame); the fusion itself is a full-outer join of two
    |probes|×DEPTH frames — bounded by the query set, not the corpus."""
    from snowflake_to_postgres_spark.operators.similarity import _bf_cosines
    from snowflake_to_postgres_spark.operators.text import (
        N_BM25_QUERIES,
        _bm25_scored,
    )

    w_lex = Window.partitionBy("qid").orderBy(F.col("score_scaled").desc(), "doc_id")
    lex = (
        _bm25_scored(spark, sf_dir)
        .withColumn("rank_lex", F.row_number().over(w_lex).cast("bigint"))
        .filter(F.col("rank_lex") <= RRF_DEPTH)
        .select("qid", "doc_id", "rank_lex")
    )
    w_emb = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "neighbor_id")
    emb = (
        _bf_cosines(spark, sf_dir, n_queries=N_BM25_QUERIES)
        .withColumn("rank_emb", F.row_number().over(w_emb).cast("bigint"))
        .filter(F.col("rank_emb") <= RRF_DEPTH)
        .select("qid", F.col("neighbor_id").alias("doc_id"), "rank_emb")
    )
    fused = lex.join(emb, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        "rank_lex",
        "rank_emb",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_lex")).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_emb")).cast("double"),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= RRF_TOPK)
        .select("qid", "rank", "doc_id", "rank_lex", "rank_emb", "rrf")
    )


def _hybrid_rrf_oracle() -> str:
    from snowflake_to_postgres_spark.operators.similarity import _COMP_CTES
    from snowflake_to_postgres_spark.operators.text import (
        _BM25_CTES,
        N_BM25_QUERIES,
    )

    comp_body = _COMP_CTES.strip()
    assert comp_body.startswith("WITH ")
    return (
        _BM25_CTES
        + ",\n"
        + comp_body[len("WITH ") :]
        + f""",
lexr AS (
  SELECT qid, doc_id, rank_lex FROM (
    SELECT qid, doc_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank_lex
    FROM scored) l
  WHERE rank_lex <= {RRF_DEPTH}),
qv AS (SELECT vec_id AS qid, idx, val AS qval FROM comp WHERE vec_id < {N_BM25_QUERIES}),
dots AS (
  SELECT qid, vec_id, CAST(SUM(val * qval) AS DECIMAL(38,18)) AS dot
  FROM comp JOIN qv USING (idx)
  WHERE vec_id <> qid
  GROUP BY qid, vec_id),
cosines AS (
  SELECT qid, dots.vec_id AS doc_id,
         CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))) AS DECIMAL(10,8)) AS cosine
  FROM dots
  JOIN norms qn ON qn.vec_id = dots.qid
  JOIN norms nn ON nn.vec_id = dots.vec_id),
embr AS (
  SELECT qid, doc_id, rank_emb FROM (
    SELECT qid, doc_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank_emb
    FROM cosines) e
  WHERE rank_emb <= {RRF_DEPTH}),
fused AS (
  SELECT COALESCE(l.qid, e.qid) AS qid,
         COALESCE(l.doc_id, e.doc_id) AS doc_id,
         l.rank_lex, e.rank_emb,
         COALESCE(1.0 / CAST({RRF_K} + l.rank_lex AS DOUBLE), 0.0)
       + COALESCE(1.0 / CAST({RRF_K} + e.rank_emb AS DOUBLE), 0.0) AS rrf
  FROM lexr l FULL OUTER JOIN embr e
    ON l.qid = e.qid AND l.doc_id = e.doc_id)
SELECT qid, rank, doc_id, rank_lex, rank_emb, rrf FROM (
  SELECT qid, doc_id, rank_lex, rank_emb, rrf,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY qid ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
  FROM fused) f
WHERE rank <= {RRF_TOPK}
"""
    )


SPECS.append(QuerySpec("sim_hybrid_rrf", sim_hybrid_rrf, _hybrid_rrf_oracle()))


#: pipe_quota_sample: documents kept per source (RefinedWeb-style
#: per-domain cap — no single crawl domain may dominate the corpus).
QUOTA_PER_SOURCE = 50


def pipe_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping — the anti-domination rule every crawl
    corpus applies (C4/RefinedWeb: cap documents per domain so one
    giant source cannot swamp the mixture): keep the QUOTA_PER_SOURCE
    best documents per source, ranked by a DETERMINISTIC key (longest
    n_chars first, doc_id tie-break — rank on doubles would make the
    kept-set engine-dependent at score ties). Emits the per-source
    audit row: (source, n_docs, n_kept, chars_total, chars_kept) — the
    report a mixture rebalance reads before retraining weights.

    100-TB shape: one rank window PARTITIONED BY source (parallel
    across sources; a single giant source pre-splits on a doc_id range,
    the tx_pack_sequences note) folded straight into a |sources|-bounded
    aggregate — the per-doc ranks never leave the stage."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = docs.withColumn("rnk", F.row_number().over(w))
    kept = F.col("rnk") <= QUOTA_PER_SOURCE
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_kept"),
        )
        .orderBy("source")
    )


PIPE_QUOTA_ORACLE = f"""
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rnk <= {QUOTA_PER_SOURCE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(CASE WHEN rnk <= {QUOTA_PER_SOURCE} THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_kept
FROM ranked
GROUP BY source
ORDER BY source
"""


SPECS.append(QuerySpec("pipe_quota_sample", pipe_quota_sample, PIPE_QUOTA_ORACLE))


# ---------------------------------------------------------------------------
# Learned quality-gate enforcement (round 14, session 2): train the
# tx_quality_classifier probe, then ADMIT only documents it scores
# ≥ 0.5 — the batch act-on-it twin of the model query, and the batch
# parity reference for streaming.quality_gate_stream (the observe→act
# pattern st_mixture/quota_sample_stream established, applied to the
# engine's own trained model instead of a rule).
# ---------------------------------------------------------------------------


def pipe_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admitted corpus under the trained quality gate: (doc_id, source,
    pf) for every document with predicted probability ≥ ½ (pf is the
    1e6-gridded fast-sigmoid score — exact in both engines).

    100-TB shape: training is QL_ROUNDS 1-row gradient collects over
    the compact persisted feature frame; enforcement is a pure
    literal-weight projection + filter — no join, no shuffle, no model
    server. The admitted frame is what downstream mixture/packing
    consumes."""
    from pyspark import StorageLevel

    from snowflake_to_postgres_spark.operators.text import (
        QL_SCALE,
        _ql_scored,
        _quality_features,
        train_quality_logreg,
    )

    feats = _quality_features(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    w, _ = train_quality_logreg(feats)
    scored = _ql_scored(feats, w).filter(F.col("pf") >= QL_SCALE // 2)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return scored.select("doc_id", "pf").join(docs, "doc_id").select(
        "doc_id", "source", "pf"
    )


def _pipe_quality_filter_oracle() -> str:
    from snowflake_to_postgres_spark.operators.text import (
        _QL_CTES,
        _QL_WFIN,
        QL_DIM,
        QL_SCALE,
    )

    dot = " + ".join(f"f.x{i} * w.w{i}" for i in range(QL_DIM))
    return (
        _QL_CTES
        + f""",
scored AS (
  SELECT f.doc_id,
         CAST(floor((0.5 + 0.5 * mr / (1.0 + abs(mr))) * 1000000 + 0.5) AS BIGINT) AS pf
  FROM (SELECT f.*, CAST({dot} AS DOUBLE) / 1e12 AS mr
        FROM feats f CROSS JOIN {_QL_WFIN} w) f)
SELECT s.doc_id, d.source, s.pf
FROM scored s JOIN documents d USING (doc_id)
WHERE s.pf >= {QL_SCALE // 2}"""
    )


from snowflake_to_postgres_spark.operators.text import _ql_probes as _pipe_ql_probes  # noqa: E402


SPECS.append(
    QuerySpec(
        "pipe_quality_filter",
        pipe_quality_filter,
        _pipe_quality_filter_oracle(),
        probes=_pipe_ql_probes,
    )
)


def pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATASET CARD — the one-page summary a corpus
    release publishes (Gebru et al., "Datasheets for Datasets"): volume
    (docs, chars, exact char share of the corpus), token mass, language
    composition, exact-duplicate exposure (docs whose text digest is
    shared ANYWHERE in the corpus — cross-source dupes count for both
    sides, which is what a contamination reviewer wants), and the
    rule-gate pass rate (the same gopher-style label the learned
    classifier trains against — one definition, every surface).

    All integer/ppm — no float aggregation anywhere, so the card is
    bit-stable under any partitioning. 100-TB shape: one tokenless...
    rather, one tokenizing scan reduced per-doc, a digest pre-reduction
    (groupBy digest → counts, the dedup_exact shape) joined back on the
    32-byte digest key, then ONE |sources|-row aggregate; the corpus
    total enters via a window over that bounded frame, never a scalar
    collect."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tc = toks.groupBy("doc_id").agg(
        F.count("*").alias("nt"),
        F.sum(F.when(F.col("term").isin("the", "a"), 1).otherwise(0)).alias(
            "stop"
        ),
    )
    digests = docs.select("doc_id", F.md5("text").alias("dg"))
    dup = (
        digests.groupBy("dg")
        .agg(F.count("*").alias("ndg"))
        .filter(F.col("ndg") >= 2)
    )
    flagged = digests.join(dup, "dg", "left").select(
        "doc_id", (F.col("ndg").isNotNull()).alias("is_dup")
    )
    # LEFT join: token-less docs still count in volume/lang/dup cells —
    # a datasheet that silently drops empty documents under-reports the
    # corpus it describes (session-2 self-review finding)
    per_doc = (
        docs.select("doc_id", "source", "lang", "n_chars")
        .join(tc, "doc_id", "left")
        .join(flagged, "doc_id")
        .select(
            "source",
            "n_chars",
            F.coalesce("nt", F.lit(0)).alias("nt"),
            (F.col("lang") == "en").alias("is_en"),
            "is_dup",
            (
                (F.coalesce("nt", F.lit(0)) >= 25)
                & (F.coalesce("stop", F.lit(0)) * 10
                   <= F.coalesce("nt", F.lit(0)) * 3)
                & (F.col("lang") == "en")
            ).alias("q_pass"),
        )
    )
    per_src = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).cast("bigint").alias("n_en"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("bigint").alias("n_dup_docs"),
        F.sum(F.when(F.col("q_pass"), 1).otherwise(0)).cast("bigint").alias("n_quality_pass"),
    )
    return per_src.select(
        "source",
        "n_docs",
        "n_chars",
        F.expr("div(n_chars * 1000000L, sum(n_chars) over ())")
        .cast("bigint")
        .alias("char_share_ppm"),
        "n_tokens",
        F.expr("div(n_tokens * 100L, n_docs)").cast("bigint").alias("mean_tokens_x100"),
        "n_en",
        F.expr("div(n_en * 1000000L, n_docs)").cast("bigint").alias("en_ppm"),
        "n_dup_docs",
        F.expr("div(n_dup_docs * 1000000L, n_docs)").cast("bigint").alias("dup_ppm"),
        "n_quality_pass",
        F.expr("div(n_quality_pass * 1000000L, n_docs)").cast("bigint").alias("pass_ppm"),
    ).orderBy("source")


PIPE_DATASET_CARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
tc AS (
  SELECT doc_id, COUNT(*) AS nt,
         SUM(CASE WHEN term IN ('the', 'a') THEN 1 ELSE 0 END) AS stop
  FROM toks WHERE term <> '' GROUP BY doc_id),
dg AS (SELECT doc_id, md5(text) AS dg FROM documents),
dup AS (SELECT dg, COUNT(*) AS ndg FROM dg GROUP BY dg HAVING COUNT(*) >= 2),
per_doc AS (
  SELECT d.source, d.n_chars, COALESCE(tc.nt, 0) AS nt,
         d.lang = 'en' AS is_en,
         dup.ndg IS NOT NULL AS is_dup,
         (COALESCE(tc.nt, 0) >= 25
          AND COALESCE(tc.stop, 0) * 10 <= COALESCE(tc.nt, 0) * 3
          AND d.lang = 'en') AS q_pass
  FROM documents d
  LEFT JOIN tc USING (doc_id)
  JOIN dg USING (doc_id)
  LEFT JOIN dup USING (dg)),
per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(n_chars) AS n_chars,
         SUM(nt) AS n_tokens,
         SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS n_en,
         SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup_docs,
         SUM(CASE WHEN q_pass THEN 1 ELSE 0 END) AS n_quality_pass
  FROM per_doc GROUP BY source)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST((n_chars * 1000000) // SUM(n_chars) OVER () AS BIGINT) AS char_share_ppm,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((n_tokens * 100) // n_docs AS BIGINT) AS mean_tokens_x100,
       CAST(n_en AS BIGINT) AS n_en,
       CAST((n_en * 1000000) // n_docs AS BIGINT) AS en_ppm,
       CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
       CAST((n_dup_docs * 1000000) // n_docs AS BIGINT) AS dup_ppm,
       CAST(n_quality_pass AS BIGINT) AS n_quality_pass,
       CAST((n_quality_pass * 1000000) // n_docs AS BIGINT) AS pass_ppm
FROM per_src
ORDER BY source
"""


SPECS.append(
    QuerySpec("pipe_dataset_card", pipe_dataset_card, PIPE_DATASET_CARD_ORACLE)
)


TOKEN_BUDGET_X = 3        # training budget = 3× the corpus token mass
EPOCH_CAP_PPM = 4_000_000  # 4 epochs — the data-constrained scaling knee
#                            (Muennighoff et al. 2023: repeating beyond
#                            ~4 epochs returns rapidly diminishing value)


def pipe_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repetition plan under a token budget — the
    data-constrained-scaling table (Muennighoff et al. 2023): given a
    training budget of TOKEN_BUDGET_X × the corpus token mass and the
    configured mixture weights, how many EPOCHS of each source does
    the plan imply, and which sources blow past the ~4-epoch knee
    (their budget share exceeds what repetition can usefully absorb —
    the signal to go find more of that source, not to upsample
    harder).

    epochs_ppm = (budget · target_share_ppm) div (available_tokens·1e6)
    — exact integer ppm; over_cap flags epochs > EPOCH_CAP_PPM and
    shortfall_tokens is the mass the cap leaves unfilled. One
    tokenizing scan reduced per source (|sources| rows), mixture
    weights from the same frozen kernel every mixture surface uses."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    per_src = toks.groupBy("source").agg(
        F.count("*").cast("bigint").alias("available_tokens")
    )
    targets = mixture_targets(docs).select("source", "target_share_ppm")
    total = per_src.agg(F.sum("available_tokens")).first()[0] or 0
    budget = int(total) * TOKEN_BUDGET_X
    return (
        per_src.join(F.broadcast(targets), "source")
        .select(
            "source",
            "available_tokens",
            F.expr(f"div({budget}L * target_share_ppm, 1000000L)")
            .cast("bigint")
            .alias("target_tokens"),
            # epochs(real) = target/available = budget·share_ppm/1e6
            # / available; ×1e6 for ppm cancels the 1e6. int64 headroom:
            # budget·share_ppm < 2^63 up to ~9.2e12 budget tokens — past
            # that, lift this one multiply to DECIMAL(38,0)
            F.expr(f"div({budget}L * target_share_ppm, available_tokens)")
            .cast("bigint")
            .alias("epochs_ppm"),
        )
        .select(
            "source",
            "available_tokens",
            "target_tokens",
            "epochs_ppm",
            (F.col("epochs_ppm") > EPOCH_CAP_PPM).alias("over_cap"),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.col("target_tokens")
                - F.expr(
                    f"div(available_tokens * {EPOCH_CAP_PPM}L, 1000000L)"
                ).cast("bigint"),
            ).alias("shortfall_tokens"),
        )
        .orderBy("source")
    )


def _token_budget_oracle() -> str:
    from snowflake_to_postgres_spark.operators.pipeline_ext import (  # noqa: F401
        TOKEN_BUDGET_X,
    )

    return f"""
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents),
per_src AS (
  SELECT source, COUNT(*) AS available_tokens
  FROM toks WHERE term <> '' GROUP BY source),
w AS (
  SELECT source, 1 + CAST(substr(source, 4) AS INT) % 3 AS weight
  FROM (SELECT DISTINCT source FROM documents)),
sw AS (SELECT SUM(weight) AS s FROM w),
tgt AS (
  SELECT source, (weight * 1000000) // (SELECT s FROM sw) AS target_share_ppm
  FROM w),
tot AS (SELECT SUM(available_tokens) AS t FROM per_src),
plan AS (
  SELECT p.source, p.available_tokens,
         ((SELECT t FROM tot) * {TOKEN_BUDGET_X} * tgt.target_share_ppm) // 1000000
           AS target_tokens,
         ((SELECT t FROM tot) * {TOKEN_BUDGET_X} * tgt.target_share_ppm)
           // p.available_tokens AS epochs_ppm
  FROM per_src p JOIN tgt USING (source))
SELECT source,
       CAST(available_tokens AS BIGINT) AS available_tokens,
       CAST(target_tokens AS BIGINT) AS target_tokens,
       CAST(epochs_ppm AS BIGINT) AS epochs_ppm,
       epochs_ppm > {EPOCH_CAP_PPM} AS over_cap,
       CAST(GREATEST(0, target_tokens
                        - (available_tokens * {EPOCH_CAP_PPM}) // 1000000)
            AS BIGINT) AS shortfall_tokens
FROM plan
ORDER BY source
"""


SPECS.append(
    QuerySpec(
        "pipe_token_budget_plan", pipe_token_budget_plan, _token_budget_oracle()
    )
)
