"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (driver north star): exact dedup, MinHash+LSH,
SimHash, n-gram Jaccard. All are expressed as shuffle-conscious DataFrame
plans over the ``documents`` fixture:

* Shingling explodes each doc into (doc_id, shingle) rows — the inverted-
  index formulation that scales horizontally (shuffle by shingle, not by
  doc).
* **Hot-shingle cap**: shingles occurring in > MAX_DF docs are dropped
  before the candidate join. At 100 TB a stopword shingle would otherwise
  create a quadratic posting-list join (the classic skew bomb); the cap
  bounds per-key fanout at MAX_DF² and is standard practice for MinHash
  pipelines. Applied identically in the DuckDB oracles.
* All hash material is md5 (identical in Spark and DuckDB), so every
  operator here is oracle-checkable end-to-end. In production you'd swap
  xxhash64 (JVM-side, ~10× faster) via ``functions.fast_hash``.
* **Caching note for 100 TB**: the pipelines ``.cache()`` two things —
  the candidate pair set (tiny by construction: keep) and the shingle
  index (O(corpus tokens): at cluster scale prefer
  ``persist(StorageLevel.MEMORY_AND_DISK)`` or simply recompute the
  shingle scan per consumer — two columnar scans are usually cheaper
  than caching a corpus-sized index in executor memory. Local-mode
  benches keep the cache because the fixture fits trivially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from snowflake_to_postgres_spark.registry import QuerySpec
from snowflake_to_postgres_spark.sources import load_table

NGRAM = 3
MAX_DF = 50          # hot-shingle cap (see module docstring)
N_MINHASH = 16       # minhash signature length
N_BANDS = 4          # LSH bands (4 rows per band)
JACCARD_THRESHOLD = 0.5


def _with_tokens(df: DataFrame) -> DataFrame:
    return df.withColumn("toks", F.split(F.lower(F.col("text")), " "))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — distinct word-3-gram shingles per document,
    with the hot-shingle df cap applied.

    Parallelism guard (same rationale as similarity._components): the
    shingle explode + per-shingle md5 runs IN THE SCAN STAGE, and a
    small parquet input scans as 1-2 partitions — repartition the
    documents first when the scan is under-parallel (no-op on real
    many-file inputs)."""
    raw = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    if raw.rdd.getNumPartitions() < max(2, target // 2):
        raw = raw.repartition(target, "doc_id")
    docs = _with_tokens(raw)
    sh = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(1, size(toks)-{NGRAM - 1})),"
                f" i -> array_join(slice(toks, i, {NGRAM}), ' '))"
            )
        ).alias("shingle"),
    ).distinct()
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > MAX_DF)
        .select("shingle")
    )
    # hot has one row per over-common shingle — bounded by
    # total_occurrences / MAX_DF, i.e. it still GROWS with the corpus,
    # so the anti join is unhinted (key `shingle` is already the
    # groupBy shuffle key; AQE broadcasts from measured stats if tiny).
    return sh.join(hot, "shingle", "left_anti")


# Shared oracle CTEs: shingles + per-doc counts + pairwise intersections.
_SHINGLE_CTES = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{NGRAM - 1}], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(1, len(t)-{NGRAM - 1}))) AS g(i)
),
hot AS (
  SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > {MAX_DF}
),
sh AS (
  SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)
),
doc_n AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text; canonical = min doc_id.
    One shuffle on the 32-byte digest (never on the full text — at 100 TB
    the shuffle payload is the hash + id, not documents)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_md5, COUNT(*) AS group_size, MIN(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1
"""


def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor set via the dedup-keep-first window kernel
    (row_number()==1 — SURVEY §2.5's planned extension pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


DEDUP_KEEP_FIRST_ORACLE = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


#: dedup_incremental: md5(doc_id) buckets >= this hex prefix play the
#: "incoming batch"; the rest is the already-ingested corpus.
INCR_FEED_PREFIX = "e"


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) exact dedup — the shape a running
    ingestion pipeline needs: dedup TODAY'S feed against the corpus
    already ingested, without re-deduplicating the corpus itself. The
    feed here is the md5(doc_id) >= 'e' hex bucket (~1/8 of docs); in
    production it is the new crawl/delivery.

    Emits one row per feed document: dup_of_corpus (its digest already
    exists), dup_in_feed (a lower-id feed doc has the same digest —
    first-in-feed wins), and accept = neither.

    100-TB shape: both sides reduce to (digest, id) before any join —
    the corpus side is ONE column-pruned scan producing 32-byte digests
    (in steady state you'd persist this digest index, bucketed by
    digest, so the probe is a co-located bucket join and the corpus
    text is never re-read; see tests/test_bucketing.py for the
    bucketed-join machinery). The feed-internal dedup is a window over
    the feed only. Nothing corpus-sized shuffles more than the digest
    column."""
    docs = load_table(spark, sf_dir, "documents")
    digests = docs.select(
        "doc_id", F.md5("text").alias("text_md5"),
        F.md5(F.col("doc_id").cast("string")).alias("idh"),
    )
    feed = digests.filter(F.col("idh") >= INCR_FEED_PREFIX).drop("idh")
    corpus = digests.filter(F.col("idh") < INCR_FEED_PREFIX).drop("idh")
    corpus_set = corpus.select("text_md5").distinct().withColumn("in_corpus", F.lit(True))
    w = Window.partitionBy("text_md5").orderBy("doc_id")
    return (
        feed.join(corpus_set, "text_md5", "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            F.coalesce(F.col("in_corpus"), F.lit(False)).alias("dup_of_corpus"),
            (F.col("rn") > 1).alias("dup_in_feed"),
            (F.coalesce(F.col("in_corpus"), F.lit(False)) | (F.col("rn") > 1)).alias("rejected"),
        )
    )


DEDUP_INCREMENTAL_ORACLE = f"""
WITH digests AS (
  SELECT doc_id, md5(text) AS text_md5, md5(CAST(doc_id AS VARCHAR)) AS idh
  FROM documents
),
feed AS (SELECT doc_id, text_md5 FROM digests WHERE idh >= '{INCR_FEED_PREFIX}'),
corpus AS (SELECT DISTINCT text_md5 FROM digests WHERE idh < '{INCR_FEED_PREFIX}'),
ranked AS (
  SELECT f.doc_id, f.text_md5,
         c.text_md5 IS NOT NULL AS dup_of_corpus,
         ROW_NUMBER() OVER (PARTITION BY f.text_md5 ORDER BY f.doc_id) AS rn
  FROM feed f LEFT JOIN corpus c ON c.text_md5 = f.text_md5
)
SELECT doc_id, dup_of_corpus, rn > 1 AS dup_in_feed,
       (dup_of_corpus OR rn > 1) AS rejected
FROM ranked
"""


def build_digest_index(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "corpus_digests",
    num_buckets: int = 8,
) -> str:
    """Materialize the corpus digest index as a BUCKETED, sorted table —
    the steady-state artifact behind ``dedup_incremental``: built once
    (and merged incrementally), it lets every nightly feed probe the
    corpus WITHOUT rescanning or reshuffling corpus text. Bucketing by
    digest moves the corpus's shuffle to build time; at probe time only
    the (small) feed shuffles into the index's bucketing."""
    from snowflake_to_postgres_spark.sources.bucketed import write_bucketed_table

    docs = load_table(spark, sf_dir, "documents")
    digests = docs.select(F.md5("text").alias("text_md5"), "doc_id")
    write_bucketed_table(digests, table_name, "text_md5", num_buckets, sorted_by="text_md5")
    return table_name


def probe_digest_index(spark: SparkSession, index_table: str, feed: DataFrame) -> DataFrame:
    """Dedup a feed against the persisted digest index: one join in
    which the corpus side is read IN PLACE (bucketed — no Exchange on
    its subtree; only the feed shuffles to the index's bucketing).
    Returns the feed with a ``dup_of_corpus`` verdict per row. The feed
    must carry a ``text_md5`` column."""
    idx = (
        spark.table(index_table)
        .select("text_md5")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    return feed.join(idx, "text_md5", "left").withColumn(
        "dup_of_corpus", F.coalesce(F.col("in_corpus"), F.lit(False))
    ).drop("in_corpus")


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup
# --------------------------------------------------------------------------

#: dedup_ngram_jaccard_pairs refuses to run when the estimated candidate
#: volume (Σ df·(df−1)/2 over capped shingles) exceeds this. The LSH
#: path is the production route for anything bigger.
MAX_JACCARD_CANDIDATES = 50_000_000


def dedup_ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_candidate_pairs: int = MAX_JACCARD_CANDIDATES,
) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard ≥ 0.5, candidate
    generation via the shingle inverted index (shuffle key = shingle;
    hot-shingle cap bounds fanout).

    This is the EXACT formulation — it computes the intersection for
    every co-shingle pair, which is quadratic inside near-dup clusters.
    It exists as the oracle twin of :func:`dedup_minhash_lsh_pairs`.
    A runtime guard estimates candidate volume (Σ df·(df−1)/2 over the
    capped shingle index — one cheap aggregate over the data the join
    would shuffle anyway) and raises before launching the pair join when
    the estimate exceeds ``max_candidate_pairs``, pointing at the LSH
    path instead of silently burning a cluster."""
    sh = _doc_shingles(spark, sf_dir).cache()
    est_row = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .agg(F.sum(F.expr("df * (df - 1) / 2")).alias("cand"))
        .collect()[0]
    )
    est = int(est_row["cand"] or 0)
    if est > max_candidate_pairs:
        raise ValueError(
            f"dedup_ngram_jaccard_pairs: estimated candidate volume {est:,} "
            f"exceeds max_candidate_pairs={max_candidate_pairs:,}; use "
            f"dedup_minhash_lsh_pairs (banded LSH) for data this size, or "
            f"raise the limit explicitly if the all-pairs cost is intended"
        )
    doc_n = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    na = doc_n.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    nb = doc_n.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("i").cast("double") / (F.col("n1") + F.col("n2") - F.col("i")).cast("double")
    return (
        inter.join(F.broadcast(na), "d1")
        .join(F.broadcast(nb), "d2")
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


DEDUP_JACCARD_ORACLE = _SHINGLE_CTES + f"""
SELECT d1, d2, CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN doc_n ca ON ca.doc_id = d1
JOIN doc_n cb ON cb.doc_id = d2
WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

#: Universal-hash minhash: ONE md5 per shingle yields a 32-bit integer
#: x; the N_MINHASH permutations are h_s(x) = (A_s·x + B_s) mod P — the
#: classic linear-permutation construction (Broder/Indyk; Carter-Wegman
#: universal family). Replaces the round-2 design of N_MINHASH md5 calls
#: per shingle row: profiling at sf0.1 put 1.2 s of the 3.3 s pipeline
#: in those md5s. A_s < 2³¹ and x < 2³² keep A·x + B < 2⁶³ — exact in
#: int64 on both engines, so the oracle mirrors it verbatim.
MINHASH_P = 4294967311  # prime > 2^32
_MINHASH_AB = (
    (2128164061, 797605564),
    (596987483, 1944694864),
    (116450323, 582439801),
    (430979122, 468068949),
    (1406942088, 1848070633),
    (1172698796, 805278811),
    (2143289124, 1337851497),
    (252657890, 856063681),
    (1696544698, 461793307),
    (794664036, 1716958479),
    (527406851, 213165048),
    (1903391910, 175932789),
    (666804718, 980593748),
    (1423351957, 1910390390),
    (331877175, 1780096559),
    (664594621, 1940697599),
)


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """One aggregation pass computes all N_MINHASH minhashes from a
    single md5 per shingle (see _MINHASH_AB)."""
    x = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("bigint")
    keyed = sh.withColumn("_x", x)
    aggs = [
        F.min((F.lit(a) * F.col("_x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{s:02d}")
        for s, (a, b) in enumerate(_MINHASH_AB[:N_MINHASH])
    ]
    return keyed.groupBy("doc_id").agg(*aggs)


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature, banded for LSH: band_b =
    md5(h_{4b} || .. || h_{4b+3}). Emits (doc_id, band, bucket)."""
    sigs = _minhash_signatures(_doc_shingles(spark, sf_dir))
    rows_per_band = N_MINHASH // N_BANDS
    bands = []
    for b in range(N_BANDS):
        cols = [f"h{b * rows_per_band + r:02d}" for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("bucket"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _minhash_oracle_sig_sql() -> str:
    hs = ",\n    ".join(
        f"MIN(({a} * _x + {b}) % {MINHASH_P}) AS h{s:02d}"
        for s, (a, b) in enumerate(_MINHASH_AB[:N_MINHASH])
    )
    rows_per_band = N_MINHASH // N_BANDS
    band_rows = []
    for b in range(N_BANDS):
        cols = " || '_' || ".join(
            f"h{b * rows_per_band + r:02d}" for r in range(rows_per_band)
        )
        band_rows.append(
            f"SELECT doc_id, CAST({b} AS BIGINT) AS band, md5({cols}) AS bucket FROM sigs"
        )
    return (
        _SHINGLE_CTES
        + ", keyed AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS _x FROM sh),\n"
        + f"sigs AS (SELECT doc_id, {hs} FROM keyed GROUP BY doc_id),\n"
        + "bands AS (" + "\nUNION ALL ".join(band_rows) + ")\n"
    )


DEDUP_MINHASH_SIG_ORACLE = _minhash_oracle_sig_sql() + "SELECT doc_id, band, bucket FROM bands"


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → band buckets → candidate
    pairs (bucket join) → verify with true Jaccard ≥ threshold.

    Scale shape: the only joins shuffle on (band, bucket) and on shingle;
    both keys are df-capped, so no quadratic blowup. Candidates << N²."""
    overlap = _lsh_candidate_overlap(spark, sf_dir)
    jac = F.col("i").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("i")
    ).cast("double")
    return overlap.select("d1", "d2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def _lsh_candidate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d1, d2, i, n1, n2) for every LSH candidate pair: true shingle
    intersection size plus both shingle-set sizes — the verification
    stage every set-overlap measure (Jaccard, containment) derives
    from."""
    sh = _doc_shingles(spark, sf_dir).cache()
    sigs = _minhash_signatures(sh)
    rows_per_band = N_MINHASH // N_BANDS
    # Banding via ONE posexplode of a band array (the
    # dedup_minhash_signatures form) instead of a UNION of N_BANDS
    # selects: the union form re-evaluates the 16-minhash aggregation
    # subtree once PER BAND — and the banded frame feeds BOTH sides of
    # the candidate self-join, so the signature aggregation (the
    # dominant map work of the whole pipeline) ran 2×N_BANDS times per
    # execution (round-14 plan audit: 38 HashAggregates, 21
    # InMemoryTableScans of sh). Explode computes signatures once and
    # emits the same (doc_id, band, bucket) rows — guide §2.4 (remove
    # duplicated subtrees) applied to a Union, not an Exchange.
    bands = []
    for b in range(N_BANDS):
        cols = [f"h{b * rows_per_band + r:02d}" for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("bucket"),
            )
        )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    # Round 15 (guide §2.4, the simhash/semantic in-block pattern): the
    # banded self-join becomes a per-(band, bucket) collect_list +
    # in-block pair explode — the signature pipeline feeds ONE
    # aggregation instead of both sides of a join, and the d1 < d2
    # filter keeps exactly one copy of each unordered pair as the join
    # condition did. Same memory honesty as dedup_simhash_pairs: a
    # bucket's array is bounded by its largest block, and LSH lands
    # near-duplicates in shared buckets by design — a duplicate-heavy
    # corpus should fall back to the join form rather than grow
    # executor memory. Paired ABAB at sf0.1 (8 alternating rounds):
    # med 1.911 → 1.705 s, min 1.735 → 1.465; rows identical both ways.
    blocks = banded.groupBy("band", "bucket").agg(
        F.collect_list("doc_id").alias("ids")
    )
    candidates = (
        blocks.select(F.explode("ids").alias("d1"), "ids")
        .select("d1", F.explode("ids").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
        # referenced three times below (pair join + two id projections);
        # candidate sets are tiny by construction, so materialize once
        # instead of re-running the signature pipeline per reference
        .cache()
    )

    # Candidate-restricted intersection: only LSH candidates reach the
    # shingle join — the whole point of LSH. (An all-pairs intersection
    # here, like dedup_ngram_jaccard_pairs does by design, would make the
    # banding pointless and O(n²) at scale.) Before the intersection
    # join, semi-join the shingle index down to candidate documents —
    # the candidate id set is small by construction, so this broadcasts
    # and the wide (doc, shingle) shuffle only carries candidate docs.
    cand_ids = candidates.select(F.col("d1").alias("doc_id")).unionByName(
        candidates.select(F.col("d2").alias("doc_id"))
    ).distinct()
    sh_cand = sh.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    # shingle-set sizes from the CANDIDATE-restricted index: a doc_n
    # built from the full corpus has corpus cardinality, and the
    # broadcasts below would ship billions of rows at the documented
    # scale; restricted to candidates it is bounded like everything
    # else past the banding (values identical for every emitted pair)
    doc_n = sh_cand.groupBy("doc_id").agg(F.count("*").alias("n"))
    sh1 = sh_cand.select(F.col("doc_id").alias("d1"), "shingle")
    sh2 = sh_cand.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        F.broadcast(candidates).join(sh1, "d1")
        .join(sh2, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("i"))
    )
    na = doc_n.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    nb = doc_n.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return inter.join(F.broadcast(na), "d1").join(F.broadcast(nb), "d2")


CONTAINMENT_THRESHOLD = 0.95


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment C(src→dst) =
    |S(src)∩S(dst)| / |S(src)| (Broder's containment, the measure that
    catches a SHORT document embedded in a longer one — symmetric
    Jaccard dilutes exactly that case). Emits one directed row per
    (src, dst) with containment ≥ CONTAINMENT_THRESHOLD; a full-dup
    pair emits both directions.

    Candidates come from the same MinHash-LSH banding as the Jaccard
    path (shared :func:`_lsh_candidate_overlap` — one verification
    shuffle serves both measures). Declared recall bound: banding is
    tuned for resemblance, so an extreme short-in-huge embedding with
    near-zero Jaccard can evade the bands — :func:`dedup_containment_lsh`
    is the dedicated index (bottom-k sample of the shorter side) that
    closes exactly that case. This variant stays the cheap default when
    the corpus's dup profile is near-full overlaps, where its candidates
    are the ones Jaccard verification already touches."""
    overlap = _lsh_candidate_overlap(spark, sf_dir)
    c1 = F.col("i").cast("double") / F.col("n1").cast("double")
    c2 = F.col("i").cast("double") / F.col("n2").cast("double")
    fwd = overlap.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst"), c1.alias("containment")
    )
    rev = overlap.select(
        F.col("d2").alias("src"), F.col("d1").alias("dst"), c2.alias("containment")
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= CONTAINMENT_THRESHOLD)


DEDUP_CONTAINMENT_ORACLE = _minhash_oracle_sig_sql() + f"""
, candidates AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
overlap AS (
  SELECT c.d1, c.d2, i, ca.n AS n1, cb.n AS n2
  FROM candidates c
  JOIN inter ON inter.d1 = c.d1 AND inter.d2 = c.d2
  JOIN doc_n ca ON ca.doc_id = c.d1
  JOIN doc_n cb ON cb.doc_id = c.d2
),
directed AS (
  SELECT d1 AS src, d2 AS dst, CAST(i AS DOUBLE) / n1 AS containment FROM overlap
  UNION ALL
  SELECT d2 AS src, d1 AS dst, CAST(i AS DOUBLE) / n2 AS containment FROM overlap
)
SELECT src, dst, containment FROM directed
WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


#: Containment-LSH probe sample size: each document's K smallest shingle
#: hashes (a deterministic bottom-k min-wise sample of its shingle set).
CONTAINMENT_SAMPLE_K = 8
#: Candidate bar: at least this many of the K sampled shingles must hit
#: the destination document. With C(src→dst) ≥ 0.95 each sampled shingle
#: lands in dst w.p. ≥ 0.95, so P(hits ≥ 6 of 8) ≈ 0.994 — and, unlike
#: resemblance banding, the bound does NOT depend on |dst|.
CONTAINMENT_MIN_HITS = 6


def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-dedicated candidate index: closes the declared recall
    bound of :func:`dedup_containment_pairs`. Resemblance-tuned MinHash
    bands collide w.p. J^rows_per_band — a short document fully embedded
    in a huge one has near-zero Jaccard, so the symmetric bands never
    propose the pair. Here the index is built over the SHORTER side's
    shingle *sample* instead (Broder's containment sketch idea: min-wise
    sampling of the probe set):

    1. **Sample** each doc's bottom-K shingle hashes (md5-ordered,
       shingle-string tie-break — deterministic, mirrored in DuckDB).
       A uniform min-wise sample of S(src), K rows per doc.
    2. **Probe** the full shingle inverted index with the sample:
       candidate (src, dst) when ≥ min(CONTAINMENT_MIN_HITS, k) sampled
       shingles of src occur in dst. Recall depends only on C(src→dst),
       never on |dst| — the property the symmetric bands lack.
    3. **Verify** true containment |S(src)∩S(dst)| / |S(src)| ≥
       CONTAINMENT_THRESHOLD on the candidates, shingle join semi-joined
       down to candidate docs (same discipline as
       :func:`_lsh_candidate_overlap`).

    Scale shape: probe cost is K rows per document against a df-capped
    index — candidate fanout ≤ N·K·MAX_DF, linear in corpus size; the
    sample window partitions by doc_id (full parallelism). Emits
    directed (src, dst, containment) rows like the symmetric path."""
    sh = _doc_shingles(spark, sf_dir).cache()
    x = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")
    w = Window.partitionBy("doc_id").orderBy(x.asc(), F.col("shingle").asc())
    w_all = Window.partitionBy("doc_id")
    sample = (
        sh.withColumn("_rn", F.row_number().over(w))
        .withColumn("k", F.least(F.lit(CONTAINMENT_SAMPLE_K), F.count("*").over(w_all)))
        .filter(F.col("_rn") <= CONTAINMENT_SAMPLE_K)
        .select(F.col("doc_id").alias("src"), "shingle", "k")
    )
    candidates = (
        sample.join(sh.select(F.col("doc_id").alias("dst"), "shingle"), "shingle")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("hits"), F.min("k").alias("k"))
        .filter(F.col("hits") >= F.least(F.lit(CONTAINMENT_MIN_HITS), F.col("k")))
        .select("src", "dst")
        .cache()  # tiny by construction — referenced twice below
    )
    cand_ids = (
        candidates.select(F.col("src").alias("doc_id"))
        .unionByName(candidates.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    s1 = sh_cand.select(F.col("doc_id").alias("src"), "shingle")
    s2 = sh_cand.select(F.col("doc_id").alias("dst"), "shingle")
    inter = (
        F.broadcast(candidates)
        .join(s1, "src")
        .join(s2, ["dst", "shingle"])
        .groupBy("src", "dst")
        .agg(F.count("*").alias("i"))
    )
    # candidate-restricted sizes (same fix as _lsh_candidate_overlap):
    # a full-corpus doc_n must never carry a broadcast hint
    n_src = sh_cand.groupBy("doc_id").agg(F.count("*").alias("n"))
    cont = F.col("i").cast("double") / F.col("n").cast("double")
    return (
        inter.join(F.broadcast(n_src.withColumnRenamed("doc_id", "src")), "src")
        .select("src", "dst", cont.alias("containment"))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


DEDUP_CONTAINMENT_LSH_ORACLE = _SHINGLE_CTES + f"""
, xs AS (
  SELECT doc_id, shingle,
         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS x
  FROM sh),
samp AS (
  SELECT doc_id AS src, shingle, k FROM (
    SELECT doc_id, shingle,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY x, shingle) AS rn,
           LEAST({CONTAINMENT_SAMPLE_K}, COUNT(*) OVER (PARTITION BY doc_id)) AS k
    FROM xs)
  WHERE rn <= {CONTAINMENT_SAMPLE_K}),
cand AS (
  SELECT src, dst FROM (
    SELECT s.src, b.doc_id AS dst, COUNT(*) AS hits, MIN(s.k) AS k
    FROM samp s JOIN sh b ON b.shingle = s.shingle AND b.doc_id <> s.src
    GROUP BY 1, 2)
  WHERE hits >= LEAST({CONTAINMENT_MIN_HITS}, k)),
ic AS (
  SELECT c.src, c.dst, COUNT(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.src
  JOIN sh b ON b.doc_id = c.dst AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT ic.src, ic.dst, CAST(i AS DOUBLE) / CAST(n AS DOUBLE) AS containment
FROM ic JOIN doc_n ON doc_n.doc_id = ic.src
WHERE CAST(i AS DOUBLE) / CAST(n AS DOUBLE) >= {CONTAINMENT_THRESHOLD}
"""


DEDUP_MINHASH_PAIRS_ORACLE = _minhash_oracle_sig_sql() + f"""
, candidates AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.d1, c.d2, CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
FROM candidates c
JOIN inter ON inter.d1 = c.d1 AND inter.d2 = c.d2
JOIN doc_n ca ON ca.doc_id = c.d1
JOIN doc_n cb ON cb.doc_id = c.d2
WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup — the fuzzy twin of ``dedup_incremental``:
    the feed (md5(doc_id) >= INCR_FEED_PREFIX bucket) is probed against
    the ingested corpus through the SAME banded-LSH candidate +
    verification stages as ``dedup_minhash_lsh_pairs``; a feed document
    is rejected when any verified cross-boundary pair (one side feed,
    one side corpus) meets the Jaccard threshold. Emits every feed doc
    with its corpus near-dup count and a rejected verdict.

    100-TB steady state: the corpus's (band, bucket) postings persist
    as a bucketed index (exactly like ``build_digest_index``) so only
    the feed computes signatures per run; candidates and verification
    touch feed-adjacent documents only — corpus work is O(feed), not
    O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    feed_ids = docs.select("doc_id").filter(
        F.md5(F.col("doc_id").cast("string")) >= INCR_FEED_PREFIX
    )
    overlap = _lsh_candidate_overlap(spark, sf_dir)
    jac = F.col("i").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("i")
    ).cast("double")
    pairs = overlap.select("d1", "d2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    f1 = F.md5(F.col("d1").cast("string")) >= INCR_FEED_PREFIX
    f2 = F.md5(F.col("d2").cast("string")) >= INCR_FEED_PREFIX
    cross = pairs.filter(f1 != f2).select(
        F.when(f1, F.col("d1")).otherwise(F.col("d2")).alias("doc_id")
    )
    hits = cross.groupBy("doc_id").agg(F.count("*").alias("nh"))
    return feed_ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("nh"), F.lit(0)).cast("bigint").alias("n_near_dups"),
        (F.coalesce(F.col("nh"), F.lit(0)) > 0).alias("rejected"),
    )


DEDUP_INCR_LSH_ORACLE = _minhash_oracle_sig_sql() + f"""
, candidates AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
jpairs AS (
  SELECT c.d1, c.d2
  FROM candidates c
  JOIN inter ON inter.d1 = c.d1 AND inter.d2 = c.d2
  JOIN doc_n ca ON ca.doc_id = c.d1
  JOIN doc_n cb ON cb.doc_id = c.d2
  WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
),
cross_p AS (
  SELECT CASE WHEN md5(CAST(d1 AS VARCHAR)) >= '{INCR_FEED_PREFIX}' THEN d1 ELSE d2 END AS doc_id
  FROM jpairs
  WHERE (md5(CAST(d1 AS VARCHAR)) >= '{INCR_FEED_PREFIX}')
     <> (md5(CAST(d2 AS VARCHAR)) >= '{INCR_FEED_PREFIX}')
),
hits AS (SELECT doc_id, COUNT(*) AS nh FROM cross_p GROUP BY doc_id)
SELECT f.doc_id,
       CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_near_dups,
       COALESCE(h.nh, 0) > 0 AS rejected
FROM (SELECT doc_id FROM documents
      WHERE md5(CAST(doc_id AS VARCHAR)) >= '{INCR_FEED_PREFIX}') f
LEFT JOIN hits h ON h.doc_id = f.doc_id
"""



# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
# 32-bit simhash from word-level md5s. Bit b of word w = bit b of the first
# 8 hex chars of md5(w), extracted with pure integer arithmetic (portable —
# no hex→int cast needed in either engine).



def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash: bit i set iff sum over words of (2*bit_i(w)-1)
    > 0. Single explode + one aggregation (32 conditional sums) — one
    shuffle on doc_id.

    The word hash is computed ONCE per word (md5 → 32-bit integer in a
    projection below the aggregate); each bit aggregate is then a shift
    + mask on that integer. The round-2 formulation evaluated md5 inside
    every one of the 32 aggregate expressions — 32 digests per word row
    (CSE does not reach across aggregate buffers).

    Round 14 (guide §7.3 driver latency): the 32 bit-aggregates and the
    32-term reconstruction are built as ONE ``spark.sql`` string instead
    of ~300 Column-object py4j round trips — cProfile attributed ~0.7 s
    of every construct to that chatter (5 489 py4j commands). The
    expression tree is identical term for term (same shifts, masks,
    CASE bounds, bigint casts), so the plan and every value are
    unchanged; only the build path moved into one JVM parse."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.explode("toks").alias("w")).selectExpr(
        "doc_id", "CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) AS x"
    )
    bit_aggs = ", ".join(
        f"CASE WHEN SUM((shiftright(x, {i}) & 1) * 2 - 1) > 0"
        f" THEN 1 ELSE 0 END AS b{i:02d}"
        for i in range(32)
    )
    sim = " + ".join(
        f"CAST(b{i:02d} AS BIGINT) * CAST({2**i} AS BIGINT)" for i in range(32)
    )
    return spark.sql(
        f"SELECT doc_id, {sim} AS simhash FROM "
        f"(SELECT doc_id, {bit_aggs} FROM {{w}} GROUP BY doc_id)",
        w=words,
    )


def _simhash_oracle_sql() -> str:
    bit_aggs = [
        f"CASE WHEN SUM(((x >> {i}) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS b{i:02d}"
        for i in range(32)
    ]
    sim = " + ".join(f"CAST(b{i:02d} AS BIGINT) * {2**i}" for i in range(32))
    return f"""
WITH words AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS x
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
),
bits AS (
  SELECT doc_id, {', '.join(bit_aggs)} FROM words GROUP BY doc_id
)
SELECT doc_id, {sim} AS simhash FROM bits
"""


DEDUP_SIMHASH_ORACLE = _simhash_oracle_sql()


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with PREFIX blocking: candidates share the
    high 16 bits, verified to hamming(a,b) ≤ 6. This is a RECALL-TRADED
    scheme and says so: only pairs whose differing bits all fall in the
    low half are found (a hamming-6 pair clears the prefix with
    probability C(16,6)/C(32,6) — the cheap screen, not a guarantee).
    For GUARANTEED recall use :func:`dedup_simhash64_pairs` below — the
    Manku et al. pigeonhole design, which is also the better scale
    shape (65k-bucket blocks); 7-block pigeonhole over THIS 32-bit hash
    would need 4-5-bit blocks whose ~32-value keyspace degenerates
    toward all-pairs."""
    sigs = dedup_simhash_signatures(spark, sf_dir)
    # Round 14 (guide §2.4): the prefix blocking used to SELF-JOIN the
    # signature frame — the whole tokenize+32-agg signature subtree ran
    # TWICE (once per join side; Spark cannot share un-persisted
    # subtrees across a self-join). Grouping each prefix block into an
    # array and exploding the within-block cross product computes
    # signatures ONCE and replaces the join with a generator — the
    # minhash posexplode lesson applied to the blocked self-join. The
    # pair set is identical: each unordered in-block pair appears twice
    # in the product and the d1 < d2 filter keeps exactly one copy.
    # MEMORY HONESTY (round-14 ADVICE): the array form holds each
    # prefix block in ONE row, so its bound is the largest block, not
    # corpus/65536 — and simhash deliberately lands near-duplicates on
    # the same signature, so a duplicate-HEAVY corpus concentrates into
    # few prefixes and can grow single-row arrays toward executor
    # memory, where the old sort-merge self-join streamed the same
    # cross product with bounded per-row memory. The array fast path is
    # the right shape for the dedup corpus this engine targets (blocks
    # near-uniform at 16 bytes/signature; the quadratic VERIFY cost of
    # a giant block dwarfs its memory either way); a deployment
    # expecting heavy duplication should fall back to the join form
    # (or the 65k-bucket pigeonhole of dedup_simhash64_pairs, whose
    # blocks are value-bounded) rather than raise executor memory.
    # Paired ABAB at sf0.1: med 1.57 → 1.43 s, min 1.30 → 1.18 s;
    # rows proven identical both directions.
    g = (
        sigs.withColumn("prefix", F.floor(F.col("simhash") / F.lit(65536)))
        .groupBy("prefix")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("items"))
    )
    return (
        g.select(F.explode("items").alias("a"), "items")
        .select("a", F.explode("items").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )


DEDUP_SIMHASH_PAIRS_ORACLE = f"""
WITH sigs AS ({_simhash_oracle_sql()})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b
  ON (a.simhash // 65536) = (b.simhash // 65536) AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


def propagate_components(sym: DataFrame, max_rounds: int = 50) -> tuple[DataFrame, int]:
    """Connected-component labels for the nodes of a symmetric edge list
    ``sym(d1, d2)``: returns (labels(doc_id, comp), rounds) where comp is
    the minimum node id reachable.

    Each round combines **neighbor-min propagation** (labels flow one
    hop) with **pointer jumping** (comp := label(comp) — path
    compression), so convergence is O(log diameter) rounds, not
    O(diameter): a 256-node chain resolves in ~8 rounds instead of 256
    (asserted in tests/test_dedup_guard.py). Both steps are equi-joins +
    a min-groupBy over the pair-graph nodes only; convergence is read
    from Σcomp, a monotonically decreasing scalar — one driver-side
    number per round. ``localCheckpoint`` caps lineage so round t+1
    never replays rounds 1..t."""
    labels = (
        sym.select(F.col("d1").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        prop = (
            # plain shuffle join: this path runs ONLY when the edge list
            # exceeded DRIVER_CC_MAX_EDGES — i.e. exactly when it is too
            # big to broadcast; a broadcast hint here would materialize
            # the multi-GB frame on the driver and every executor, once
            # per round
            sym.join(labels, sym.d1 == labels.doc_id)
            .select(F.col("d2").alias("doc_id"), "comp")
        )
        stepped = (
            labels.unionByName(prop).groupBy("doc_id").agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp is always itself a node id, so label(comp)
        # exists; label(comp) <= comp keeps the descent monotone
        jump = stepped.select(F.col("doc_id").alias("j_id"), F.col("comp").alias("j_comp"))
        labels = (
            stepped.join(jump, stepped.comp == jump.j_id)
            .select("doc_id", F.col("j_comp").alias("comp"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels, rounds


#: Above this many (directed) edges the component computation iterates
#: distributed (propagate_components); at or below, the edge list is
#: driver-sized by any reasonable definition (1M × 16 B = 16 MB) and a
#: driver-side union-find replaces ~6 Spark rounds with one collect —
#: the adaptive strategy a real system uses, with the distributed path
#: as the guaranteed fallback. The pair graph is the VERIFIED duplicate
#: edge list, already a sliver of the corpus at any scale.
DRIVER_CC_MAX_EDGES = 1_000_000


def _union_find_labels(spark: SparkSession, sym: DataFrame) -> DataFrame:
    """Driver-side connected components for a bounded edge list:
    classic union-find with path compression, then per-component label =
    MIN node id (the same labeling the distributed path converges to)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in sym.collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # union by min → min-id roots
    labels = [(n, find(n)) for n in parent]
    return spark.createDataFrame(labels, "doc_id bigint, comp bigint")


def _lsh_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component labels + cluster sizes for PAIR-GRAPH NODES ONLY
    (doc_id, component_id, cluster_size). The iteration never touches
    the non-duplicate remainder of the corpus — at 100 TB the verified
    LSH pair graph is a sliver, so this frame is broadcast-sized even
    when the corpus isn't. Strategy is adaptive on the measured edge
    count: driver union-find under DRIVER_CC_MAX_EDGES (one collect of
    a bounded list), distributed pointer-jumping above it (identical
    labels — both converge to min-node-id per component; parity is
    test-asserted)."""
    # cache: the symmetric union references pairs twice — uncached, the
    # verification join downstream of the LSH pipeline would run per ref
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("d1", "d2").cache()
    sym = (
        pairs.unionByName(pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        .distinct()
        .localCheckpoint()
    )
    if sym.count() <= DRIVER_CC_MAX_EDGES:
        labels = _union_find_labels(spark, sym)
    else:
        labels, _rounds = propagate_components(sym)
    # sizes has one row per duplicate CLUSTER — grows with the corpus's
    # dup rate, so no forced broadcast: the join key `comp` is already
    # the groupBy shuffle key, and AQE may still broadcast from
    # measured (size-gated) stats when the pair graph is genuinely tiny.
    sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "comp").select(
        "doc_id", F.col("comp").alias("component_id"), "cluster_size"
    )


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    verified LSH pair graph, assigning every document the minimum doc_id
    of its near-dup cluster (its canonical id) plus the cluster size.

    Algorithm: :func:`propagate_components` — min-label propagation
    with pointer jumping, O(log diameter) rounds (in the spirit of the
    map-reduce connected-components family of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" — public paper).

    Scale shape: per round, one broadcast join label→neighbor (the edge
    list is LSH output — tiny next to the corpus), one min-groupBy and
    one self-join over pair-graph nodes only. ``localCheckpoint`` after
    each round cuts the lineage; convergence is detected from Σlabels,
    a monotonically decreasing scalar — one driver-side number per
    round, never the labels themselves."""
    clustered = _lsh_cluster_labels(spark, sf_dir)
    singletons = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(clustered.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("component_id"),
            F.lit(1).cast("bigint").alias("cluster_size"),
        )
    )
    return clustered.unionByName(singletons)


_CLUSTER_CTE = _minhash_oracle_sig_sql().replace(
    "WITH ", "WITH RECURSIVE ", 1
) + f"""
, candidates AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.d1, c.d2
  FROM candidates c
  JOIN inter ON inter.d1 = c.d1 AND inter.d2 = c.d2
  JOIN doc_n ca ON ca.doc_id = c.d1
  JOIN doc_n cb ON cb.doc_id = c.d2
  WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
),
sym AS (
  SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs
),
r AS (
  SELECT doc_id AS v, doc_id AS u FROM documents
  UNION
  SELECT r.v, s.d2 FROM r JOIN sym s ON s.d1 = r.u
),
assign AS (
  SELECT v AS doc_id, MIN(u) AS component_id FROM r GROUP BY v
)
"""

DEDUP_CLUSTER_ORACLE = _CLUSTER_CTE + """
SELECT doc_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS cluster_size
FROM assign
"""


def dedup_fuzzy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product a training-data pipeline actually wants: the
    corpus AFTER near-duplicate removal — one canonical document (the
    minimum doc_id) per LSH cluster, every unclustered document kept,
    each survivor tagged with how many raw documents it represents.

    Scale shape: the cluster labels cover pair-graph nodes only
    (:func:`_lsh_cluster_labels`), so the corpus-sized work is exactly
    two joins keyed on ``doc_id`` — an ANTI join eliminating
    non-canonical cluster members (the only rows fuzzy dedup ever
    removes) and a LEFT join attaching ``cluster_size`` to the
    canonical survivors (absent → 1). Both are UNHINTED: at a real
    30-50% dup rate the loser/canon frames grow with the corpus, so a
    forced broadcast would OOM the build side — AQE broadcasts from
    measured stats when the pair graph is genuinely tiny, and falls
    back to a shuffle join (both joins share the ``doc_id`` key, one
    exchange of ``docs``) when it is not.

    Contrast with running :func:`dedup_cluster_components` and filtering
    ``doc_id = component_id``: that plan unions a corpus-sized singleton
    frame through a groupBy — this one never aggregates the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    clustered = _lsh_cluster_labels(spark, sf_dir).localCheckpoint()
    losers = clustered.filter(F.col("component_id") != F.col("doc_id")).select("doc_id")
    canon = clustered.filter(F.col("component_id") == F.col("doc_id")).select(
        "doc_id", "cluster_size"
    )
    return (
        docs.join(losers, "doc_id", "left_anti")
        .join(canon, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce(F.col("cluster_size"), F.lit(1)).cast("bigint").alias("represents"),
        )
    )


DEDUP_FUZZY_CORPUS_ORACLE = _CLUSTER_CTE + """
, sizes AS (
  SELECT component_id, COUNT(*) AS cluster_size FROM assign GROUP BY component_id
)
SELECT d.doc_id, d.source, d.n_chars,
       CAST(s.cluster_size AS BIGINT) AS represents
FROM documents d
JOIN assign a ON a.doc_id = d.doc_id
JOIN sizes s ON s.component_id = a.component_id
WHERE a.doc_id = a.component_id
"""


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile of the corpus: the cluster-SIZE distribution
    of the near-dup components — how many pairs-of-near-identical docs,
    how many 10-doc boilerplate families, how much of the corpus
    deduplication will actually remove. The one-line answer to "is this
    crawl worth deduping" before running the full fuzzy-corpus
    materialization.

    100-TB shape: derives entirely from the component assignment (pair-
    graph-sized, not corpus-sized); two further map-side-combined
    aggregations on tiny keys."""
    # histogram from the LABEL frame, not the corpus: every clustered
    # doc already carries its cluster_size, so distinct (component,
    # size) is pair-graph-sized; singletons contribute ONE scalar
    # (total - clustered) instead of a corpus-sized shuffle — this is
    # what the docstring's "pair-graph-sized, not corpus-sized" claim
    # requires of the plan
    clustered = _lsh_cluster_labels(spark, sf_dir)
    n_total = load_table(spark, sf_dir, "documents").count()
    n_clustered = clustered.count()
    hist = (
        clustered.select("component_id", "cluster_size")
        .distinct()
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )
    if n_total > n_clustered:
        singles = spark.createDataFrame(
            [(1, n_total - n_clustered)], "cluster_size bigint, n_clusters bigint"
        )
        hist = hist.select(
            F.col("cluster_size").cast("bigint"), F.col("n_clusters").cast("bigint")
        ).unionByName(singles)
    return hist.select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        (F.col("n_clusters") * F.col("cluster_size")).cast("bigint").alias("n_docs"),
        (F.col("n_clusters") * (F.col("cluster_size") - 1))
        .cast("bigint")
        .alias("removable_docs"),
    )


DEDUP_CLUSTER_STATS_ORACLE = _CLUSTER_CTE + """
, sizes AS (
  SELECT component_id, COUNT(*) AS cluster_size FROM assign GROUP BY component_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
       CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS removable_docs
FROM sizes GROUP BY cluster_size
"""


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall gate for near-dup detection — the dedup twin of
    sim_ann_recall: ground truth is the EXACT n-gram-Jaccard pair set
    (J ≥ 0.5), the approximate side is the banded MinHash-LSH pipeline,
    and recall is reported PER SIMILARITY BAND (floor(J·10), 1.0
    clamped into the top band) because LSH recall is an S-curve in J —
    a single aggregate recall hides exactly the marginal pairs the
    band/row tuning trades away. Run before trusting an LSH config on a
    new corpus, like the ANN gate before trusting an index.

    Scale shape: at corpus scale the truth side runs on a SAMPLE (the
    exact path's candidate guard enforces this); both sides here reduce
    to pair keys before the semi-join, and the rollup is band-keyed
    (≤5 rows)."""
    truth = dedup_ngram_jaccard_pairs(spark, sf_dir)
    lsh = dedup_minhash_lsh_pairs(spark, sf_dir).select("d1", "d2").withColumn(
        "found", F.lit(1)
    )
    band = F.least(F.lit(9), F.floor(F.col("jaccard") * 10)).cast("bigint")
    return (
        truth.join(lsh, ["d1", "d2"], "left")
        .groupBy(band.alias("band"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce(F.col("found"), F.lit(0))).cast("bigint").alias("n_found"),
            (
                F.sum(F.coalesce(F.col("found"), F.lit(0))).cast("double")
                / F.count("*").cast("double")
            ).alias("recall"),
        )
    )


DEDUP_LSH_RECALL_ORACLE = f"""
WITH truth AS (
  SELECT d1, d2, jaccard FROM ({DEDUP_JACCARD_ORACLE})
),
lsh AS (
  SELECT d1, d2 FROM ({DEDUP_MINHASH_PAIRS_ORACLE})
)
SELECT LEAST(9, CAST(floor(jaccard * 10) AS BIGINT)) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN lsh.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       CAST(SUM(CASE WHEN lsh.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS recall
FROM truth LEFT JOIN lsh USING (d1, d2)
GROUP BY 1
"""


def _cc_probes(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Construction-phase plans of the component queries (round-7
    verdict #2): ONE propagation+pointer-jump round of the distributed
    fallback — the plan `_lsh_cluster_labels`'s checkpoints/collects
    hide from the audit. The round is built over a LITERAL stand-in
    edge frame, not the live LSH lineage: the executed round runs over
    a localCheckpointed symmetric pair set (one materialized input), so
    composing the probe from the un-materialized pairs plan would
    multiply the LSH subtree into a ~10k-node plan TEXT that neither
    matches what executes nor audits cheaply (round-8 review finding).
    The upstream pair pipeline is audited by its own registered row
    (`dedup_minhash_lsh_pairs`); this probe pins the ROUND structure —
    the joins/aggregates that must stay equi-join."""
    sym = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (3, 2)], "d1 bigint, d2 bigint")
    labels = (
        sym.select(F.col("d1").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
    )
    prop = sym.join(labels, sym.d1 == labels.doc_id).select(
        F.col("d2").alias("doc_id"), "comp"
    )
    stepped = (
        labels.unionByName(prop).groupBy("doc_id").agg(F.min("comp").alias("comp"))
    )
    jump = stepped.select(F.col("doc_id").alias("j_id"), F.col("comp").alias("j_comp"))
    cc_round = stepped.join(jump, stepped.comp == jump.j_id).select(
        "doc_id", F.col("j_comp").alias("comp")
    )
    return {"cc_round": cc_round}


SPECS = [
    QuerySpec("dedup_exact_groups", dedup_exact_groups, DEDUP_EXACT_ORACLE),
    QuerySpec("dedup_lsh_recall", dedup_lsh_recall, DEDUP_LSH_RECALL_ORACLE),
    QuerySpec("dedup_cluster_stats", dedup_cluster_stats, DEDUP_CLUSTER_STATS_ORACLE,
              probes=_cc_probes),
    QuerySpec("dedup_exact_keep_first", dedup_exact_keep_first, DEDUP_KEEP_FIRST_ORACLE),
    QuerySpec("dedup_ngram_jaccard_pairs", dedup_ngram_jaccard_pairs, DEDUP_JACCARD_ORACLE),
    QuerySpec("dedup_minhash_signatures", dedup_minhash_signatures, DEDUP_MINHASH_SIG_ORACLE),
    QuerySpec("dedup_minhash_lsh_pairs", dedup_minhash_lsh_pairs, DEDUP_MINHASH_PAIRS_ORACLE),
    QuerySpec("dedup_simhash_signatures", dedup_simhash_signatures, DEDUP_SIMHASH_ORACLE),
    QuerySpec("dedup_simhash_pairs", dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_ORACLE),
    QuerySpec("dedup_cluster_components", dedup_cluster_components, DEDUP_CLUSTER_ORACLE,
              probes=_cc_probes),
    QuerySpec("dedup_fuzzy_corpus", dedup_fuzzy_corpus, DEDUP_FUZZY_CORPUS_ORACLE),
    QuerySpec("dedup_containment_pairs", dedup_containment_pairs, DEDUP_CONTAINMENT_ORACLE),
    QuerySpec("dedup_containment_lsh", dedup_containment_lsh, DEDUP_CONTAINMENT_LSH_ORACLE),
    QuerySpec("dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_ORACLE),
    QuerySpec("dedup_incremental_lsh", dedup_incremental_lsh, DEDUP_INCR_LSH_ORACLE),
]


SIMHASH64_MAX_HAMMING = 3  # Manku et al. 2007: f=64, k=3, k+1=4 blocks


def _simhash64_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash as two 32-bit halves (hi from md5 hex chars 9-16,
    lo from 1-8; a single 16-hex conv would overflow signed bigint).
    Same one-explode-one-aggregate shape as the 32-bit kernel."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    xlo = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("bigint")
    xhi = F.conv(F.substring(F.md5("w"), 9, 8), 16, 10).cast("bigint")
    words = docs.select("doc_id", F.explode("toks").alias("w")).select(
        "doc_id", xlo.alias("xlo"), xhi.alias("xhi")
    )
    aggs = []
    for half, col in (("lo", "xlo"), ("hi", "xhi")):
        for i in range(32):
            bit = F.shiftright(F.col(col), i).bitwiseAND(F.lit(1))
            aggs.append(
                F.when(F.sum(bit * 2 - 1) > 0, F.lit(1))
                .otherwise(F.lit(0))
                .alias(f"{half}{i:02d}")
            )
    sums = words.groupBy("doc_id").agg(*aggs)
    out = {}
    for half in ("lo", "hi"):
        acc = None
        for i in range(32):
            term = F.col(f"{half}{i:02d}").cast("bigint") * F.lit(2**i).cast("bigint")
            acc = term if acc is None else acc + term
        out[half] = acc
    return sums.select("doc_id", out["lo"].alias("slo"), out["hi"].alias("shi"))


def dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUARANTEED-recall SimHash near-dup pairs: 64-bit fingerprint,
    hamming ≤ {SIMHASH64_MAX_HAMMING}, blocked on 4 disjoint 16-bit
    blocks (Manku, Jain & Sarma 2007, the production web-dedup design).
    Pigeonhole: ≤ 3 differing bits cannot touch all 4 blocks, so every
    qualifying pair shares at least one intact block and IS a candidate
    — zero false negatives, verified exactly with bit_count.

    100-TB shape: 4 shuffles keyed on 16-bit block values (65k buckets
    each — selective, unlike sub-byte blocks); candidates are bounded by
    block-bucket co-occupancy, never N²."""
    sigs = _simhash64_signatures(spark, sf_dir)
    blocks = [("slo", 0), ("slo", 16), ("shi", 0), ("shi", 16)]
    key = lambda col, lo: (  # noqa: E731 — 16-bit block extract
        F.shiftright(F.col(col), lo).bitwiseAND(F.lit(65535))
    )
    sides = []
    for bi, (col, lo) in enumerate(blocks):
        sides.append(
            sigs.select(
                "doc_id", "slo", "shi",
                F.lit(bi).alias("blk"),
                key(col, lo).alias("bval"),
            )
        )
    banded = sides[0]
    for x in sides[1:]:
        banded = banded.unionByName(x)
    a = banded.select(
        F.col("doc_id").alias("d1"), F.col("slo").alias("l1"),
        F.col("shi").alias("h1"), "blk", "bval",
    )
    b = banded.select(
        F.col("doc_id").alias("d2"), F.col("slo").alias("l2"),
        F.col("shi").alias("h2"), "blk", "bval",
    )
    hamming = F.expr("bit_count(l1 ^ l2) + bit_count(h1 ^ h2)")
    return (
        a.join(b, ["blk", "bval"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", hamming.cast("bigint").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= SIMHASH64_MAX_HAMMING)
    )


def _simhash64_oracle_sql() -> str:
    aggs = []
    for half, off in (("lo", 1), ("hi", 9)):
        for i in range(32):
            aggs.append(
                f"CASE WHEN SUM((({half}x >> {i}) & 1) * 2 - 1) > 0 "
                f"THEN 1 ELSE 0 END AS {half}{i:02d}"
            )
    slo = " + ".join(f"CAST(lo{i:02d} AS BIGINT) * {2**i}" for i in range(32))
    shi = " + ".join(f"CAST(hi{i:02d} AS BIGINT) * {2**i}" for i in range(32))
    return f"""
WITH words64 AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS lox,
         CAST('0x' || substr(md5(w), 9, 8) AS BIGINT) AS hix
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
),
bits64 AS (
  SELECT doc_id, {', '.join(aggs)} FROM words64 GROUP BY doc_id
),
sigs64 AS (SELECT doc_id, {slo} AS slo, {shi} AS shi FROM bits64),
blocks(blk, col, lo) AS (VALUES (0, 'slo', 0), (1, 'slo', 16), (2, 'shi', 0), (3, 'shi', 16)),
banded AS (
  SELECT doc_id, slo, shi, blk,
         ((CASE WHEN col = 'slo' THEN slo ELSE shi END) // CAST(pow(2, lo) AS BIGINT)) % 65536 AS bval
  FROM sigs64, blocks
)
SELECT d1, d2, hamming FROM (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         CAST(bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
) WHERE hamming <= {SIMHASH64_MAX_HAMMING}
"""


DEDUP_SIMHASH64_ORACLE = _simhash64_oracle_sql()

SPECS.append(
    QuerySpec("dedup_simhash64_pairs", dedup_simhash64_pairs, DEDUP_SIMHASH64_ORACLE)
)


def pipe_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assign WHOLE near-duplicate
    clusters to a split by hashing the cluster's canonical doc_id, so
    two near-duplicates can never straddle train and test — the eval-
    contamination failure a plain per-document hash split
    (tx_train_split) cannot prevent. Emits per split: documents,
    clusters, and n_docs_moved — how many documents sit in a DIFFERENT
    split than their own doc-hash would have put them (exactly the
    near-dups the doc-level split would have leaked; nonzero on the
    fixture's planted near-dup clusters).

    100-TB shape: the cluster labels cover pair-graph nodes only (the
    dedup_fuzzy_corpus argument); everything else is one left join on
    doc_id plus a 3-group aggregate. Same md5-bucket percentages as
    tx_train_split, so the two splits are comparable row-for-row."""
    from snowflake_to_postgres_spark.operators.pipeline_ext import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = _lsh_cluster_labels(spark, sf_dir).select("doc_id", "component_id")
    d = docs.join(labels, "doc_id", "left").withColumn(
        "canon", F.coalesce("component_id", "doc_id")
    )

    def bucket(col):
        return (
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 100
        )

    def split_of(b):
        return (
            F.when(b < SPLIT_TRAIN_PCT, F.lit("train"))
            .when(b < SPLIT_VAL_PCT, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    rows = d.select(
        "doc_id",
        "canon",
        split_of(bucket("canon")).alias("split"),
        split_of(bucket("doc_id")).alias("doc_split"),
    )
    return (
        rows.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("canon").cast("bigint").alias("n_clusters"),
            F.sum(F.when(F.col("split") != F.col("doc_split"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_moved"),
        )
        .orderBy("split")
    )


def _leakage_split_oracle() -> str:
    from snowflake_to_postgres_spark.operators.pipeline_ext import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )

    return _CLUSTER_CTE + f"""
, buckets AS (
  SELECT doc_id, component_id AS canon,
         CAST(('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS BIGINT) AS bc,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS BIGINT) AS bd
  FROM assign
),
splits AS (
  SELECT doc_id, canon,
         CASE WHEN bc < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN bc < {SPLIT_VAL_PCT} THEN 'val' ELSE 'test' END AS split,
         CASE WHEN bd < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN bd < {SPLIT_VAL_PCT} THEN 'val' ELSE 'test' END AS doc_split
  FROM buckets
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN split <> doc_split THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_moved
FROM splits
GROUP BY split
ORDER BY split
"""


PIPE_LEAKAGE_SPLIT_ORACLE = _leakage_split_oracle()

SPECS.append(
    QuerySpec(
        "pipe_leakage_safe_split", pipe_leakage_safe_split, PIPE_LEAKAGE_SPLIT_ORACLE
    )
)


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: verified near-dup pair counts by
    (source_a, source_b) — which corpus sources copy from each other,
    the provenance question a training-data pipeline answers before
    weighting sources (a source whose documents mostly duplicate
    another adds tokens, not information; tx_mixture_plan's rates
    should see this first). Pairs come from the verified LSH pipeline;
    the source pair is emitted canonically (source_a <= source_b) so
    A→B and B→A copying land in one cell. within_source marks the
    diagonal. Share = cell count / total verified pairs.

    100-TB shape: two doc_id-keyed joins attaching a tiny source label
    to the (already sparse) verified pair list, then a |sources|²-row
    aggregate — bounded metadata."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("d1", "d2")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    s1 = src.select(F.col("doc_id").alias("d1"), F.col("source").alias("src1"))
    s2 = src.select(F.col("doc_id").alias("d2"), F.col("source").alias("src2"))
    labeled = (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.least("src1", "src2").alias("source_a"),
            F.greatest("src1", "src2").alias("source_b"),
        )
    )
    # ONE execution of the LSH verification pipeline: aggregate to the
    # bounded |sources|^2 cell frame first and collect it — a separate
    # labeled.count() for the total re-ran the whole pair join
    # (round-10 review finding)
    cells = sorted(
        (r["source_a"], r["source_b"], r["n_pairs"])
        for r in labeled.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .collect()
    )
    total = sum(n for _, _, n in cells)
    return spark.createDataFrame(
        [(a, b, n, a == b, n / total) for a, b, n in cells],
        "source_a STRING, source_b STRING, n_pairs BIGINT, "
        "within_source BOOLEAN, share DOUBLE",
    )


DEDUP_SOURCE_MATRIX_ORACLE = f"""
WITH lsh AS (
  SELECT d1, d2 FROM ({DEDUP_MINHASH_PAIRS_ORACLE})
),
labeled AS (
  SELECT LEAST(a.source, b.source) AS source_a,
         GREATEST(a.source, b.source) AS source_b
  FROM lsh
  JOIN documents a ON a.doc_id = lsh.d1
  JOIN documents b ON b.doc_id = lsh.d2
),
tot AS (SELECT COUNT(*) AS t FROM labeled)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       source_a = source_b AS within_source,
       CAST(COUNT(*) AS DOUBLE) / (SELECT t FROM tot) AS share
FROM labeled
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


def _source_matrix_probes(spark: SparkSession, sf_dir: str) -> dict:
    """Construction-phase plans for the audit (round-10 ADVICE — the
    kernel aggregates to the bounded |sources|² cell frame and collects
    it, so without probes the verified-LSH pair pipeline and the
    labeled-pair joins escape the global guard)."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("d1", "d2")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    s1 = src.select(F.col("doc_id").alias("d1"), F.col("source").alias("src1"))
    s2 = src.select(F.col("doc_id").alias("d2"), F.col("source").alias("src2"))
    cells = (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.least("src1", "src2").alias("source_a"),
            F.greatest("src1", "src2").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )
    return {"labeled_pair_cells": cells}


SPECS.append(
    QuerySpec(
        "dedup_source_matrix",
        dedup_source_matrix,
        DEDUP_SOURCE_MATRIX_ORACLE,
        probes=_source_matrix_probes,
    )
)
