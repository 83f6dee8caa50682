"""Round 15 (r14-verdict item #8): every ``spark.sql``-string build must
preserve CacheManager state.

Two failure modes are pinned here, both observed on Spark 4.1.2:

1. A cached/persisted frame passed as a ``spark.sql`` PARAMETER plans
   with ZERO InMemoryTableScan — the cached subtree recomputes from
   parquet per reference (the r14 tx_bigram/tx_bm25/tx_ppl regression).
2. Worse, ANALYZING such a substituted query UNREGISTERS the cache
   entry, so even unrelated later DataFrame-API references to the same
   frame lose the cache (util/sqlview.py documents the measurement).

The audit: build each SQL-built query, force analysis via a formatted
explain, and (a) assert the queries that cache a model/index frame show
it as InMemoryTableScan in their own plan, (b) assert a sentinel cache
registered BEFORE the builds still plan-matches AFTER all of them — the
global no-poisoning guard.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from snowflake_to_postgres_spark.operators.dedup import dedup_simhash_pairs
from snowflake_to_postgres_spark.operators.similarity import (
    _all_eligible_pairs,
    _components,
    _ivf_assign,
    _ivf_cell_d2,
    _ivf_centroids,
    _rank_candidates,
    dedup_embedding_cosine_pairs,
    dedup_semantic_clusters,
    emb_matryoshka_recall,
    emb_pq_codes,
    sim_filtered_ann,
    sim_hamming_rerank,
    sim_hard_negatives,
    sim_ivf_pq_topk,
    sim_ivf_topk,
    sim_mmr_ann,
    sim_mmr_rerank,
    sim_pq_adc_rescore_topk,
    sim_pq_adc_topk,
    sim_rp_lsh_topk,
    sim_truncated_topk,
)
from snowflake_to_postgres_spark.operators.pipeline_ext import sim_doc_hashed_topk
from snowflake_to_postgres_spark.operators.text import (
    tx_bigram_lm_score,
    tx_bm25_topk,
    tx_ppl_buckets,
)
from snowflake_to_postgres_spark.operators.validation import (
    val_referential_integrity,
)
from snowflake_to_postgres_spark.util.sqlview import temp_view_for


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _imts(df) -> int:
    return _plan(df).count("InMemoryTableScan (")


#: (builder, minimum InMemoryTableScan count). The three text queries
#: cache the bigram model / BM25 inverted index and reference it 4-6
#: times per plan; dedup_semantic_clusters caches its SQL-built IVF
#: assignment; emb_matryoshka_recall and sim_hamming_rerank persist the
#: components their _cosine_sql builds read; the others cache nothing
#: themselves (min 0) but must still pass the sentinel guard below.
SQL_BUILT = [
    (tx_bigram_lm_score, 4),
    (tx_bm25_topk, 4),
    (tx_ppl_buckets, 4),
    (val_referential_integrity, 0),
    (sim_ivf_pq_topk, 0),
    (sim_mmr_ann, 0),
    (dedup_simhash_pairs, 0),
    (sim_rp_lsh_topk, 0),
    (sim_filtered_ann, 0),
    (sim_mmr_rerank, 0),
    (sim_ivf_topk, 0),
    (emb_pq_codes, 0),
    (sim_pq_adc_topk, 0),
    (sim_pq_adc_rescore_topk, 0),
    (sim_hard_negatives, 0),
    (dedup_semantic_clusters, 1),
    (sim_truncated_topk, 0),
    (emb_matryoshka_recall, 1),
    (sim_hamming_rerank, 1),
    (dedup_embedding_cosine_pairs, 0),
    (sim_doc_hashed_topk, 0),
]

#: Similarity builds whose components frame must not unregister a
#: plan-equal persisted components frame (emb_matryoshka_recall
#: persists one for the lifetime of its result).
COMPONENT_BUILDS = [
    sim_rp_lsh_topk, sim_filtered_ann, sim_mmr_rerank, sim_ivf_topk, sim_ivf_pq_topk,
    emb_pq_codes, sim_pq_adc_topk, sim_pq_adc_rescore_topk, sim_hard_negatives,
    dedup_semantic_clusters, sim_truncated_topk, emb_matryoshka_recall, sim_hamming_rerank,
    dedup_embedding_cosine_pairs,
]


class TestSqlBuildsPreserveCaches:
    def test_cached_frames_plan_as_inmemory_and_no_poisoning(self, spark, sf_dir):
        # Sentinel registered FIRST: if any build drops foreign cache
        # entries (failure mode 2), this stops matching.
        sentinel = (
            spark.range(1000)
            .select((F.col("id") % 7).alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("c"))
            .cache()
        )
        assert _imts(sentinel.filter("c > 0")) == 1, "sentinel did not register"

        for fn, min_imts in SQL_BUILT:
            df = fn(spark, sf_dir)
            got = _imts(df)
            assert got >= min_imts, (
                f"{fn.__name__}: expected >= {min_imts} InMemoryTableScan "
                f"in the optimized plan, found {got} — a cached frame is "
                f"being substituted into spark.sql instead of entering "
                f"through a temp view (see util/sqlview.py)"
            )

        assert _imts(sentinel.filter("c > 0")) == 1, (
            "a SQL build unregistered a foreign cache entry — some "
            "cached frame is still passed as a spark.sql parameter"
        )
        sentinel.unpersist()

    def test_rank_candidates_reads_persisted_candidates_from_cache(self, spark, sf_dir):
        """Candidates derived from a persisted frame (sim_filtered_recall
        builds them from its persisted IVF assignment) enter the rescore
        through a temp view: the rescore plan reads the cache, and the
        assignment and a foreign sentinel keep their entries."""
        sentinel = spark.range(100).select((F.col("id") % 3).alias("k")).distinct().cache()
        comp = _components(spark, sf_dir)
        assign = _ivf_assign(_ivf_cell_d2(comp, _ivf_centroids(comp))).persist()
        try:
            assert _imts(sentinel.filter("k >= 0")) == 1
            ranked = _rank_candidates(comp, _all_eligible_pairs(assign, 2), k=3)
            assert _imts(ranked) >= 1
            assert _imts(assign.filter("cell >= 0")) >= 1
            assert _imts(sentinel.filter("k >= 0")) == 1
        finally:
            assign.unpersist()
            sentinel.unpersist()

    def test_plan_equal_components_cache_survives_similarity_builds(self, spark, sf_dir):
        """Substitution poisons by plan, not by object: a build that
        passed its own (uncached) components frame as a spark.sql
        parameter would unregister any persisted components frame of the
        same corpus. The similarity builds pass it through a temp view."""
        persisted = _components(spark, sf_dir).persist()
        try:
            assert _imts(persisted.groupBy("vec_id").count()) >= 1
            for fn in COMPONENT_BUILDS:
                _plan(fn(spark, sf_dir))
                assert _imts(persisted.groupBy("vec_id").count()) >= 1, fn.__name__
        finally:
            persisted.unpersist()

    def test_dropping_a_view_uncaches_its_frame(self, spark):
        """Why temp_view_for never drops its views: on Spark 4.1.2
        dropping a view over a cached frame unregisters the frame's
        cache entry, so re-planned builds and later DataFrame-API
        lookups of the frame recompute it. If a Spark upgrade changes
        this, this test fails and the views may be dropped after
        analysis."""
        agg = (
            spark.range(1000)
            .select((F.col("id") % 5).alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("c"))
            .cache()
        )
        try:
            view = temp_view_for(agg, "drop_probe")
            q = spark.sql(f"SELECT * FROM {view} WHERE c > 0")
            assert _imts(q) == 1
            spark.catalog.dropTempView(view)
            assert _imts(q.select("*")) == 0
            assert _imts(agg.filter("c > 0")) == 0
        finally:
            agg.unpersist()

    def test_substitution_poisoning_is_real(self, spark):
        """Pin the Spark behavior the audit exists for: substituting a
        cached frame plans cache-free AND drops the entry. If a Spark
        upgrade fixes this, this test fails and the temp-view detour
        can be retired."""
        agg = (
            spark.range(1000)
            .select((F.col("id") % 5).alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("c"))
            .cache()
        )
        try:
            assert _imts(agg.filter("c > 0")) == 1
            q = spark.sql("SELECT * FROM {agg} WHERE c > 0", agg=agg)
            assert _imts(q) == 0  # substitution bypasses the cache
            assert _imts(agg.filter("c > 0")) == 0  # ...and poisons it
        finally:
            agg.unpersist()
