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
    sim_ivf_pq_topk,
    sim_mmr_ann,
)
from snowflake_to_postgres_spark.operators.text import (
    tx_bigram_lm_score,
    tx_bm25_topk,
    tx_ppl_buckets,
)
from snowflake_to_postgres_spark.operators.validation import (
    val_referential_integrity,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _imts(df) -> int:
    return _plan(df).count("InMemoryTableScan (")


#: (builder, minimum InMemoryTableScan count). The three text queries
#: cache the bigram model / BM25 inverted index and reference it 4-6
#: times per plan; the others cache nothing themselves (min 0) but must
#: still pass the sentinel guard below.
SQL_BUILT = [
    (tx_bigram_lm_score, 4),
    (tx_bm25_topk, 4),
    (tx_ppl_buckets, 4),
    (val_referential_integrity, 0),
    (sim_ivf_pq_topk, 0),
    (sim_mmr_ann, 0),
    (dedup_simhash_pairs, 0),
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
