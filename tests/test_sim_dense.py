"""Dense numpy similarity path must agree with the exact decimal path on
neighbor sets (cosine values differ only by float noise)."""

from snowflake_to_postgres_spark.operators.similarity import (
    sim_topk_bruteforce,
    sim_topk_dense,
)


def test_dense_matches_exact_neighbors(spark, sf_dir):
    exact = {
        (r["qid"], r["rank"]): r["neighbor_id"]
        for r in sim_topk_bruteforce(spark, sf_dir).collect()
    }
    dense = {
        (r["qid"], r["rank"]): r["neighbor_id"]
        for r in sim_topk_dense(spark, sf_dir).collect()
    }
    assert exact == dense


def test_ann_recall_invariants(spark, sf_dir):
    """sim_ann_recall structural contract: one row per (method, qid) for
    ALL approximate paths (misses appear as 0, never vanish), hits
    bounded by k, recall = hits/k in [0, 1]."""
    from snowflake_to_postgres_spark.operators.similarity import (
        ANN_EVAL_K,
        N_QUERIES,
        sim_ann_recall,
    )

    rows = sim_ann_recall(spark, sf_dir).collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r["method"], {})[r["qid"]] = r
        assert 0 <= r["hits"] <= ANN_EVAL_K
        assert abs(r["recall_at_3"] - r["hits"] / ANN_EVAL_K) < 1e-12
    assert set(by_method) == {"ivf", "rp_lsh", "pq_adc", "ivf_pq"}
    for m, per_q in by_method.items():
        assert set(per_q) == set(range(N_QUERIES)), m


def test_rp_lsh_recall_clears_bar(spark, sf_dir):
    """Round-11 verdict #2: RP-LSH is a production path only while its
    measured mean recall@3 clears ANN_RECALL_BAR (multi-probe radius 2 ×
    RP_TABLES independent tables; the single-table radius-1 design sat
    at 0.47). Measured 1.0 / 1.0 / 0.867 at sf0.001/0.01/0.1 — this
    pins the fixture-scale floor so a regression in the table/probe
    design fails loudly, not silently in PERFORMANCE.md."""
    from pyspark.sql import functions as F

    from snowflake_to_postgres_spark.operators.similarity import (
        ANN_RECALL_BAR,
        sim_ann_recall,
    )

    mean = (
        sim_ann_recall(spark, sf_dir)
        .filter(F.col("method") == "rp_lsh")
        .agg(F.avg("recall_at_3").alias("m"))
        .collect()[0]["m"]
    )
    assert mean >= ANN_RECALL_BAR, mean


def test_ivf_pq_composition_contract(spark, sf_dir):
    """The composed IVF+PQ+rescore path: every returned neighbor must lie
    in the query's probed IVF cells (cell pruning is real), and every
    returned cosine must equal the brute-force exact cosine for that
    (qid, neighbor) pair (the rescore is exact, not approximate)."""
    from snowflake_to_postgres_spark.operators.similarity import (
        _components,
        _ivf_candidates,
        sim_ivf_pq_topk,
        sim_topk_bruteforce,
    )

    comp = _components(spark, sf_dir)
    allowed = {
        (r["qid"], r["vec_id"]) for r in _ivf_candidates(comp).collect()
    }
    got = sim_ivf_pq_topk(spark, sf_dir).collect()
    assert got, "composed path returned nothing"
    assert all((r["qid"], r["neighbor_id"]) in allowed for r in got)

    # exact-rescore check: re-score exactly the returned pairs through
    # the shared exact-cosine tail; values must match to the decimal
    from snowflake_to_postgres_spark.operators.similarity import _rank_candidates

    pairs = spark.createDataFrame(
        [(r["qid"], r["neighbor_id"]) for r in got], "qid BIGINT, vec_id BIGINT"
    )
    exact = {
        (r["qid"], r["neighbor_id"]): r["cosine"]
        for r in _rank_candidates(comp, pairs, k=10**6).collect()
    }
    assert all(exact[(r["qid"], r["neighbor_id"])] == r["cosine"] for r in got)


def test_emb_dim_stats_invariants(spark, sf_dir):
    from snowflake_to_postgres_spark.operators.similarity import emb_dim_stats

    rows = emb_dim_stats(spark, sf_dir).collect()
    assert {r["idx"] for r in rows} == set(range(64))
    n = rows[0]["n"]
    for r in rows:
        assert r["n"] == n
        assert r["vmin"] <= r["mean"] <= r["vmax"]
        assert r["std"] >= 0


def test_materialized_ann_index_search(spark, sf_dir, tmp_path):
    """build_ann_index + sim_ivf_pq_search must reproduce the in-query
    sim_ivf_pq_topk row for row, and the code scan must carry a
    partition filter on cell (unprobed cells never read)."""
    from snowflake_to_postgres_spark.operators.similarity import (
        build_ann_index,
        sim_ivf_pq_search,
        sim_ivf_pq_topk,
    )

    idx = str(tmp_path / "ann_index")
    build_ann_index(spark, sf_dir, idx)

    result = sim_ivf_pq_search(spark, idx)
    got = sorted(tuple(r) for r in result.collect())
    exp = sorted(tuple(r) for r in sim_ivf_pq_topk(spark, sf_dir).collect())
    assert got == exp

    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    import re

    pf = [
        m for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if "cell" in m
    ]
    assert pf, f"no cell partition filter in plan: {plan[:800]}"


def test_hard_negatives_exclude_positive_band(spark, sf_dir):
    """Hard negatives: ranks dense from 1, never the per-query top-1
    candidate, every score strictly below HARD_NEG_REL x top-1 — the
    denoised-negatives contract."""
    from collections import defaultdict

    from snowflake_to_postgres_spark.operators.similarity import (
        ADC_SHORTLIST,
        HARD_NEG_K,
        HARD_NEG_REL,
        _components,
        _ivf_candidates,
        _pq_adc_scores,
        _rank_candidates,
        sim_hard_negatives,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    comp = _components(spark, sf_dir)
    adc = _pq_adc_scores(comp, candidates=_ivf_candidates(comp))
    w = Window.partitionBy("qid").orderBy(
        F.col("adot").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ADC_SHORTLIST)
        .select("qid", F.col("neighbor_id").alias("vec_id"))
    )
    deep = _rank_candidates(comp, shortlist, k=ADC_SHORTLIST).collect()
    top1 = {r["qid"]: (r["neighbor_id"], float(r["cosine"]))
            for r in deep if r["rank"] == 1}

    got = sim_hard_negatives(spark, sf_dir).collect()
    assert got, "fixture produced no hard negatives — margin vacuous"
    by_q = defaultdict(list)
    for r in got:
        by_q[r["qid"]].append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= HARD_NEG_K
        t1_id, t1_cos = top1[qid]
        for r in rows:
            assert r["neighbor_id"] != t1_id
            assert float(r["cosine"]) < HARD_NEG_REL * t1_cos


def test_cosine_sql_keeps_integer_dots_exact(spark):
    """_cosine_sql types its dots and norms by their sums, so integer
    components (DECIMAL(19,0), as sim_doc_hashed_topk scores) keep dots
    past 1e20 exact: no NULL, no overflow. A DECIMAL(38,18) cast on the
    dot caps it below 1e20 and fails here."""
    from decimal import Decimal

    from snowflake_to_postgres_spark.operators.similarity import _cosine_sql
    from snowflake_to_postgres_spark.util.sqlview import temp_view_for

    # x 1e11: the query's dot with vec 1 is 2.5e23
    vecs = {0: (3, 4, 0), 1: (3, 4, 0), 2: (4, 3, 0), 3: (0, 5, 0), 4: (-3, -4, 0), 5: (0, 0, 7)}
    rows = [
        (vid, idx, Decimal(x) * Decimal(10) ** 11)
        for vid, v in vecs.items()
        for idx, x in enumerate(v)
    ]
    comp = spark.createDataFrame(rows, "vec_id BIGINT, idx INT, val DECIMAL(19,0)")
    view = temp_view_for(comp, "int_comp")
    got = spark.sql(_cosine_sql(view, k=5, n_queries=1)).collect()
    assert [(r["rank"], r["neighbor_id"], r["cosine"]) for r in got] == [
        (1, 1, Decimal("1.00000000")),
        (2, 2, Decimal("0.96000000")),
        (3, 3, Decimal("0.80000000")),
        (4, 5, Decimal("0E-8")),
        (5, 4, Decimal("-1.00000000")),
    ]
