"""Collect ledger guard (round-10 verdict #4, the Appendix B discipline
applied to driver-side collects): every ``.collect()`` site in the
package must be classified in PLAN_AUDIT.md Appendix C. A driver-side
collect is the one operation AQE cannot save — an unbounded one OOMs
the driver at 100 TB no matter how good the distributed plan is — so
each site must be bounded by something other than data volume.

The ledger below mirrors Appendix C: (module, enclosing function) →
(collect-site count, boundedness class). The test AST-walks the package
and fails on ANY unlisted site (or a count change), forcing new collects
through classification review.

Classes:
  SCALAR-1ROW      1-row aggregate collected as literals (thresholds,
                   bounds, fixpoint sums, totals)
  SCHEMA/CONST     bounded by schema width, a constant domain, a fixed
                   grid, or a catalog
  TOPK/LIMIT       explicit top-k / LIMIT before the collect
  SKETCH           register/bin/cell/centroid tables (the sketch's own
                   compactness contract)
  PROBE/QUERY      bounded by the query/probe set, not the corpus
  PARTITION-META   touched-partition / per-file manifest metadata
  REPORT-CLI       CLI verb reports (top-k leaderboards, per-column
                   tables, bounded cells)
  BOUNDED-RESULT   the operator's own bounded result, collected eagerly
                   to unpersist caches before returning
  GUARDED-DRIVER   driver-side algorithm behind an explicit size guard
                   (union-find below DRIVER_CC_MAX_EDGES)
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "snowflake_to_postgres_spark")

#: (module-relative path, enclosing function) -> (site count, class)
COLLECT_LEDGER: dict[tuple[str, str], tuple[int, str]] = {
    ("cli.py", "cmd_ann_index"): (1, "REPORT-CLI"),
    ("cli.py", "cmd_bpe_train"): (2, "REPORT-CLI"),
    ("cli.py", "cmd_corpus_stats"): (4, "REPORT-CLI"),
    ("cli.py", "_chi2_rows"): (1, "REPORT-CLI"),
    ("cli.py", "cmd_drift"): (3, "REPORT-CLI"),
    ("cli.py", "cmd_graph"): (8, "REPORT-CLI"),
    ("cli.py", "cmd_ref_check"): (1, "REPORT-CLI"),
    ("cli.py", "cmd_skew_plan"): (1, "REPORT-CLI"),
    ("cli.py", "cmd_privacy_check"): (1, "REPORT-CLI"),
    ("cli.py", "cmd_quality_filter"): (1, "REPORT-CLI"),
    ("cli.py", "cmd_sketch"): (1, "REPORT-CLI"),
    ("operators/analytics_ext.py", "a15_kmv_distinct"): (2, "SKETCH"),
    # r14: the nested sketch() helper inlined into run_actions thunks —
    # two KMV sketch frames (K-bounded) + the 1-row exact baseline
    ("operators/analytics_ext.py", "a16_kmv_set_ops"): (3, "SKETCH"),
    ("operators/analytics_ext.py", "a20_bloom_membership"): (1, "SKETCH"),
    # join_plan_advice's nested hot(): share-thresholded (<1e6/SHARE_PPM
    # keys can qualify) + explicit .limit(JOIN_PLAN_HOT_TOP)
    ("operators/analytics_ext.py", "hot"): (1, "TOPK/LIMIT"),
    ("operators/analytics_ext.py", "a25_corr_matrix"): (1, "SCALAR-1ROW"),
    ("operators/analytics_ext.py", "binned_quantiles"): (1, "SKETCH"),
    ("operators/analytics_ext.py", "hll_estimate"): (1, "SKETCH"),
    ("operators/analytics_ext.py", "ivm_join_refresh"): (3, "SCALAR-1ROW"),
    # collect_all: the shared overlapped-collect helper — boundedness is
    # the CALLER's contract (each caller's frames are ledgered at its
    # own site); the helper itself adds no new collect surface
    ("util/concurrency.py", "collect_all"): (1, "BOUNDED-RESULT"),
    ("operators/analytics_ext.py", "x_funnel"): (1, "SCHEMA/CONST"),
    ("operators/analytics_ext.py", "x_session_funnel"): (1, "SCHEMA/CONST"),
    ("operators/analytics_ext.py", "x_q22_dormant_balance"): (1, "SCALAR-1ROW"),
    ("operators/bpe.py", "train_bpe"): (1, "TOPK/LIMIT"),
    ("operators/bpe.py", "tx_bpe_tokenize"): (1, "SCHEMA/CONST"),
    ("operators/dedup.py", "_union_find_labels"): (1, "GUARDED-DRIVER"),
    ("operators/dedup.py", "dedup_ngram_jaccard_pairs"): (1, "SCALAR-1ROW"),
    ("operators/dedup.py", "dedup_source_matrix"): (1, "SCHEMA/CONST"),
    ("operators/dedup.py", "propagate_components"): (2, "SCALAR-1ROW"),
    ("operators/graph.py", "_guard_wedge_volume"): (1, "SCALAR-1ROW"),
    ("operators/graph.py", "_partnership_edges"): (1, "SCALAR-1ROW"),
    ("operators/graph.py", "graph_clustering_coeff"): (1, "SCALAR-1ROW"),
    ("operators/graph.py", "two_hop_reach"): (1, "BOUNDED-RESULT"),
    ("operators/layout.py", "hilbert_key"): (1, "SCALAR-1ROW"),
    ("operators/layout.py", "scan_with_manifest"): (1, "PARTITION-META"),
    ("operators/layout.py", "zorder_key"): (1, "SCALAR-1ROW"),
    ("operators/pipeline_ext.py", "_ppr_seed_nodes"): (1, "SCHEMA/CONST"),
    ("operators/pipeline_ext.py", "pagerank"): (1, "SCALAR-1ROW"),
    ("operators/pipeline_ext.py", "tx_weighted_downsample"): (1, "SCALAR-1ROW"),
    ("operators/similarity.py", "emb_centroid_drift"): (1, "SCALAR-1ROW"),
    ("operators/similarity.py", "emb_outliers"): (1, "SCALAR-1ROW"),
    ("operators/similarity.py", "emb_remove_top_component"): (1, "SCHEMA/CONST"),
    ("operators/similarity.py", "emb_top_component"): (2, "SCHEMA/CONST"),
    ("operators/similarity.py", "kmeans_sse"): (1, "SCALAR-1ROW"),
    # emb_kmeans: round-14 optimization removed the per-round centroid
    # collect (the rounds chain as lazy broadcast subplans now)
    ("operators/similarity.py", "sim_filtered_recall"): (3, "PROBE/QUERY"),
    ("operators/similarity.py", "sim_ivf_pq_search"): (1, "PROBE/QUERY"),
    ("operators/similarity.py", "sim_topk_dense"): (1, "TOPK/LIMIT"),
    ("operators/similarity.py", "train_ivf_centroids"): (2, "SKETCH"),
    # _bm25_scored: round-14 optimization folded the Σtf scalar into an
    # uncorrelated scalar subquery (no driver collect remains)
    ("operators/text.py", "tx_dsir_weights"): (1, "SCALAR-1ROW"),
    ("operators/text.py", "tx_pmi_pairs"): (1, "SCALAR-1ROW"),
    ("operators/text.py", "tx_quality_deciles"): (1, "SCHEMA/CONST"),
    # per-GD-round 1-row aggregate: QL_DIM gradient sums + N, QL_ROUNDS
    # iterations — the model-training collect (the emb_kmeans class)
    ("operators/text.py", "train_quality_logreg"): (1, "SCALAR-1ROW"),
    ("operators/tpch_flavors.py", "x_q11_important_stock"): (1, "SCALAR-1ROW"),
    ("operators/tpch_flavors.py", "x_q15_top_supplier"): (1, "SCALAR-1ROW"),
    ("operators/transfer.py", "delete_keys_partitioned"): (1, "PARTITION-META"),
    ("operators/transfer.py", "merge_upsert_partitioned"): (2, "PARTITION-META"),
    ("operators/transfer.py", "repair_partitions"): (1, "PARTITION-META"),
    ("operators/validation.py", "chi2_drift"): (1, "SCHEMA/CONST"),
    # the L1-L4 profile of both sides: 2 x the distinct dates, or 2 rows
    # without a date column
    ("operators/validation.py", "_profile"): (1, "PARTITION-META"),
    ("operators/validation.py", "check_row_sample"): (1, "SCHEMA/CONST"),
    ("operators/validation.py", "check_sentinel_dates"): (1, "SCALAR-1ROW"),
    ("plans/catalog.py", "describe_table"): (3, "SCHEMA/CONST"),
    ("plans/jdbc_discovery.py", "discover_jdbc_schema"): (1, "SCHEMA/CONST"),
    ("plans/jdbc_discovery.py", "scan"): (1, "SCHEMA/CONST"),
    ("streaming/pipeline.py", "drift_stream"): (2, "SKETCH"),
    # frozen mixture targets: bounded by the catalog-sized source domain
    ("streaming/pipeline.py", "mixture_stream"): (1, "SCHEMA/CONST"),
    # frozen per-type share targets (|types| rows, catalog-sized)
    ("streaming/pipeline.py", "cusum_stream"): (1, "SCHEMA/CONST"),
}

ALLOWED_CLASSES = {
    "SCALAR-1ROW", "SCHEMA/CONST", "TOPK/LIMIT", "SKETCH", "PROBE/QUERY", "PARTITION-META", "REPORT-CLI", "BOUNDED-RESULT",
    "GUARDED-DRIVER",
}


def _collect_sites() -> dict[tuple[str, str], int]:
    sites: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            # direct calls (.collect()) AND bare bound-method references
            # (df.collect passed to util.concurrency.run_actions) — the
            # reference form still executes a driver collect, so it must
            # stay in the ledger; counting only Call nodes would let the
            # run_actions idiom silently evade classification review
            called_funcs = {
                id(node.func)
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
            }
            for node in ast.walk(tree):
                is_site = (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "collect"
                ) or (
                    isinstance(node, ast.Attribute)
                    and node.attr == "collect"
                    and id(node) not in called_funcs
                )
                if is_site:
                    enc, enc_start = "<module>", -1
                    for s, e, name in funcs:
                        if s <= node.lineno <= e and s > enc_start:
                            enc, enc_start = name, s
                    key = (rel, enc)
                    sites[key] = sites.get(key, 0) + 1
    return sites


def test_every_collect_site_is_classified():
    """Any new/moved .collect() must be added to COLLECT_LEDGER (and
    PLAN_AUDIT.md Appendix C) with a boundedness class — unclassified
    driver-side collects are the one failure mode AQE cannot absorb."""
    actual = _collect_sites()
    expected = {k: n for k, (n, _) in COLLECT_LEDGER.items()}
    new = {k: v for k, v in actual.items() if k not in expected}
    assert not new, (
        f"UNCLASSIFIED collect sites {new} — classify them in "
        f"tests/test_collect_ledger.py::COLLECT_LEDGER and "
        f"PLAN_AUDIT.md Appendix C"
    )
    stale = {k: v for k, v in expected.items() if k not in actual}
    assert not stale, f"ledger lists removed collect sites: {stale}"
    diff = {
        k: (expected[k], actual[k]) for k in actual if expected[k] != actual[k]
    }
    assert not diff, f"collect-site count changed (expected, actual): {diff}"


def test_ledger_classes_are_valid():
    bad = {
        k: cls for k, (_, cls) in COLLECT_LEDGER.items()
        if cls not in ALLOWED_CLASSES
    }
    assert not bad, bad
