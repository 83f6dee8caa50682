"""CLI: the reference's seven verbs (sf_migrate.py:72-84) re-targeted at
Spark — discover / build / build-views / destroy / transfer / validate /
migrate, over parquet directories (and any Spark-readable source).

Usage:
    python -m snowflake_to_postgres_spark.cli discover --source DIR
    python -m snowflake_to_postgres_spark.cli discover --jdbc-url URL
        [--jdbc-user U --jdbc-password P --jdbc-driver CLASS]
        [--jdbc-dialect information_schema|derby] --schema S
    python -m snowflake_to_postgres_spark.cli build --source DIR [--dry-run] [--ddl-out f.sql]
    python -m snowflake_to_postgres_spark.cli build-views --views f.sql [--schema s]
    python -m snowflake_to_postgres_spark.cli transfer --source DIR --target DIR
        [--table T] [--where EXPR] [--limit N] [--workers N] [--checkpoint f.json]
        [--target-jdbc-url URL --jdbc-driver CLASS]   # write to a live database
    python -m snowflake_to_postgres_spark.cli validate --source DIR --target DIR
        [--table T] [--pk col1,col2]
    python -m snowflake_to_postgres_spark.cli migrate --source DIR --target DIR
    python -m snowflake_to_postgres_spark.cli clean-corpus --source DIR --target DIR
        [--pipeline fuzzy|exact]
    python -m snowflake_to_postgres_spark.cli corpus-stats --source DIR
    python -m snowflake_to_postgres_spark.cli quality-filter --source DIR [--target DIR]
    python -m snowflake_to_postgres_spark.cli scd2 --dim DIR --updates DIR
        --target DIR --keys k1,k2 --attrs a1,a2 [--ts-col effective_ts]
    python -m snowflake_to_postgres_spark.cli destroy --schema NAME --confirm NAME
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from snowflake_to_postgres_spark.session import get_spark


def _tables_in(directory: str, only: str | None = None) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(directory)):
        if f.endswith(".parquet"):
            name = f[: -len(".parquet")]
            if only and name.lower() != only.lower():
                continue
            out[name] = os.path.join(directory, f)
    return out


def cmd_discover(args) -> int:
    spark = get_spark("discover")
    if args.jdbc_url:
        from snowflake_to_postgres_spark.plans.jdbc_discovery import (
            DERBY_CATALOG_QUERIES,
            INFORMATION_SCHEMA_QUERIES,
            discover_jdbc_schema,
        )
        from snowflake_to_postgres_spark.sources.jdbc import JdbcConfig

        cfg = JdbcConfig(
            url=args.jdbc_url,
            user=args.jdbc_user,
            password=args.jdbc_password,
            driver=args.jdbc_driver,
        )
        queries = (
            DERBY_CATALOG_QUERIES
            if args.jdbc_dialect == "derby"
            else INFORMATION_SCHEMA_QUERIES
        )
        info = discover_jdbc_schema(
            spark, cfg, args.schema, queries,
            table_filter=args.table, with_row_counts=not args.no_counts,
        )
    else:
        from snowflake_to_postgres_spark.plans.catalog import discover_parquet_schema

        if not args.source:
            print("discover needs --source DIR or --jdbc-url URL", file=sys.stderr)
            return 2
        info = discover_parquet_schema(
            spark, args.source, args.schema, table_filter=args.table,
            with_row_counts=not args.no_counts,
        )

    def _constraint(c):
        doc = {"name": c.name, "type": c.type.value, "columns": c.columns}
        if c.referenced_table:
            doc["referenced_table"] = c.referenced_table
            doc["referenced_columns"] = c.referenced_columns
        return doc

    doc = {
        "schema": info.name,
        "tables": [
            {
                "name": t.name,
                "row_count": t.row_count,
                "columns": [
                    {
                        "name": c.name,
                        "type": c.data_type.simpleString(),
                        "nullable": c.is_nullable,
                        "position": c.ordinal_position,
                    }
                    for c in t.columns
                ],
                "primary_key": _constraint(t.primary_key) if t.primary_key else None,
                "unique": [_constraint(c) for c in t.unique_constraints],
                "foreign_keys": [_constraint(c) for c in t.foreign_keys],
            }
            for t in info.tables
        ],
        "views": [{"name": v.name, "ddl": v.ddl} for v in info.views],
        # discovery.py:389-441: procedures enumerated like views; they
        # feed the build-views stub emitter (manual-TODO policy, F19)
        "procedures": [{"name": p.name, "ddl": p.ddl} for p in info.procedures],
    }
    print(json.dumps(doc, indent=2))
    return 0


def cmd_build(args) -> int:
    from snowflake_to_postgres_spark.plans.catalog import discover_parquet_schema
    from snowflake_to_postgres_spark.plans.ddl import execute_ddl, generate_schema_ddl

    spark = get_spark("build")
    info = discover_parquet_schema(
        spark, args.source, args.schema, with_row_counts=False
    )
    stmts = generate_schema_ddl(info, args.dialect)
    if args.ddl_out:  # S14 (sf_migrate.py:1006-1011)
        with open(args.ddl_out, "w") as fh:
            fh.write(";\n\n".join(stmts) + ";\n")
        print(f"wrote {len(stmts)} statements to {args.ddl_out}")
    if args.dialect == "spark" and not args.dry_run:
        res = execute_ddl(spark, stmts)
        print(json.dumps({"executed": len(res["executed"]), "errors": res["errors"]}))
    elif args.dry_run:
        for s in stmts:
            print(s + ";")
    return 0


def cmd_build_views(args) -> int:
    import re

    from snowflake_to_postgres_spark.plans.dialect import (
        translate_procedure_stub,
        translate_view,
    )

    spark = get_spark("build-views")
    failures = []
    stubs = []
    proc_re = re.compile(
        r"CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\s+(\"?[\w.]+\"?)", re.I
    )
    with open(args.views) as fh:
        ddls = [s.strip() for s in fh.read().split(";") if s.strip()]
    for ddl in ddls:
        m = proc_re.match(ddl)
        if m:
            # F19 / view_procedure_translator.py:343-383: procedures are
            # never executed — a manual-TODO stub is emitted instead
            name = m.group(1).strip('"').split(".")[-1].lower()
            stubs.append(translate_procedure_stub(name, ddl))
            print(f"emitted procedure stub {name}")
            continue
        try:
            tv = translate_view(ddl, args.schema)
            spark.sql(tv.spark_sql)
            print(f"created view {tv.name}" + (f" (warnings: {tv.warnings})" if tv.warnings else ""))
        except Exception as e:  # noqa: BLE001 — best-effort per view, like sf_migrate.py:470-491
            failures.append((ddl, str(e)))
    if stubs:
        out = os.path.join(
            os.path.dirname(os.path.abspath(args.views)), "procedure_stubs.sql"
        )
        with open(out, "w") as fh:
            fh.write("\n".join(stubs))
        print(f"{len(stubs)} procedure stub(s) written to {out}")
    if failures:  # failed_views.sql capture (sf_migrate.py:978-1004)
        out = os.path.join(os.path.dirname(os.path.abspath(args.views)), "failed_views.sql")
        with open(out, "w") as fh:
            for ddl, err in failures:
                err_one_line = " ".join(err.splitlines())[:500]
                fh.write(f"-- ERROR: {err_one_line}\n{ddl};\n\n")
        print(f"{len(failures)} view(s) failed — see {out}", file=sys.stderr)
        return 1
    return 0


def _target_jdbc_cfg(args):
    if not getattr(args, "target_jdbc_url", None):
        return None
    from snowflake_to_postgres_spark.sources.jdbc import JdbcConfig

    return JdbcConfig(
        url=args.target_jdbc_url,
        user=args.jdbc_user,
        password=args.jdbc_password,
        driver=args.jdbc_driver,
    )


def cmd_transfer(args) -> int:
    from snowflake_to_postgres_spark.operators.transfer import (
        CheckpointManager,
        TransferEngine,
        rollup_stats,
    )

    spark = get_spark("transfer")
    ckpt = CheckpointManager(args.checkpoint) if args.checkpoint else None
    eng = TransferEngine(
        spark, ckpt, target_format=args.format, target_jdbc=_target_jdbc_cfg(args)
    )
    tables = _tables_in(args.source, args.table)
    if args.table and (args.where or args.limit):
        name = next(iter(tables))
        stats = [
            eng.transfer_table(
                tables[name], os.path.join(args.target, name), name,
                where=args.where, limit=args.limit,
            )
        ]
    else:
        stats = eng.transfer_schema(tables, args.target, workers=args.workers)
    print(json.dumps(rollup_stats(stats)))
    return 1 if any(s.error for s in stats) else 0


def cmd_merge(args) -> int:
    """Incremental upsert of an updates parquet into a hive-partitioned
    target (the verb the reference's truncate-and-reload transfer never
    had) — IO scoped to the partitions the updates touch."""
    from snowflake_to_postgres_spark.operators.transfer import (
        merge_upsert_partitioned,
    )

    spark = get_spark("merge")
    updates = spark.read.parquet(args.updates)
    stats = merge_upsert_partitioned(
        spark,
        args.target,
        updates,
        key_cols=args.keys.split(","),
        partition_col=args.partition_col,
        version_col=args.version_col,
        check_moved_keys=args.check_moved_keys,
    )
    print(json.dumps({"table": stats.table, "rows": stats.rows,
                      "seconds": round(stats.seconds, 3)}))
    return 0


def cmd_compact(args) -> int:
    """Small-file compaction for a hive-partitioned target: rewrite only
    partitions holding more than --max-files data files, into
    ceil(bytes / --target-file-bytes) files each (the maintenance verb
    a merge-updated table needs)."""
    from snowflake_to_postgres_spark.operators.transfer import compact_partitions

    spark = get_spark("compact")
    stats = compact_partitions(
        spark,
        args.target,
        partition_col=args.partition_col,
        max_files_per_partition=args.max_files,
        target_file_bytes=args.target_file_bytes,
    )
    print(json.dumps({"table": stats.table, "rows": stats.rows,
                      "seconds": round(stats.seconds, 3)}))
    return 0


def cmd_explain(args) -> int:
    """Print the formatted physical plan of any registered query — the
    explain-driven tuning loop as a CLI verb (what the reference's
    --verbose logging never could: the actual join strategies, pushed
    filters, and exchange points before anything runs)."""
    from snowflake_to_postgres_spark.registry import queries

    spark = get_spark("explain")
    qs = queries()
    fn = qs.get(args.query)
    if fn is None:
        import difflib

        close = difflib.get_close_matches(args.query, qs, n=5)
        print(f"unknown query {args.query!r}; close: {close}", file=sys.stderr)
        return 2
    df = fn(spark, args.sf_dir)
    df.explain(args.mode)  # public API; prints the formatted plan
    return 0


def cmd_delete_keys(args) -> int:
    """Targeted delete (GDPR verb): remove every target row whose key
    appears in the --keys parquet; partition-scoped IO, fully-emptied
    partitions dropped from disk."""
    from snowflake_to_postgres_spark.operators.transfer import (
        delete_keys_partitioned,
    )

    spark = get_spark("delete-keys")
    keys = spark.read.parquet(args.keys)
    stats = delete_keys_partitioned(
        spark,
        args.target,
        keys,
        key_cols=args.key_cols.split(","),
        partition_col=args.partition_col,
    )
    print(json.dumps({"surviving_rows_rewritten": stats.rows,
                      "seconds": round(stats.seconds, 3)}))
    return 0


def cmd_layout(args) -> int:
    """Space-filling-curve clustering rewrite: read a parquet table,
    write it re-clustered on the z-order or Hilbert key of two columns
    so parquet min/max footer stats prune scans on EITHER column. The
    OPTIMIZE ZORDER BY verb, without a table format."""
    from snowflake_to_postgres_spark.operators.layout import (
        write_hilbert,
        write_zordered,
    )

    spark = get_spark("layout")
    df = spark.read.parquet(args.source)
    writer = write_hilbert if args.curve == "hilbert" else write_zordered
    writer(df, args.col_x, args.col_y, args.target, n_files=args.n_files)
    n = spark.read.parquet(args.target).count()
    print(json.dumps({"curve": args.curve, "rows": n, "files": args.n_files}))
    return 0


def cmd_clean_corpus(args) -> int:
    """Materialize the cleaned training corpus: near-duplicate removal
    (MinHash-LSH verified clusters, one canonical document per cluster —
    `dedup_fuzzy_corpus`) or exact keep-first dedup, written as parquet
    with a one-line JSON stats summary. The end-to-end verb a
    training-data pipeline runs nightly."""
    import time

    from snowflake_to_postgres_spark.operators.dedup import (
        dedup_exact_keep_first,
        dedup_fuzzy_corpus,
    )

    spark = get_spark("clean-corpus")
    t0 = time.time()
    fn = dedup_fuzzy_corpus if args.pipeline == "fuzzy" else dedup_exact_keep_first
    out = fn(spark, args.source)
    out.write.mode("overwrite").parquet(args.target)
    n_in = spark.read.parquet(os.path.join(args.source, "documents.parquet")).count()
    n_out = spark.read.parquet(args.target).count()
    print(json.dumps({
        "pipeline": args.pipeline, "rows_in": n_in, "rows_out": n_out,
        "removed": n_in - n_out, "seconds": round(time.time() - t0, 3),
    }))
    return 0


def cmd_bpe_train(args) -> int:
    """Train a BPE subword vocabulary on the corpus and write the merge
    table (round, left, right, merged, cnt) as JSON lines — the artifact
    a tokenizer build consumes. Prints a JSON stats summary including
    the corpus-weighted compression the learned merges achieve."""
    import time

    from snowflake_to_postgres_spark.operators.bpe import (
        tx_bpe_tokenize,
        tx_bpe_merges,
    )

    spark = get_spark("bpe-train")
    t0 = time.time()
    merges = tx_bpe_merges(spark, args.source).collect()
    with open(args.out, "w") as f:
        for r in merges:
            f.write(json.dumps({
                "round": r["round"], "left": r["left"], "right": r["right"],
                "merged": r["merged"], "cnt": r["cnt"],
            }) + "\n")
    stats = tx_bpe_tokenize(spark, args.source).collect()[0]
    print(json.dumps({
        "n_merges": len(merges),
        "n_words": stats["n_words"],
        "symbols_before": stats["symbols_before"],
        "symbols_after": stats["symbols_after"],
        "compression": round(stats["compression"], 6),
        "vocab_tokens": stats["vocab_tokens"],
        "seconds": round(time.time() - t0, 3),
    }))
    return 0


def cmd_repair(args) -> int:
    """Anti-entropy repair of a partitioned target against its source:
    fingerprint both sides per partition, rewrite only the stale or
    missing partitions, print the JSON stats line."""
    from snowflake_to_postgres_spark.operators.transfer import repair_partitions

    spark = get_spark("repair")
    stats = repair_partitions(
        spark, args.source, args.target, partition_col=args.partition_col
    )
    print(json.dumps(stats))
    return 0 if not args.fail_on_drift or not stats["stale"] else 3


def cmd_ann_index(args) -> int:
    """Build the materialized IVF+PQ index for a corpus (cell-partitioned
    codes + centroids + codebook + rescore artifacts), then run the
    standard query block against it and print a JSON summary — the
    build-once/search-many lifecycle as a pipeline verb."""
    import time

    from snowflake_to_postgres_spark.operators.similarity import (
        build_ann_index,
        sim_ivf_pq_search,
    )

    spark = get_spark("ann-index")
    t0 = time.time()
    build_ann_index(spark, args.source, args.index_dir)
    built = time.time() - t0
    t0 = time.time()
    rows = sim_ivf_pq_search(spark, args.index_dir).collect()
    print(json.dumps({
        "index_dir": args.index_dir,
        "build_seconds": round(built, 3),
        "search_seconds": round(time.time() - t0, 3),
        "result_rows": len(rows),
        "queries": len({r["qid"] for r in rows}),
    }))
    return 0


def cmd_scd2(args) -> int:
    """Apply an update batch to a type-2 dimension history table:
    changed keys close out (valid_to = effective_ts) and version;
    unchanged keys untouched; replays are no-ops. Writes the new
    history and prints a JSON stats line."""
    from pyspark.sql import functions as F

    from snowflake_to_postgres_spark.operators.transfer import scd2_apply

    spark = get_spark("scd2")
    dim = spark.read.parquet(args.dim)
    updates = spark.read.parquet(args.updates)
    out = scd2_apply(
        dim, updates,
        key_cols=args.keys.split(","),
        attr_cols=args.attrs.split(","),
        ts_col=args.ts_col,
    )
    out.write.mode("overwrite").parquet(args.target)
    written = spark.read.parquet(args.target)
    print(json.dumps({
        "rows_before": dim.count(),
        "rows_after": written.count(),
        "current_rows": written.filter(F.col("is_current")).count(),
    }))
    return 0


def cmd_graph(args) -> int:
    """Graph-analytics report over the fixture tables: one JSON object
    per requested metric family on the supplier partnership graph
    (triangles / clustering / k-core / link prediction / modularity /
    assortativity) or the customer-supplier trade graph (pagerank /
    ppr). Composes the registered, oracle-checked operators."""
    from snowflake_to_postgres_spark.operators import graph as G
    from snowflake_to_postgres_spark.operators import pipeline_ext as PE

    spark = get_spark("graph")
    kind = args.kind
    if kind == "triangles":
        rows = G.graph_triangles(spark, args.source).collect()
        out = {"top": [[r["s_suppkey"], r["triangles"]] for r in rows[:10]]}
    elif kind == "clustering":
        r = G.graph_clustering_coeff(spark, args.source).collect()[0]
        out = {k: r[k] for k in
               ("nodes", "edges", "wedges", "triangles", "global_clustering")}
    elif kind == "kcore":
        rows = G.graph_kcore(spark, args.source).collect()
        out = {"k_used": rows[0]["k_used"] if rows else None,
               "core_nodes": len(rows)}
    elif kind == "links":
        rows = G.graph_jaccard_links(spark, args.source).collect()
        out = {"top": [[r["s_suppkey_a"], r["s_suppkey_b"],
                        round(r["jaccard"], 6)] for r in rows[:10]]}
    elif kind == "modularity":
        rows = G.graph_modularity(spark, args.source).collect()
        out = {"global_q": round(sum(r["contribution"] for r in rows), 6),
               "communities": len(rows)}
    elif kind == "assortativity":
        r = G.graph_assortativity(spark, args.source).collect()[0]
        out = {"edges": r["edges"], "assortativity": r["assortativity"]}
    elif kind == "pagerank":
        rows = PE.graph_pagerank(spark, args.source).collect()
        top = sorted(rows, key=lambda r: (-r["rank"], r["node_kind"], r["key"]))
        out = {"nodes": len(rows),
               "top": [[r["node_kind"], r["key"], r["rank"]] for r in top[:10]]}
    else:  # ppr
        rows = PE.graph_ppr(spark, args.source).collect()
        top = sorted(rows, key=lambda r: (-r["rank"], r["node_kind"], r["key"]))
        out = {"nodes": len(rows),
               "top": [[r["node_kind"], r["key"], r["rank"]] for r in top[:10]]}
    print(json.dumps({"kind": kind, **out}))
    return 0


def cmd_sketch(args) -> int:
    """One-pass approximate profile of any parquet column: HLL distinct
    estimate, count-min heavy hitters (with exact counts for the
    reported keys), and binned quantiles for numeric columns — the
    sketch suite a18/a19/a21 register as fixture queries, applied to a
    user table. At 100 TB this replaces COUNT(DISTINCT) + full sorts
    with two mergeable folds and a bounded histogram."""
    from pyspark.sql import types as T

    from snowflake_to_postgres_spark.operators.analytics_ext import (
        binned_quantiles,
        cms_heavy_hitters,
        hll_estimate,
    )

    spark = get_spark("sketch")
    df = spark.read.parquet(args.path)
    if args.column not in df.columns:
        print(json.dumps({"error": f"column {args.column!r} not in table",
                          "columns": df.columns}))
        return 2
    out = {
        "path": args.path,
        "column": args.column,
        "rows": df.count(),
        "approx_distinct": hll_estimate(df, args.column),
        "heavy_hitters": [
            [r["v"], r["exact_cnt"], r["cms_estimate"]]
            for r in cms_heavy_hitters(df, args.column, top=args.top).collect()
        ],
    }
    dtype = df.schema[args.column].dataType
    if isinstance(dtype, (T.NumericType,)):
        out["quantiles"] = {
            str(q): est for q, est, _ in binned_quantiles(df, args.column)
        }
    print(json.dumps(out, default=str))
    return 0


def _chi2_rows(kernel, a, b, cat_cols):
    """(rows, note) for the drift report's chi2 section — an id-like
    string column trips chi2_drift's distinct-cardinality guard
    (ValueError), which a report verb surfaces as a note rather than a
    crash."""
    if not cat_cols:
        return [], None
    try:
        return kernel(a, b, cat_cols).collect(), None
    except ValueError as e:
        return [], str(e)


def cmd_drift(args) -> int:
    """Snapshot drift report between two parquet tables: PSI per
    numeric column (or the columns named via --columns) plus the
    per-column profile diff — the monitoring pass a migrated warehouse
    schedules after every load. Composes the generic validation kernels
    (psi_drift / profile_drift) and prints one JSON object."""
    from pyspark.sql import types as T

    from snowflake_to_postgres_spark.operators.validation import (
        chi2_drift,
        ks_drift,
        profile_drift,
        psi_drift,
    )

    spark = get_spark("drift")
    a = spark.read.parquet(args.path_a)
    b = spark.read.parquet(args.path_b)
    if args.columns:
        cols = [c.strip() for c in args.columns.split(",") if c.strip()]
        missing = [c for c in cols if c not in a.columns or c not in b.columns]
        if missing:
            print(json.dumps({"error": f"columns {missing} not in both tables"}))
            return 2
        # PSI is a numeric-histogram score: a string column would cast
        # to all-NULL and report a meaningless "stable" 0.0 — reject it
        # the way the default path's NumericType filter already does
        non_numeric = [
            c for c in cols
            if not isinstance(a.schema[c].dataType, T.NumericType)
            or not isinstance(b.schema[c].dataType, T.NumericType)
        ]
        if non_numeric:
            print(json.dumps({"error": f"columns {non_numeric} are not numeric"}))
            return 2
        retyped: list[str] = []
        cat_cols: list[str] = []
    else:
        # numeric on BOTH sides (round-10 ADVICE): a column numeric in A
        # but re-typed string in B — a realistic schema-drift case —
        # would cast to all-NULL on the B side and report psi: null /
        # degenerate KS instead of being surfaced; it still shows up in
        # the profile section, and is listed explicitly here
        b_types = {f.name: f.dataType for f in b.schema.fields}
        cols = [
            f.name for f in a.schema.fields
            if isinstance(f.dataType, T.NumericType)
            and isinstance(b_types.get(f.name), T.NumericType)
        ]
        retyped = [
            f.name for f in a.schema.fields
            if isinstance(f.dataType, T.NumericType)
            and f.name in b_types
            and not isinstance(b_types[f.name], T.NumericType)
        ]
        # string columns on both sides get the categorical score
        # (chi2_drift) — previously simply excluded from the report
        cat_cols = [
            f.name for f in a.schema.fields
            if isinstance(f.dataType, T.StringType)
            and isinstance(b_types.get(f.name), T.StringType)
        ]
    chi2_rows, chi2_note = _chi2_rows(chi2_drift, a, b, cat_cols)
    out = {
        "path_a": args.path_a,
        "path_b": args.path_b,
        "retyped_columns": retyped,
        "psi": [
            dict(column=r["column_name"], psi=r["psi"],
                 bins_used=r["bins_used"], bins_dropped=r["bins_dropped"])
            for r in (psi_drift(a, b, cols).collect() if cols else [])
        ],
        "ks": [
            dict(column=r["column_name"], ks_d=r["ks_d"], x_at_max=r["x_at_max"])
            for r in (ks_drift(a, b, cols).collect() if cols else [])
        ],
        "chi2": [
            dict(column=r["column_name"], chi2=r["chi2"], dof=r["dof"],
                 cramers_v=r["cramers_v"], n_folded=r["n_folded"])
            for r in chi2_rows
        ],
        **({"chi2_note": chi2_note} if chi2_note else {}),
        "profile": [
            dict(column=r["column_name"],
                 n=[r["n_a"], r["n_b"]],
                 nulls=[r["nulls_a"], r["nulls_b"]],
                 distinct=[r["distinct_a"], r["distinct_b"]])
            for r in profile_drift(a, b).collect()
        ],
    }
    print(json.dumps(out, default=str))
    return 0


def cmd_corpus_stats(args) -> int:
    """One-shot corpus health report: size, language/source mix, exact-
    duplicate rate, and the quality-score distribution — the numbers an
    operator checks before green-lighting a training run. Composes the
    registered operators (exact dedup, quality deciles) and prints one
    JSON object."""
    from pyspark.sql import functions as F

    from snowflake_to_postgres_spark.operators.dedup import dedup_exact_groups
    from snowflake_to_postgres_spark.operators.text import tx_quality_score
    from snowflake_to_postgres_spark.sources import load_table

    spark = get_spark("corpus-stats")
    docs = load_table(spark, args.source, "documents")
    n = docs.count()
    langs = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sources = {r["source"]: r["n"] for r in
               docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    dup_groups = dedup_exact_groups(spark, args.source)
    n_dup_rows = dup_groups.agg(
        F.sum(F.col("group_size") - 1).alias("d")).collect()[0]["d"]
    q = tx_quality_score(spark, args.source).agg(
        F.min("quality_score"), F.expr("percentile(quality_score, 0.5)"),
        F.max("quality_score"), F.avg("quality_score"),
    ).collect()[0]
    print(json.dumps({
        "rows": n,
        "langs": langs,
        "sources": sources,
        "exact_dup_rows": int(n_dup_rows or 0),
        "exact_dup_rate": round(float(n_dup_rows or 0) / n, 6) if n else 0.0,
        "quality": {"min": round(q[0], 4), "p50": round(q[1], 4),
                    "max": round(q[2], 4), "mean": round(q[3], 4)},
    }))
    return 0


def cmd_ref_check(args) -> int:
    """Referential-integrity audit over a migrated schema dir: one JSON
    row per FK edge (val_referential_integrity), exit 1 if any edge is
    broken — the post-`transfer` FK gate the reference's validator
    lacks (it discovers FKs for DDL ordering but never re-checks the
    data)."""
    from snowflake_to_postgres_spark.operators.validation import (
        val_referential_integrity,
    )

    spark = get_spark("ref-check")
    rows = [r.asDict() for r in val_referential_integrity(spark, args.source).collect()]
    print(json.dumps(rows, indent=2))
    return 0 if all(r["ref_intact"] for r in rows) else 1


def cmd_skew_plan(args) -> int:
    """Pre-join skew advisory: the diag_salt_plan recommendation as JSON
    — per key above a 1/32 row share, the salt bucket count
    ``operators.skew.salted_join`` should use. Exit 0 either way (this
    is a planner, not a gate); an empty list means plain hash join is
    fine."""
    from snowflake_to_postgres_spark.operators.analytics_ext import diag_salt_plan

    spark = get_spark("skew-plan")
    rows = [r.asDict() for r in diag_salt_plan(spark, args.source).collect()]
    print(json.dumps(rows, indent=2, default=str))
    return 0


def cmd_join_plan(args) -> int:
    """Pre-join sizing + strategy advisory (round-13 verdict #7): read
    one key column from each side, run the CMS join-cardinality sketch,
    and emit join_plan_advice's JSON — the never-undercounting pair
    bound plus the broadcast / salt (bucket counts for
    operators.skew.salted_join) / shuffle recommendation. Exit 0 either
    way (planner, not gate)."""
    from pyspark.sql import functions as F

    from snowflake_to_postgres_spark.operators.analytics_ext import (
        CMS_W,
        JOIN_PLAN_BROADCAST_ROWS,
        join_plan_advice,
    )

    spark = get_spark("join-plan")
    left = spark.read.parquet(args.left).select(F.col(args.left_key).alias("k"))
    right = spark.read.parquet(args.right).select(
        F.col(args.right_key).alias("k")
    )
    advice = join_plan_advice(
        left,
        right,
        w=args.width or CMS_W,
        broadcast_rows=args.broadcast_rows or JOIN_PLAN_BROADCAST_ROWS,
    )
    print(json.dumps(advice, indent=2, default=str))
    return 0


def cmd_privacy_check(args) -> int:
    """Release gate: k-anonymity over the customer dimension's
    quasi-identifiers (val_k_anonymity) — one JSON row per combination
    plus the <TOTAL> verdict row; exit 1 when any group sits below k
    (the release must suppress or generalize before shipping)."""
    from snowflake_to_postgres_spark.operators.validation import val_k_anonymity

    spark = get_spark("privacy-check")
    rows = [r.asDict() for r in val_k_anonymity(spark, args.source).collect()]
    print(json.dumps(rows, indent=2, default=str))
    total = [r for r in rows if r["quasi_nation"] == "<TOTAL>"]
    return 1 if (total and total[0]["below_k"]) else 0


def cmd_quality_filter(args) -> int:
    """Train the learned quality gate ONCE on the source corpus, admit
    p >= 1/2, write the admitted documents as parquet, and print the
    model + gate report as one JSON line — the operational form of
    tx_quality_classifier / pipe_quality_filter (train -> enforce ->
    publish the reliability evidence, one verb, one training run)."""
    import time

    from pyspark import StorageLevel

    from snowflake_to_postgres_spark.operators.text import (
        QL_FEATURES,
        QL_SCALE,
        _ql_scored,
        _quality_features,
        quality_calibration_from,
        train_quality_logreg,
    )
    from snowflake_to_postgres_spark.sources import load_table

    spark = get_spark("quality-filter")
    t0 = time.time()
    feats = _quality_features(spark, args.source).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    w, n = train_quality_logreg(feats)
    scored = _ql_scored(feats, w)
    if args.target:
        docs = load_table(spark, args.source, "documents")
        admitted_ids = scored.filter(
            scored["pf"] >= QL_SCALE // 2
        ).select("doc_id")
        docs.join(admitted_ids, "doc_id").write.mode("overwrite").parquet(
            args.target
        )
    # <= 10 decile rows (REPORT-CLI class)
    cal = quality_calibration_from(scored).collect()
    feats.unpersist()
    print(json.dumps({
        "n_docs": n,
        "weights": {QL_FEATURES[i]: w[i] / QL_SCALE for i in range(len(w))},
        "admitted": sum(r["n"] for r in cal if r["decile"] >= 5),
        "accuracy": round(sum(r["n_correct"] for r in cal)
                          / max(1, sum(r["n"] for r in cal)), 4),
        "deciles": {int(r["decile"]): {"n": r["n"], "n_pos": r["n_pos"]}
                    for r in cal},
        "seconds": round(time.time() - t0, 3),
    }))
    return 0


def cmd_validate(args) -> int:
    from snowflake_to_postgres_spark.operators.validation import DataValidator

    spark = get_spark("validate")
    tables = _tables_in(args.source, args.table)
    pk = args.pk.split(",") if args.pk else None
    jdbc_cfg = _target_jdbc_cfg(args)
    all_ok = True
    report = []
    for name, path in tables.items():
        src = spark.read.parquet(path)
        if jdbc_cfg is not None:
            from snowflake_to_postgres_spark.sources.jdbc import read_jdbc

            tgt = read_jdbc(spark, jdbc_cfg, table=name)
            # JDBC catalogs fold identifier case; realign to source names
            tgt = tgt.toDF(*[c.lower() for c in tgt.columns]).select(
                *[c for c in src.columns]
            )
        else:
            tgt_path = os.path.join(args.target, name)
            if not os.path.exists(tgt_path):
                tgt_path = os.path.join(args.target, name + ".parquet")
            tgt = spark.read.parquet(tgt_path)
        res = DataValidator(src, tgt, pk_columns=pk).validate(name)
        all_ok &= res.passed
        report.append(
            {
                "table": name,
                "passed": res.passed,
                "checks": [
                    {"name": c.name, "passed": c.passed, "details": c.details[:5]}
                    for c in res.checks
                ],
            }
        )
    print(json.dumps(report, indent=2))
    return 0 if all_ok else 1


def cmd_migrate(args) -> int:
    """O9 (sf_migrate.py:564-585): transfer → validate. DDL is the
    separate ``build`` verb."""
    rc = cmd_transfer(args)
    if rc:
        return rc
    return cmd_validate(args)


def cmd_destroy(args) -> int:
    from snowflake_to_postgres_spark.plans.ddl import destroy_ddl

    # typed-name confirmation gate (sf_migrate.py:532-562)
    if args.confirm != args.schema:
        print("refusing: --confirm must repeat the schema name", file=sys.stderr)
        return 2
    spark = get_spark("destroy")
    spark.sql(destroy_ddl(args.schema, "spark"))
    print(f"dropped {args.schema}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="snowflake_to_postgres_spark")
    sub = p.add_subparsers(dest="verb", required=True)

    d = sub.add_parser("discover")
    d.add_argument("--source")
    d.add_argument("--schema", default="default")
    d.add_argument("--table")
    d.add_argument("--no-counts", action="store_true")
    d.add_argument("--jdbc-url", help="live-catalog discovery over JDBC")
    d.add_argument("--jdbc-user")
    d.add_argument("--jdbc-password")
    d.add_argument("--jdbc-driver")
    d.add_argument(
        "--jdbc-dialect",
        choices=["information_schema", "derby"],
        default="information_schema",
        help="catalog SQL flavor (information_schema: Postgres/Snowflake/MySQL/H2)",
    )
    d.set_defaults(fn=cmd_discover)

    b = sub.add_parser("build")
    b.add_argument("--source", required=True)
    b.add_argument("--schema", default="default")
    b.add_argument("--dialect", choices=["postgres", "spark"], default="postgres")
    b.add_argument("--dry-run", action="store_true")
    b.add_argument("--ddl-out")
    b.set_defaults(fn=cmd_build)

    bv = sub.add_parser("build-views")
    bv.add_argument("--views", required=True)
    bv.add_argument("--schema", default="public")
    bv.set_defaults(fn=cmd_build_views)

    for verb in ("transfer", "migrate"):
        t = sub.add_parser(verb)
        t.add_argument("--source", required=True)
        t.add_argument("--target", required=True)
        t.add_argument("--table")
        t.add_argument("--where")
        t.add_argument("--limit", type=int)
        t.add_argument("--workers", type=int, default=4)
        t.add_argument("--checkpoint")
        t.add_argument("--format", default="parquet")
        t.add_argument("--pk")
        t.add_argument("--target-jdbc-url", help="write tables to a JDBC database")
        t.add_argument("--jdbc-user")
        t.add_argument("--jdbc-password")
        t.add_argument("--jdbc-driver")
        t.set_defaults(fn=cmd_transfer if verb == "transfer" else cmd_migrate)

    m = sub.add_parser("merge")
    m.add_argument("--target", required=True, help="hive-partitioned parquet dir")
    m.add_argument("--updates", required=True, help="parquet dir of update rows")
    m.add_argument("--keys", required=True, help="comma-separated key columns")
    m.add_argument("--partition-col", default="_pt")
    m.add_argument("--version-col", help="max-version-wins (idempotent replays)")
    m.add_argument(
        "--check-moved-keys",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="fail if update keys exist in target partitions the updates "
        "don't cover (partition_col not determined by keys). Default ON; "
        "--no-check-moved-keys skips the key-column target scan",
    )
    m.set_defaults(fn=cmd_merge)

    cp = sub.add_parser("compact")
    cp.add_argument("--target", required=True, help="hive-partitioned parquet dir")
    cp.add_argument("--partition-col", default="_pt")
    cp.add_argument("--max-files", type=int, default=1,
                    help="rewrite partitions holding more data files than this")
    cp.add_argument("--target-file-bytes", type=int, default=128 << 20)
    cp.set_defaults(fn=cmd_compact)

    cc = sub.add_parser("clean-corpus")
    cc.add_argument("--source", required=True, help="dir holding documents.parquet")
    cc.add_argument("--target", required=True, help="output parquet dir")
    cc.add_argument("--pipeline", choices=["fuzzy", "exact"], default="fuzzy",
                    help="fuzzy = MinHash-LSH canonical corpus; exact = keep-first")
    cc.set_defaults(fn=cmd_clean_corpus)

    s2 = sub.add_parser("scd2")
    s2.add_argument("--dim", required=True, help="history-table parquet dir")
    s2.add_argument("--updates", required=True, help="update-batch parquet dir")
    s2.add_argument("--target", required=True, help="output parquet dir")
    s2.add_argument("--keys", required=True, help="comma-separated key columns")
    s2.add_argument("--attrs", required=True, help="comma-separated tracked attributes")
    s2.add_argument("--ts-col", default="effective_ts")
    s2.set_defaults(fn=cmd_scd2)

    rp = sub.add_parser("repair")
    rp.add_argument("--source", required=True)
    rp.add_argument("--target", required=True)
    rp.add_argument("--partition-col", default="_pt")
    rp.add_argument("--fail-on-drift", action="store_true",
                    help="exit 3 when drift was found (repaired or not)")
    rp.set_defaults(fn=cmd_repair)

    ex = sub.add_parser("explain")
    ex.add_argument("--query", required=True, help="registered query name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.add_argument("--mode", default="formatted",
                    choices=["simple", "extended", "formatted", "cost", "codegen"])
    ex.set_defaults(fn=cmd_explain)

    dk = sub.add_parser("delete-keys")
    dk.add_argument("--target", required=True, help="hive-partitioned parquet dir")
    dk.add_argument("--keys", required=True, help="parquet dir of keys to delete")
    dk.add_argument("--key-cols", required=True, help="comma-separated key columns")
    dk.add_argument("--partition-col", default="_pt")
    dk.set_defaults(fn=cmd_delete_keys)

    ly = sub.add_parser("layout")
    ly.add_argument("--source", required=True, help="parquet dir to re-cluster")
    ly.add_argument("--target", required=True, help="clustered parquet output dir")
    ly.add_argument("--col-x", required=True)
    ly.add_argument("--col-y", required=True)
    ly.add_argument("--curve", choices=["zorder", "hilbert"], default="hilbert")
    ly.add_argument("--n-files", type=int, default=16)
    ly.set_defaults(fn=cmd_layout)

    ai = sub.add_parser("ann-index")
    ai.add_argument("--source", required=True, help="fixture dir with embeddings.parquet")
    ai.add_argument("--index-dir", required=True, help="output dir for the index artifacts")
    ai.set_defaults(fn=cmd_ann_index)

    bp = sub.add_parser("bpe-train")
    bp.add_argument("--source", required=True, help="fixture dir with documents.parquet")
    bp.add_argument("--out", required=True, help="merge-table JSONL output path")
    bp.set_defaults(fn=cmd_bpe_train)

    gr = sub.add_parser("graph")
    gr.add_argument("--source", required=True, help="fixture dir")
    gr.add_argument("--kind", required=True,
                    choices=["triangles", "clustering", "kcore", "links",
                             "modularity", "assortativity", "pagerank", "ppr"])
    gr.set_defaults(fn=cmd_graph)

    sk = sub.add_parser("sketch")
    sk.add_argument("--path", required=True, help="parquet file/dir")
    sk.add_argument("--column", required=True)
    sk.add_argument("--top", type=int, default=10)
    sk.set_defaults(fn=cmd_sketch)

    dr = sub.add_parser("drift")
    dr.add_argument("--path-a", required=True, help="snapshot A parquet")
    dr.add_argument("--path-b", required=True, help="snapshot B parquet")
    dr.add_argument("--columns", help="comma list for PSI (default: shared numeric)")
    dr.set_defaults(fn=cmd_drift)

    cs = sub.add_parser("corpus-stats")
    cs.add_argument("--source", required=True, help="dir holding documents.parquet")
    cs.set_defaults(fn=cmd_corpus_stats)

    rc = sub.add_parser("ref-check")
    rc.add_argument("--source", required=True, help="schema dir of parquet tables")
    rc.set_defaults(fn=cmd_ref_check)

    sp = sub.add_parser("skew-plan")
    sp.add_argument("--source", required=True, help="dir holding events.parquet")
    sp.set_defaults(fn=cmd_skew_plan)

    qf = sub.add_parser("quality-filter")
    qf.add_argument("--source", required=True, help="dir holding documents.parquet")
    qf.add_argument("--target", default=None,
                    help="optional parquet dir for the admitted corpus")
    qf.set_defaults(fn=cmd_quality_filter)

    jp = sub.add_parser("join-plan")
    jp.add_argument("--left", required=True, help="parquet path of the left table")
    jp.add_argument("--left-key", required=True, help="join key column on the left")
    jp.add_argument("--right", required=True, help="parquet path of the right table")
    jp.add_argument("--right-key", required=True, help="join key column on the right")
    jp.add_argument("--width", type=int, default=None,
                    help="CMS width w (default: engine CMS_W)")
    jp.add_argument("--broadcast-rows", type=int, default=None,
                    help="broadcast cutoff in rows of the smaller side")
    jp.set_defaults(fn=cmd_join_plan)

    pv = sub.add_parser("privacy-check")
    pv.add_argument("--source", required=True, help="dir holding customer.parquet")
    pv.set_defaults(fn=cmd_privacy_check)

    v = sub.add_parser("validate")
    v.add_argument("--source", required=True)
    v.add_argument("--target", required=True)
    v.add_argument("--table")
    v.add_argument("--pk")
    v.add_argument("--target-jdbc-url", help="validate against a JDBC database")
    v.add_argument("--jdbc-user")
    v.add_argument("--jdbc-password")
    v.add_argument("--jdbc-driver")
    v.set_defaults(fn=cmd_validate)

    x = sub.add_parser("destroy")
    x.add_argument("--schema", required=True)
    x.add_argument("--confirm", required=True)
    x.set_defaults(fn=cmd_destroy)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
