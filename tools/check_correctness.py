"""Driver-mimic correctness sweep: run every registry query under a VANILLA
SparkSession (no get_spark — mirrors the driver's harness) against its DuckDB
oracle at sf0.01, comparing row count, column names, and order-insensitive
canonical values (tests/oracle_compare.compare_frames).

Usage: python tools/check_correctness.py [sf_dir] [first_n|all] [prefix,...] [json_out]

The third argument is a comma-separated list of name PREFIXES: a query
runs if its name starts with any of them (``val_`` runs the ``val_*`` keys only).

With ``json_out``, also writes a per-query JSON artifact in the driver's
CORRECTNESS shape (rows/schema/hash matches per query) — used to publish
FULLCHECK_r{N}.json so the queries outside the driver's 50-row window
have a reviewable hard signal.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import duckdb
from pyspark.sql import SparkSession

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))
sys.path.insert(0, str(_REPO / "tests"))
# Spark's Python WORKERS import the package too (cloudpickled
# mapInPandas/pandas_udf functions are pickled by reference); they inherit
# PYTHONPATH, not the driver's sys.path — without this, running the tool
# from outside the repo root fails only in UDF-bearing queries
# (ModuleNotFoundError in the worker, e.g. mm_decode_meta).
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(_REPO)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
)

from oracle_compare import compare_frames  # noqa: E402

from snowflake_to_postgres_spark import registry  # noqa: E402
from snowflake_to_postgres_spark.sources import TABLES, table_path  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    first_n = sys.argv[2] if len(sys.argv) > 2 else "all"
    name_filter = sys.argv[3] if len(sys.argv) > 3 else ""
    json_out = sys.argv[4] if len(sys.argv) > 4 else ""

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("vanilla-driver-mimic")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        path = table_path(sf_dir, t)
        if os.path.isdir(path):
            # multi-file layout (tools/make_multisplit.py writes
            # <table>.parquet as a DIRECTORY of part files): glob for
            # DuckDB; Spark reads both shapes via the same path
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    specs = registry._all_specs()
    if first_n != "all":
        specs = specs[: int(first_n)]
    if name_filter:
        # comma-separated prefixes: a spec matches if its name starts with ANY
        parts = tuple(p for p in name_filter.split(",") if p)
        specs = [s for s in specs if s.name.startswith(parts)]

    n_pass = n_fail = n_err = 0
    results: dict[str, dict] = {}
    for i, s in enumerate(specs):
        t0 = time.time()
        try:
            df = s.fn(spark, sf_dir)
            if s.oracle is None:
                n = df.count()
                print(f"[{i:2d}] {s.name:34s} ROWS-ONLY rows={n} ({time.time()-t0:.1f}s)")
                results[s.name] = {
                    "rows_only": True, "spark_rows": n, "err": None,
                }
                n_pass += 1
                continue
            rel = con.execute(s.oracle)
            ok, msg = compare_frames(df, rel)
        except Exception as e:  # noqa: BLE001
            n_err += 1
            print(f"[{i:2d}] {s.name:34s} ERROR {type(e).__name__}: {str(e)[:160]}")
            results[s.name] = {
                "match": False, "err": f"{type(e).__name__}: {str(e)[:300]}",
            }
            continue
        results[s.name] = {"match": bool(ok), "err": None if ok else msg[:300]}
        if ok:
            n_pass += 1
            print(f"[{i:2d}] {s.name:34s} ok ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            print(f"[{i:2d}] {s.name:34s} FAIL {msg[:300]}")
    print(f"\npass={n_pass} fail={n_fail} err={n_err} / {len(specs)}")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "total": len(specs),
                    "pass": n_pass,
                    "fail": n_fail,
                    "err": n_err,
                    "queries": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
