"""Per-key micro-bench for optimization A/Bs (round 14).

Times individual registry keys with bench.py's own timing loop
(``bench._bench_keys``: construct + noop-sink execution, a cold pass,
then N rotated warm rounds with its load guard) without paying for the
whole headline suite. ``--runs`` sets ``SPARK_GRAFT_BENCH_RUNS`` for
that loop. Used for before/after evidence in OPTIMIZATION_r14.md; the
committed BENCH_DETAIL.json stays the cross-round baseline.

Usage: python tools/key_bench.py key1 [key2 ...] [--runs N] [--sf DIR]
       python tools/key_bench.py --explain key1 ...   (print formatted plans)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(_REPO)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    explain = False
    keys: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            os.environ["SPARK_GRAFT_BENCH_RUNS"] = args[i + 1]; i += 2
        elif a == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif a == "--explain":
            explain = True; i += 1
        else:
            keys.append(a); i += 1

    from bench import _bench_keys  # reads SPARK_GRAFT_BENCH_RUNS at import
    from snowflake_to_postgres_spark.registry import queries
    from snowflake_to_postgres_spark.session import get_spark

    spark = get_spark(app_name="key_bench")
    qs = queries()
    missing = [k for k in keys if k not in qs]
    if missing:
        print(f"unknown keys: {missing}", file=sys.stderr)
        return 2

    if explain:
        for k in keys:
            print(f"===== {k} =====")
            df = qs[k](spark, sf_dir)
            print(
                spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        spark.stop()
        return 0

    r = _bench_keys(spark, qs, sf_dir, keys)
    print(f"{'key':34s} {'med':>7s} {'min':>7s} {'max':>7s} {'constr':>7s} {'cold':>7s}")
    for k in keys:
        lo, med, hi = r["query_spread"][k]
        print(
            f"{k:34s} {med:7.3f} {lo:7.3f} {hi:7.3f} "
            f"{r['query_construct'][k]:7.3f} {r['query_cold'][k]:7.3f}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
