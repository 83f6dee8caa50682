"""Steady-state benchmark of the migration engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 12 --trace 0

One run: generate the workload's inputs from the seed, start a Spark
session on ``local[nproc]``, warm it up (a pass, the output checks,
more passes), then time passes for ``--seconds`` (at least three).
Nothing else runs during a timed pass.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
named in ``BENCHMARK.json``. With ``--trace 1`` the session also writes an
uncompressed Spark event log and every layer call runs under its own job
group; the log is folded per call after the session stops, and the last
line carries the per-layer metrics. The line before it holds the run's
context: warm-up curve, whether timing started on a plateau, per-pass
times, load average, steal share and nproc, and the failure count.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: timing started on a plateau if the timed passes are no more than 5%
#: faster than the last untimed pass
PLATEAU = 0.95
#: untimed passes, the cold first one included. A fourth one was tried on
#: migrate and did not change how often timing started on a plateau.
WARM_PASSES = 3
MIN_TIMED_PASSES = 3
#: JIT settings of the session's JVM, chosen from measurements on a
#: 4-vCPU machine with runs of about a minute. With the default tiered
#: JIT, C2 is still compiling when the run ends: pass times kept falling
#: through the timed window and varied 20-30% between JVMs, and cpu_s
#: counted the compiler threads. With C1 only, passes level off within
#: the warm-up. Code-cache flushing evicted compiled methods about 35 s
#: into each run; recompiling them made one pass 50-80% slower. Without
#: flushing, C1's default 48 MB code cache filled up in some runs and the
#: JVM then switched its compiler off for the rest of the run.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=256m"


def _process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _log(msg: str) -> None:
    print(f"[perfbench {_process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(workdir: str, nproc: int, trace: bool):
    from snowflake_to_postgres_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # the Spark 4.1 default codec, zstd, would need a decoder here
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in and the JVM's Python
    workers, and wait until each has ended."""
    from pyspark import SparkContext

    from measure import descendants

    gateway = SparkContext._gateway
    workers = descendants(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in workers):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark's Python workers {workers} did not exit")
        time.sleep(0.05)


def _gc_seconds(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _run_pass(wl, spark, tracer, cpu) -> dict:
    gc0 = _gc_seconds(spark)
    c0, t0 = cpu.seconds(), time.perf_counter()
    with tracer.span("pass"):
        tally = wl.run_pass(spark, tracer)
    wall = time.perf_counter() - t0
    return {
        "wall_s": wall,
        "cpu_s": cpu.seconds() - c0,
        "gc_s": _gc_seconds(spark) - gc0,
        "tally": tally,
    }


def _warm_up_and_time(wl, spark, tracer, cpu, seconds: float) -> dict:
    """Warm the session up, then time passes.

    The warm-up is a first pass, which pays the cold JVM's class loading
    and JIT, the output checks (which run every query key once more), and
    more passes up to ``WARM_PASSES``. The number is fixed, not chosen
    per run by a plateau test, because ``setup_s`` counts the passes: with
    a per-run test, migrate's ``setup_s`` split into runs of about 35 s
    and runs of about 48 s, and its median moved with the share of each.
    Timing goes on for ``seconds`` and at least ``MIN_TIMED_PASSES``
    passes. Only the timed passes' spans are kept.
    """
    from measure import MachineContext

    curve, tallies = [], []

    def warm(step: str, p: dict) -> None:
        curve.append({"step": step, "wall_s": round(p["wall_s"], 3), "failed": p["tally"].failed})
        tallies.append(p["tally"])

    warm("pass", _run_pass(wl, spark, tracer, cpu))
    warm("check", _timed_check(wl, spark))
    for _ in range(WARM_PASSES - 1):
        warm("pass", _run_pass(wl, spark, tracer, cpu))
    tracer.spans.clear()

    setup_s, machine = _process_age_s(), MachineContext()
    passes, t_end = [], time.perf_counter() + seconds
    while len(passes) < MIN_TIMED_PASSES or time.perf_counter() < t_end:
        passes.append(_run_pass(wl, spark, tracer, cpu))
    return {
        "curve": curve,
        "tallies": tallies,
        "setup_s": setup_s,
        "passes": passes,
        "levelled_off": statistics.median(p["wall_s"] for p in passes)
        >= PLATEAU * curve[-1]["wall_s"],
        "context": machine.finish(),
    }


def _timed_check(wl, spark) -> dict:
    t0 = time.perf_counter()
    tally = wl.check(spark)
    return {"wall_s": time.perf_counter() - t0, "tally": tally}


def _end_to_end(setup_s: float, passes: list[dict]) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "rows_per_s": statistics.median(p["rows"] / p["wall_s"] for p in passes),
    }


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, HERE]
    try:
        import snowflake_to_postgres_spark  # noqa: F401
        import tests.oracle_compare  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import eventlog
    import layers
    from measure import ProcessTreeCpu, Tracer, peak_rss_mb
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, workdir, nproc)
        inputs = wl.prepare()
        spark, session_s = _session(workdir, nproc, bool(args.trace))
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        cpu = ProcessTreeCpu(jvm_pid)
        tracer = Tracer(spark.sparkContext if args.trace else None)
        _log(f"session started in {session_s:.1f} s")
        run = _warm_up_and_time(wl, spark, tracer, cpu, args.seconds)
        setup_s, passes = run["setup_s"], run["passes"]
        _log(f"setup {setup_s:.1f} s, warm-up {run['curve']}, timed {len(passes)} passes")

        for p in passes:
            p["rows"] = wl.moved_rows(p["tally"])
        rss_mb = peak_rss_mb(jvm_pid)
        _stop(spark)
        spark = None

        _log("session stopped")
        tallies = run["tallies"] + [p["tally"] for p in passes]
        attempted = sum(t.attempted for t in tallies)
        failed = sum(t.failed for t in tallies)
        if args.trace:
            events = eventlog.read_events(os.path.join(workdir, "eventlog"))
            values = layers.per_layer(
                tracer.spans, eventlog.fold(events, tracer.spans), passes,
                session_s=session_s, peak_rss_mb=rss_mb,
            )
            wanted = spec["per_layer"]
        else:
            values = _end_to_end(setup_s, passes)
            wanted = spec["end_to_end"]
        metrics = layers.publish(values, wanted, layers.OWNED[wl.name] if args.trace else None)
        print(json.dumps({
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "inputs": inputs,
            "context": run["context"],
            "warmup": run["curve"],
            "levelled_off": run["levelled_off"],
            "passes": [{k: round(p[k], 3) for k in ("wall_s", "cpu_s", "gc_s")} for p in passes],
            "fail_frac": failed / attempted,
            "errors": [e for t in tallies for e in t.errors][:10],
        }))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run is still using it
            pass


if __name__ == "__main__":
    sys.exit(main())
