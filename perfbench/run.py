"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Workloads (single client, closed loop: each operation starts when the
previous one has finished), on ``local[<cores this process may use>]``:

- ``crawl``: one operation is a full ``CrawlEngine`` crawl of a fixed
  synthetic world (perfbench/crawl.py).
- ``suite``: one operation is one registered query written to the ``noop``
  sink; the seed permutes the query order (perfbench/suite.py).

Set-up (timed as ``setup_s``) starts the Spark session and warms it: one
untimed full-size crawl, or one query outside the timed set. Operations then
run until ``--seconds`` have passed and, for ``suite``, the current pass over
the query set is complete. Every operation's output is checked; a failed
check or an error counts in ``failed`` and the run goes on.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also labels Spark
jobs from wrappers around the package's public methods, turns on Spark's
event log and prints the per-layer metrics, among them the tracing overhead
against the untraced runs of the same workload recorded in this checkout
(perfbench/_results/).

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it records the environment (cores, Spark version, seed).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "thuvienphapluat_crawler_spark"
WORK = os.path.join(BENCH_DIR, "_work")
RESULTS = os.path.join(BENCH_DIR, "_results")
DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
WORKLOADS = ("crawl", "suite")
NO_PERF_DATA = "-XX:-UsePerfData"

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "step_geomean_s": "s"}


def per_layer_units() -> dict[str, str]:
    from perfbench.crawl import LAYER_METRICS, SPARK_METRICS
    from perfbench.families import FAMILIES
    from perfbench.suite import FAMILY_METRICS

    return {
        **LAYER_METRICS,
        **{f"q.{fam}.{k}": u for fam in FAMILIES for k, u in FAMILY_METRICS.items()},
        **SPARK_METRICS,
        "bench.fail_ratio": "ratio",
        "bench.peak_rss_mb": "MB",
        "bench.step_p50_s": "s",
        "bench.step_max_s": "s",
        **{f"trace.{k}": u for k, u in END_TO_END.items()},
        "trace.overhead_pct": "%",
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Keep every file the run writes inside the benchmark's work dir, and let
    Python workers import the package from any working directory."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # a JVM keeps a perf-data file in /tmp/hsperfdata_<user> unless told not to
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def start_spark(cpus: int, traced: bool):
    from thuvienphapluat_crawler_spark.session import get_spark

    conf = {
        # the package default (24g) is more than this host's memory, which
        # other tenants share; both workloads run in 3g (driver RSS 1.4-2.4 GB)
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} {NO_PERF_DATA}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            # the default codec is zstd, which needs a package not installed
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    # the JVM exits when its stdin closes
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def results_path(workload: str) -> str:
    return os.path.join(RESULTS, f"{workload}.jsonl")


def overhead_pct(workload: str, traced_items_per_s: float) -> float:
    """Median untraced throughput recorded in this checkout over this run's
    traced throughput, as the percentage of extra time tracing costs; 0 when
    no untraced run of the workload has been recorded."""
    path = results_path(workload)
    if not os.path.exists(path):
        print(f"perfbench: no untraced {workload} run recorded; trace.overhead_pct reads 0", file=sys.stderr)
        return 0.0
    with open(path, encoding="utf-8") as fh:
        base = statistics.median(json.loads(line)["items_per_s"] for line in fh if line.strip())
    return (base / traced_items_per_s - 1.0) * 100.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(DATA):
        print(f"perfbench: {PACKAGE}/ or the suite data is missing under {ROOT}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    prepare_env()
    cpus = len(os.sched_getaffinity(0))

    from perfbench.spans import Spans

    t0 = time.perf_counter()
    spark = start_spark(cpus, traced)
    try:
        spans = Spans(spark.sparkContext if traced else None)
        if args.workload == "crawl":
            from perfbench.crawl import CrawlRun

            runner = CrawlRun(spark, os.path.join(WORK, "crawls"), spans, traced)
        else:
            from perfbench.suite import SuiteRun

            runner = SuiteRun(spark, DATA, spans, args.seed)
        runner.warm_up()
        setup_s = time.perf_counter() - t0

        attempted = failed = 0
        t_loop = time.perf_counter()
        while True:
            attempted += 1
            try:
                problems = runner.op()
            except Exception:  # one failed operation never aborts the run
                traceback.print_exc()
                problems = ["operation raised"]
            if problems:
                failed += 1
                print("perfbench check failed:", "; ".join(problems), file=sys.stderr)
            if time.perf_counter() - t_loop >= args.seconds and runner.pass_done():
                break
        peak_rss = jvm_peak_rss_mb(spark)
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": cpus, "spark_version": spark.version, "python": platform.python_version(),
        }
    finally:
        stop_spark(spark)

    steps = runner.step_seconds()
    items, wall = runner.items_and_wall()
    e2e = {"setup_s": setup_s, "items_per_s": items / wall, "step_geomean_s": statistics.geometric_mean(steps)}
    if traced:
        from perfbench import eventlog as EL

        values = dict.fromkeys(per_layer_units(), 0.0)
        values.update(runner.per_layer(EL.load_jobs(os.path.join(WORK, "events"))))
        values.update({
            "bench.fail_ratio": failed / attempted,
            "bench.peak_rss_mb": peak_rss,
            "bench.step_p50_s": statistics.median(steps),
            "bench.step_max_s": max(steps),
            "trace.overhead_pct": overhead_pct(args.workload, e2e["items_per_s"]),
        })
        values.update({f"trace.{k}": v for k, v in e2e.items()})
        units = per_layer_units()
    else:
        values, units = e2e, END_TO_END
        os.makedirs(RESULTS, exist_ok=True)
        with open(results_path(args.workload), "a", encoding="utf-8") as fh:
            fh.write(json.dumps(dict(env, **values, peak_rss_mb=peak_rss, steps=steps)) + "\n")
    shutil.rmtree(WORK, ignore_errors=True)

    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
