"""The ``crawl`` workload: ``plans.frontier.CrawlEngine`` on a fixed world.

One operation is one full crawl into a fresh warehouse. Its output check
compares the crawl log (order and values) and the URL-seen set with the
single-threaded ``plans.crawl_oracle`` replay of the same world.
"""

from __future__ import annotations

import os
import shutil
import statistics

from thuvienphapluat_crawler_spark.plans import crawl_oracle
from thuvienphapluat_crawler_spark.plans.frontier import CrawlEngine
from thuvienphapluat_crawler_spark.sources.synthetic_web import World

from perfbench import eventlog as EL

# The world bench.py's crawl_engine sample has used since r07: 16 hosts,
# 4 epochs, 440 URLs, about 23 Spark jobs per epoch.
WORLD = dict(n_hosts=16, base_size=300, links_per_page=4, budget_per_host=25, max_epochs=4)
ENGINE = dict(n_buckets=16, filter_kind="bloom", content="spans", robots=False)

STAGED_TABLES = ("crawl_log", "docs", "frontier", "checkpoints")

# per-layer metrics of the traced run, with their units
LAYER_METRICS = {
    "frontier.epoch_jobs": "count",
    "frontier.epoch_driver_gap_s": "s",
    "frontier.epoch_task_cpu_s": "s",
    "frontier.shuffle_write_mb": "MB",
    "frontier.bootstrap_s": "s",
    "frontier.candidates": "count",
    "frontier.new_ratio": "ratio",
    "fetch.ok_ratio": "ratio",
    "fetch.attempts_per_url": "ratio",
    "robots.blocked": "count",
    **{f"warehouse.stage.{t}_s": "s" for t in STAGED_TABLES},
    "warehouse.stage_jobs": "count",
    "warehouse.commit_s": "s",
    "warehouse.read_s": "s",
    "warehouse.bytes_mb": "MB",
    "bloom.bytes_mb": "MB",
}
SPARK_METRICS = {"spark.gc_s": "s", "spark.spill_mb": "MB", "spark.tasks": "count"}


def log_rows(rows) -> list[tuple]:
    """Crawl-log rows in crawl order, as the oracle records them."""
    return sorted(
        (r.epoch, r.host, r.rank, r.canonical_url, r.fetch_slot, r.status, r.attempts, r.cookie_header)
        for r in rows
    )


def check(log: list[tuple], seen: set[str], oracle: crawl_oracle.OracleResult) -> list[str]:
    """Differences between one crawl's output and the oracle's (empty: equal)."""
    problems = []
    want = sorted(oracle.log)
    if log != want:
        missing = len(set(want) - set(log))
        extra = len(set(log) - set(want))
        problems.append(f"crawl_log differs: {len(log)} rows vs {len(want)}, {missing} missing, {extra} extra")
    if seen != oracle.seen:
        problems.append(
            f"seen set differs: {len(seen - oracle.seen)} extra, {len(oracle.seen - seen)} missing"
        )
    return problems


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


class CrawlRun:
    """Runs crawls, checks them and keeps what the metrics need."""

    def __init__(self, spark, work_dir: str, spans, traced: bool):
        self.spark = spark
        self.work_dir = work_dir
        self.spans = spans
        self.traced = traced
        self.world = World(**WORLD)
        self._oracle = None
        self.crawls: list[dict] = []  # one record per timed crawl
        self._n = 0

    def oracle(self) -> crawl_oracle.OracleResult:
        if self._oracle is None:
            self._oracle = crawl_oracle.crawl(self.world, robots=ENGINE["robots"])
        return self._oracle

    def _engine(self, root: str, timed: bool) -> CrawlEngine:
        engine = CrawlEngine(self.spark, self.world, root, **ENGINE)
        if not timed:
            return engine
        sp = self.spans
        sp.wrap(engine, "run_epoch", lambda epoch: f"epoch:{epoch}")
        if self.traced:
            sp.wrap(engine, "bootstrap", lambda: "bootstrap")
            sp.wrap(engine.wh, "stage", lambda table, epoch, df: f"stage:{table}:{epoch}")
            sp.wrap(engine.wh, "commit_epoch", lambda epoch, *a, **k: f"commit:{epoch}")
            sp.wrap(engine.wh, "read", lambda spark, table, *a, **k: f"read:{table}")
        return engine

    def warm_up(self) -> None:
        """One untimed full-size crawl: the first crawl in a JVM is slower
        (JIT, codegen cache, Python workers) than every later one."""
        root = os.path.join(self.work_dir, "warm")
        try:
            self._engine(root, timed=False).run()
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def pass_done(self) -> bool:
        return True  # every crawl is a whole operation

    def op(self) -> list[str]:
        """One timed crawl; returns the output problems found (empty: ok)."""
        self._n += 1
        root = os.path.join(self.work_dir, f"crawl{self._n}")
        try:
            engine = self._engine(root, timed=True)
            n_spans = len(self.spans.records)
            with self.spans.span(f"crawl:{self._n}"):
                engine.run()
            record = {"span": self.spans.records[-1], "epochs": self.spans.records[n_spans:-1]}
            # untimed from here on: output check and counts
            log = log_rows(engine.crawl_log().collect())
            seen = {r.canonical_url for r in engine.seen().collect()}
            cps = engine.checkpoints().collect()
            manifest = engine.wh.read_manifest()
            record.update(
                urls=len(log),
                candidates=sum(c.n_candidates for c in cps),
                new=sum(c.n_new for c in cps),
                fetched=sum(c.n_fetched for c in cps),
                ok=sum(c.n_ok for c in cps),
                attempts=sum(c.n_attempts for c in cps),
                robots_blocked=sum(v.get("n_robots_blocked", 0) for v in manifest.get("lineage", {}).values()),
                bloom_bytes=dir_bytes(os.path.join(root, "bloom")),
                warehouse_bytes=dir_bytes(root) - dir_bytes(os.path.join(root, "bloom")),
            )
            problems = check(log, seen, self.oracle())
            self.crawls.append(record)
            return problems
        finally:
            shutil.rmtree(root, ignore_errors=True)

    # -- metrics ------------------------------------------------------------

    def step_seconds(self) -> list[float]:
        return [s.seconds for c in self.crawls for s in c["epochs"] if s.name.startswith("epoch:")]

    def items_and_wall(self) -> tuple[int, float]:
        """URLs in the crawl logs, and the wall time of ``CrawlEngine.run()``."""
        return sum(c["urls"] for c in self.crawls), sum(c["span"].seconds for c in self.crawls)

    def per_layer(self, jobs) -> dict:
        out: dict[str, float] = {}
        n = len(self.crawls)
        per_epoch = []
        for s in self.spans.named("epoch:"):
            ej = EL.jobs_between(jobs, s.start_ms, s.end_ms)
            per_epoch.append(
                {
                    "jobs": len(ej),
                    "gap": (s.end_ms - s.start_ms - EL.covered_ms(ej, s.start_ms, s.end_ms)) / 1000.0,
                    "cpu": sum(j.cpu_ns for j in ej) / 1e9,
                    "stage_jobs": sum(1 for j in ej if j.description.startswith("stage:")),
                }
            )
        med = lambda key: statistics.median(e[key] for e in per_epoch)  # noqa: E731
        crawl_jobs = [
            j for c in self.crawls for j in EL.jobs_between(jobs, c["span"].start_ms, c["span"].end_ms)
        ]
        out["frontier.epoch_jobs"] = med("jobs")
        out["frontier.epoch_driver_gap_s"] = med("gap")
        out["frontier.epoch_task_cpu_s"] = med("cpu")
        out["frontier.shuffle_write_mb"] = sum(j.shuffle_write_bytes for j in crawl_jobs) / 1e6 / n
        out["frontier.bootstrap_s"] = statistics.median(s.seconds for s in self.spans.named("bootstrap"))
        tot = lambda key: sum(c[key] for c in self.crawls)  # noqa: E731
        out["frontier.candidates"] = tot("candidates") / n
        out["frontier.new_ratio"] = tot("new") / tot("candidates")
        out["fetch.ok_ratio"] = tot("ok") / tot("fetched")
        out["fetch.attempts_per_url"] = tot("attempts") / tot("fetched")
        out["robots.blocked"] = tot("robots_blocked") / n
        for table in STAGED_TABLES:
            out[f"warehouse.stage.{table}_s"] = statistics.median(
                s.seconds for s in self.spans.named(f"stage:{table}:") if s.name != f"stage:{table}:0"
            )
        out["warehouse.stage_jobs"] = med("stage_jobs")
        out["warehouse.commit_s"] = statistics.median(
            s.seconds for s in self.spans.named("commit:") if s.name != "commit:0"
        )
        windows = [(c["span"].start_ms, c["span"].end_ms) for c in self.crawls]
        out["warehouse.read_s"] = sum(
            s.seconds for s in self.spans.named("read:") if any(a <= s.start_ms <= b for a, b in windows)
        ) / n
        out["warehouse.bytes_mb"] = tot("warehouse_bytes") / 1e6 / n
        out["bloom.bytes_mb"] = tot("bloom_bytes") / 1e6 / n
        out.update(spark_totals(crawl_jobs, n))
        return out


def spark_totals(jobs, n_ops: int) -> dict:
    """Whole-run Spark counters, per operation."""
    return {
        "spark.gc_s": sum(j.gc_ms for j in jobs) / 1000.0 / n_ops,
        "spark.spill_mb": sum(j.spill_bytes for j in jobs) / 1e6 / n_ops,
        "spark.tasks": sum(j.tasks for j in jobs) / n_ops,
    }
