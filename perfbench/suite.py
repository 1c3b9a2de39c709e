"""The ``suite`` workload: registered queries written to the ``noop`` sink.

One operation is one query: build the DataFrame with
``queries.QUERIES[name](spark, data_dir)``, attach a row-count
``Observation`` and write it to ``noop``. The check compares that count with
the count of the query's DuckDB ``oracle_sql()`` on the same files.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from thuvienphapluat_crawler_spark import queries as Q
from thuvienphapluat_crawler_spark.queries import TABLES

from perfbench import eventlog as EL
from perfbench.crawl import spark_totals
from perfbench.families import FAMILIES, FAMILY_OF

# The timed set: one to three queries of each family, sized so that one pass
# fits a run of about a minute on 4 cores. It holds the per-query floor
# targets named in ROADMAP (emb_dup_clusters, emb_knn_ivf,
# docs_minhash_lsh_pairs), the slowest data-bound query (pdf_page_raster),
# and the robots gate and DOM extract that the crawl workload leaves out
# (robots_filter, html_extract_docs). crawl_dedup_pairs (6.6 s, mostly a
# crawl that the crawl workload already measures) and crawl_engine_demo are
# not in it.
SUITE = (
    "q1_pricing_summary", "q5_nation_revenue",
    "robots_filter", "frontier_rank",
    "dedup_exact", "docs_minhash_lsh_pairs", "emb_dup_clusters",
    "emb_knn_ivf",
    "spans_build", "docs_line_dedup",
    "html_extract_docs", "pdf_page_raster",
    "streaming_politeness",
)

# Set-up runs one query outside the timed set, which starts the Python
# workers (pandas, Arrow) and the parquet reader. Each timed query then runs
# once, as a user running the query in a session pays for it: its analysis,
# optimisation and code generation are part of its time.
WARM_UP = "png_real_features"


# per-family rollups of the traced run, with their units
FAMILY_METRICS = {
    "wall_s": "s", "build_s": "s", "jobs": "count", "driver_gap_s": "s",
    "task_cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s",
}


def oracle_counts(data_dir: str, names) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the same parquet files."""
    import duckdb

    oracles = Q.get_oracles()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {n: con.execute(f"SELECT count(*) FROM ({oracles[n]}) AS o").fetchone()[0] for n in names}
    finally:
        con.close()


def counted(df):
    """``df`` with an in-plan row count; read it from the Observation after
    an action. ``observe`` adds no job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class SuiteRun:
    def __init__(self, spark, data_dir: str, spans, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.spans = spans
        self.order = list(SUITE)
        random.Random(seed).shuffle(self.order)
        self._expected: dict[str, int] | None = None
        self._i = 0
        self.queries: list[dict] = []  # one record per timed query

    def expected(self) -> dict[str, int]:
        if self._expected is None:
            self._expected = oracle_counts(self.data_dir, SUITE)
        return self._expected

    def warm_up(self) -> None:
        Q.QUERIES[WARM_UP](self.spark, self.data_dir).write.mode("overwrite").format("noop").save()

    def pass_done(self) -> bool:
        return self._i % len(self.order) == 0

    def op(self) -> list[str]:
        name = self.order[self._i % len(self.order)]
        self._i += 1
        with self.spans.span(f"query:{name}"):
            t0 = time.perf_counter()
            df, obs = counted(Q.QUERIES[name](self.spark, self.data_dir))
            build = time.perf_counter() - t0
            df.write.mode("overwrite").format("noop").save()
        rows = obs.get["rows"]
        self.queries.append({"name": name, "span": self.spans.records[-1], "build_s": build})
        want = self.expected()[name]
        return [] if rows == want else [f"{name}: {rows} rows, oracle {want}"]

    # -- metrics ------------------------------------------------------------

    def step_seconds(self) -> list[float]:
        return [q["span"].seconds for q in self.queries]

    def items_and_wall(self) -> tuple[int, float]:
        """Queries run, and their summed wall time (build plus execute)."""
        walls = self.step_seconds()
        return len(walls), sum(walls)

    def per_layer(self, jobs) -> dict:
        passes = len(self.queries) / len(self.order)
        out = {}
        all_jobs = []
        for fam in FAMILIES:
            acc = dict.fromkeys(FAMILY_METRICS, 0.0)
            for q in self.queries:
                if FAMILY_OF[q["name"]] != fam:
                    continue
                s = q["span"]
                qj = EL.jobs_between(jobs, s.start_ms, s.end_ms)
                all_jobs += qj
                acc["wall_s"] += s.seconds
                acc["build_s"] += q["build_s"]
                acc["jobs"] += len(qj)
                acc["driver_gap_s"] += (s.end_ms - s.start_ms - EL.covered_ms(qj, s.start_ms, s.end_ms)) / 1000.0
                acc["task_cpu_s"] += sum(j.cpu_ns for j in qj) / 1e9
                acc["shuffle_mb"] += sum(j.shuffle_write_bytes for j in qj) / 1e6
                acc["spill_mb"] += sum(j.spill_bytes for j in qj) / 1e6
                acc["gc_s"] += sum(j.gc_ms for j in qj) / 1000.0
            for k, v in acc.items():
                out[f"q.{fam}.{k}"] = v / passes
        out.update(spark_totals(all_jobs, passes))
        return out
