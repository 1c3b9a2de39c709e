from __future__ import annotations

import threading

import pytest

from thuvienphapluat_crawler_spark.plans import crawl_oracle
from thuvienphapluat_crawler_spark.plans.frontier import (
    CHECKPOINT_SCHEMA,
    CRAWL_LOG_SCHEMA,
    DOCS_SCHEMA,
    FRONTIER_SCHEMA,
    CrawlEngine,
)
from thuvienphapluat_crawler_spark.sources import synthetic_web as SW

WORLD = SW.World(n_hosts=4, base_size=60, links_per_page=4, budget_per_host=8, max_epochs=3)


def spark_log_rows(engine: CrawlEngine):
    return sorted(
        (r.epoch, r.host, r.rank, r.canonical_url, r.fetch_slot, r.status, r.attempts, r.cookie_header)
        for r in engine.crawl_log().collect()
    )


def oracle_log_rows(res: crawl_oracle.OracleResult):
    return sorted(res.log)


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    engine = CrawlEngine(spark, WORLD, root, n_buckets=4)
    engine.run()
    oracle = crawl_oracle.crawl(WORLD)
    return engine, oracle


def test_crawl_order_matches_oracle(run):
    engine, oracle = run
    assert spark_log_rows(engine) == oracle_log_rows(oracle)


def test_seen_set_matches_oracle(run):
    engine, oracle = run
    got = {r.canonical_url for r in engine.seen().collect()}
    assert got == oracle.seen


def test_seen_set_has_no_duplicates(run):
    engine, _ = run
    seen = engine.seen()
    assert seen.count() == seen.select("url_fp").distinct().count()


def test_docs_span_sequences_match_oracle(run):
    engine, oracle = run
    rows = engine.docs().collect()
    got = {
        r.canonical_url: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in rows
    }
    assert set(got) == set(oracle.docs)
    for url, spans in oracle.docs.items():
        assert got[url] == spans, f"span mismatch for {url}"


def test_politeness_spacing(run):
    engine, _ = run
    rows = engine.crawl_log().collect()
    by_key: dict[tuple, list] = {}
    for r in rows:
        by_key.setdefault((r.epoch, r.host), []).append(r)
    for (epoch, host), group in by_key.items():
        h_idx = int(host[4:7])
        delay = SW.crawl_delay(h_idx)
        slots = sorted(r.fetch_slot for r in group)
        for a, b in zip(slots, slots[1:]):
            assert b - a >= delay - 1e-9, f"politeness violated on {host} epoch {epoch}"


def test_cookies_broadcast_into_fetch(run):
    """Hosts with a cookie dimension row fetch WITH that cookie header on
    every request; cookie-less hosts send none (crawler.py:62-70 cookie
    injection, generalized to a broadcast-joined per-host dimension)."""
    engine, _ = run
    rows = engine.crawl_log().collect()
    assert rows
    for r in rows:
        h_idx = int(r.host[4:7])
        assert r.cookie_header == SW.host_cookie_header(h_idx)
    assert any(r.cookie_header for r in rows)
    assert any(not r.cookie_header for r in rows)


def test_error_rows_have_no_docs(run):
    engine, _ = run
    errors = {r.canonical_url for r in engine.crawl_log().filter("status = 'error'").collect()}
    doc_urls = {r.canonical_url for r in engine.docs().collect()}
    assert not (errors & doc_urls)
    # error outcomes exhausted the retry budget (ocr_pdf.py:48-74 semantics)
    for r in engine.crawl_log().filter("status = 'error'").collect():
        assert r.attempts == 3


def test_checkpoints_metrics_consistent(run):
    engine, _ = run
    cps = engine.checkpoints().collect()
    total_fetched = sum(c.n_fetched for c in cps)
    assert total_fetched == engine.crawl_log().count()
    assert all(c.lineage for c in cps)


def test_resume_equals_full_run(spark, tmp_path_factory, run):
    """Kill after epoch 2, resume with a FRESH engine → identical final
    state to the uninterrupted run (the reference's progress.json resume,
    ocr_pdf.py:119-141, at engine scale)."""
    full, _ = run
    part_root = str(tmp_path_factory.mktemp("wh_part"))
    partial = CrawlEngine(spark, WORLD, part_root, n_buckets=4)
    partial.run(max_epochs=2)
    assert partial.wh.last_epoch() == 2
    resumed = CrawlEngine(spark, WORLD, part_root, n_buckets=4)
    resumed.run()
    assert spark_log_rows(resumed) == spark_log_rows(full)
    a = {r.canonical_url for r in resumed.seen().collect()}
    b = {r.canonical_url for r in full.seen().collect()}
    assert a == b


def test_determinism_across_parallelism(spark, tmp_path_factory, run):
    """Same world, different bucket/partition layout → identical results
    (SURVEY §5 property: task order cannot leak into output)."""
    base, _ = run  # n_buckets=4
    r2 = str(tmp_path_factory.mktemp("wh_p16"))
    e2 = CrawlEngine(spark, WORLD, r2, n_buckets=16)
    e2.run()
    assert spark_log_rows(e2) == spark_log_rows(base)
    assert {r.canonical_url for r in e2.seen().collect()} == {
        r.canonical_url for r in base.seen().collect()
    }


def test_crawl_twice_is_idempotent(run):
    """Dedup idempotence: run() again on a drained warehouse is a no-op."""
    engine, _ = run
    n_log = engine.crawl_log().count()
    n_seen = engine.seen().count()
    engine.run()
    assert engine.crawl_log().count() == n_log
    assert engine.seen().count() == n_seen


@pytest.mark.parametrize("fail_at", ["checkpoints_stage", "probe_plan"])
def test_mid_epoch_crash_leaves_manifest_unchanged(spark, tmp_path_factory, run, fail_at):
    """An epoch fails after its first writes went to the write pool: either
    the checkpoints write raises once the other writes have landed, or
    building the bloom-probe plan raises while the early writes run. The
    manifest stays as it was, no write-pool thread outlives the epoch, and
    a resumed crawl equals the uninterrupted one."""
    full, _ = run
    root = str(tmp_path_factory.mktemp("wh_crash"))
    engine = CrawlEngine(spark, WORLD, root, n_buckets=4)
    engine.run(max_epochs=1)
    before = engine.wh.read_manifest()

    if fail_at == "checkpoints_stage":
        stage = engine.wh.stage
        landed = {t: threading.Event() for t in ("crawl_log", "docs", "frontier")}

        def failing_stage(table, epoch, df):
            if table == "checkpoints":
                for t, ev in landed.items():
                    assert ev.wait(timeout=300), f"{t} never landed"
                raise RuntimeError("injected failure")
            path = stage(table, epoch, df)
            landed[table].set()
            return path

        engine.wh.stage = failing_stage
    else:

        def failing_probe(up_to_epoch):
            raise RuntimeError("injected failure")

        engine._bloom_probe_fn = failing_probe

    def pool_threads():
        return {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}

    idle = pool_threads()
    with pytest.raises(RuntimeError, match="injected failure"):
        engine.run_epoch(2)
    assert engine.wh.read_manifest() == before
    assert pool_threads() <= idle, "write-pool threads outlived the failed epoch"

    resumed = CrawlEngine(spark, WORLD, root, n_buckets=4)
    resumed.run()
    assert spark_log_rows(resumed) == spark_log_rows(full)
    assert {r.canonical_url for r in resumed.seen().collect()} == {
        r.canonical_url for r in full.seen().collect()
    }


DECLARED_SCHEMAS = {
    "crawl_log": CRAWL_LOG_SCHEMA,
    "frontier": FRONTIER_SCHEMA,
    "docs": DOCS_SCHEMA,
    "checkpoints": CHECKPOINT_SCHEMA,
}


@pytest.mark.parametrize("table", list(DECLARED_SCHEMAS))
def test_declared_schema_matches_written(spark, run, table):
    """Deltas are read with the schema the engine declares; a column that
    drifted from what the engine writes would read back as nulls. So the
    declared read must equal the read that infers the schema from the
    parquet footers, in columns, types and rows."""
    engine, _ = run
    declared = engine.wh.read(spark, table, DECLARED_SCHEMAS[table])
    inferred = engine.wh.read(spark, table)
    fields = lambda df: [(f.name, f.dataType.simpleString()) for f in df.schema.fields]  # noqa: E731
    assert fields(declared) == fields(inferred)
    rows = declared.collect()
    assert rows and sorted(rows) == sorted(inferred.collect())


def _last_job_id(sc, group: str) -> int:
    """Run a one-task marker job in its own job group; return its job id."""
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_epoch_job_count(spark, tmp_path_factory):
    """A robots-off epoch submits at most 18 Spark jobs (counted by job id
    between two marker jobs, so pool-thread jobs are counted too); a
    re-added count() or schema-inference job fails here."""
    engine = CrawlEngine(spark, WORLD, str(tmp_path_factory.mktemp("wh_jobs")), n_buckets=4)
    engine.run(max_epochs=1)
    sc = spark.sparkContext
    first = _last_job_id(sc, "epoch-jobs-before")
    assert engine.run_epoch(2)
    last = _last_job_id(sc, "epoch-jobs-after")
    assert last - first - 1 <= 18


def test_crawl_without_partition_coalescing(spark, tmp_path_factory, run):
    """The host_bucket shuffles leave their partition count to AQE; with
    coalescing off they run at spark.sql.shuffle.partitions and the crawl
    must not change."""
    base, _ = run
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        engine = CrawlEngine(spark, WORLD, str(tmp_path_factory.mktemp("wh_nocoalesce")), n_buckets=4)
        engine.run()
        log = spark_log_rows(engine)
        seen = {r.canonical_url for r in engine.seen().collect()}
    finally:
        spark.conf.set(key, prev)
    assert log == spark_log_rows(base)
    assert seen == {r.canonical_url for r in base.seen().collect()}
