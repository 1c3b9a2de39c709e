import pytest

from thuvienphapluat_crawler_spark.plans import crawl_oracle
from thuvienphapluat_crawler_spark.plans.frontier import CrawlEngine
from thuvienphapluat_crawler_spark.sources.synthetic_web import World

from perfbench.crawl import check, log_rows

WORLD = World(n_hosts=3, base_size=40, links_per_page=3, budget_per_host=5, max_epochs=2)


@pytest.fixture(scope="module")
def crawl_output(spark, tmp_path_factory):
    engine = CrawlEngine(spark, WORLD, str(tmp_path_factory.mktemp("wh")), n_buckets=4)
    engine.run()
    log = log_rows(engine.crawl_log().collect())
    seen = {r.canonical_url for r in engine.seen().collect()}
    return log, seen, crawl_oracle.crawl(WORLD)


def test_engine_output_passes(crawl_output):
    log, seen, oracle = crawl_output
    assert check(log, seen, oracle) == []


def test_dropped_log_row_is_caught(crawl_output):
    log, seen, oracle = crawl_output
    problems = check(log[:-1], seen, oracle)
    assert len(problems) == 1 and "crawl_log" in problems[0] and "1 missing" in problems[0]


def test_changed_log_value_is_caught(crawl_output):
    log, seen, oracle = crawl_output
    e, host, rank, url, slot, status, attempts, cookie = log[0]
    planted = [(e, host, rank, url, slot + 1.0, status, attempts, cookie)] + log[1:]
    assert check(planted, seen, oracle)


def test_reordered_log_is_caught(crawl_output):
    log, seen, oracle = crawl_output
    # same rows, two ranks swapped within a host: the order is part of the output
    (e0, h0, r0, *rest0), (e1, h1, r1, *rest1) = log[0], log[1]
    assert h0 == h1
    swapped = [(e0, h0, r1, *rest0), (e1, h1, r0, *rest1)] + log[2:]
    assert check(sorted(swapped), seen, oracle)


def test_seen_set_mismatch_is_caught(crawl_output):
    log, seen, oracle = crawl_output
    assert check(log, seen - {next(iter(seen))}, oracle)
    assert check(log, seen | {"https://host999.example.vn/x"}, oracle)
