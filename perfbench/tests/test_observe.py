import os

import pytest

from thuvienphapluat_crawler_spark import queries as Q

from perfbench.suite import counted

DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.01")


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["q1_pricing_summary", "dedup_exact", "streaming_politeness"])
def test_observe_adds_no_job(spark, name):
    def plain():
        Q.QUERIES[name](spark, DATA).write.mode("overwrite").format("noop").save()

    seen = {}

    def observed():
        df, obs = counted(Q.QUERIES[name](spark, DATA))
        df.write.mode("overwrite").format("noop").save()
        seen["rows"] = obs.get["rows"]

    plain()  # first run pays one-off work (e.g. schema inference caches)
    n_plain = _jobs(spark, f"plain:{name}", plain)
    n_observed = _jobs(spark, f"observed:{name}", observed)
    assert n_plain > 0
    assert n_observed == n_plain
    assert seen["rows"] == Q.QUERIES[name](spark, DATA).count()
