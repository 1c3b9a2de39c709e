from thuvienphapluat_crawler_spark import queries as Q

from perfbench.families import FAMILIES, FAMILY_OF
from perfbench.suite import SUITE


def test_every_registered_query_has_a_family():
    assert set(FAMILY_OF) == set(Q.QUERIES)
    assert set(FAMILY_OF.values()) == set(FAMILIES)


def test_suite_queries_are_registered_and_cover_every_family():
    assert len(set(SUITE)) == len(SUITE)
    assert set(SUITE) <= set(Q.QUERIES)
    assert {FAMILY_OF[q] for q in SUITE} == set(FAMILIES)


def test_suite_queries_have_oracles():
    oracles = Q.get_oracles()
    assert all(oracles.get(q) for q in SUITE)


def test_warm_up_query_is_outside_the_timed_set():
    from perfbench.suite import WARM_UP

    assert WARM_UP in Q.QUERIES and WARM_UP not in SUITE
