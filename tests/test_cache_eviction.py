"""The r14 driver-side table-plan cache must hold at most ONE application's
entries (VERDICT r14 "what's wrong" #4 / next-round #7): it keys by
applicationId, but without eviction a long-lived process that restarts
Spark sessions accumulates unreachable DataFrame plans, each pinning a
JVM-side logical plan via py4j. Eviction happens on the miss path (the
hit path stays a single dict probe), so these tests seed a fake dead
application's entry and force a miss."""

from __future__ import annotations

from edu_data_pipeline_spark.sources import testdata

SF_DIR = "/root/testdata/sf0.001"


def test_table_plan_cache_evicts_dead_applications(spark):
    dead_key = ("application_dead_0000", SF_DIR, "orders")
    testdata._PLAN_CACHE[dead_key] = object()
    # force a miss for the LIVE app: unseen (sf_dir, name) combination
    testdata._PLAN_CACHE.pop(
        (spark.sparkContext.applicationId, SF_DIR, "region"), None
    )
    testdata.table(spark, SF_DIR, "region")
    apps = {k[0] for k in testdata._PLAN_CACHE}
    assert apps == {spark.sparkContext.applicationId}


def test_table_plan_cache_hit_does_not_rebuild(spark):
    df1 = testdata.table(spark, SF_DIR, "nation")
    df2 = testdata.table(spark, SF_DIR, "nation")
    assert df1 is df2


def test_events_plan_cache_key_carries_schema_confs(spark):
    """ADVICE r14: the events reader's shape depends on the session
    timezone AND the nanosAsLong legacy conf; both must be part of the
    cache key so a conf flip can never serve a stale cast plan."""
    testdata.table(spark, SF_DIR, "events")
    keys = [
        k
        for k in testdata._PLAN_CACHE
        if k[1] == SF_DIR and k[2] == "events"
    ]
    assert keys and all(len(k) == 5 for k in keys)
