"""The one driver-side cache mechanism (session.AppLRU) and its callers:
LRU order and bound, per-application scoping, cached None, stamped
entries, thread safety, and clear_plan_cache."""

from __future__ import annotations

import sys
import threading
from types import SimpleNamespace

from prefect_flow_arc_kg_postgres_etl_spark.plans import reference_pipeline as RP
from prefect_flow_arc_kg_postgres_etl_spark.session import MISS, AppLRU


def _app(app_id: str):
    """Stand-in for a SparkSession: AppLRU reads only the application id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_hit_reorders_and_bound_evicts_least_recently_used():
    spark = _app("app-1")
    cache = AppLRU(3)
    for k in "abc":
        cache.put(spark, k, k.upper())
    assert cache.get(spark, "a") == "A"  # a becomes most recent
    cache.put(spark, "d", "D")  # evicts b, the least recently used
    assert len(cache) == 3
    assert cache.get(spark, "b") is MISS
    assert [cache.get(spark, k) for k in "acd"] == ["A", "C", "D"]


def test_applications_do_not_share_entries():
    cache = AppLRU(8)
    cache.put(_app("app-1"), "k", 1)
    cache.put(_app("app-2"), "k", 2)
    assert cache.get(_app("app-1"), "k") == 1
    assert cache.get(_app("app-2"), "k") == 2
    assert cache.get(_app("app-3"), "k") is MISS


def test_cached_none_is_a_hit():
    spark = _app("app-1")
    cache = AppLRU(4)
    assert cache.get(spark, "meta") is MISS
    cache.put(spark, "meta", None)
    assert cache.get(spark, "meta") is None


def test_stamped_entry_misses_on_a_new_stamp_and_is_replaced():
    spark = _app("app-1")
    cache = AppLRU(4)
    cache.put(spark, "k", "old", stamp=(1, 1))
    assert cache.get(spark, "k", (1, 1)) == "old"
    assert cache.get(spark, "k", (2, 1)) is MISS
    cache.put(spark, "k", "new", stamp=(2, 1))
    assert len(cache) == 1
    assert cache.get(spark, "k", (2, 1)) == "new"
    assert cache.get(spark, "k", (1, 1)) is MISS


def test_flow_plan_entry_rebuilds_on_a_changed_store_fingerprint(monkeypatch):
    spark = _app("app-flow")
    fingerprint = [(10, 1)]
    monkeypatch.setattr(RP, "_store_fingerprint", lambda sf_dir, s: fingerprint[0])
    monkeypatch.setattr(RP, "_FLOW_PLAN_CACHE", AppLRU(32))
    builds: list[int] = []

    def build():
        builds.append(1)
        return f"plan{len(builds)}"

    assert RP._flow_plan_cached(spark, "/store", "deletes", build) == "plan1"
    assert RP._flow_plan_cached(spark, "/store", "deletes", build) == "plan1"
    fingerprint[0] = (11, 2)  # the store under the same path changed
    assert RP._flow_plan_cached(spark, "/store", "deletes", build) == "plan2"
    assert len(builds) == 2
    assert len(RP._FLOW_PLAN_CACHE) == 1  # replaced, not added beside


def test_concurrent_put_get_keeps_the_bound():
    cache = AppLRU(16)
    apps = [_app(f"app-{i % 2}") for i in range(8)]
    errors: list[BaseException] = []
    wrong: list[tuple] = []

    def work(spark):
        try:
            for i in range(2000):
                key = i % 50
                cache.put(spark, key, (spark.sparkContext.applicationId, key))
                got = cache.get(spark, (i * 7) % 50)
                if got is not MISS and got != (
                    spark.sparkContext.applicationId,
                    (i * 7) % 50,
                ):
                    wrong.append(got)
                assert len(cache) <= 16
        except BaseException as exc:  # reported below, not swallowed
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(a,)) for a in apps]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert not wrong, wrong[:3]
    assert len(cache) == 16


def test_clear_plan_cache_empties_the_sparql_caches(spark):
    from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

    quads = spark.createDataFrame(
        [("e1", "urn:a", "x", None, None), ("e1", "urn:b", "y", None, None)],
        "subject string, predicate string, object string, lang string, "
        "graph string",
    )
    SQ.clear_plan_cache()
    SQ.construct_query(
        quads, "CONSTRUCT { ?e <urn:o> ?v } WHERE { ?e <urn:a> ?v ; <urn:b> ?w }"
    ).collect()
    assert len(SQ._PLAN_CACHE) == 1
    assert len(SQ._FANOUT_PROBE_CACHE) == 1  # the star ran the probe
    SQ.clear_plan_cache()
    assert len(SQ._PLAN_CACHE) == 0
    assert len(SQ._FANOUT_PROBE_CACHE) == 0
