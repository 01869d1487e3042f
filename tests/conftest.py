from __future__ import annotations

import contextlib
import os
import signal
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prefect_flow_arc_kg_postgres_etl_spark.plans.kg import (
    ReferenceUnavailable,
    _reference_query_path,
)
from prefect_flow_arc_kg_postgres_etl_spark.session import get_spark

# The ``ci`` Hypothesis profile (tools/ci.py's sparql-properties stage
# loads it with ``--hypothesis-profile=ci``): derandomized, and five
# times Hypothesis' default example count, by which each property test
# scales its own count (tests/test_sparql_properties._examples).
settings.register_profile("ci", max_examples=500, derandomize=True)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# The reference's query files (REFERENCE_QUERY_DIR). A test that reads
# them directly carries this marker; one that reaches them through the
# package's loader is skipped by the hook below when they are absent.
QUERIES_DIR = os.path.dirname(_reference_query_path("person.sparql"))
needs_reference = pytest.mark.skipif(
    not os.path.isdir(QUERIES_DIR),
    reason=f"reference queries not mounted at {QUERIES_DIR}",
)


@contextlib.contextmanager
def deadline(seconds: float):
    """Fail the test instead of hanging the suite when the body runs
    longer than ``seconds`` (the SPARQL parser once looped forever on a
    keyword it had no branch for)."""

    def expire(signum, frame):
        raise TimeoutError(f"still running after {seconds} s")

    previous = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    try:
        return (yield)
    except ReferenceUnavailable as e:
        pytest.skip(str(e))


@pytest.fixture
def star_plans(monkeypatch):
    """The executed plan of every star the SPARQL compiler checkpoints
    during the test, in compile order. Lineage truncation leaves only
    ``Scan ExistingRDD`` where a star's quad scans were in the final
    plan, so a plan audit of a SPARQL-text entry reads the scans here.
    The plan cache is cleared on both sides, so every star of the
    test's queries is compiled, and seen, inside it."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

    truncate = SQ._truncate_lineage
    plans: list[str] = []

    def spy(df, coalesce=None):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return truncate(df, coalesce)

    monkeypatch.setattr(SQ, "_truncate_lineage", spy)
    SQ.clear_plan_cache()
    yield plans
    SQ.clear_plan_cache()


@pytest.fixture(scope="session")
def spark():
    # The whole suite shares one JVM. With get_spark's 16g default heap
    # ceiling on a 16 GB host the heap grows until the kernel kills the
    # JVM, and every later test fails; the suite's live data fits in 8g
    # (tools/ci.py runs its shards at that size).
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    s = get_spark("tests", cpus=8)
    yield s
