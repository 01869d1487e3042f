from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prefect_flow_arc_kg_postgres_etl_spark.plans.kg import (
    ReferenceUnavailable,
    _reference_query_path,
)
from prefect_flow_arc_kg_postgres_etl_spark.session import get_spark

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


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    try:
        return (yield)
    except ReferenceUnavailable as e:
        pytest.skip(str(e))


@pytest.fixture(scope="session")
def spark():
    # The whole suite shares one JVM. With get_spark's 16g default heap
    # ceiling on a 16 GB host the heap grows until the kernel kills the
    # JVM, and every later test fails; the suite's live data fits in 8g
    # (tools/ci.py runs its shards at that size).
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    s = get_spark("tests", cpus=8)
    yield s
