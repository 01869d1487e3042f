"""Tests for the benchmark itself (not part of the package's suite).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Input generation is checked without Spark; the output checks run
against small, deliberately corrupted results; one end-to-end run of
the command checks its output against BENCHMARK.json.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402
from run import END_TO_END  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize(
    "make",
    [
        lambda root, seed: gen.gen_kg(root, seed, 80),
        lambda root, seed: gen.gen_tables(root, seed, 1),
        lambda root, seed: gen.gen_corpus(root, seed, 200, 40, 20, 0.8),
    ],
    ids=["kg", "tables", "corpus"],
)
def test_same_seed_generates_identical_inputs(tmp_path, make):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert make(a, 7) == make(b, 7)
    assert _same_tree(a, b)
    make(c, 8)
    assert not _same_tree(a, c)


def test_planted_pairs_straddle_threshold(tmp_path):
    info = gen.gen_corpus(str(tmp_path), 3, 200, 40, 20, 0.8)
    assert 0 < info["planted_above"] < info["planted_pairs"]


# ---------------------------------------------------------------------------
# Output checks on corrupted results (small inputs, one shared session)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from run import launch_env

    os.environ.update(launch_env(str(tmp_path_factory.mktemp("spark")), None))
    from prefect_flow_arc_kg_postgres_etl_spark.session import get_spark

    return get_spark("perfbench-tests", cpus=2)


class SmallKg(W.KgNightly):
    ENTITIES = 60


class SmallTables(W.TableSync):
    SCALE = 1


class SmallCorpus(W.CorpusDedup):
    HISTORY, BATCH, PLANTED = 300, 60, 24


def _workload(cls, spark, tmp_path):
    wl = cls(W.Context(spark, str(tmp_path)), seed=5)
    wl.generate()
    return wl


def test_kg_checks_catch_corruption(spark, tmp_path):
    from pyspark.sql import functions as F

    wl = _workload(SmallKg, spark, tmp_path)
    assert wl.docs["night1"] != wl.docs["night2"]
    night, docs, n = wl.full("r0")
    assert wl.check_full((night, docs, n)) == []
    assert wl.check_full((night, docs, n - 1))
    night2, docs2, n2 = wl.incremental("r0")
    assert wl.check_incremental((night2, docs2, n2)) == []
    # One renamed document keeps the count but not the contents.
    first = docs2.first()["iri"]
    bad = docs2.withColumn(
        "schema_name",
        F.when(F.col("iri") == first, F.lit("x")).otherwise(F.col("schema_name")),
    )
    assert any(first in p for p in wl.check_incremental((night2, bad, n2)))
    assert wl.check_incremental((night2, docs2.filter(F.col("iri") != first), n2))


def test_table_sync_checks_catch_corruption(spark, tmp_path):
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    wl = _workload(SmallTables, spark, tmp_path)
    assert wl.check_full(wl.full("r0")) == []
    sf, stats = wl.incremental("r0")
    assert wl.check_incremental((sf, stats)) == []
    stats.tables["orders"]["status"] = "failed"
    stats.tables["orders"]["error"] = "injected"
    assert any("orders" in p for p in wl.check_incremental((sf, stats)))
    stats.tables["orders"]["status"] = "merged"
    path = wl.path("r0", "store", "customer.parquet")
    table = S.read_table(spark, path).localCheckpoint()
    S.write_table(table.limit(table.count() - 1), path)
    assert any("customer" in p for p in wl.check_incremental((sf, stats)))


def test_dedup_checks_catch_corruption(spark, tmp_path):
    wl = _workload(SmallCorpus, spark, tmp_path)
    assert wl.above_history and wl.above_batch
    pairs, comp = wl.full("r0")
    assert wl.check_full((pairs, comp)) == []
    rows = [r for r in pairs.collect()]
    dropped = spark.createDataFrame(rows[1:], pairs.schema)
    assert wl.check_full((dropped, comp))
    far = (1, 2) if gen.jaccard(wl.texts[1], wl.texts[2]) < wl.THRESHOLD else (1, 3)
    extra = spark.createDataFrame(rows + [(*far, 0.9)], pairs.schema)
    assert any("Jaccard" in p for p in wl.check_full((extra, {**comp, far[1]: comp[far[0]]})))
    found = wl.incremental("r0")
    assert wl.check_incremental(found) == []
    assert wl.check_incremental(found[1:])


# ---------------------------------------------------------------------------
# Metric names and a real run without the reference checkout
# ---------------------------------------------------------------------------


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_emitted_metric_is_declared():
    spec = _declared()
    assert set(END_TO_END) == {m["name"] for m in spec["end_to_end"]}
    per_layer = {m["name"] for m in spec["per_layer"]}
    assert set(tracing.metric_units()) == per_layer
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)


def test_runs_without_reference_queries(tmp_path):
    empty = tmp_path / "queries"
    empty.mkdir()
    env = dict(os.environ, REFERENCE_QUERY_DIR=str(empty))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_nightly", "--seed", "3",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    declared = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
