"""End-to-end sync flow: full-vs-incremental convergence (the
reference's implicit contract — a full sync and a catch-up incremental
run must land the identical store and identical index feed)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.flows import (
    TABLE_MODIFIED,
    TABLE_MULTIVALUE,
    TABLE_PK,
    sync_flow,
)
from prefect_flow_arc_kg_postgres_etl_spark.sources import store as tstore
from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE

CUTOFF = datetime.date(1995, 1, 1)


def _table_rows(spark, store, name):
    df = tstore.read_table(spark, f"{store}/{name}.parquet")
    return {tuple(str(v) for v in r) for r in df.select(sorted(df.columns)).collect()}


def test_full_then_incremental_converges(spark, tmp_path):
    store_a = str(tmp_path / "store_full")
    store_b = str(tmp_path / "store_incr")

    # Path A: one full sync of everything.
    counts_a = sync_flow(spark, SF_SMOKE, store_a, full_sync=True)
    assert counts_a["orders"] > 0 and counts_a["index_documents"] > 0

    # Path B: an old store (orders/lineitem only up to CUTOFF), then an
    # incremental catch-up with since=CUTOFF.
    sync_flow(spark, SF_SMOKE, store_b, full_sync=True, build_index=False)
    for name, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        old = load_table(spark, SF_SMOKE, name).filter(F.col(col) <= F.lit(CUTOFF))
        old.write.mode("overwrite").parquet(f"{store_b}/{name}.parquet.old")
        spark.read.parquet(f"{store_b}/{name}.parquet.old").write.mode(
            "overwrite"
        ).parquet(f"{store_b}/{name}.parquet")
    counts_b = sync_flow(spark, SF_SMOKE, store_b, full_sync=False, since=CUTOFF)

    # Converged: every table identical, and the index feed identical.
    for name in TABLE_PK:
        assert _table_rows(spark, store_a, name) == _table_rows(
            spark, store_b, name
        ), f"{name} diverged"
    feed_a = {r.value for r in spark.read.text(f"{store_a}/_index/es_bulk").collect()}
    feed_b = {r.value for r in spark.read.text(f"{store_b}/_index/es_bulk").collect()}
    assert feed_a == feed_b
    assert counts_b["orders"] == counts_a["orders"]


def test_incremental_rerun_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    sync_flow(spark, SF_SMOKE, store, full_sync=True, build_index=False)
    first = {n: _table_rows(spark, store, n) for n in ("orders", "customer")}
    sync_flow(spark, SF_SMOKE, store, full_sync=False, since=CUTOFF, build_index=False)
    again = {n: _table_rows(spark, store, n) for n in ("orders", "customer")}
    assert first == again


def test_run_stats_accounting(spark, tmp_path):
    """RunStats (stats.ts parity): per-table staged/merged counts and
    run totals ride along with the rowcount mapping."""
    store = str(tmp_path / "stats_store")
    stats = sync_flow(
        spark, SF_SMOKE, store, full_sync=True, build_index=False,
        tables=["region", "nation"],
    )
    assert stats.merged_tables == 2 and stats.failed_tables == 0
    assert (
        stats.tables["region"]["staged"]
        == stats.tables["region"]["merged"]
        == stats["region"]
        > 0
    )


def test_run_stats_records_failure_and_continues(spark, tmp_path):
    """A failed table is recorded (status/error) without aborting the
    run — the remaining tables still merge."""
    import os
    import shutil

    src = str(tmp_path / "partial_sf")
    os.makedirs(src)
    for t in ("region", "nation"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{src}/{t}.parquet")
    store = str(tmp_path / "stats_store2")
    stats = sync_flow(
        spark, src, store, full_sync=True, build_index=False,
        tables=["region", "nation", "customer"],
    )
    assert stats.tables["customer"]["status"] == "failed"
    assert stats.tables["customer"]["error"]
    assert "customer" not in stats  # no merged rowcount for a failure
    assert stats.merged_tables == 2 and stats.failed_tables == 1


def test_multivalue_incremental_first_load(spark, tmp_path):
    """An incremental sync of a multi-value table that was never
    full-synced treats the staged batch as the initial table instead of
    raising on the missing target."""
    store = str(tmp_path / "mv_store")
    stats = sync_flow(
        spark, SF_SMOKE, store, full_sync=False, since=CUTOFF,
        build_index=False, tables=["lineitem"],
    )
    assert stats.tables["lineitem"]["status"] == "merged"
    assert stats["lineitem"] > 0


def test_sync_flow_org_scoped(spark, tmp_path):
    """OR_IDS scoping: org-keyed tables filter to the scope set; the
    index feed only contains the scoped organisations."""
    store = str(tmp_path / "scoped")
    counts = sync_flow(spark, SF_SMOKE, store, full_sync=True, or_ids=[0, 1, 2])
    cust = tstore.read_table(spark, f"{store}/customer.parquet")
    assert {r.c_nationkey for r in cust.select("c_nationkey").distinct().collect()} <= {0, 1, 2}
    nations = tstore.read_table(spark, f"{store}/nation.parquet")
    assert nations.count() == 3
    assert counts["index_documents"] > 0
    docs = spark.read.text(f"{store}/_index/es_bulk")
    assert docs.count() == 2 * cust.count()  # action + source line per customer


def test_versioned_store_single_write_per_merge(spark, tmp_path):
    """Each merge lands EXACTLY ONE new version directory (the
    single-write contract that replaced write-tmp-read-rewrite), the
    pointer tracks it, and superseded versions are pruned."""
    import os

    path = str(tmp_path / "t.parquet")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(1, "b"), (2, "c")], "id long, v string")

    assert tstore.write_table(df1, path) == 1
    assert tstore.current_version(path) == 1
    assert tstore.write_table(df2, path) == 2
    # one live version dir, no tmp/.new artifacts, pointer = 2
    entries = sorted(e for e in os.listdir(path) if not e.startswith("."))
    assert entries == ["_current", "v_2"]
    rows = {(r.id, r.v) for r in tstore.read_table(spark, path).collect()}
    assert rows == {(1, "b"), (2, "c")}


def test_versioned_store_legacy_flat_read_and_convert(spark, tmp_path):
    """A flat pre-versioning table reads as-is; its first merge converts
    it to the versioned layout without losing data."""
    path = str(tmp_path / "legacy.parquet")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    assert tstore.current_version(path) is None
    assert tstore.read_table(spark, path).count() == 1
    merged = tstore.read_table(spark, path).unionByName(
        spark.createDataFrame([(2, "b")], "id long, v string")
    )
    assert tstore.write_table(merged, path) == 1
    assert tstore.read_table(spark, path).count() == 2


def test_incremental_store_has_single_version_after_rerun(spark, tmp_path):
    """sync_flow merges leave one pruned version per table and never a
    '.new' twin directory (the old double-write artifact)."""
    import os

    store = str(tmp_path / "vstore")
    sync_flow(spark, SF_SMOKE, store, full_sync=True, build_index=False,
              tables=["orders", "customer", "nation", "region"])
    sync_flow(spark, SF_SMOKE, store, full_sync=False, since=CUTOFF,
              build_index=False, tables=["orders", "customer", "nation", "region"])
    for name in ("orders", "customer"):
        tdir = f"{store}/{name}.parquet"
        versions = [e for e in os.listdir(tdir) if e.startswith("v_")]
        assert len(versions) == 1, versions
        assert not os.path.exists(tdir + ".new")


def test_run_stats_counts_equal_landed_rows(spark, tmp_path):
    """RunStats counts are observed in the writes, not re-counted: after
    a full and then a since="auto" sync, every table's count equals the
    rows of the landed table (lineitem's multi-value path included) and
    index_documents equals the bulk feed's line count."""
    store = str(tmp_path / "observed")
    for kw in ({"full_sync": True}, {"full_sync": False, "since": "auto"}):
        stats = sync_flow(spark, SF_SMOKE, store, **kw)
        assert stats.failed_tables == 0, stats.tables
        for name in TABLE_PK:
            landed = tstore.read_table(spark, f"{store}/{name}.parquet").count()
            assert stats[name] == stats.tables[name]["merged"] == landed, (
                kw, name,
            )
        lines = spark.read.text(f"{store}/_index/es_bulk").count()
        assert stats["index_documents"] == lines > 0, kw
    # the incremental run's staged counts are its batches, not the tables
    assert stats.tables["region"]["staged"] == stats["region"]
    assert 0 < stats.tables["lineitem"]["staged"] < stats["lineitem"]


def test_incremental_sync_job_budget(spark, tmp_path):
    """An incremental sync runs only the jobs that move data: no count
    pass per table and no schema-inference job (schema-less parquet
    reads take their schema from a footer on the driver). The
    DAGScheduler's job counter covers the flow's pool threads too (they
    carry no job group), and no watermark job: the auto watermark is
    read from the summary stored with each live version. In the 8-core
    test session this flow runs 24 jobs, every one a SQL execution;
    with a staging write per table and a two-job max() per watermark
    it ran 38, with a schema-inference job per parquet read besides 54,
    and with a .count() per staged and per merged table and inferred
    read-backs besides, 104."""
    store = str(tmp_path / "budget")
    sync_flow(spark, SF_SMOKE, store, full_sync=True)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    stats = sync_flow(spark, SF_SMOKE, store, full_sync=False, since="auto")
    jobs = dag.numTotalJobs() - before
    assert stats.failed_tables == 0, stats.tables
    assert jobs <= 24, jobs


def test_curation_flow_composes_gates_end_to_end(spark):
    """The composed curation run must satisfy every member gate on its
    OUTPUT (not just per-operator): quality above threshold, language
    in the allow set, no exact duplicate texts, valid pack offsets per
    source, every row sharded with dense positions, and monotone
    survivor accounting stage to stage."""
    from prefect_flow_arc_kg_postgres_etl_spark.flows import curation_flow
    from tests.conftest import SF_SMOKE

    out, stats = curation_flow(spark, SF_SMOKE, n_shards=4)
    rows = out.collect()
    assert rows, "curation produced an empty corpus"
    assert len({r.doc_id for r in rows}) == len(rows)

    texts = [r.text for r in rows]
    assert len(set(texts)) == len(texts)  # exact dedup held

    t = stats.tables
    assert (
        t["input"]["staged"]
        >= t["quality_lang"]["staged"]
        >= t["dedup"]["staged"]
        >= t["output"]["staged"]
        > 0
    )

    from collections import defaultdict

    per_shard = defaultdict(list)
    for r in rows:
        assert r.shard in range(4)
        per_shard[r.shard].append(r.pos)
    for ps in per_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))

    per_pack = defaultdict(int)
    for r in rows:
        per_pack[(r.source, r.pack_id)] += r.tokens
    # offset binning: a pack overflows by at most one document
    for (_, _pid), tok in per_pack.items():
        assert tok <= 2048 + max(r.tokens for r in rows)


def test_sync_flow_validate_clean_store(spark, tmp_path):
    """A healthy full sync validates clean: every PK/FK check zero."""
    from prefect_flow_arc_kg_postgres_etl_spark.flows import sync_flow

    store_dir = str(tmp_path / "store_v")
    stats = sync_flow(
        spark, SF_SMOKE, store_dir, full_sync=True, build_index=False,
        validate=True,
    )
    assert stats["dq_violations"] == 0
    assert stats.tables["lineitem"]["violations"]["fk_orphans_l_orderkey"] == 0
    # multi-value tables have no row PK — no pk check recorded
    assert "pk_dup_keys" not in stats.tables["lineitem"]["violations"]
    assert stats.tables["orders"]["violations"]["pk_dup_keys"] == 0


def test_validate_store_detects_planted_corruption(spark, tmp_path):
    """Planted defects surface in the right check: a duplicated order
    PK and a lineitem pointing at a nonexistent order."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.flows import (
        sync_flow,
        validate_store,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    store_dir = str(tmp_path / "store_c")
    sync_flow(spark, SF_SMOKE, store_dir, full_sync=True, build_index=False)

    orders = store.read_table(spark, f"{store_dir}/orders.parquet")
    store.write_table(orders.unionByName(orders.limit(1)), f"{store_dir}/orders.parquet")
    li = store.read_table(spark, f"{store_dir}/lineitem.parquet")
    orphan = li.limit(1).withColumn("l_orderkey", F.lit(999_999_999))
    store.write_table(li.unionByName(orphan), f"{store_dir}/lineitem.parquet")

    v = validate_store(spark, store_dir)
    assert v["orders"]["pk_dup_keys"] == 1
    assert v["lineitem"]["fk_orphans_l_orderkey"] == 1
    assert v["customer"]["fk_orphans_c_nationkey"] == 0


def _boundary_rows(spark, name: str) -> int:
    """The source rows an inclusive auto watermark equal to the
    source's own max re-stages: the rows at that max, or for a
    multi-value table every row of a group holding one."""
    col = TABLE_MODIFIED[name]
    src = load_table(spark, SF_SMOKE, name)
    top = src.agg(F.max(col)).first()[0]
    at_top = src.filter(F.col(col) == F.lit(top))
    if name in TABLE_MULTIVALUE:
        key = TABLE_MULTIVALUE[name]
        at_top = src.join(at_top.select(key).distinct(), key, "left_semi")
    return at_top.count()


def test_sync_flow_auto_since_self_watermarks(spark, tmp_path):
    """since='auto': the store is its own high-water mark. The full-sync
    write and each incremental merge record max(modified column) with
    the version they land: the recorded value equals max() over the
    landed table, with the same Python type, so the inclusive filter
    selects the same rows. Every auto run over the same night re-stages
    ONLY the boundary rows (modified == landed max — the inclusive
    filter that keeps equal-timestamp late arrivals from being skipped
    forever) and converges to the same store."""
    store_dir = str(tmp_path / "store_auto")
    sync_flow(spark, SF_SMOKE, store_dir, full_sync=True, build_index=False)

    def landed(name):
        return tstore.read_table(spark, f"{store_dir}/{name}.parquet")

    before = {t: landed(t).count() for t in TABLE_MODIFIED}
    for run in (1, 2):
        stats = sync_flow(
            spark, SF_SMOKE, store_dir, full_sync=False, since="auto",
            build_index=False,
        )
        assert stats.failed_tables == 0, stats.tables
        for name, col in TABLE_MODIFIED.items():
            path = f"{store_dir}/{name}.parquet"
            recorded = tstore.version_summary(path)["max"][col]
            table = landed(name)
            top = table.agg(F.max(col)).first()[0]
            assert recorded == top, (run, name)
            assert type(recorded) is type(top), (run, name)
            assert table.filter(F.col(col) >= F.lit(recorded)).count() == (
                table.filter(F.col(col) >= F.lit(top)).count()
            ), (run, name)
            assert stats.tables[name]["staged"] == _boundary_rows(spark, name), (
                run, name,
            )
        assert {t: landed(t).count() for t in TABLE_MODIFIED} == before


def test_auto_since_without_recorded_watermark_reupserts_in_full(
    spark, tmp_path
):
    """A live version landed without a summary (here by another writer
    calling store.write_table directly) has no watermark: the auto run
    re-upserts the whole source table, converges to it, and records
    the watermark for the next night."""
    store_dir = str(tmp_path / "unrecorded")
    path = f"{store_dir}/orders.parquet"
    src = load_table(spark, SF_SMOKE, "orders")
    tstore.write_table(src.filter(F.col("o_orderdate") <= F.lit(CUTOFF)), path)
    assert tstore.version_summary(path) == {}

    stats = sync_flow(
        spark, SF_SMOKE, store_dir, full_sync=False, since="auto",
        build_index=False, tables=["orders"],
    )
    assert stats.tables["orders"]["staged"] == src.count()
    assert _table_rows(spark, store_dir, "orders") == {
        tuple(str(v) for v in r)
        for r in src.select(sorted(src.columns)).collect()
    }
    assert tstore.version_summary(path)["max"]["o_orderdate"] == (
        src.agg(F.max("o_orderdate")).first()[0]
    )


def test_empty_incremental_batch_reports_zero_staged(spark, tmp_path):
    """An incremental run whose explicit since is past every row merges
    empty batches: every modified-column table reports staged == 0 and
    merged == its landed rows, and the store keeps its rows. The run
    goes on a thread with a deadline, so an observation that a pruned
    plan node never reports fails the test instead of hanging it."""
    import threading

    store_dir = str(tmp_path / "empty_batch")
    sync_flow(spark, SF_SMOKE, store_dir, full_sync=True, build_index=False)
    before = {n: _table_rows(spark, store_dir, n) for n in TABLE_MODIFIED}
    landed = {
        n: tstore.read_table(spark, f"{store_dir}/{n}.parquet").count()
        for n in TABLE_MODIFIED
    }

    out = {}

    def run():
        out["stats"] = sync_flow(
            spark, SF_SMOKE, store_dir, full_sync=False,
            since=datetime.date(2100, 1, 1), build_index=False,
            tables=list(TABLE_MODIFIED),
        )

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(300)
    assert not worker.is_alive(), "the sync did not return within 300 s"
    stats = out["stats"]
    for name in TABLE_MODIFIED:
        assert stats.tables[name]["status"] == "merged", stats.tables[name]
        assert stats.tables[name]["staged"] == 0, name
        assert stats.tables[name]["merged"] == landed[name], name
        assert _table_rows(spark, store_dir, name) == before[name], name


def test_store_time_travel_reads_pinned_version(spark, tmp_path):
    """With pruning off, superseded versions stay readable by number
    (time travel); a pruned version raises cleanly."""
    import pytest

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    path = str(tmp_path / "orders.parquet")
    orders = load_table(spark, SF_SMOKE, "orders")
    v1 = store.write_table(orders.limit(100), path, prune=False)
    v2 = store.write_table(orders.limit(250), path, prune=False)
    assert store.read_table(spark, path).count() == 250
    assert store.read_table_version(spark, path, v1).count() == 100
    assert store.read_table_version(spark, path, v2).count() == 250

    store.write_table(orders.limit(10), path)  # prune=True default
    with pytest.raises(FileNotFoundError, match="pruned"):
        store.read_table_version(spark, path, v1)


def test_curation_flow_decontaminates_against_benchmark(spark):
    """With a benchmark split passed, the flow drops exactly the
    training docs sharing an 8-gram with it (the planted overlap) and
    records the stage."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.flows import curation_flow
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    base, _ = curation_flow(spark, SF_SMOKE)
    cleaned, stats = curation_flow(spark, SF_SMOKE, benchmark=bench)
    assert "decontaminate" in stats.tables
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    clean_ids = {r.doc_id for r in cleaned.select("doc_id").collect()}
    # benchmark members that survived curation must be gone (a doc
    # shares all its 8-grams with itself) ...
    assert not {i for i in clean_ids if i % 50 == 0}
    # ... and the dropped set must be EXACTLY what the exact-path
    # operator computes over the same survivors (other training docs
    # can genuinely share 8-grams with bench texts — near-dup spans).
    from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
        decontaminate,
    )

    survivors = docs.filter(F.col("doc_id").isin([int(i) for i in base_ids]))
    expected = {
        r.doc_id
        for r in decontaminate(survivors, bench).select("doc_id").collect()
    }
    assert clean_ids == expected


def test_ingest_flow_matches_sequential_greedy_and_batch_invariant(
    spark, tmp_path
):
    """D38 semantics, exactly: the incremental ingest must equal the
    sequential greedy survivorship over the quadratic ground-truth
    pair graph (a doc survives iff no SURVIVING smaller-id doc pairs
    with it — NOT 'no smaller partner': on a non-clique chain A-B,
    B-C the greedy keeps A and C, where the naive rule would drop C).
    The result must also be batch-invariant for id-ordered batches:
    three batches == one batch. And the landed corpus must contain no
    dup pair at all."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.flows import ingest_flow
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.plans.pipeline import (
        _EXACT_OFF,
        _JAC_T,
        _NEAR_OFF,
        _dup_corpus,
    )

    sf = "/root/testdata/sf0.001"
    corpus = _dup_corpus(spark, sf, near=True)

    # Ground truth: quadratic pair set + sequential greedy in Python.
    pairs = [
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(corpus, _JAC_T).collect()
    ]
    partners: dict[int, set[int]] = {}
    for a, b in pairs:
        partners.setdefault(b, set()).add(a)
    surviving: set[int] = set()
    for d in sorted(r.doc_id for r in corpus.select("doc_id").collect()):
        if not (partners.get(d, set()) & surviving):
            surviving.add(d)

    b1 = corpus.filter(F.col("doc_id") < _EXACT_OFF)
    b2 = corpus.filter(
        (F.col("doc_id") >= _EXACT_OFF) & (F.col("doc_id") < _NEAR_OFF)
    )
    b3 = corpus.filter(F.col("doc_id") >= _NEAR_OFF)
    three, _ = ingest_flow(spark, str(tmp_path / "three"), [b1, b2, b3], _JAC_T)
    one, _ = ingest_flow(spark, str(tmp_path / "one"), [corpus], _JAC_T)
    got3 = {r.doc_id for r in three.select("doc_id").collect()}
    got1 = {r.doc_id for r in one.select("doc_id").collect()}
    assert got3 == surviving
    assert got1 == surviving
    # no dup pair among survivors
    assert ngram_jaccard_pairs(three, _JAC_T).count() == 0


def test_ingest_flow_history_wins_both_id_orientations(spark, tmp_path):
    """r6 review regression: a batch doc with a SMALLER id than its
    landed near-copy must still be dropped (history wins regardless of
    id orientation) — the one-sided rule silently landed such dups.
    Also checks the counts observed in each batch's write against
    counts of the batch, its survivors and the landed store."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.flows import ingest_flow
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.plans.pipeline import (
        _JAC_T,
        _dup_corpus,
    )

    docs = _dup_corpus(spark, "/root/testdata/sf0.001").filter(
        F.col("doc_id") < 100
    )
    # batch 1: ids shifted HIGH; batch 2: the same texts at LOW ids.
    b1 = docs.select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
    b2 = docs
    final, stats = ingest_flow(
        spark, str(tmp_path / "store"), [b1, b2], _JAC_T
    )
    got = {r.doc_id for r in final.select("doc_id").collect()}
    # Every batch-2 doc is a near-copy of a LANDED batch-1 doc with a
    # LARGER id — all must drop (the one-sided rule kept them all).
    assert got and all(d >= 500_000 for d in got), sorted(got)[:5]
    assert ngram_jaccard_pairs(final, _JAC_T).count() == 0
    assert stats.tables["batch_1"]["merged"] == 0  # all dups of landed
    assert stats.tables["batch_0"]["staged"] == b1.count()
    assert stats.tables["batch_1"]["staged"] == b2.count()
    # batch 0 landed into an empty store: its survivors are the store
    assert stats.tables["batch_0"]["merged"] == len(got)
    assert stats.tables["corpus"]["merged"] == final.count()


def test_vacuum_respects_pins_and_reclaims_unreachable(spark, tmp_path):
    """A56: vacuum removes superseded unpinned versions, keeps the
    manifest-pinned one readable, and never touches the live version;
    a second vacuum after the manifest is deleted reclaims the pin."""
    import os

    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    store_dir = str(tmp_path)
    tp = f"{store_dir}/orders.parquet"
    orders = load_table(spark, sf, "orders")
    store.write_table(orders.limit(10), tp, prune=False)          # v1
    store.write_table(orders.limit(20), tp, prune=False)          # v2
    pin = store.write_snapshot_manifest(store_dir, ["orders"])    # pins v2
    store.write_table(orders.limit(30), tp, prune=False)          # v3 live
    assert store.vacuum_table(tp, store_dir, keep_last=1) == [1]
    # pinned v2 still resolves through the manifest
    assert store.read_snapshot(spark, store_dir, pin)["orders"].count() == 20
    # v1 is really gone
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        store.read_table_version(spark, tp, 1)
    # drop the manifest -> the pin no longer protects v2
    os.remove(pin)
    assert store.vacuum_table(tp, store_dir, keep_last=1) == [2]
    assert store.read_table(spark, tp).count() == 30


def test_multi_commit_crash_before_manifest_is_invisible(spark, tmp_path):
    """A63: the manifest write is the COMMIT POINT — versions landed
    without a manifest (a crash mid-commit) are invisible to manifest
    readers, and the next successful commit supersedes them."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    sd = str(tmp_path)
    orders = load_table(spark, sf, "orders").limit(100)
    li = load_table(spark, sf, "lineitem").limit(100)
    store.commit_tables(sd, {"orders": orders, "lineitem": li})

    # Simulate a crash: land orphan next-versions WITHOUT a manifest.
    tp = f"{sd}/orders.parquet"
    crashed_v = (store.current_version(tp) or 0) + 1
    orders.limit(1).write.mode("overwrite").parquet(
        store.version_dir(tp, crashed_v)
    )
    latest = store.latest_manifest(sd)
    snap = store.read_snapshot(spark, sd, latest)
    assert snap["orders"].count() == 100  # orphan invisible

    # The next commit succeeds and is fully visible (both tables).
    store.commit_tables(
        sd, {"orders": orders.limit(50), "lineitem": li.limit(40)}
    )
    snap2 = store.read_snapshot(spark, sd, store.latest_manifest(sd))
    assert (snap2["orders"].count(), snap2["lineitem"].count()) == (50, 40)


def test_vacuum_reclaims_crashed_orphan_above_live(spark, tmp_path):
    """ADVICE r6: a crashed commit's version ABOVE the live pointer
    must not occupy the keep_last retention slot forever — after the
    grace window it is reclaimed, and the retention window counts over
    REACHABLE (<= live) history only."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    store_dir = str(tmp_path)
    tp = f"{store_dir}/orders.parquet"
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    store.write_table(orders.limit(10), tp, prune=False)  # v1
    store.write_table(orders.limit(20), tp, prune=False)  # v2 live
    # simulate a crashed committer: landed data, pointer never swapped
    orders.limit(5).write.parquet(store.version_dir(tp, 9))
    # within the grace window the in-flight orphan survives...
    assert store.vacuum_table(tp, store_dir, keep_last=2) == []
    # ...after it, the orphan goes and the reachable window (v1, v2)
    # is untouched — v9 never displaced v1 from keep_last=2
    assert store.vacuum_table(
        tp, store_dir, keep_last=2, orphan_grace_sec=0
    ) == [9]
    assert store.read_table_version(spark, tp, 1).count() == 10
    assert store.read_table(spark, tp).count() == 20


def test_commit_tables_stage_then_rename_allocates_disjoint_versions(
    spark, tmp_path
):
    """ADVICE r6: versions are allocated from on-disk state inside the
    commit lock, so a version landed by ANY other writer (here: a
    crashed committer's orphan dir) is never overwritten; stale staging
    dirs age out via vacuum."""
    import os

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    sd = str(tmp_path)
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    store.commit_tables(sd, {"orders": orders.limit(10)})  # v1
    tp = f"{sd}/orders.parquet"
    # another writer's landed-but-uncommitted version
    orders.limit(3).write.parquet(store.version_dir(tp, 2))
    store.commit_tables(sd, {"orders": orders.limit(20)})  # must pick v3
    assert store.read_table(spark, tp).count() == 20
    assert store.read_table_version(spark, tp, 2).count() == 3  # untouched
    # crashed committer's staging dir is vacuum-able after grace
    os.makedirs(f"{tp}/_stage_deadbeef")
    store.vacuum_table(tp, sd, keep_last=5, orphan_grace_sec=0)
    assert not os.path.exists(f"{tp}/_stage_deadbeef")
    # no stale lock left behind
    assert not os.path.exists(f"{sd}/_commit.lock")


def test_commit_tables_carry_latest_resolves_inside_lock(spark, tmp_path):
    """r11 advice (store.py carry_from atomicity): CARRY_LATEST means
    "inherit from whatever is newest AT COMMIT TIME" — resolved inside
    the commit lock, so a commit that lands after the caller last
    looked is still reflected. An EXPLICIT manifest path, by contrast,
    pins exactly that snapshot (the time-travel use). Both contracts
    exercised against an intervening commit."""
    import json

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    sd = str(tmp_path)
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    store.commit_tables(sd, {"orders": orders.limit(10)})  # orders v1
    stale = store.latest_manifest(sd)  # caller resolves "latest"...
    store.commit_tables(sd, {"orders": orders.limit(20)})  # ...orders v2 lands

    # CARRY_LATEST: the lineitem-only commit inherits orders v2.
    m_latest = store.commit_tables(
        sd, {"lineitem": li.limit(5)}, carry_from=store.CARRY_LATEST
    )
    with open(m_latest) as f:
        entries = json.load(f)
    assert entries["orders"] == 2 and "lineitem" in entries
    snap = store.read_snapshot(spark, sd, m_latest)
    assert snap["orders"].count() == 20

    # explicit path: pins the stale snapshot's orders v1, by design.
    m_pinned = store.commit_tables(
        sd, {"lineitem": li.limit(3)}, carry_from=stale
    )
    with open(m_pinned) as f:
        pinned = json.load(f)
    assert pinned["orders"] == 1
    assert store.read_snapshot(spark, sd, m_pinned)["orders"].count() == 10


def test_commit_tables_derived_failure_commits_nothing(spark, tmp_path):
    """A derived-table build runs after the tables stage and before the
    manifest: when it raises, the latest manifest is unchanged and no
    version directory appears — only unreferenced staging dirs."""
    import glob
    import os

    import pytest

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    sd = str(tmp_path)
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    first = store.commit_tables(sd, {"orders": orders.limit(10)})

    def fail(tables):
        assert set(tables) == {"orders", "lineitem"}
        raise RuntimeError("derived build failed")

    with pytest.raises(RuntimeError, match="derived build failed"):
        store.commit_tables(
            sd,
            {"lineitem": li.limit(5)},
            carry_from=first,
            derived={"orders_index": fail},
        )
    assert store.latest_manifest(sd) == first

    def entries(name):
        return sorted(
            os.path.basename(d)
            for d in glob.glob(f"{sd}/{name}.parquet/*")
            if os.path.isdir(d)
        )

    assert entries("orders") == ["v_1"]
    assert [e[:7] for e in entries("lineitem")] == ["_stage_"]
    assert not os.path.exists(f"{sd}/orders_index.parquet")
    assert not os.path.exists(f"{sd}/_commit.lock")
    # derived tables read the carried versions before the lock, so the
    # newest-at-commit-time sentinel cannot name them
    with pytest.raises(ValueError, match="explicit carry_from"):
        store.commit_tables(
            sd, {}, carry_from=store.CARRY_LATEST, derived={"x": fail}
        )


def _stage_dirs(table_path):
    import os

    return [e for e in os.listdir(table_path) if e.startswith("_stage_")]


def test_write_table_allocates_past_every_version_on_disk(spark, tmp_path):
    """write_table allocates its version the way commit_tables does:
    past every v_* on disk, so a version another writer landed above
    the pointer is never overwritten."""
    sd = str(tmp_path)
    tp = f"{sd}/t.parquet"
    tstore.commit_tables(sd, {"t": spark.range(10)})  # v1
    spark.range(3).write.parquet(tstore.version_dir(tp, 2))  # another writer's
    assert tstore.write_table(spark.range(20), tp, prune=False) == 3
    assert tstore.read_table_version(spark, tp, 2).count() == 3
    assert tstore.read_table(spark, tp).count() == 20


def test_write_table_validated_rejection_removes_only_its_staging(
    spark, tmp_path
):
    """A failed check removes the validated write's own staging dir and
    nothing else: another writer's version and the pointer stay."""
    import pytest

    sd = str(tmp_path)
    tp = f"{sd}/t.parquet"
    tstore.commit_tables(sd, {"t": spark.range(10)})  # v1
    spark.range(3).write.parquet(tstore.version_dir(tp, 2))
    with pytest.raises(tstore.CommitValidationError, match="nonempty=20"):
        tstore.write_table_validated(
            spark.range(20), tp, [("nonempty", lambda landed: landed.count())]
        )
    assert tstore.read_table_version(spark, tp, 2).count() == 3
    assert tstore.current_version(tp) == 1
    assert _stage_dirs(tp) == []


def test_write_table_summary_lands_inside_its_version(spark, tmp_path):
    """write_table(summary=...) stores the dict inside the version it
    lands, after the data write: readers skip it, its dates and
    datetimes read back as the same types, and it goes when its
    version is vacuumed. A version written without one has none."""
    import os

    path = str(tmp_path / "t.parquet")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    values = {
        "max": {
            "day": datetime.date(1998, 8, 2),
            "ts": datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
            "n": 7,
            "none": None,
        }
    }
    v1 = tstore.write_table(df, path, summary=lambda: values)
    assert os.path.isfile(f"{tstore.version_dir(path, v1)}/_summary.json")
    recorded = tstore.version_summary(path)
    assert recorded == values
    assert {k: type(x) for k, x in recorded["max"].items()} == {
        k: type(x) for k, x in values["max"].items()
    }
    assert tstore.read_table(spark, path).collect() == df.collect()
    assert spark.read.parquet(tstore.version_dir(path, v1)).count() == 1

    tstore.write_table(df, path)
    assert tstore.version_summary(path) == {}
    assert not os.path.exists(tstore.version_dir(path, v1))


def test_write_table_prune_spares_manifest_pins(spark, tmp_path):
    """write_table's prune is vacuum_table(keep_last=1): a version the
    latest manifest pins stays readable through it; an unpinned
    superseded version goes."""
    sd = str(tmp_path)
    tp = f"{sd}/t.parquet"
    manifest = tstore.commit_tables(sd, {"t": spark.range(10)})  # pins v1
    tstore.write_table(spark.range(20), tp)  # v2
    assert tstore.read_snapshot(spark, sd, manifest)["t"].count() == 10
    tstore.write_table(spark.range(30), tp)  # v3: v2 is unpinned
    assert tstore._on_disk_versions(tp) == [1, 3]
    assert tstore.read_table(spark, tp).count() == 30


def test_write_table_concurrent_writers_get_distinct_versions(spark, tmp_path):
    """Writers racing on one table each publish a distinct version, none
    is lost, and the pointer ends on the highest."""
    import os
    import sys
    from concurrent.futures import ThreadPoolExecutor

    tp = str(tmp_path / "t.parquet")
    n = 6  # more writers than the suite's cores

    def land(i):
        return i, tstore.write_table(spark.range(i + 1), tp, prune=False)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=n) as ex:
            got = dict(ex.map(land, range(n), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert sorted(got.values()) == list(range(1, n + 1))
    for i, v in got.items():
        assert tstore.read_table_version(spark, tp, v).count() == i + 1
    assert tstore.current_version(tp) == n
    assert _stage_dirs(tp) == []
    assert not os.path.exists(tmp_path / "_commit.lock")


def test_run_exclusive_skip_if_running(tmp_path):
    """The engine-side at-most-one-running guard (main_flow.py:31-42):
    a held lock skips, a crashed (stale) lock is reclaimed atomically,
    and release only removes a lock the runner still owns."""
    import os
    import time

    from prefect_flow_arc_kg_postgres_etl_spark.flows import run_exclusive

    calls = []

    def work():
        calls.append(1)
        return "done"

    ran, out = run_exclusive(str(tmp_path), "sync", work)
    assert ran and out == "done" and calls == [1]
    assert not os.path.exists(tmp_path / "sync.running")

    # a concurrent holder: second invocation skips without running
    lock = tmp_path / "sync.running"
    lock.write_text("someone-else")
    ran, out = run_exclusive(str(tmp_path), "sync", work)
    assert not ran and out is None and calls == [1]
    assert lock.read_text() == "someone-else"  # not stolen, not released

    # stale lock (crashed run): reclaimed, work runs
    old = time.time() - 10_000
    os.utime(lock, (old, old))
    ran, out = run_exclusive(str(tmp_path), "sync", work, ttl_seconds=3600)
    assert ran and out == "done" and calls == [1, 1]
    assert not lock.exists()

    # the lock is held across fn() and visible to a nested attempt
    def nested():
        r, _ = run_exclusive(str(tmp_path), "sync", work)
        return r

    ran, inner = run_exclusive(str(tmp_path), "sync", nested)
    assert ran and inner is False


def test_record_limit_caps_staged_counts(spark, tmp_path):
    """r10: the reference's record_limit/debug_mode sampling knob
    (arc_db_load_flow.py:44) — a per-table LIMIT applied at stage
    time. Debug runs stage at most N rows per table (full and
    incremental paths); record_limit=None leaves the merge untouched
    (pinned by every other test in this file running without it)."""
    store = str(tmp_path / "store")
    stats = sync_flow(
        spark, SF_SMOKE, store, full_sync=True, build_index=False,
        record_limit=7,
    )
    for name, row in stats.tables.items():
        assert row["status"] == "merged", (name, row)
        assert 0 < row["merged"] <= 7, (name, row)

    # incremental catch-up with a limit: staged counts are capped too,
    # and the merge still converges (idempotent upsert semantics)
    stats2 = sync_flow(
        spark, SF_SMOKE, store, full_sync=False, since=CUTOFF,
        build_index=False, record_limit=5,
    )
    for name, row in stats2.tables.items():
        assert row["status"] == "merged", (name, row)
        assert row["staged"] <= 5, (name, row)


def test_cross_deployment_blocking(tmp_path):
    """check_blocking / run_blocking_aware — the reference main flow's
    sibling-deployment admission gate (main_flow.py:38-52): a running
    sibling blocks an incremental run, a full-sync run ignores
    blockers, a sibling declared full_sync never blocks, and a stale
    sibling lock (crashed run) blocks nobody."""
    import os
    import time

    from prefect_flow_arc_kg_postgres_etl_spark.flows import (
        check_blocking,
        run_blocking_aware,
    )

    d = str(tmp_path)
    siblings = [("kg_view", False), ("indexer", False), ("alto", True)]

    # nothing running -> admitted
    ran, out, blocked = run_blocking_aware(
        d, "main", lambda: "done", blocking=siblings
    )
    assert (ran, out, blocked) == (True, "done", [])
    assert not os.path.exists(os.path.join(d, "main.running"))  # released

    # a live sibling lock blocks an incremental run...
    open(os.path.join(d, "kg_view.running"), "w").write("x")
    assert check_blocking(d, siblings) == ["kg_view"]
    ran, out, blocked = run_blocking_aware(
        d, "main", lambda: "done", blocking=siblings
    )
    assert (ran, out, blocked) == (False, None, ["kg_view"])
    # ...but a full-sync run is never blocked (main_flow.py:50)
    ran, out, blocked = run_blocking_aware(
        d, "main", lambda: "full", blocking=siblings, full_sync=True
    )
    assert (ran, out, blocked) == (True, "full", [])

    # a sibling in full-sync mode never blocks
    open(os.path.join(d, "alto.running"), "w").write("x")
    assert check_blocking(d, [("alto", True)]) == []

    # a stale sibling lock (crashed run) blocks nobody
    stale = os.path.join(d, "kg_view.running")
    os.utime(stale, (time.time() - 7200, time.time() - 7200))
    assert check_blocking(d, siblings, ttl_seconds=3600) == []

    # self-gate still wins over everything: main already running
    os.unlink(stale)
    open(os.path.join(d, "main.running"), "w").write("other-token")
    ran, out, blocked = run_blocking_aware(
        d, "main", lambda: "done", blocking=siblings, full_sync=True
    )
    assert (ran, out, blocked) == (False, None, ["main"])


def test_curation_flow_span_and_semantic_stages(spark):
    """The r11 composed stages: with span_dedup=True the output text
    equals the standalone span_dedup operator's clean_text for every
    surviving doc (fully-covered docs dropped); with an embeddings
    frame the SemDeDup-LSH drop set is removed while docs WITHOUT an
    embedding row pass through; stage accounting is recorded and
    monotone."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.flows import curation_flow
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        semantic_dedup_lsh,
        span_dedup,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    base, base_stats = curation_flow(spark, SF_SMOKE)
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}

    # --- span stage: flow text == standalone clean_text on survivors
    out, stats = curation_flow(spark, SF_SMOKE, span_dedup=True)
    assert "span_dedup" in stats.tables
    # the span stage sees the exact-dedup survivors; reproduce it
    survivors = load_table(spark, SF_SMOKE, "documents").join(
        spark.createDataFrame(
            [(i,) for i in sorted(base_ids)], "doc_id bigint"
        ),
        "doc_id",
        "left_semi",
    )
    expected = {
        r.doc_id: r.clean_text
        for r in span_dedup(survivors).collect()
        if r.dup_frac_e6 < 1_000_000
    }
    got = {r.doc_id: r.text for r in out.select("doc_id", "text").collect()}
    # flow applies later gates too (none active here beyond packing),
    # so the doc sets must match exactly
    assert got == expected

    # --- semantic stage: planted near-dup embeddings drop their docs,
    # docs without embeddings pass through untouched
    ids = sorted(base_ids)[:6]
    a, b, c = ids[0], ids[1], ids[2]
    def unit(axis: int, scale: float) -> list[float]:
        v = [0.0] * 64  # the LSH bucketer's hyperplanes are 64-dim
        v[axis] = scale
        return v

    emb = spark.createDataFrame(
        [
            (a, 0, unit(0, 1.0)),
            (b, 0, unit(0, 2.0)),  # exact scaling of a -> drop
            (c, 0, unit(1, 1.0)),
        ],
        "doc_id bigint, label int, embedding array<float>",
    )
    sem_out, sem_stats = curation_flow(spark, SF_SMOKE, embeddings=emb)
    sem_ids = {r.doc_id for r in sem_out.select("doc_id").collect()}
    drops = {
        r.doc_id
        for r in semantic_dedup_lsh(emb, 0.99, id_col="doc_id")
        .filter(F.col("action") == "drop")
        .collect()
    }
    assert drops == {b}
    assert sem_ids == base_ids - drops
    assert "semantic_dedup" in sem_stats.tables
    assert (
        sem_stats.tables["dedup"]["staged"]
        >= sem_stats.tables["semantic_dedup"]["staged"]
        > 0
    )

    # --- survivor scoping (r11 advice): a doc ELIMINATED upstream
    # (quality/language/exact-dedup) must never act as the kept
    # representative — the flow semi-joins embeddings to the current
    # survivor set first, so the surviving near-dup stays. Standalone,
    # the eliminated doc WOULD win (lower scale = representative) and
    # the survivor would silently vanish from the corpus.
    all_ids = {
        r.doc_id
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id")
        .collect()
    }
    eliminated = sorted(all_ids - base_ids)
    assert eliminated, "fixture needs an upstream-eliminated doc"
    x = eliminated[0]
    # the drop rule keeps the centroid-closer member, ties to the
    # LOWER id — plant exact duplicates with x below a surviving id so
    # the eliminated doc would win unscoped
    a2 = min(i for i in base_ids if i > x)
    emb2 = spark.createDataFrame(
        [(x, 0, unit(0, 1.0)), (a2, 0, unit(0, 1.0))],
        "doc_id bigint, label int, embedding array<float>",
    )
    unscoped_drops = {
        r.doc_id
        for r in semantic_dedup_lsh(emb2, 0.99, id_col="doc_id")
        .filter(F.col("action") == "drop")
        .collect()
    }
    assert unscoped_drops == {a2}, "fixture must make the survivor the near-dup"
    scoped_out, _ = curation_flow(spark, SF_SMOKE, embeddings=emb2)
    assert {
        r.doc_id for r in scoped_out.select("doc_id").collect()
    } == base_ids
