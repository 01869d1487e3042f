"""Structured-Streaming semantics: stream==batch equivalence for the
windowed agg, and final-state convergence for the CDC upsert loop."""

from __future__ import annotations

import pytest

from prefect_flow_arc_kg_postgres_etl_spark.plans.relational import events_tumbling
from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
    incremental_upsert_stream,
    windowed_agg_stream,
)
from tests.conftest import SF_SMOKE


def test_stream_agg_equals_batch(spark):
    stream_out = {
        tuple(r)
        for r in windowed_agg_stream(spark, SF_SMOKE).collect()
    }
    batch_out = {tuple(r) for r in events_tumbling(spark, SF_SMOKE).collect()}
    assert stream_out == batch_out


def test_incremental_upsert_converges_to_source(spark, tmp_path):
    """event_ids are unique, so continuously upserting the stream must
    converge to exactly the source table."""
    target = str(tmp_path / "target")
    final = incremental_upsert_stream(spark, SF_SMOKE, target)
    src = load_table(spark, SF_SMOKE, "events")
    assert final.count() == src.count()
    assert {r.event_id for r in final.select("event_id").collect()} == {
        r.event_id for r in src.select("event_id").collect()
    }


def test_stream_sessionize_equals_batch_closed_sessions(spark):
    """The stateful sessionizer's CLOSED sessions must exactly equal the
    batch sessionize result minus each user's final (still-open)
    session — same starts, ends and event counts."""
    from prefect_flow_arc_kg_postgres_etl_spark.plans.relational import sessionize
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        sessionize_stream,
    )

    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_stream(spark, SF_SMOKE).collect()
    }
    batch = sessionize(spark, SF_SMOKE).collect()
    last_per_user = {}
    for r in batch:
        cur = last_per_user.get(r.user_id)
        if cur is None or r.session_start > cur:
            last_per_user[r.user_id] = r.session_start
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch
        if r.session_start != last_per_user[r.user_id]
    }
    assert streamed == expected


def test_stream_dedup_equals_source(spark):
    """Doubled stream + watermarked dedup == the original events table."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import dedup_stream

    out = dedup_stream(spark, SF_SMOKE)
    expected = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    assert out.count() == expected.count()
    assert out.exceptAll(expected).count() == 0
    assert expected.exceptAll(out).count() == 0


def test_memory_sink_calls_each_return_their_own_rows(spark, tmp_path):
    """The runner names every memory sink afresh: two calls of one
    memory-sink entry in one session each keep their own rows, and
    neither leaves a table in the session catalog."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import dedup_stream

    small = tmp_path / "sf"
    small.mkdir()
    events = load_table(spark, SF_SMOKE, "events")
    events.orderBy("event_id").limit(10).coalesce(1).write.parquet(
        str(small / "events.parquet")
    )
    views = {t.name for t in spark.catalog.listTables()}
    first = dedup_stream(spark, str(small))
    second = dedup_stream(spark, SF_SMOKE)
    assert first.count() == 10
    assert second.count() == events.count()
    assert first.exceptAll(second).count() == 0
    assert {t.name for t in spark.catalog.listTables()} == views


def test_raising_batch_function_fails_the_run_and_leaves_no_query(spark):
    """A foreachBatch function that raises fails the run with
    StreamingQueryException, and no query is left active."""
    from pyspark.errors import StreamingQueryException

    from prefect_flow_arc_kg_postgres_etl_spark.streaming import sync

    def boom(batch_df, epoch_id):
        raise ValueError("batch failed")

    with pytest.raises(StreamingQueryException):
        sync._run(sync.table_stream(spark, SF_SMOKE, "events"), batch=boom)
    assert spark.streams.active == []


def test_stream_es_feed_lands_bulk_pairs(spark, tmp_path):
    """Streaming ES feed: 2 NDJSON lines (action+source) per source row,
    partitioned per index."""
    import os

    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import es_feed_stream

    out = str(tmp_path / "feed")
    landed = es_feed_stream(spark, SF_SMOKE, out)
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert landed.count() == 2 * n_events
    # epoch-scoped layout (idempotent under micro-batch retry): each
    # epoch dir holds the per-organisation index partitions.
    epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
    assert epochs
    assert any(
        d.startswith("index=") for d in os.listdir(os.path.join(out, epochs[0]))
    )


def test_es_feed_oracle_corpus_invariants(spark):
    """Pins the assumptions STREAM_ES_FEED_ORACLE's string assembly
    rests on (r11 advice): null fields are now rendered
    to_json-consistently by the oracle itself (concat_ws skips the
    NULLed piece exactly where to_json omits the field), but string
    ESCAPING is not replayable in plain concat — so event_type must
    stay a bare token (no quotes/backslashes/control chars for
    to_json to escape). If the corpus generator ever changes, this
    fails here instead of as a driver hash mismatch."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    bad = ev.filter(
        F.col("event_id").isNull()
        | ~F.col("event_type").rlike(r"^[A-Za-z0-9_]+$")
    ).count()
    assert bad == 0


def test_watermarked_append_agg_matches_batch_below_watermark(spark, tmp_path):
    """Production windowed-agg variant (append + watermark + file sink):
    the emitted set is exactly the batch tumbling result for windows the
    final watermark (max event time - delay) has passed — bounded state,
    no complete-mode history."""
    import pyspark.sql.functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        windowed_agg_stream_watermarked,
    )

    out = windowed_agg_stream_watermarked(
        spark, SF_SMOKE, str(tmp_path / "agg_out")
    )
    ev = load_table(spark, SF_SMOKE, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = events_tumbling(spark, SF_SMOKE).collect()
    import datetime

    watermark = max_ts - datetime.timedelta(hours=1)
    expected = {
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in batch
        if r.window_start + datetime.timedelta(hours=1) <= watermark
    }
    got = {
        (r.window_start, r.event_type, r.n, r.total_value) for r in out.collect()
    }
    assert expected, "test data must span more than the watermark delay"
    assert got == expected


def test_stream_enrich_equals_batch_join(spark):
    """Stream-static enrichment == the batch left join (stateless
    per-micro-batch join; no rows lost or duplicated)."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import enrich_stream

    out = enrich_stream(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    expected = ev.join(cust, ev.user_id == cust.c_custkey, "left").select(
        "event_id", "user_id", "event_type", "value", "c_name", "c_nationkey"
    )
    assert out.count() == expected.count()
    assert out.exceptAll(expected).count() == 0
    assert expected.exceptAll(out).count() == 0


def test_stream_funnel_equals_batch_funnel(spark):
    """C7: the stateful funnel's emitted conversions equal the batch
    running-max funnel exactly on a bounded source."""
    from prefect_flow_arc_kg_postgres_etl_spark.plans.relational import events_funnel
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import funnel_stream

    from tests.conftest import SF_SMOKE

    got = {
        (r.user_id, r.purchase_event, r.gap_us)
        for r in funnel_stream(spark, SF_SMOKE).collect()
    }
    want = {
        (r.user_id, r.purchase_event, r.gap_us)
        for r in events_funnel(spark, SF_SMOKE).collect()
    }
    assert got == want and want


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Checkpoint recovery — the production restart contract: a stopped
    query restarted with the same checkpoint processes ONLY files that
    arrived since (offsets live in the checkpoint, not the process),
    and the sink ends exactly-once: every row present, none duplicated
    by the restart."""
    import glob
    import shutil

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    src.mkdir()

    def land_batch(lo: int, hi: int, name: str) -> None:
        stage = tmp_path / f"stage_{name}"
        spark.range(lo, hi).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        shutil.copy(part, src / f"{name}.parquet")

    def run_once() -> None:
        q = (
            spark.readStream.schema("id bigint")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land_batch(0, 100, "a")
    run_once()
    first = spark.read.parquet(sink).count()
    assert first == 100

    land_batch(100, 200, "b")
    run_once()
    rows = [r.id for r in spark.read.parquet(sink).collect()]
    assert len(rows) == 200          # batch a not reprocessed
    assert sorted(rows) == list(range(200))


def test_buffered_funnel_correct_under_crossbatch_disorder(spark, tmp_path):
    """The buffered funnel must emit the BATCH conversions (for
    watermark-finalized purchases) even when a later micro-batch
    delivers EARLIER events — the case the single-value-state funnel
    documents as out of contract (it would drop this conversion: its
    tracked view is the newer one, making the gap negative)."""
    import glob
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        _FUNNELB_STATE_SCHEMA,
        _FUNNEL_OUT_SCHEMA,
        _funnel_group_buffered,
    )

    MIN = 60_000_000  # one minute in us

    def mk(rows):
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[3] * MIN, unit="us") for r in rows],
                "event_type": [r[1] for r in rows],
                "event_id": [r[2] for r in rows],
            }
        )

    src = tmp_path / "src"
    src.mkdir()

    def land(pdf, name, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        dst = src / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    # File A (arrives FIRST): late events — view@100min, purchase@110min.
    land(mk([(1, "view", 7, 100), (1, "purchase", 8, 110)]), "a", 1_000_000)
    # File B (arrives SECOND): earlier events — view@10min, purchase@30min,
    # purchase@65min.
    land(
        mk([(1, "view", 1, 10), (1, "purchase", 2, 30), (1, "purchase", 3, 65)]),
        "b",
        1_000_100,
    )

    ev = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_type string, event_id bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
    )
    conv = ev.groupBy("user_id").applyInPandasWithState(
        _funnel_group_buffered,
        outputStructType=_FUNNEL_OUT_SCHEMA,
        stateStructType=_FUNNELB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
    q = (
        conv.writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_disorder")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.purchase_event, r.gap_us)
        for r in spark.table("funnel_disorder").collect()
    }
    # Final watermark = 110min - 60min = 50min: only purchase@30 is
    # finalized; it converts via view@10 (gap 20min) — the conversion
    # the unbuffered funnel would drop. purchase@65 and purchase@110
    # stay pending (they would finalize as the stream ran on).
    assert got == {(2, 20 * MIN)}


def test_stream_agg_state_converges_and_skips_replay(spark, tmp_path):
    """Converged streaming aggregate state == the batch per-user
    aggregate; a SECOND bounded run over the same target RESUMES the
    persisted checkpoint (no new source files => no new epochs) and
    leaves the state bit-identical — the additive merge must never
    double-count. The epoch watermark additionally guards foreachBatch
    retries within a run."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        agg_state_stream,
    )

    target = str(tmp_path / "state")
    first = {tuple(r) for r in agg_state_stream(spark, SF_SMOKE, target).collect()}

    ev = load_table(spark, SF_SMOKE, "events")
    from pyspark.sql import functions as F

    batch = {
        tuple(r)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 1000000).cast("bigint"))
                / 1000000.0
            ).alias("total_value"),
        )
        .collect()
    }
    assert first == batch

    second = {tuple(r) for r in agg_state_stream(spark, SF_SMOKE, target).collect()}
    assert second == first


def test_dq_gate_empty_source_returns_empty_splits(spark, tmp_path):
    """ADVICE r5: on an EMPTY bounded source foreachBatch never fires,
    so neither sink directory gets written — the gate must still return
    an empty two-split frame, not die on path-not-found."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import read_raw
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import dq_gate_stream

    empty_sf = tmp_path / "sf_empty"
    empty_sf.mkdir()
    probe = read_raw(spark, f"{SF_SMOKE}/events.parquet")
    spark.createDataFrame([], probe.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(empty_sf / "events.parquet"))
    out = dq_gate_stream(spark, str(empty_sf), str(tmp_path / "gate_out"))
    assert out.count() == 0
    assert "sink" in out.columns


def test_buffered_sessionizer_correct_under_crossbatch_disorder(spark, tmp_path):
    """C3b: the buffered sessionizer must emit the BATCH sessions the
    final watermark finalized even when a later micro-batch delivers
    EARLIER events — the arrival order the single-open-session
    sessionizer documents as out of contract (it would close a session
    early and splice the late event into a spurious new one)."""
    import glob
    import os
    import shutil

    import pandas as pd

    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        _SESS_OUT_SCHEMA,
        _SESSB_STATE_SCHEMA,
        _sessionize_group_buffered,
    )

    MIN = 60_000_000  # one minute in us
    DAY = 86_400_000_000  # offset: ts==epoch-0 collides with the
    # INITIAL watermark (Spark's late filter drops ts <= watermark,
    # which starts at 0) — shift all events one day off epoch zero.

    def mk(rows):
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(DAY + r[1] * MIN, unit="us") for r in rows],
            }
        )

    src = tmp_path / "src"
    src.mkdir()

    def land(pdf, name, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        dst = src / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    # File A (arrives FIRST): the LATE chunk — events at 200 and 215min.
    land(mk([(1, 200), (1, 215)]), "a", 1_000_000)
    # File B (arrives SECOND): earlier events — 0, 10, 20min (one
    # session) and 90min (a second session). The unbuffered sessionizer
    # would have closed a bogus session at 200-215 and then spliced
    # these in after it.
    land(mk([(1, 0), (1, 10), (1, 20), (1, 90)]), "b", 1_000_100)

    ev = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_group_buffered,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESSB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_disorder")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.session_start.minute + r.session_start.hour * 60, r.n_events)
        for r in spark.table("sess_disorder").collect()
    }
    # Final watermark = 215 - 60 = 155min; finalized sessions need
    # end < 155 - 30 = 125min: session [0,10,20] (end 20) and session
    # [90] (end 90) emit; the 200/215 session stays open. The batch
    # sessionizer on the union produces exactly those two sessions.
    assert got == {(0, 3), (90, 1)}


def test_dedup_state_survives_rerun_and_new_arrivals(spark, tmp_path):
    """C12: the persisted seen-id store must (a) converge to the
    distinct source under doubled delivery, (b) stay unchanged when a
    whole NEW run (fresh checkpoint) re-delivers everything, and
    (c) still absorb genuinely new events in that new run — the case
    an additive-state epoch guard would wrongly skip."""
    import shutil

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        dedup_state_stream,
    )

    src = tmp_path / "sf"
    src.mkdir()
    events = load_table(spark, SF_SMOKE, "events")
    events.coalesce(1).write.mode("overwrite").parquet(
        str(src / "events.parquet")
    )
    target = str(tmp_path / "seen")
    n = events.count()

    first = dedup_state_stream(spark, str(src), target)
    assert first.count() == n

    # New run: fresh checkpoint, same store, source re-delivered PLUS
    # genuinely new events (shifted ids).
    shutil.rmtree(f"{target}_chk")
    extra = events.limit(10).selectExpr(
        "event_id + 10000000 AS event_id", "ts", "user_id",
        "event_type", "value", "props",
    )
    events.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(
        str(src / "events.parquet")
    )
    second = dedup_state_stream(spark, str(src), target)
    assert second.count() == n + 10
    assert (
        second.groupBy("event_id").count().filter("count > 1").count() == 0
    )


def test_stream_pivot_finalizes_each_record_exactly_once(spark, tmp_path):
    """C13: the watermarked streaming pivot emits each subject exactly
    once (append mode drops state as windows finalize) and holds back
    the records the watermark cannot yet prove complete."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        pivot_records_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = pivot_records_stream(spark, sf_dir, str(tmp_path / "records"))
    rows = out.collect()
    total = load_table(spark, sf_dir, "orders").count()
    subjects = [r["subject"] for r in rows]
    assert len(subjects) == len(set(subjects)), "a record emitted twice"
    assert 0 < len(subjects) < total, "watermark held nothing back"
    # Every emitted record is fully pivoted: the melt emitted all four
    # predicates for each subject, so no column may be NULL.
    for r in rows[:50]:
        assert r["o_custkey"] is not None and r["o_totalprice"] is not None


def test_gap_fill_correct_under_crossbatch_disorder(spark, tmp_path):
    """C16: a later micro-batch delivering EARLIER events (still above
    the watermark) must land in their buckets before those buckets
    finalize — and the zero-buckets between observed hours must emit
    exactly once, in order."""
    import glob
    import os
    import shutil

    import pandas as pd

    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        _GAPFILL_OUT_SCHEMA,
        _GAPFILL_STATE_SCHEMA,
        _gap_fill_group,
    )

    HOUR = 3_600_000_000
    DAY = 86_400_000_000  # keep clear of the initial epoch-0 watermark

    def mk(rows):
        return pd.DataFrame(
            {
                "event_type": [r[0] for r in rows],
                "ts": [pd.Timestamp(DAY + r[1], unit="us") for r in rows],
            }
        )

    src = tmp_path / "src"
    src.mkdir()

    def land(pdf, name, mtime):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        dst = src / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    # Batch 1: hours 0 and 8 (watermark lands at 8h - 1h = 7h).
    land(mk([("x", 0), ("x", 8 * HOUR + 10)]), "a", 1_000_000)
    # Batch 2 (LATER arrival, EARLIER events, above the 7h watermark):
    # hour 7 gets an event just before its bucket would finalize.
    land(mk([("x", 7 * HOUR + 5), ("x", 9 * HOUR)]), "b", 1_000_100)

    ev = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
    )
    filled = ev.groupBy("event_type").applyInPandasWithState(
        _gap_fill_group,
        outputStructType=_GAPFILL_OUT_SCHEMA,
        stateStructType=_GAPFILL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
    q = (
        filled.writeStream.outputMode("append")
        .format("memory")
        .queryName("gapfill_disorder")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        ((r.hour - pd.Timestamp(DAY, unit="us").to_pydatetime()).total_seconds()
         // 3600, r.n)
        for r in spark.table("gapfill_disorder").collect()
    }
    # Final watermark = 9h - 1h = 8h: buckets 0..7 are final (end <= 8h).
    # Hour 0: 1 event; hours 1-6: ZEROS; hour 7: the late-arriving
    # event (disorder-correct); hours 8/9 stay open.
    assert got == {
        (0.0, 1), (1.0, 0), (2.0, 0), (3.0, 0), (4.0, 0), (5.0, 0),
        (6.0, 0), (7.0, 1),
    }


@pytest.mark.parametrize(
    "runner",
    [
        "windowed_agg_stream_watermarked",
        "pivot_records_stream",
        "interval_join_outer_stream",
        "windowed_distinct_stream",
    ],
)
def test_file_sink_read_back_starts_no_job(spark, tmp_path, monkeypatch, runner):
    """A runner that streams into an ``availableNow`` parquet sink reads
    the output back with the streamed frame's schema: the sink's
    ``_spark_metadata`` log would otherwise leave the read to Spark's
    schema inference, one job per read-back. The schema passed is the
    one inference finds."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming import sync

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    read = sync.read_parquet
    reads = []

    def counted(session, *paths, schema=None):
        before = dag.numTotalJobs()
        df = read(session, *paths, schema=schema)
        reads.append((paths, schema, dag.numTotalJobs() - before))
        return df

    monkeypatch.setattr(sync, "read_parquet", counted)
    out_path = str(tmp_path / "out")
    out = getattr(sync, runner)(spark, SF_SMOKE, out_path)
    assert [(p, s is not None, jobs) for p, s, jobs in reads] == [
        ((out_path,), True, 0)
    ]
    assert out.schema == spark.read.parquet(out_path).schema
