"""Structured-Streaming incremental sync — the reference's continuous
TriplyDB->Postgres pipeline re-expressed as micro-batch streams.

The reference loops [construct view since last_modified -> stream
triples -> batch -> merge] under Prefect scheduling. In Spark that loop
IS Structured Streaming: the source streams new records, foreachBatch
applies the same ``operators.merge.upsert`` used in batch, and windowed
aggregations maintain the continuously-updated stats the index flow
reads (reference: flows/main_flow.py orchestration + database.ts merge).

Local tests drive these with the file source + memory/parquet sinks and
``processAllAvailable()`` (synchronous drain); on a cluster the same
code runs against Kafka/object-store sources untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.sources.store import read_parquet


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    The raw schema and any int64-epoch -> timestamp conversion are
    DERIVED from a batch read of the same file (sources/catalog.py
    read_raw + epoch_conversions), so batch and streaming can never
    disagree about what ``ts`` is — whichever physical type the harness
    regenerates (nanos-int64, micros timestamp, tz-tagged micros), both
    paths normalize it identically to timestamp_ntz."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import catalog

    path = f"{sf_dir}/events.parquet"
    probe = catalog.read_raw(spark, path)
    conv = catalog.epoch_conversions(probe)
    # The file-stream source needs a directory or glob, not a bare file
    # path; the single-char glob makes it treat the file as a match set.
    raw = spark.readStream.schema(probe.schema).parquet(
        f"{sf_dir}/events.[p]arquet"
    )
    return catalog.apply_epoch_conversions(raw, conv)


def windowed_agg_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_windowed_agg"
) -> DataFrame:
    """Tumbling 1-hour aggregation maintained by the stream (complete
    mode => the final table equals the batch events_tumbling result —
    that equivalence is the oracle check). Complete mode + memory sink
    is the ORACLE HARNESS configuration for a bounded source; the
    production path at scale is ``windowed_agg_stream_watermarked``
    (append + watermark => bounded state, windows finalized and flushed
    to the sink as the watermark passes them)."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 hour").getField("start").alias("window_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name).select(
        "window_start", "event_type", "n", "total_value"
    )


def windowed_agg_stream_watermarked(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    delay: str = "1 hour",
) -> DataFrame:
    """PRODUCTION variant of the tumbling aggregation: append output
    mode with an event-time watermark into a file sink. State is
    BOUNDED — a window's aggregate is dropped (and emitted exactly
    once) when the watermark passes its end, so at 100 TB the state
    store holds |open windows x event types| rows, not history; the
    complete-mode oracle variant above would grow without bound.

    On a bounded source the emitted set is every window whose end <=
    final watermark (max event time - delay) — the no-data micro-batch
    after the last file advances the watermark and flushes them; still-
    open windows are not emitted (they would flush on the next trigger
    in a continuous run). Returns the landed result (batch re-read).
    """
    ev = events_stream(spark, sf_dir)
    # Watermarks track TIMESTAMP (ltz) event time only; UTC round-trip
    # as in dedup_stream.
    agg = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window").getField("start")
            .cast("timestamp_ntz")
            .alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", f"{out_path}_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_parquet(spark, out_path, schema=agg.schema)


SESSION_GAP_MIN = 30

_SESS_STATE_SCHEMA = "start_us bigint, end_us bigint, n bigint"
_SESS_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint"
)


def _sessionize_group(key, pdfs, state):
    """Stateful per-user sessionizer (runs inside applyInPandasWithState).

    State = the one still-open session (start, end, count) as epoch
    micros. Each micro-batch merges its events in timestamp order:
    events within SESSION_GAP_MIN of the open session extend it; a
    larger gap CLOSES the open session (emitted) and opens a new one.
    The final open session stays in state across batches — the
    streaming analogue of the lag+cumsum batch operator
    (plans/relational.py sessionize), with the window pass replaced by
    per-key state.
    """
    import pandas as pd

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    (user_id,) = key

    if state.hasTimedOut:
        if state.exists:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                }
            )
        return

    ts = pd.concat([pdf["ts"] for pdf in pdfs]).sort_values()
    ts_us = ts.astype("int64") // 1000  # ns -> us
    closed: list[tuple[int, int, int]] = []
    if state.exists:
        start, end, n = state.get
    else:
        start = end = n = None
    for t in ts_us:
        if start is None:
            start, end, n = t, t, 1
        elif t - end <= gap_us:
            end, n = t, n + 1
        else:
            closed.append((start, end, n))
            start, end, n = t, t, 1
    if start is not None:
        state.update((int(start), int(end), int(n)))
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                "n_events": [c for _, _, c in closed],
            }
        )


def sessionize_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_sessionize"
) -> DataFrame:
    """Streaming gap-based sessionization — the custom stateful operator
    Spark has no built-in for (C3). Closed sessions emit as soon as the
    gap that closes them is seen; each user's final session remains in
    state (it would emit on timeout in a continuous run).

    State is one tuple per user — at 100 TB scale the state store holds
    |active users| rows, not events; shuffle is one hash exchange on
    user_id per micro-batch.
    """
    ev = events_stream(spark, sf_dir).select("user_id", "ts")
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


_SESSB_STATE_SCHEMA = "buf array<bigint>"


def _sessionize_group_buffered(key, pdfs, state):
    """C3b: watermark-buffered sessionizer — disorder-correct under any
    cross-batch arrival order within the lateness window, unlike
    ``_sessionize_group`` (whose batch-parity contract requires
    event-time-ordered arrival: an earlier event landing after a later
    one would splice into a closed session it can no longer join).

    State = the buffered event times (us) of every session the
    watermark has NOT yet finalized. A session is final iff
    ``end < watermark - gap``: any still-admissible event has
    ``ts >= watermark``, and such an event could only extend a session
    whose end is within ``gap`` of it. Finalization is monotone in
    session order, so the emitted prefix never revisits. State size is
    bounded by the events inside one gap+lateness horizon per user —
    |active events|, not history (same bound as the C7b funnel)."""
    import pandas as pd

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    (user_id,) = key
    wm_us = state.getCurrentWatermarkMs() * 1000

    buf = list(state.get[0]) if state.exists else []
    if not state.hasTimedOut:
        for pdf in pdfs:
            buf.extend(int(t) for t in pdf["ts"].astype("int64") // 1000)
    buf.sort()

    sessions: list[list[int]] = []
    for t in buf:
        if sessions and t - sessions[-1][-1] <= gap_us:
            sessions[-1].append(t)
        else:
            sessions.append([t])

    emitted: list[tuple[int, int, int]] = []
    keep: list[int] = []
    next_final_us = None
    for s in sessions:
        if not keep and s[-1] < wm_us - gap_us:
            emitted.append((s[0], s[-1], len(s)))
        else:
            if next_final_us is None:
                next_final_us = s[-1] + gap_us
            keep.extend(s)

    if keep:
        state.update((keep,))
        # Wake when the watermark can next finalize the oldest open
        # session (must be strictly beyond the current watermark).
        state.setTimeoutTimestamp(
            max(next_final_us // 1000 + 1, wm_us // 1000 + 1)
        )
    elif state.exists:
        state.remove()

    if emitted:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(emitted),
                "session_start": [
                    pd.Timestamp(s, unit="us") for s, _, _ in emitted
                ],
                "session_end": [
                    pd.Timestamp(e, unit="us") for _, e, _ in emitted
                ],
                "n_events": [n for _, _, n in emitted],
            }
        )


def sessionize_stream_buffered(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_sessionize_buffered",
    delay: str = "1 hour",
) -> DataFrame:
    """C3b: the watermark-buffered sessionizer (the C7b fix pattern
    applied to C3). On a bounded source the emitted set is
    deterministic — exactly the batch sessionizer's sessions whose
    ``end < max event time - delay - gap`` (the ones the final
    watermark finalized) — under ANY cross-batch arrival order within
    the lateness window."""
    ev = (
        events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", delay)
        .select("user_id", "ts")
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
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def incremental_upsert_stream(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """CDC-style continuous merge: every micro-batch upserts into the
    target on the PK via foreachBatch — the streaming form of the
    reference's MERGE INTO loop (database.ts:214-222). Exactly-once at
    the sink by epoch-idempotent overwrite.

    Returns the final target state (batch re-read)."""
    keys = keys or ["event_id"]
    ev = events_stream(spark, sf_dir)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from prefect_flow_arc_kg_postgres_etl_spark.operators import merge as M
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store

        sp = batch_df.sparkSession
        # table_exists, not try/except: a transient read failure must
        # fail the batch (retried by the engine), not be mistaken for
        # 'no target yet' and overwrite the accumulated state.
        target = (
            store.read_table(sp, target_path)
            if store.table_exists(target_path)
            else None
        )
        if target is None:
            merged = batch_df.dropDuplicates(keys)
        else:
            merged = M.upsert(target, batch_df, keys)
        # Versioned landing (sources/store.py): the merge reads version
        # N and writes version N+1 once, then the pointer swaps — the
        # read-modify-write is safe with a single data write per epoch.
        store.write_table(merged, target_path)

    q = ev.writeStream.foreachBatch(apply_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    return store.read_table(spark, target_path)


def dedup_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup"
) -> DataFrame:
    """C4: streaming exact deduplication. The source is read TWICE and
    unioned (a deterministic duplicated stream — the at-least-once
    delivery case dedup exists for); ``dropDuplicatesWithinWatermark``
    keys on event_id with a 1-hour watermark, so state for an id is
    dropped once the watermark passes it — bounded state at 100 TB,
    unlike an unbounded dropDuplicates.

    Final table equals the plain events table — the batch-SQL oracle.
    """
    # Watermarks track event time on TIMESTAMP (ltz) only; round-trip
    # the ntz column through ltz for the stateful op (value-exact under
    # the catalog's pinned UTC session tz) and back for the output the
    # oracle compares.
    ev = events_stream(spark, sf_dir).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    doubled = ev.unionByName(ev)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def es_feed_stream(
    spark: SparkSession, sf_dir: str, out_path: str
) -> DataFrame:
    """C5: continuous index feed — every micro-batch renders its rows to
    ES bulk NDJSON and appends them per organisation partition via
    foreachBatch (the streaming form of the index flow's
    truncate/repopulate: append-within-run here, partition-overwrite at
    the batch boundary in sinks/es_bulk.py).

    Returns the landed feed (batch re-read of the text files)."""
    from pyspark.sql import functions as FF

    from prefect_flow_arc_kg_postgres_etl_spark.sinks.es_bulk import to_bulk_actions

    ev = events_stream(spark, sf_dir)
    # The document carries the value in EXACT integer cents (floor) —
    # to_json's double rendering (Jackson shortest-roundtrip) is not
    # reproducible in another engine's string formatter, while integer
    # JSON is byte-identical everywhere. That determinism is what lets
    # the landed NDJSON line set carry a full DuckDB oracle
    # (STREAM_ES_FEED_ORACLE, promoted from rows-only in r11).
    docs = ev.select(
        FF.col("event_id").alias("id"),
        FF.lower(FF.col("event_type")).alias("index"),
        FF.to_json(
            FF.struct(
                FF.col("user_id"),
                FF.floor(FF.col("value") * 100)
                .cast("long")
                .alias("value_c"),
            )
        ).alias("document"),
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Idempotent under micro-batch retry (at-least-once foreachBatch):
        # each epoch lands in its own epoch-scoped directory with
        # overwrite, so a replayed epoch replaces its previous attempt
        # instead of double-appending bulk lines.
        (
            to_bulk_actions(batch_df)
            .write.mode("overwrite")
            .partitionBy("index")
            .text(f"{out_path}/epoch={epoch_id}")
        )

    q = docs.writeStream.foreachBatch(write_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    # Project the bulk lines only: the partitioned layout makes
    # read.text infer epoch=/index= as extra columns, but the feed's
    # contract (and its oracle) is the NDJSON line set itself.
    return spark.read.text(out_path).select("value")


def enrich_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNSTARTED stream-static enrichment plan (separate from the
    runner so the plan audit can explain it). The static side is the
    sf-scaled ``customer`` table, so it carries NO broadcast hint —
    customer grows 150k x sf (catalog.BROADCAST_DIMS rationale,
    sources/catalog.py:33-40) and a forced hint would override
    Catalyst's size check and OOM executors at cluster scale. AQE /
    size-based planning picks broadcast at small sf and shuffled join
    at scale; fixed-size dims would be hinted via
    ``catalog.BROADCAST_DIMS`` membership."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import (
        BROADCAST_DIMS,
        load_table,
    )

    ev = events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    if "customer" in BROADCAST_DIMS:  # pragma: no cover — customer is sf-scaled
        cust = F.broadcast(cust)
    return ev.join(cust, ev.user_id == cust.c_custkey, "left").select(
        "event_id", "user_id", "event_type", "value", "c_name", "c_nationkey"
    )


def enrich_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_enrich"
) -> DataFrame:
    """C6: stream-static enrichment — each micro-batch of events joins
    the static customer dimension (the standard lookup-join of a
    continuous ingest path; the reference's record constructor does the
    same entity attach per triple batch, stream.ts:51-116).

    Stream-static joins are STATELESS (the static side is re-planned
    per micro-batch, broadcast when small): no watermark, no state
    store, so at 100 TB the cost is the batch join cost per
    micro-batch. LEFT join keeps events with no matching entity —
    exactly the batch SQL the oracle runs."""
    joined = enrich_plan(spark, sf_dir)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


_FUNNEL_OUT_SCHEMA = "user_id bigint, purchase_event bigint, gap_us bigint"
_FUNNEL_STATE_SCHEMA = "last_view_us bigint"
_FUNNEL_GAP_US = 3_600_000_000


def _funnel_group(key, pdfs, state):
    """Stateful per-user funnel (runs inside applyInPandasWithState):
    state = the latest view's event time. Events process in event-time
    order within the batch; a purchase emits when the tracked view is
    within the hour. The streaming form of the batch running-max window
    (plans/relational.events_funnel) — state is ONE bigint per user, so
    at 100 TB the state store holds |users| rows.

    CONTRACT: output equals the batch funnel when micro-batches
    arrive in event-time order (incl. the driver's bounded
    single-batch source). Under cross-batch disorder the single-value
    state cannot look back — an equal-timestamp view/purchase pair
    split across batches can convert where batch tie-order would not,
    and a late purchase older than the tracked view is dropped even
    if an earlier in-window view existed. Exact parity under disorder
    needs bounded event buffering in state behind a watermark (state
    grows to |events in the lateness window| per user) — the
    documented production extension, not this operator."""
    import pandas as pd

    (user_id,) = key
    last = state.get[0] if state.exists else None
    out_events, out_gaps = [], []
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    us = pdf["ts"].astype("int64") // 1000  # ns -> us
    for t, etype, eid in zip(us, pdf["event_type"], pdf["event_id"]):
        if etype == "view":
            last = t if last is None else max(last, t)
        elif (
            etype == "purchase"
            and last is not None
            # Lower bound: a late purchase whose event time PRECEDES
            # the tracked view must not convert with a negative gap.
            # NOTE this makes disorder SAFE, not batch-identical —
            # see the contract note in _funnel_group's docstring.
            and 0 <= t - last <= _FUNNEL_GAP_US
        ):
            out_events.append(eid)
            out_gaps.append(t - last)
    if last is not None:
        state.update((int(last),))
    if out_events:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_events),
                "purchase_event": out_events,
                "gap_us": out_gaps,
            }
        )


def funnel_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_funnel"
) -> DataFrame:
    """C7: streaming conversion funnel — view -> purchase within 1 hour
    per user, detected incrementally with per-user state instead of the
    batch window pass. One hash exchange on user_id per micro-batch;
    emits conversions as they are seen."""
    ev = events_stream(spark, sf_dir).select("user_id", "ts", "event_type", "event_id")
    conv = ev.groupBy("user_id").applyInPandasWithState(
        _funnel_group,
        outputStructType=_FUNNEL_OUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    q = (
        conv.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).select("user_id", "purchase_event", "gap_us")


def interval_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNSTARTED stream-stream interval self-join plan (``*_plan``
    so the forced-broadcast audit sweeps it). Views and purchases are
    two filters over the SAME source stream; the join keys on user_id
    with a time-interval condition (purchase within 1 hour after the
    view), watermarked on BOTH sides.

    State shape at scale: each side's state store holds only rows
    younger than [watermark - interval] — Spark derives the state
    eviction bound from the interval condition plus the watermarks, so
    state is O(events per hour), not O(stream history). This is the
    stream-shaped version of the asof/range join family: every
    qualifying (view, purchase) pair is emitted exactly once (append
    mode is the only mode stream-stream inner joins support).

    Delay choice: the watermark delay must be >= the join interval or
    in-order late pairs get dropped; 1 hour matches the interval."""
    ev = events_stream(spark, sf_dir)
    # Watermarks track TIMESTAMP (ltz) event time; UTC round-trip as in
    # dedup_stream. Both branches re-derive from one source stream —
    # Spark plans this as a self-join of the scan, not two sources.
    base = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    views = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_event"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event",
        "purchase_event",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )


def interval_join_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_interval_join"
) -> DataFrame:
    """C8: stream-stream time-interval join. On a bounded source every
    qualifying pair is emitted (inner join emits on arrival; state
    eviction only discards rows that can no longer match), so the
    result hash-equals the batch interval self-join — the full SQL
    oracle, unlike most stream-stream setups."""
    joined = interval_join_plan(spark, sf_dir)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


_FUNNELB_STATE_SCHEMA = (
    "view_us array<bigint>, view_id array<bigint>, "
    "pend_us array<bigint>, pend_id array<bigint>"
)


def _funnel_group_buffered(key, pdfs, state):
    """Disorder-correct stateful funnel (the production extension the
    single-value-state funnel's contract names): state BUFFERS the
    user's in-window views and the not-yet-final purchases; a purchase
    finalizes only when the WATERMARK passes its event time, at which
    point every event that could precede it has arrived and the
    batch rule applies exactly — latest view with (us, id) strictly
    before the purchase, within the gap.

    State bounds: views older than [watermark - gap] cannot qualify
    for any future-final purchase (a purchase within their gap would
    already be final; a still-arriving one is >= watermark, too far)
    and are evicted, so state holds one lateness+gap window of events
    per user, not history — the cost of exactness under disorder.
    """
    import pandas as pd

    (user_id,) = key
    wm_us = state.getCurrentWatermarkMs() * 1000

    if state.exists:
        view_us, view_id, pend_us, pend_id = (list(x) for x in state.get)
    else:
        view_us, view_id, pend_us, pend_id = [], [], [], []

    if not state.hasTimedOut:
        pdf = pd.concat(list(pdfs))
        us = pdf["ts"].astype("int64") // 1000
        for t, etype, eid in zip(us, pdf["event_type"], pdf["event_id"]):
            if etype == "view":
                view_us.append(int(t))
                view_id.append(int(eid))
            elif etype == "purchase":
                pend_us.append(int(t))
                pend_id.append(int(eid))

    out_events, out_gaps = [], []
    keep_us, keep_id = [], []
    for t, eid in zip(pend_us, pend_id):
        if t <= wm_us:
            # batch tie rule exactly: the view must STRICTLY precede
            # the purchase in (event time, event id) order
            best = max(
                (
                    v
                    for v, vid in zip(view_us, view_id)
                    if (v, vid) < (t, eid) and t - v <= _FUNNEL_GAP_US
                ),
                default=None,
            )
            if best is not None:
                out_events.append(eid)
                out_gaps.append(t - best)
        else:
            keep_us.append(t)
            keep_id.append(eid)

    kept_views = [
        (v, vid) for v, vid in zip(view_us, view_id) if v >= wm_us - _FUNNEL_GAP_US
    ]
    view_us = [v for v, _ in kept_views]
    view_id = [vid for _, vid in kept_views]
    if view_us or keep_us:
        state.update((view_us, view_id, keep_us, keep_id))
        # Wake when the watermark can next finalize something (must be
        # strictly beyond the current watermark).
        nxt = min(keep_us) // 1000 if keep_us else wm_us // 1000 + 60_000
        state.setTimeoutTimestamp(max(nxt, wm_us // 1000 + 1))
    elif state.exists:
        state.remove()

    if out_events:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_events),
                "purchase_event": out_events,
                "gap_us": out_gaps,
            }
        )


def funnel_stream_buffered(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_funnel_buffered",
    delay: str = "1 hour",
) -> DataFrame:
    """C7b: the watermarked buffered funnel. Emits exactly the batch
    funnel's conversions for purchases the watermark has finalized —
    correct under ANY cross-batch arrival order within the lateness
    window, unlike the single-value-state funnel (whose parity
    contract requires event-time-ordered batches). On a bounded
    source the emitted set is deterministic: conversions whose
    purchase time <= max event time - delay."""
    ev = (
        events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", delay)
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("user_id", "ts", "event_type", "event_id")
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
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).select("user_id", "purchase_event", "gap_us")


def agg_state_stream(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
) -> DataFrame:
    """C9: streaming summary-delta maintenance — the foreachBatch form
    of the batch A34 operator: each micro-batch collapses to per-user
    partial aggregates (count + exact bigint micros sum — integer
    partials merge order-independently) and merges into the aggregate
    state table via operators/merge.merge_agg_state. The base fact is
    never re-read; per-epoch work tracks the micro-batch size plus
    |state|.

    Additive state is NOT replay-idempotent (re-applying a batch
    double-counts, unlike the upsert merge), so each state version
    carries the epoch that produced it and a replayed epoch is
    skipped: the epoch watermark commits atomically with the data in
    the same versioned-store pointer swap. The watermark is only
    meaningful within ONE logical stream, so the checkpoint persists
    NEXT TO the target — a re-run over the same target resumes the
    same stream (epochs keep increasing, only new files process); a
    fresh checkpoint against existing state would replay old epochs
    as new ones and double-count. 'No state yet' is detected via
    store.table_exists, never by swallowing read errors (a transient
    read failure must fail the batch, not wipe the aggregate).

    After the bounded run the state equals the batch aggregate over
    the whole source — the full SQL oracle."""
    ev = events_stream(spark, sf_dir)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as FF

        from prefect_flow_arc_kg_postgres_etl_spark.operators.merge import (
            merge_agg_state,
        )
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store

        sp = batch_df.sparkSession
        delta = batch_df.select(
            "user_id",
            FF.round(FF.col("value") * 1000000)
            .cast("bigint")
            .alias("value_micros"),
        )
        state = (
            store.read_table(sp, target_path)
            if store.table_exists(target_path)
            else None
        )
        if state is not None:
            last = state.select(FF.max("_epoch")).first()[0]
            # last is None for an empty (zero-row) state version —
            # nothing committed yet, so nothing can be a replay.
            if last is not None and last >= epoch_id:
                return  # replayed micro-batch: already committed
        if state is None:
            merged = delta.groupBy("user_id").agg(
                FF.count(FF.lit(1)).alias("n"),
                FF.sum("value_micros").alias("value_micros"),
            )
        else:
            merged = merge_agg_state(
                state.drop("_epoch"),
                delta,
                keys=["user_id"],
                sum_cols=["value_micros"],
            )
        store.write_table(
            merged.withColumn("_epoch", FF.lit(epoch_id)), target_path
        )

    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{target_path}_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    return store.read_table(spark, target_path).select(
        "user_id",
        F.col("n").alias("n_events"),
        (F.col("value_micros") / 1000000.0).alias("total_value"),
    )


def dq_gate_stream(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
) -> DataFrame:
    """C10: streaming quality gate with a DEAD-LETTER side output —
    the production ingestion pattern: rows passing the contract land
    in the main sink, violators land in a quarantine sink WITH the
    batch that carried them, nothing is dropped silently (total row
    conservation is part of the oracle: valid ∪ dead == source).

    Each epoch writes both splits into epoch-keyed subdirectories with
    overwrite — a replayed micro-batch rewrites its own directory
    instead of appending duplicates, the same idempotency trick as the
    versioned store but per-sink. The gate predicate is evaluated once
    per row scan-side; the split is two filters off the same cached
    micro-batch, not two source reads."""
    import os

    ev = events_stream(spark, sf_dir)
    rule = (F.col("value") >= 0) & (F.col("value") <= 90)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as FF

        b = batch_df.persist()
        ok = b.filter(rule)
        dead = b.filter(~FF.coalesce(rule, FF.lit(False)))
        ok.write.mode("overwrite").parquet(f"{out_root}/valid/epoch={epoch_id}")
        dead.write.mode("overwrite").parquet(
            f"{out_root}/dead_letter/epoch={epoch_id}"
        )
        b.unpersist()

    # Pre-create both sink directories: on an EMPTY bounded source
    # foreachBatch never fires, so neither path would exist and the
    # read-back below would die on path-not-found despite the explicit
    # schema guarding the zero-row case (ADVICE r5).
    os.makedirs(f"{out_root}/valid", exist_ok=True)
    os.makedirs(f"{out_root}/dead_letter", exist_ok=True)
    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # Explicit schema on the read-back: a sink that received ZERO rows
    # across all epochs holds only _SUCCESS markers, and schema
    # inference would fail exactly when the data is perfectly
    # clean/dirty — the gate must return an empty split instead.
    schema = ev.schema
    valid = read_parquet(spark, f"{out_root}/valid", schema=schema).select(*cols)
    dead = read_parquet(
        spark, f"{out_root}/dead_letter", schema=schema
    ).select(*cols)
    return valid.withColumn("sink", F.lit("valid")).unionByName(
        dead.withColumn("sink", F.lit("dead_letter"))
    )


def windowed_topk_stream(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    k: int = 3,
) -> DataFrame:
    """C11: streaming TOP-K per event-time window. Top-k is NOT a
    mergeable aggregate (the k winners of two partials can both miss
    the true winner), so the correct streaming shape maintains the
    MERGEABLE thing — per (window, event_type) integer counts, the C9
    summary-delta with a composite key — and ranks at READ time over
    the |windows| x |types| state table (tiny next to the stream).
    Same epoch-guarded replay protection as C9: additive state is not
    replay-idempotent, so each state version carries its epoch and a
    replayed micro-batch is skipped. After the bounded run the ranked
    state equals the batch windowed top-k — the full SQL oracle."""
    ev = events_stream(spark, sf_dir)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as FF

        from prefect_flow_arc_kg_postgres_etl_spark.operators.merge import (
            merge_agg_state,
        )
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store

        sp = batch_df.sparkSession
        delta = batch_df.select(
            FF.date_trunc("hour", FF.col("ts")).alias("window_start"),
            "event_type",
        )
        state = (
            store.read_table(sp, target_path)
            if store.table_exists(target_path)
            else None
        )
        if state is not None:
            last = state.select(FF.max("_epoch")).first()[0]
            if last is not None and last >= epoch_id:
                return  # replayed micro-batch: already committed
        if state is None:
            merged = delta.groupBy("window_start", "event_type").agg(
                FF.count(FF.lit(1)).alias("n")
            )
        else:
            merged = merge_agg_state(
                state.drop("_epoch"),
                delta,
                keys=["window_start", "event_type"],
                sum_cols=[],
            )
        store.write_table(
            merged.withColumn("_epoch", FF.lit(epoch_id)), target_path
        )

    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{target_path}_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import Window

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    state = store.read_table(spark, target_path)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.col("event_type")
    )
    return (
        state.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("window_start", "event_type", F.col("n").alias("n_events"), "rank")
    )


def dedup_state_stream(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
) -> DataFrame:
    """C12: CROSS-RUN streaming dedup against a PERSISTED id store —
    the complement of C4: ``dropDuplicatesWithinWatermark`` only
    remembers ids inside the watermark horizon of ONE run, so a
    re-delivery hours later (or in the next job run) sails through.
    Production CDC ingest keeps the seen-id index in reliable storage:
    each micro-batch anti-joins the persisted index, appends only the
    never-seen rows, and commits the updated index atomically with the
    data (one versioned-store pointer swap). Index size is |distinct
    ids| — at 100 TB it is the bucketed/z-ordered key table the
    targeted-delete path already maintains, probed by key range.

    Unlike C9's ADDITIVE state (which needs the epoch watermark —
    re-applying a batch double-counts), SET-UNION state is naturally
    replay-idempotent: a replayed batch anti-joins to nothing and
    rewrites the store unchanged, and a whole NEW RUN over the same
    store just keeps extending it — so no epoch guard, and none of
    the fresh-checkpoint hazards C9 documents. The source is read
    twice and unioned (deterministic at-least-once duplication); the
    converged store equals the distinct source — the full SQL oracle."""
    ev = events_stream(spark, sf_dir)
    doubled = ev.unionByName(ev)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store

        sp = batch_df.sparkSession
        fresh = batch_df.dropDuplicates(["event_id"])
        if store.table_exists(target_path):
            state = store.read_table(sp, target_path)
            new = fresh.join(
                state.select("event_id"), "event_id", "left_anti"
            )
            merged = state.unionByName(new)
        else:
            merged = fresh
        store.write_table(merged, target_path)

    q = (
        doubled.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{target_path}_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    return store.read_table(spark, target_path).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# ------------------------------------------------------ C13 stream pivot
PIVOT_STREAM_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def pivot_records_stream(
    spark: SparkSession, sf_dir: str, out_path: str, delay: str = "1 day"
) -> DataFrame:
    """C13: the reference's triple->record pivot (stream.ts:51-116) as a
    REAL watermarked streaming operator, not just the batch twin (A2).

    The reference pivots consecutive same-subject triples relying on the
    stream being subject-sorted; a distributed stream has no such order
    guarantee, and a subject's triples can straddle micro-batches. The
    Spark-first answer: every triple carries its record's event time
    (dcterms/modified in the reference; o_orderdate here), the stream
    watermarks on it, and the record AGGREGATION (the same
    min-by-(lang-priority, object) conditional aggs as the batch pivot,
    operators/triples.py:61) is keyed by (event-time window, subject).
    A record finalizes — emits exactly once, state dropped — when the
    watermark passes its window, i.e. when no triple for that subject
    can still arrive. Bounded state at 100 TB: |open subjects|, not
    history.

    In-stream melt is a stack() projection (no shuffle); the pivot is
    ONE keyed streaming aggregation with map-side partials.

    On a bounded source the emitted set is deterministic: records whose
    day-window end <= final watermark (max event time - delay) — the
    batch pivot restricted to o_orderdate <= max - 2 days, which is the
    SQL oracle.
    """
    from prefect_flow_arc_kg_postgres_etl_spark.sources import catalog

    path = f"{sf_dir}/orders.parquet"
    probe = catalog.read_raw(spark, path)
    conv = catalog.epoch_conversions(probe)
    raw = spark.readStream.schema(probe.schema).parquet(
        f"{sf_dir}/orders.[p]arquet"
    )
    orders = catalog.apply_epoch_conversions(raw, conv)

    pairs = ", ".join(f"'{c}', cast(`{c}` as string)" for c in PIVOT_STREAM_COLS)
    triples = orders.select(
        F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias(
            "subject"
        ),
        # Watermarks track TIMESTAMP (ltz) only; UTC round-trip as in
        # dedup_stream.
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.expr(f"stack({len(PIVOT_STREAM_COLS)}, {pairs}) as (predicate, object)"),
    ).filter(F.col("object").isNotNull())

    # Same first-value-wins pick as the batch pivot; testdata literals
    # carry no language tags, so the priority term is constant here.
    picked = F.struct(F.lit(0).alias("p"), F.col("object").alias("o"))
    aggs = [
        F.min(F.when(F.col("predicate") == c, picked)).getField("o").alias(c)
        for c in PIVOT_STREAM_COLS
    ]
    rec = (
        triples.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 day"), "subject")
        .agg(*aggs)
        .select("subject", *PIVOT_STREAM_COLS)
    )
    q = (
        rec.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", f"{out_path}_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_parquet(spark, out_path, schema=rec.schema)


# -------------------------------------- C14 SCD2 point-in-time enrich
def scd2_user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 user dimension C14 serves from: per customer, one
    version per distinct effective day (orders mapped onto the event
    month by deterministic arithmetic — o_orderkey % 30 days past
    2024-01-01), ties per (user, day) broken by highest order key,
    valid_to = the next version's valid_from (lead window). Disjoint,
    gap-free-per-key validity intervals — the A27/A47 layout."""
    from pyspark.sql import Window as W

    from prefect_flow_arc_kg_postgres_etl_spark.sources import catalog

    orders = catalog.load_table(spark, sf_dir, "orders")
    vf = F.expr(
        "timestamp_ntz'2024-01-01 00:00:00'"
        " + make_dt_interval(cast(o_orderkey % 30 as int), 0, 0, 0)"
    )
    versions = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderkey"),
        vf.alias("valid_from"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("tier_cents"),
    )
    pick = W.partitionBy("user_id", "valid_from").orderBy(
        F.col("o_orderkey").desc()
    )
    succ = W.partitionBy("user_id").orderBy("valid_from")
    return (
        versions.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .withColumn("valid_to", F.lead("valid_from").over(succ))
        .select("user_id", "tier_cents", "valid_from", "valid_to")
    )


def scd2_enrich_stream(
    spark: SparkSession, sf_dir: str, out_root: str
) -> DataFrame:
    """C14: streaming POINT-IN-TIME enrichment — the serving twin of
    A47's batch feature-store join. Each micro-batch of events joins
    the SCD2 dimension on the key plus the validity-interval residual,
    so every event reads the dim version current AT ITS OWN event
    time — never a later one — no matter how delayed the batch runs
    (the train-serve-skew guard, now on the serving path). Stateless
    per batch (the dim is a static side input, broadcast by Catalyst);
    epoch-keyed overwrite directories make replays idempotent (C10's
    trick). Events before their user's first version drop, as in A47.
    Converged output == the batch PIT join, the full SQL oracle."""
    import os

    dim = scd2_user_dim(spark, sf_dir)
    ev = events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "value"
    )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = (
            batch_df.join(dim, "user_id")
            .filter(
                (F.col("valid_from") <= F.col("ts"))
                & (
                    F.col("valid_to").isNull()
                    | (F.col("ts") < F.col("valid_to"))
                )
            )
            .select("event_id", "ts", "user_id", "value", "tier_cents")
        )
        out.write.mode("overwrite").parquet(f"{out_root}/enriched/epoch={epoch_id}")

    os.makedirs(f"{out_root}/enriched", exist_ok=True)
    q = ev.writeStream.foreachBatch(apply_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    try:
        landed = read_parquet(spark, f"{out_root}/enriched")
    except Exception:
        return spark.createDataFrame(
            [], "event_id bigint, ts timestamp_ntz, user_id bigint, "
            "value double, tier_cents bigint"
        )
    return landed.select("event_id", "ts", "user_id", "value", "tier_cents")


def interval_join_outer_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15: LEFT OUTER stream-stream interval join (the ``*_plan``
    naming enters the forced-broadcast audit sweep). Same two
    watermarked sides as C8; outer semantics add the subtle part:
    an unmatched view emits its NULL row only when the watermark
    proves no qualifying purchase can still arrive (view-state
    eviction at wm > v_ts + interval) — matched pairs emit on
    arrival exactly as the inner join."""
    ev = events_stream(spark, sf_dir)
    base = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    views = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_event"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event",
        "purchase_event",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )


def interval_join_outer_stream(
    spark: SparkSession, sf_dir: str, out_path: str
) -> DataFrame:
    """C15 runner: parquet sink + availableNow so the final no-data
    batch advances the watermark and flushes the outer NULL rows for
    every view whose match window closed."""
    joined = interval_join_outer_plan(spark, sf_dir)
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", f"{out_path}_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_parquet(spark, out_path, schema=joined.schema)


# ----------------------------------------- C16 streaming gap fill
_GAPFILL_STATE_SCHEMA = (
    "next_emit_us bigint, bucket_us array<bigint>, counts array<bigint>"
)
_GAPFILL_OUT_SCHEMA = "event_type string, hour timestamp, n bigint"
_HOUR_US = 3_600_000_000


def _gap_fill_group(key, pdfs, state):
    """C16: streaming GAP FILL — the stateful operator that EMITS ROWS
    FOR ABSENT DATA (the hard half of resampling: aggregations only
    ever emit observed groups). Per event type, state tracks the next
    hour bucket to finalize plus the pending per-bucket counts; when
    the watermark passes a bucket's END no event can land in it
    anymore, so every bucket from next_emit up to the horizon emits IN
    ORDER — zeros included — and leaves state. State size: the
    buckets inside one lateness horizon, not history. Emission is
    monotone per type (a bucket emits exactly once)."""
    import pandas as pd

    (event_type,) = key
    wm_us = state.getCurrentWatermarkMs() * 1000

    if state.exists:
        next_emit, bucket_us, counts = state.get
        pending = dict(zip(bucket_us, counts))
    else:
        next_emit, pending = None, {}

    if not state.hasTimedOut:
        for pdf in pdfs:
            for t in pdf["ts"].astype("int64") // 1000:
                b = (int(t) // _HOUR_US) * _HOUR_US
                pending[b] = pending.get(b, 0) + 1
    if next_emit is None and pending:
        next_emit = min(pending)

    rows = []
    if next_emit is not None:
        while next_emit + _HOUR_US <= wm_us:
            rows.append((event_type, next_emit, pending.pop(next_emit, 0)))
            next_emit += _HOUR_US

    if next_emit is not None:
        ks = sorted(pending)
        state.update((next_emit, ks, [pending[k] for k in ks]))
        # Finalization is NON-STRICT (bucket end <= wm) but an event-
        # time timeout fires only when the watermark EXCEEDS the
        # timestamp — so aim 1 ms BEFORE the bucket end (fires at
        # wm == end), clamped strictly above the current watermark.
        state.setTimeoutTimestamp(
            max((next_emit + _HOUR_US) // 1000 - 1, wm_us // 1000 + 1)
        )

    if rows:
        yield pd.DataFrame(
            {
                "event_type": [r[0] for r in rows],
                "hour": [pd.Timestamp(r[1], unit="us") for r in rows],
                "n": [r[2] for r in rows],
            }
        )


def gap_fill_stream(
    spark: SparkSession,
    sf_dir: str,
    query_name: str,
    delay: str = "1 hour",
) -> DataFrame:
    """C16 runner. On a bounded source the emitted set is
    deterministic: per type, every hour bucket from the type's first
    observed hour through the final watermark horizon (bucket end <=
    ms-floored max ts - delay), zeros for empty buckets — the batch
    gap fill (B41) restricted per-type and to the horizon."""
    ev = (
        events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", delay)
        .select("event_type", "ts")
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
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).select(
        "event_type",
        F.col("hour").cast("timestamp_ntz").alias("hour"),
        "n",
    )


def windowed_distinct_stream(
    spark: SparkSession, sf_dir: str, out_path: str, delay: str = "1 hour"
) -> DataFrame:
    """C17: EXACT distinct users per hour window, streaming — the
    chained-stateful shape (Spark 4 multi-stateful support):
    watermarked dropDuplicates on (window, user) bounds dedup state to
    the lateness horizon, then the windowed count aggregates the
    survivors — each stage's state is horizon-bounded, and the count
    is EXACT (approx_count_distinct is the usual streaming compromise).
    On a bounded source: windows with end <= final watermark emit."""
    ev = events_stream(spark, sf_dir)
    base = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", delay)
        .select(F.window("ts", "1 hour").alias("w"), "ts", "user_id")
        .dropDuplicates(["w", "user_id"])
    )
    agg = (
        base.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
        .select(
            F.col("w").getField("start").cast("timestamp_ntz").alias(
                "window_start"
            ),
            "n_distinct_users",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", f"{out_path}_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_parquet(spark, out_path, schema=agg.schema)


def agg_retractable_stream(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
) -> DataFrame:
    """C18: streaming RETRACTABLE aggregate maintenance — the CDC form
    of C9 (and the streaming twin of batch A52): the feed carries
    inserts AND deletes, simulated deterministically as every event
    arriving sign +1 and events with value > 150 later RETRACTING with
    sign -1 (the at-source correction case). Each micro-batch's signed
    partials fold into the state via merge_agg_state_signed — counts
    and exact integer sums are abelian groups, deletions are negated
    additions, zero-count users leave the state. Same epoch-guarded
    replay protection as C9 (additive state is not replay-idempotent).
    Converged state == the batch aggregate over the surviving rows
    (value <= 150), the full SQL oracle."""
    ev = events_stream(spark, sf_dir)
    inserts = ev.select("user_id", "value", F.lit(1).alias("sign"))
    retracts = (
        ev.filter(F.col("value") > 150)
        .select("user_id", "value", F.lit(-1).alias("sign"))
    )
    feed = inserts.unionByName(retracts)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as FF

        from prefect_flow_arc_kg_postgres_etl_spark.operators.merge import (
            merge_agg_state_signed,
        )
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store

        sp = batch_df.sparkSession
        delta = batch_df.select(
            "user_id",
            "sign",
            FF.round(FF.col("value") * 1000000)
            .cast("bigint")
            .alias("value_micros"),
        )
        state = (
            store.read_table(sp, target_path)
            if store.table_exists(target_path)
            else None
        )
        if state is not None:
            last = state.select(FF.max("_epoch")).first()[0]
            if last is not None and last >= epoch_id:
                return
        if state is None:
            empty = sp.createDataFrame(
                [], "user_id bigint, n bigint, value_micros bigint"
            )
            merged = merge_agg_state_signed(
                empty, delta, keys=["user_id"], sum_cols=["value_micros"]
            )
        else:
            merged = merge_agg_state_signed(
                state.drop("_epoch"),
                delta,
                keys=["user_id"],
                sum_cols=["value_micros"],
            )
        store.write_table(
            merged.withColumn("_epoch", FF.lit(epoch_id)), target_path
        )

    q = (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{target_path}_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store

    return store.read_table(spark, target_path).select(
        "user_id",
        F.col("n").alias("n_events"),
        (F.col("value_micros") / 1000000.0).alias("total_value"),
    )
