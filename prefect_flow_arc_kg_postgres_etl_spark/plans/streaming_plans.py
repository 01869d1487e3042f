"""C-block plans: Structured Streaming (SURVEY.md §2 C1-C2).

stream_windowed_agg is hash-checked against the BATCH oracle (complete
mode over a bounded file source == the batch tumbling aggregation) —
the strongest correctness statement available for a streaming op.
stream_incremental_upsert is rows-only (its per-batch sequencing is
engine-internal; final-state semantics are tested in tests/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from prefect_flow_arc_kg_postgres_etl_spark.plans.relational import (
    FUNNEL_ORACLE,
    TUMBLING_ORACLE,
)
from prefect_flow_arc_kg_postgres_etl_spark.session import scratch_dir
from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
    dedup_stream,
    es_feed_stream,
    incremental_upsert_stream,
    sessionize_stream,
    windowed_agg_stream,
    windowed_agg_stream_watermarked,
)


def stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_agg_stream(spark, sf_dir)


STREAM_WINDOWED_ORACLE = TUMBLING_ORACLE


def stream_windowed_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 PRODUCTION variant (promoted to the registry in r5): append
    output mode + 1-hour event-time watermark into a file sink —
    bounded state, exactly-once window emission. On a bounded source
    the emitted set is deterministic: every window whose end <= the
    final watermark (max event time - 1 hour); still-open windows stay
    in state (they would flush on the next trigger in a continuous
    run). That makes the production path SQL-oracle-checkable, not just
    the complete-mode harness above."""
    out = scratch_dir(spark, "stream_wm_") + "/agg"
    return windowed_agg_stream_watermarked(spark, sf_dir, out)


# The tumbling aggregation restricted to watermark-finalized windows:
# window end (= start + 1h) <= max event time - 1h delay.
STREAM_WINDOWED_WM_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY 1, 2
HAVING window_start <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
"""


def stream_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = scratch_dir(spark, "stream_upsert_") + "/target"
    return incremental_upsert_stream(spark, sf_dir, target)


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: custom stateful operator via applyInPandasWithState. Emits
    CLOSED sessions; each user's final session stays in state. On a
    bounded source the closed set is deterministic — every session
    except the per-user last — so this is oracle-backed: the batch
    sessionization minus each user's final session."""
    return sessionize_stream(spark, sf_dir)


# Batch sessionization (relational.SESSIONIZE_ORACLE semantics) minus
# each user's LAST session (still open in stream state at end-of-input).
STREAM_SESSIONIZE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
), agg AS (
  SELECT user_id, session_id,
         MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT user_id, session_start, session_end, n_events
FROM agg
QUALIFY session_id < MAX(session_id) OVER (PARTITION BY user_id)
"""


def stream_sessionize_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3b: the watermark-buffered disorder-correct sessionizer (the
    C7b buffering pattern applied to C3). State holds one gap+lateness
    horizon of events per user; sessions emit when the watermark
    passes session_end + gap. On a bounded source the emitted set is
    deterministic: the batch sessions with
    end < max event time - delay - gap."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        sessionize_stream_buffered,
    )

    return sessionize_stream_buffered(spark, sf_dir)


# Batch sessionization restricted to watermark-finalized sessions:
# end < watermark - gap(30min), where the watermark mirrors Spark's
# MILLISECOND-floored event-time tracking exactly:
# wm_us = (EPOCH_US(max ts) // 1000) * 1000 - delay(1h). Test data
# carries sub-ms microseconds, so the un-floored max would finalize
# sessions ending in the sub-ms gap that the stream leaves open
# (caught in r6 review). EPOCH_US, not EPOCH (which rounds seconds).
STREAM_SESSIONIZE_BUFFERED_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
HAVING EPOCH_US(MAX(ts)) <
       (SELECT (EPOCH_US(MAX(ts)) // 1000) * 1000
               - 3600000000 - 1800000000 FROM events)
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: watermarked streaming dedup of a doubled source; final table
    == the plain events table, which is the batch-SQL oracle."""
    return dedup_stream(spark, sf_dir)


STREAM_DEDUP_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


def stream_es_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: foreachBatch ES bulk feed; the landed NDJSON is two lines
    per source row (action + document). On a bounded availableNow run
    the landed LINE SET is deterministic — action lines are pure
    string assembly and the document values are exact integer cents —
    so the read-back text carries a full SQL oracle (promoted from
    rows-only in r11; epoch directory split does not affect the set)."""
    out = scratch_dir(spark, "stream_es_") + "/feed"
    return es_feed_stream(spark, sf_dir, out)


# Spark's to_json renders the struct with no whitespace and fields in
# struct order, and OMITS null fields. Each concat_ws argument below
# goes NULL whenever its source column is NULL (|| propagates NULL)
# and concat_ws skips NULL arguments — so a null user_id/value/
# event_type drops exactly the field to_json would drop, instead of
# nulling the whole line (r11 advice). The one remaining assumption is
# string ESCAPING: to_json would backslash-escape quotes/control chars
# in event_type while || cannot — pinned by the corpus-invariant test
# (tests/test_streaming.py: event_type is a bare [A-Za-z0-9_]+ token).
STREAM_ES_FEED_ORACLE = """
SELECT '{"index":{' || concat_ws(',',
         '"_index":"' || lower(event_type) || '"',
         '"_id":"' || CAST(event_id AS VARCHAR) || '"') || '}}' AS value
FROM events
UNION ALL
SELECT '{' || concat_ws(',',
         '"user_id":' || CAST(user_id AS VARCHAR),
         '"value_c":' || CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR))
       || '}' AS value
FROM events
"""


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: stream-static lookup join — events enriched with the static
    customer dim per micro-batch (stateless; dim broadcasts). Final
    table equals the batch LEFT join, which is the SQL oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import enrich_stream

    return enrich_stream(spark, sf_dir)


STREAM_ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_name, c.c_nationkey
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
"""


# The CDC upsert's FINAL state is deterministic on a bounded source:
# event ids are unique, so continuously upserting the stream converges
# to exactly the source table. Promoted from rows-only in r4.
STREAM_UPSERT_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: stateful streaming funnel (applyInPandasWithState; state =
    one bigint per user). On a bounded source the emitted set equals
    the batch running-max funnel exactly, so it shares B20's SQL
    oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import funnel_stream

    return funnel_stream(spark, sf_dir)


# On a bounded source the stateful funnel's emitted set equals the
# batch running-max funnel — B20's oracle verbatim.
STREAM_FUNNEL_ORACLE = FUNNEL_ORACLE


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: stream-stream time-interval self-join (views x purchases
    within 1 hour per user), watermarked both sides — bounded state
    derived from the interval condition. Emits every qualifying pair,
    so the batch interval join is the full SQL oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        interval_join_stream,
    )

    return interval_join_stream(spark, sf_dir)


STREAM_INTERVAL_JOIN_ORACLE = """
SELECT v.user_id,
       v.event_id AS view_event,
       p.event_id AS purchase_event,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


def stream_funnel_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7b: the watermark-buffered funnel — disorder-correct under any
    cross-batch arrival order within the lateness window (state
    buffers one gap+lateness window of events per user). On a bounded
    source the emitted set is deterministic: the batch funnel's
    conversions for purchases the final watermark finalized
    (purchase ts <= max event ts - delay)."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        funnel_stream_buffered,
    )

    return funnel_stream_buffered(spark, sf_dir)


# The batch funnel restricted to watermark-finalized purchases.
STREAM_FUNNEL_BUFFERED_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view_us
  FROM events
)
SELECT user_id, event_id AS purchase_event,
       CAST(us - last_view_us AS BIGINT) AS gap_us
FROM seq
WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
  AND us - last_view_us <= 3600000000
  AND us <= (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 3600000000
             FROM events)
"""


def stream_agg_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: streaming summary-delta aggregate maintenance (the
    foreachBatch twin of the batch A34 operator). Converged state over
    the bounded source == the batch per-user aggregate — the full SQL
    oracle. Exact bigint micros partials make the cross-batch merge
    order-independent; a replayed epoch is skipped via the epoch
    watermark committed atomically with each state version."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        agg_state_stream,
    )

    target = scratch_dir(spark, "stream_agg_state_") + "/state"
    return agg_state_stream(spark, sf_dir, target)


STREAM_AGG_STATE_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0 AS total_value
FROM events
GROUP BY user_id
"""


def stream_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: streaming quality gate with dead-letter routing. Row
    conservation is built into the oracle: every source row appears in
    exactly one sink, tagged."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        dq_gate_stream,
    )

    root = scratch_dir(spark, "stream_dq_")
    return dq_gate_stream(spark, sf_dir, root)


STREAM_DQ_GATE_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props,
       CASE WHEN value >= 0 AND value <= 90
            THEN 'valid' ELSE 'dead_letter' END AS sink
FROM events
"""


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 (r6): streaming top-k per event-time window. Top-k is not a
    mergeable aggregate, so the stream maintains the mergeable thing —
    per (window, event_type) counts via the C9 summary-delta with a
    composite key — and ranks at read time over the tiny state table.
    Converged result == the batch windowed top-3, the full oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        windowed_topk_stream,
    )

    target = scratch_dir(spark, "stream_topk_") + "/state"
    return windowed_topk_stream(spark, sf_dir, target, k=3)


STREAM_TOPK_ORACLE = """
WITH counts AS (
  SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, rank FROM (
  SELECT window_start, event_type, n_events,
         CAST(ROW_NUMBER() OVER (PARTITION BY window_start
              ORDER BY n_events DESC, event_type) AS INT) AS rank
  FROM counts
) WHERE rank <= 3
"""


def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 (r6): cross-run dedup against a PERSISTED id store — C4's
    watermark-bounded dedup only remembers one run's horizon; this one
    anti-joins each micro-batch against the durable seen-id index and
    appends only never-seen rows, epoch-guarded against replays.
    Converged store == the distinct source (full SQL oracle)."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        dedup_state_stream,
    )

    target = scratch_dir(spark, "stream_dedup_state_") + "/seen"
    return dedup_state_stream(spark, sf_dir, target)


STREAM_DEDUP_STATE_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


def stream_pivot_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 (r6): the reference's stream.ts triple->record pivot as a
    real watermarked streaming aggregation — triples melt in-stream
    (stack projection), records key by (event-time window, subject) and
    finalize exactly once when the watermark passes (no more triples
    for that subject can arrive). Bounded state: |open subjects|.
    Emitted set on a bounded source = the batch pivot restricted to
    o_orderdate <= max - 2 days, the full SQL oracle."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        pivot_records_stream,
    )

    out = scratch_dir(spark, "stream_pivot_") + "/records"
    return pivot_records_stream(spark, sf_dir, out)


# Day-windows finalize when window end (day + 1d) <= watermark
# (max o_orderdate - 1d delay); o_orderdate is day-grain so the
# ms-floor of Spark's watermark tracking is exact here.
STREAM_PIVOT_ORACLE = """
SELECT 'order:' || CAST(o_orderkey AS VARCHAR) AS subject,
       CAST(o_custkey AS VARCHAR) AS o_custkey,
       CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
       CAST(o_totalprice AS VARCHAR) AS o_totalprice,
       CAST(o_orderpriority AS VARCHAR) AS o_orderpriority
FROM orders
WHERE o_orderdate <= (SELECT MAX(o_orderdate) FROM orders) - INTERVAL 2 DAY
"""


def stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 (r6): streaming point-in-time SCD2 enrichment — the serving
    twin of A47. Stateless per micro-batch; epoch-keyed overwrite makes
    replays idempotent; converged output == the batch PIT join."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        scd2_enrich_stream,
    )

    root = scratch_dir(spark, "stream_scd2_")
    return scd2_enrich_stream(spark, sf_dir, root)


STREAM_SCD2_ENRICH_ORACLE = """
WITH versions AS (
  SELECT o_custkey AS user_id, o_orderkey,
         TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey % 30) * INTERVAL 1 DAY AS valid_from,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS tier_cents
  FROM orders
), picked AS (
  SELECT user_id, valid_from, tier_cents
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, valid_from
                                 ORDER BY o_orderkey DESC) AS rn
    FROM versions
  ) WHERE rn = 1
), dim AS (
  SELECT user_id, tier_cents, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to
  FROM picked
)
SELECT e.event_id, e.ts, e.user_id, e.value, d.tier_cents
FROM events e
JOIN dim d ON d.user_id = e.user_id
          AND d.valid_from <= e.ts
          AND (d.valid_to IS NULL OR e.ts < d.valid_to)
"""


def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15 (r6): LEFT OUTER stream-stream interval join — C8 plus the
    genuinely subtle outer semantics: matched pairs emit on arrival,
    and an unmatched view emits its NULL row only when the watermark
    proves no qualifying purchase can still arrive (state eviction at
    wm > v_ts + interval). On a bounded source the emitted set is
    deterministic: batch inner pairs ∪ unmatched views below the
    final eviction horizon (max ts, ms-floored, - delay - interval);
    views above it stay in state unemitted — they would flush on the
    next trigger of a continuous run."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        interval_join_outer_stream,
    )

    out = scratch_dir(spark, "stream_ivl_outer_") + "/joined"
    return interval_join_outer_stream(spark, sf_dir, out)


STREAM_INTERVAL_OUTER_ORACLE = """
WITH wm AS (
  SELECT (EPOCH_US(MAX(ts)) // 1000) * 1000 - 3600000000 AS wm_us
  FROM events
)
SELECT v.user_id, v.event_id AS view_event,
       p.event_id AS purchase_event,
       EPOCH_US(p.ts) - EPOCH_US(v.ts) AS gap_us
FROM events v JOIN events p
  ON v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.user_id = v.user_id
 AND EPOCH_US(p.ts) >= EPOCH_US(v.ts)
 AND EPOCH_US(p.ts) <= EPOCH_US(v.ts) + 3600000000
UNION ALL
SELECT v.user_id, v.event_id AS view_event,
       CAST(NULL AS BIGINT) AS purchase_event,
       CAST(NULL AS BIGINT) AS gap_us
FROM events v
WHERE v.event_type = 'view'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
      AND EPOCH_US(p.ts) >= EPOCH_US(v.ts)
      AND EPOCH_US(p.ts) <= EPOCH_US(v.ts) + 3600000000)
  AND EPOCH_US(v.ts) < (SELECT wm_us FROM wm) - 3600000000
"""


def stream_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16 (r6): streaming GAP FILL — a custom stateful operator that
    emits rows for ABSENT data (zeros for empty hour buckets) as the
    watermark finalizes them, per event type. Batch twin = B41."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        gap_fill_stream,
    )

    return gap_fill_stream(spark, sf_dir)


# Per type: every hour bucket from the type's first observed hour up to
# the final watermark horizon (bucket end <= ms-floored max ts - 1h),
# zero-filled. EPOCH_US + integer floor keeps the horizon exact.
STREAM_GAP_FILL_ORACLE = """
WITH wm AS (
  SELECT (EPOCH_US(MAX(ts)) // 1000) * 1000 - 3600000000 AS wm_us FROM events
), horizon AS (
  SELECT TIMESTAMP '1970-01-01 00:00:00'
         + ((wm_us - 3600000000) // 3600000000) * INTERVAL 1 HOUR AS hi
  FROM wm
), tb AS (
  SELECT event_type, DATE_TRUNC('hour', MIN(ts)) AS lo FROM events GROUP BY 1
), spine AS (
  SELECT tb.event_type, UNNEST(generate_series(tb.lo, horizon.hi,
                                               INTERVAL 1 HOUR)) AS hour
  FROM tb, horizon
  WHERE tb.lo <= horizon.hi
), hourly AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT s.event_type, s.hour, CAST(COALESCE(h.n, 0) AS BIGINT) AS n
FROM spine s LEFT JOIN hourly h
  ON h.event_type = s.event_type AND h.hour = s.hour
"""


def stream_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17 (r6): EXACT distinct users per hour window in streaming —
    the chained-stateful shape (watermarked dedup on (window, user)
    feeding the windowed count; Spark 4 multi-stateful). Exactness is
    the point: approx_count_distinct is the usual streaming
    compromise, and both stages' state stays horizon-bounded."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        windowed_distinct_stream,
    )

    out = scratch_dir(spark, "stream_wdist_") + "/agg"
    return windowed_distinct_stream(spark, sf_dir, out)


STREAM_WINDOWED_DISTINCT_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS window_start,
       COUNT(DISTINCT user_id) AS n_distinct_users
FROM events
GROUP BY 1
HAVING window_start <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
"""


def stream_agg_retractable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18 (r6): streaming CDC aggregate maintenance with RETRACTIONS —
    C9's summary-delta with signed multiplicities (the streaming twin
    of A52): deletes fold in as negated partials, zero-count users
    leave the state, epoch guard against replays. Converged state ==
    the batch aggregate over surviving rows (full SQL oracle)."""
    from prefect_flow_arc_kg_postgres_etl_spark.streaming.sync import (
        agg_retractable_stream,
    )

    target = scratch_dir(spark, "stream_retract_") + "/state"
    return agg_retractable_stream(spark, sf_dir, target)


STREAM_AGG_RETRACT_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS total_value
FROM events
WHERE value <= 150
GROUP BY user_id
"""
