"""End-to-end sync flow — the reference's main_flow.py data path,
Spark-native.

Reference orchestration (flows/main_flow.py): full vs incremental
(``full_sync`` / ``last_modified``), per-table loads merged in
FK-dependency order (queries/sql/get_dependent_tables.sql), then the
index build (arc_db_load_index_tables_flow.py) and the search feed.
The Prefect plumbing (deployment scheduling, skip-if-running) is not
data processing and stays with whatever scheduler runs this; the flow
below is the data path itself:

  scope (SINCE filter) -> merge per table in topo order
  (tables within a level are independent -> submitted concurrently;
  Spark's scheduler interleaves the jobs) -> rebuild index documents
  -> emit the ES bulk feed.

Full sync is truncate-insert (overwrite); incremental goes through
stage_then_merge: the distributed PK upsert, or clear-then-insert on
the group key for a multi-value table, landed in one write per table.
A table with no last-modified column is re-upserted in full on
incremental runs — idempotent, converges (the reference treats those
the same way).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.operators.index_documents import (
    build_index_documents,
)
from prefect_flow_arc_kg_postgres_etl_spark.operators import merge as M
from prefect_flow_arc_kg_postgres_etl_spark.operators.merge import fk_merge_order
from prefect_flow_arc_kg_postgres_etl_spark.sinks.es_bulk import write_bulk_ndjson
from prefect_flow_arc_kg_postgres_etl_spark.sinks.jdbc import stage_then_merge
from prefect_flow_arc_kg_postgres_etl_spark.sinks.observed import (
    observed_counts,
    observed_write,
    write_observed,
)
from prefect_flow_arc_kg_postgres_etl_spark.sources import store
from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

# Primary keys (merge keys) per harness table.
TABLE_PK: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
}

# Last-modified analogue per table (the SINCE scope column —
# configuration.ts SINCE / sparql ?since). Tables absent here have no
# modification timestamp and are re-upserted in full.
TABLE_MODIFIED: dict[str, str] = {
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
    "events": "ts",
}

# Multi-value tables: no row-level PK; merged with clear-then-insert on
# a group key (database.ts:186-212 — the reference's
# intellectual_entity_id / organization_id multi-value path). The
# harness lineitem plays that role: (l_orderkey, l_linenumber) is not
# unique in the synthetic data, so lines are a multi-value set per
# order.
TABLE_MULTIVALUE: dict[str, str] = {
    "lineitem": "l_orderkey",
}

# FK dependency graph (child -> parents), the input to the topo sort
# (queries/sql/get_dependent_tables.sql).
TABLE_DEPS: dict[str, set[str]] = {
    "region": set(),
    "nation": {"region"},
    "customer": {"nation"},
    "supplier": {"nation"},
    "part": set(),
    "orders": {"customer"},
    "lineitem": {"orders", "part", "supplier"},
    "events": set(),
}


# Organisation scoping (configuration.ts OR_IDS): the harness org
# analogue is the nation key; these are the columns that carry it.
TABLE_ORG: dict[str, str] = {
    "nation": "n_nationkey",
    "customer": "c_nationkey",
    "supplier": "s_nationkey",
}

# FK column map (child column -> parent table/column) — the edge labels
# of TABLE_DEPS, used by validate_store to check referential integrity
# of the converged store the way the reference TRUSTS its FK merge
# order to preserve it (get_dependent_tables.sql).
TABLE_FK: dict[str, list[tuple[str, str, str]]] = {
    "nation": [("n_regionkey", "region", "r_regionkey")],
    "customer": [("c_nationkey", "nation", "n_nationkey")],
    "supplier": [("s_nationkey", "nation", "n_nationkey")],
    "orders": [("o_custkey", "customer", "c_custkey")],
    "lineitem": [
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
}


def run_exclusive(lock_dir, name, fn, ttl_seconds=6 * 3600):
    """Skip-if-running gate around a flow invocation — the engine-side
    form of the reference's deployment guard (flows/main_flow.py:31-42
    checks `check_deployment_running_flows(max_running=1)` and skips;
    the Prefect scheduling itself stays with the orchestrator, but the
    at-most-one-running INVARIANT is the data path's to keep: two
    concurrent full syncs interleaving truncate+insert corrupt the
    store no matter who scheduled them).

    Semantics: one ``store.try_lock`` on ``<lock_dir>/<name>.running``
    (the store's commit-lock file, tried once instead of waited on); if
    held, return ``(False, None)`` — skipped, exactly the reference's
    warning-and-return. A lock older than ``ttl_seconds`` is a crashed
    run and is taken over. On success run ``fn()`` and return
    ``(True, result)``; the lock releases only if still owned."""
    import os

    os.makedirs(lock_dir, exist_ok=True)
    lock = os.path.join(lock_dir, f"{name}.running")
    token = store.try_lock(lock, ttl_seconds)
    if token is None:
        return False, None
    try:
        return True, fn()
    finally:
        store.release_lock(lock, token)


def check_blocking(lock_dir, deployments, ttl_seconds=6 * 3600):
    """Cross-deployment block check — the engine-side form of the
    reference's `check_deployment_blocking` (flows/main_flow.py:38-52:
    the main flow lists its sibling deployments — kg_view, db_load,
    indexer, alto — and SKIPS when any is running, EXCEPT siblings in
    full-sync mode, which are 'never blocking').

    ``deployments`` is a list of ``(name, full_sync)`` pairs — the
    same declaration the reference makes with DeploymentModel.full_sync.
    Returns the names currently running (live ``<name>.running`` lock
    under ``lock_dir`` — the very locks run_exclusive writes, so the
    registry is whatever shared storage the locks live on), excluding
    full-sync-mode siblings and stale locks (a crashed run past
    ``ttl_seconds`` blocks nobody)."""
    import os
    import time

    running: list[str] = []
    for name, full_sync in deployments:
        if full_sync:
            continue  # never blocking in full-sync mode
        lock = os.path.join(lock_dir, f"{name}.running")
        try:
            fresh = time.time() - os.stat(lock).st_mtime <= ttl_seconds
        except OSError:
            continue  # no lock: not running
        if fresh:
            running.append(name)
    return running


def run_blocking_aware(
    lock_dir,
    name,
    fn,
    blocking=(),
    full_sync=False,
    ttl_seconds=6 * 3600,
):
    """The reference main flow's full admission gate composed: skip if
    THIS deployment is already running (max_running=1,
    main_flow.py:31-36 — run_exclusive), then skip if any declared
    sibling deployment is running — UNLESS this run is a full sync
    ('deployments are never blocking if they are in full sync mode'
    applies to the blockers via check_blocking; `and not full_sync`
    on the caller side is mirrored here for the run itself,
    main_flow.py:50).

    Returns ``(ran, result, blocked_by)``: ``(True, fn(), [])`` on
    admission, ``(False, None, [names])`` when blocked by siblings,
    ``(False, None, [name])`` when self-gated. The sibling check runs
    INSIDE the self-lock so a sibling starting between check and run
    cannot interleave with this run's own admission decision."""

    def gated():
        blocked = (
            [] if full_sync else check_blocking(lock_dir, blocking, ttl_seconds)
        )
        return (blocked, None) if blocked else ([], fn())

    ran, out = run_exclusive(lock_dir, name, gated, ttl_seconds)
    if not ran:
        return False, None, [name]
    blocked, result = out
    if blocked:
        return False, None, blocked
    return True, result, []


def validate_store(
    spark: SparkSession,
    store_dir: str,
    tables: list[str] | None = None,
) -> dict[str, dict[str, int]]:
    """Post-merge constraint validation of the converged store: PK
    uniqueness per table (skipping multi-value tables, which have no
    row PK by design) and FK orphans along every TABLE_FK edge whose
    parent is in scope. Each check is the minimal plan (count-agg over
    keys / LEFT ANTI join); a parent outside the run's table scope is
    skipped, not failed. Returns {table: {check: violation_count}} —
    all zeros on a healthy store."""
    wanted = tables or list(TABLE_PK)
    out: dict[str, dict[str, int]] = {}
    for name in wanted:
        t = store.read_table(spark, f"{store_dir}/{name}.parquet")
        checks: dict[str, int] = {}
        if name not in TABLE_MULTIVALUE:
            pk = TABLE_PK[name]
            checks["pk_dup_keys"] = (
                t.groupBy(*pk)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .count()
            )
        for col, parent, pcol in TABLE_FK.get(name, []):
            if parent not in wanted:
                continue
            p = store.read_table(
                spark, f"{store_dir}/{parent}.parquet"
            ).select(pcol)
            # SQL FK semantics: a NULL child key satisfies the
            # constraint (it references nothing) — only NON-NULL keys
            # without a parent are orphans; a bare left_anti would
            # count every NULL row as a violation.
            checks[f"fk_orphans_{col}"] = (
                t.select(col)
                .filter(F.col(col).isNotNull())
                .join(p, t[col] == p[pcol], "left_anti")
                .count()
            )
        out[name] = checks
    return out


class RunStats(dict):
    """Run accounting (the Stats surface of typescript/src/stats.ts:1-17
    — processed/failed counts and per-statement progress). Behaves as
    the per-table merged-rowcount mapping the reference logs, plus:

    - ``tables``: per-table detail — staged rows, merged rows, status
      ('merged' | 'failed'), and the error string for failures.
    - ``merged_tables`` / ``failed_tables``: run totals.

    A failed table does not abort the run: remaining tables still merge
    (FK order only sequences parents first; the store is per-table
    parquet, so a missing parent degrades that child's FK integrity but
    not the load), and the failure is recorded here for the operator —
    at 100 TB you retry the failed tables, not the run."""

    def __init__(self):
        super().__init__()
        self.tables: dict[str, dict] = {}

    @property
    def merged_tables(self) -> int:
        return sum(1 for t in self.tables.values() if t["status"] == "merged")

    @property
    def failed_tables(self) -> int:
        return sum(1 for t in self.tables.values() if t["status"] == "failed")


def sync_flow(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    full_sync: bool = True,
    since=None,
    or_ids: list[int] | None = None,
    tables: list[str] | None = None,
    build_index: bool = True,
    validate: bool = False,
    record_limit: int | None = None,
) -> RunStats:
    """Run one sync: load every table from ``sf_dir`` into the store at
    ``store_dir`` (full = overwrite, incremental = PK upsert of rows
    modified after ``since``), then rebuild the index documents and the
    ES bulk feed from the converged store. ``or_ids`` restricts the run
    to an organisation set (configuration.ts OR_IDS) — an isin filter
    pushed to every scan that carries the org key. Returns per-table
    row counts after merge plus staged/merged/failed accounting
    (``RunStats``).

    Every count is observed in the write that lands it (one
    ``Observation`` per counted frame), so reporting costs no Spark
    job: the full-sync write, the batch and the merged table of an
    incremental merge (both in the merge's one write), and the index
    feed. ``index_documents`` is the number of lines this run wrote to
    the feed, two per document (every document is a ``to_json`` of a
    struct, never null). It is not the feed directory's total: the
    feed is overwritten per organisation, and an organisation
    partition an earlier run left in place is not counted.

    ``since="auto"`` takes each table's watermark from the STORE
    itself: the max of its modified column, observed in the write that
    landed the live version (the full-sync write or the incremental
    merge's) and stored with that version (``store.version_summary``),
    so reading it is a file read, not a Spark job. The store is its own
    high-water mark, so the scheduler needs no external watermark
    bookkeeping and a crashed run resumes correctly. A live version
    with no recorded watermark (a legacy store, or a version another
    writer landed through ``store.write_table``) re-upserts the table
    in full that night: exact, because the merges are idempotent, and
    its merge records the watermark for the next night.
    Auto watermarks filter INCLUSIVELY (>=): rows that arrive later
    WITH the landed max timestamp would otherwise be skipped forever
    (max never advances past them — a wide window for date-granularity
    modified columns), and re-merging the boundary rows is free
    because the upsert/clear-and-insert merges are idempotent. An
    explicit ``since`` keeps the reference's strict ``>`` contract.

    ``record_limit`` caps each table's STAGED batch for debug runs —
    the reference's ``record_limit``/``debug_mode`` sampling knob
    (flows/arc_db_load_flow.py:44): a per-table LIMIT applied at
    stage time after the org/since filters, so a smoke run touches a
    bounded row count per table while the merge semantics stay
    identical. An incremental run caps a multi-value table at that
    many GROUPS and stages every row of each: clear-and-insert
    replaces whole groups, so a row cap would delete the rows it cut.
    ``None`` (production) changes nothing."""
    wanted = tables or list(TABLE_PK)
    deps = {t: TABLE_DEPS[t] & set(wanted) for t in wanted}
    stats = RunStats()

    def since_for(name: str):
        if since != "auto":
            return since
        if name not in TABLE_MODIFIED:
            return None
        # None when nothing landed yet or the live version recorded no
        # watermark: the table then loads in full.
        recorded = store.version_summary(f"{store_dir}/{name}.parquet")
        return recorded.get("max", {}).get(TABLE_MODIFIED[name])

    def sync_table(name: str) -> tuple[int, int]:
        """Returns (staged_rows, merged_rows), as the writes observed."""
        src = load_table(spark, sf_dir, name)
        if or_ids is not None and name in TABLE_ORG:
            src = src.filter(F.col(TABLE_ORG[name]).isin(or_ids))
        path = f"{store_dir}/{name}.parquet"
        watermark = TABLE_MODIFIED.get(name)
        if full_sync:
            if record_limit is not None:
                src = src.limit(record_limit)
            n = write_observed(src, path, watermark)
            return n, n
        s = since_for(name)
        if s is not None and name in TABLE_MODIFIED:
            cmp = F.col(TABLE_MODIFIED[name])
            changed = src.filter(
                cmp >= F.lit(s) if since == "auto" else cmp > F.lit(s)
            )
            if name in TABLE_MULTIVALUE:
                # A modified group re-emits ALL its rows (the
                # reference's CONSTRUCT does the same for an updated
                # entity's multi-value triples).
                key = TABLE_MULTIVALUE[name]
                changed = src.join(
                    changed.select(key).distinct(), on=key, how="left_semi"
                )
            src = changed
        merge = None
        if name in TABLE_MULTIVALUE:
            # Multi-value tables merge by clear-then-insert on the group
            # key instead of the PK upsert.
            def merge(target: DataFrame, batch: DataFrame) -> DataFrame:
                return M.clear_and_insert(target, batch, TABLE_MULTIVALUE[name])

        if record_limit is not None and name in TABLE_MULTIVALUE:
            # Whole groups only: clear_and_insert replaces every row of
            # each group the batch touches. Ordered, so each read of
            # the batch (group keys, then rows) picks the same groups.
            key = TABLE_MULTIVALUE[name]
            src = src.join(
                src.select(key).distinct().orderBy(key).limit(record_limit),
                on=key,
                how="left_semi",
            )
        elif record_limit is not None:
            src = src.limit(record_limit)
        landed = stage_then_merge(
            spark, src, path, TABLE_PK[name], merge, watermark
        )
        return landed.staged, landed.merged

    def run_table(name: str) -> tuple[str, int, int, str | None]:
        try:
            staged, merged = sync_table(name)
            return name, staged, merged, None
        except Exception as e:  # recorded, not raised — see RunStats
            return name, 0, 0, f"{type(e).__name__}: {e}"

    # Merge level-by-level in FK order; tables inside a level have no
    # mutual dependency, so their Spark jobs run concurrently (separate
    # threads -> the scheduler interleaves stages across cores).
    for level in fk_merge_order(deps):
        with ThreadPoolExecutor(max_workers=len(level)) as pool:
            for name, staged, merged, err in pool.map(run_table, level):
                if err is None:
                    stats[name] = merged
                stats.tables[name] = {
                    "staged": staged,
                    "merged": merged,
                    "status": "merged" if err is None else "failed",
                    "error": err,
                }

    if build_index and {"customer", "nation", "region", "orders"} <= set(wanted):
        feed = f"{store_dir}/_index/es_bulk"
        docs = observed_write(
            build_index_documents(spark, store_dir, as_json=True),
            lambda d: write_bulk_ndjson(d, feed),
        )
        # an action line and a source line per document
        stats["index_documents"] = 2 * docs
    if validate:
        # Post-merge DQ gate (validate_store): PK + FK checks over the
        # CONVERGED store, recorded per table; dq_violations is the run
        # total an operator alerts on. Opt-in — each check is an extra
        # (minimal) pass over the store. Only tables that actually
        # merged THIS run validate — and an all-failed run validates
        # nothing (the empty list must not fall through
        # to validate_store's validate-everything default).
        merged_tables = [
            n for n in wanted if stats.tables[n]["status"] == "merged"
        ]
        violations = (
            validate_store(spark, store_dir, merged_tables)
            if merged_tables
            else {}
        )
        for name, checks in violations.items():
            stats.tables[name]["violations"] = checks
        stats["dq_violations"] = sum(
            v for checks in violations.values() for v in checks.values()
        )
    return stats


def curation_flow(
    spark: SparkSession,
    sf_dir: str,
    quality_min: float = 0.3,
    languages: tuple[str, ...] = ("en", "de"),
    mixture: dict[str, float] | None = None,
    benchmark: DataFrame | None = None,
    pack_budget: int = 2048,
    n_shards: int = 8,
    span_dedup: bool = False,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.99,
) -> tuple[DataFrame, RunStats]:
    """The D-block counterpart of ``sync_flow``: one composed
    training-data curation run over the documents corpus —

        quality gate -> language filter -> exact dedup survivorship
        -> optional span dedup (D59: duplicated 8-word spans removed
        from surviving docs' text, fully-covered docs dropped)
        -> optional semantic dedup (D61b: embedding-keyed SemDeDup,
        LSH tier; docs without an embedding row pass through)
        -> optional benchmark decontamination -> optional
        target-mixture sampling -> sequence packing -> shard layout

    The scan-side stages (quality, language, token estimate) compose
    as COLUMN EXPRESSIONS on one corpus scan (operators/text.py
    exposes quality_expr/language_expr/bpe_estimate_expr exactly so a
    flow never join-backs a pure projection — three corpus scans and
    three doc_id shuffles saved vs composing the feature FRAMES); the
    shuffling stages (dedup survivorship, mixture counts, packing
    window, shard window) keep their member operators' shapes. Stage
    semantics are the oracle-checked operators'; per-stage survivor
    accounting rides RunStats (one count pass per noted stage).

    Returns (curated docs with pack/shard assignment, stats)."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.text import (
        bpe_estimate_expr,
        language_expr,
        quality_expr,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
        assign_shards,
        pack_sequences,
        sample_to_mixture,
    )
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import exact_dedup
    from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

    from prefect_flow_arc_kg_postgres_etl_spark.operators.text import LANG_MARKERS

    # The allowlist must be drawn from what the detector can emit —
    # an undetectable code (say 'zh' with Latin-marker language ID)
    # would silently drop that whole language partition from the
    # curated set, the worst kind of training-mix bug.
    unknown = set(languages) - set(LANG_MARKERS) - {"und"}
    if unknown:
        raise ValueError(
            f"languages {sorted(unknown)} are not detectable by "
            f"language_expr (markers exist for {sorted(LANG_MARKERS)})"
        )

    stats = RunStats()

    def note(stage: str, df: DataFrame) -> None:
        # Distinct status vocabulary: nothing here is 'merged' into a
        # store table, and RunStats.merged_tables must stay 0 for a
        # curation run (it counts status == 'merged').
        stats.tables[stage] = {
            "staged": df.count(),
            "merged": -1,
            "status": "curated",
            "error": None,
        }

    docs = load_table(spark, sf_dir, "documents")
    note("input", docs)

    score, *_ = quality_expr("text")
    kept = (
        docs.withColumn("quality", score)
        .withColumn("detected_lang", language_expr("text"))
        .filter(
            (F.col("quality") >= quality_min)
            & F.col("detected_lang").isin(*languages)
        )
    )
    note("quality_lang", kept)

    keepers = exact_dedup(kept).select(F.col("keep_id").alias("doc_id"))
    survivors = kept.join(keepers, "doc_id", "left_semi")
    note("dedup", survivors)

    if span_dedup:
        # D59 composed: surviving docs' text is rewritten to the
        # uncovered words (duplicated 8-word spans removed, global
        # first occurrence kept), and docs that end up FULLY covered
        # (dup_frac_e6 == 1e6 — pure re-posts of earlier spans) drop
        # out. Inner join: a 0-word doc yields no span row and drops,
        # same as the standalone operator's contract.
        from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
            span_dedup as _span_dedup_op,
        )

        spans = _span_dedup_op(survivors)
        survivors = survivors.drop("text").join(
            spans.filter(F.col("dup_frac_e6") < 1_000_000).select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
        note("span_dedup", survivors)

    if embeddings is not None:
        # D61b composed: SemDeDup's drop rule at the LSH scale tier
        # over a (doc_id, label, embedding) frame. ANTI-join on the
        # drop set so docs WITHOUT an embedding row pass through —
        # absence of an embedding is not evidence of duplication.
        # The embeddings frame is semi-joined to the CURRENT survivor
        # set first: the flow contract is standalone-operators-on-
        # survivors, and without the restriction a doc already
        # eliminated upstream (quality / language / exact / span
        # dedup) could still act as the kept representative, silently
        # dropping a surviving near-dup whose content then appears
        # nowhere in the output. Centroid distances and drop ranks are
        # therefore computed over survivors only — by design.
        from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
            semantic_dedup_lsh as _semantic_lsh_op,
        )

        surviving_embeddings = embeddings.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        drops = _semantic_lsh_op(
            surviving_embeddings, semantic_threshold, id_col="doc_id"
        ).filter(F.col("action") == "drop")
        survivors = survivors.join(
            drops.select("doc_id"), "doc_id", "left_anti"
        )
        note("semantic_dedup", survivors)

    if benchmark is not None:
        # Eval-set decontamination via the Bloom-prefiltered path —
        # inside a flow the eval split can be any size, which is
        # exactly decontaminate_bloom's regime (nothing larger than
        # the fixed filter broadcasts).
        from prefect_flow_arc_kg_postgres_etl_spark.operators.curation import (
            decontaminate_bloom,
        )

        survivors = decontaminate_bloom(survivors, benchmark)
        note("decontaminate", survivors)

    if mixture:
        survivors = sample_to_mixture(survivors, "source", mixture)
        note("mixture", survivors)

    # The final join references the survivor subtree three times
    # (select side, packing, sharding) and each note() is an action —
    # materialize ONCE so the corpus scan + dedup agg + semi-join
    # don't recompute per reference (same reasoning as
    # dedup.cluster_components' edge materialization).
    survivors = survivors.localCheckpoint(eager=True)

    packed = pack_sequences(
        survivors.select(
            "doc_id", "source", bpe_estimate_expr("text").alias("est_tokens")
        ),
        pack_budget,
        tokens_col="est_tokens",
        part_col="source",
    )
    sharded = assign_shards(packed.select("doc_id"), n_shards)
    out = (
        survivors.select("doc_id", "text", "lang", "source")
        .join(packed.select("doc_id", "tokens", "pack_id"), "doc_id")
        .join(sharded, "doc_id")
    )
    note("output", out)
    return out, stats


def ingest_flow(
    spark: SparkSession,
    store_path: str,
    batches: list[DataFrame],
    threshold: float = 0.8,
) -> tuple[DataFrame, RunStats]:
    """Incremental CORPUS GROWTH (r6) — the continuous form of
    ``curation_flow``'s one-shot dedup: each arriving batch dedups
    against the ALREADY-LANDED corpus (history wins — a landed doc is
    never evicted by a later near-copy, so training-set membership is
    stable across ingests) and within itself (smaller id wins), then
    the survivors append as the next store version. History is never
    re-paired (no history x history candidates), but each batch runs
    ``operators/dedup.incremental_dup_pairs``, which re-derives every
    history document's MinHash signature and gram set from the landed
    corpus: per-batch cost is linear in history. Only the
    persisted-index path (``plans/pipeline.dedup_incremental`` over
    ``incremental_dup_pairs_indexed``) probes a landed index instead.

    History-wins applies in BOTH id orientations (a batch doc dups a
    landed doc regardless of which id is smaller). The batch-invariance
    property ("N id-ordered batches == one batch == sequential greedy",
    pinned in tests/test_flows.py) additionally requires batches
    ordered by id; unordered batches still land a dup-free corpus, but
    which member of a cross-batch dup cluster survives then depends on
    arrival order — first arrival wins, by design.

    Returns (final corpus frame, RunStats): per batch, the rows that
    arrived (``staged``) and landed (``merged``), and under ``corpus``
    the rows the last write landed in all. Every count is observed in
    the write that lands the batch; none costs a pass of its own."""
    from prefect_flow_arc_kg_postgres_etl_spark.operators.dedup import (
        incremental_dup_pairs,
    )

    stats = RunStats()
    for i, batch in enumerate(batches):
        if store.table_exists(store_path):
            history = store.read_table(spark, store_path)
        else:
            history = None
        if history is not None and history.isEmpty():
            history = None
        if history is None:
            pairs = incremental_dup_pairs(
                batch.limit(0), batch, threshold
            )
        else:
            pairs = incremental_dup_pairs(history, batch, threshold)
        pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
        batch_ids = batch.select("doc_id")
        hist_ids = (
            history.select("doc_id") if history is not None else None
        )
        # Pairs are normalized doc_a < doc_b and touch >= 1 batch doc.
        # A pair with a HISTORY side is final in EITHER orientation:
        # history docs survived their own ingest, so the batch side
        # drops — including when the batch doc carries the SMALLER id
        # (r6 review: the one-sided rule silently landed such dups).
        if hist_ids is not None:
            hist_dropped = (
                pairs.join(
                    hist_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a"
                )
                .select(F.col("doc_b").alias("doc_id"))
                .unionByName(
                    pairs.join(
                        hist_ids.withColumnRenamed("doc_id", "doc_b"),
                        "doc_b",
                    ).select(F.col("doc_a").alias("doc_id"))
                )
                .distinct()
            )
            undecided = batch_ids.join(hist_dropped, "doc_id", "left_anti")
        else:
            undecided = batch_ids
        # In-batch resolution must be the SEQUENTIAL GREEDY (a dropped
        # doc cannot block its own partners — on a chain A-B, B-C the
        # greedy keeps A and C; the naive 'any smaller partner' rule
        # would wrongly drop C and break batch invariance). Distributed
        # form of the lexicographically-first MIS: each round, docs
        # with no smaller UNDECIDED partner are winners; their larger
        # partners drop; repeat on the shrinking remainder. Rounds =
        # dup-chain depth (tiny in practice); every round is two joins
        # over the (batch-bounded) pair set, never the corpus.
        bb = (
            pairs.join(
                undecided.withColumnRenamed("doc_id", "doc_a"), "doc_a"
            )
            .join(undecided.withColumnRenamed("doc_id", "doc_b"), "doc_b")
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        decided_survivors = None
        while bb.limit(1).count() > 0:
            blocked = bb.select(F.col("doc_b").alias("doc_id")).distinct()
            winners = undecided.join(blocked, "doc_id", "left_anti")
            losers = (
                bb.join(
                    winners.withColumnRenamed("doc_id", "doc_a"), "doc_a"
                )
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
            # Checkpoint winners: it feeds decided_survivors, losers
            # AND the next undecided — un-truncated, the plan grows
            # ~3x per round (exponential in chain depth; r6 review).
            winners = winners.localCheckpoint(eager=True)
            decided_survivors = (
                winners
                if decided_survivors is None
                else decided_survivors.unionByName(winners)
            )
            undecided = (
                undecided.join(winners, "doc_id", "left_anti")
                .join(losers, "doc_id", "left_anti")
                .localCheckpoint(eager=True)
            )
            bb = (
                bb.join(
                    undecided.withColumnRenamed("doc_id", "doc_a"), "doc_a"
                )
                .join(
                    undecided.withColumnRenamed("doc_id", "doc_b"), "doc_b"
                )
                .select("doc_a", "doc_b")
                .localCheckpoint(eager=True)
            )
        surviving_ids = (
            undecided
            if decided_survivors is None
            else decided_survivors.unionByName(undecided)
        )
        # Every batch row rides the write marked ``_kept`` (survivor)
        # or not, so the one observation above the left join counts
        # what arrived, what survived and the whole corpus; the write
        # keeps the survivors. (Under a semi join the observation
        # could be dropped with an empty side.) The counts cannot run
        # after the write: write_table prunes the previous version,
        # which the survivors' lineage still reads.
        landing = batch.join(
            surviving_ids.withColumn("_kept", F.lit(True)), "doc_id", "left"
        ).select(*batch.columns, "_kept", F.lit(True).alias("_batch"))
        if history is not None:
            landing = history.withColumns(
                {"_kept": F.lit(True), "_batch": F.lit(False)}
            ).unionByName(landing)
        counts = observed_counts(
            landing,
            lambda d: store.write_table(
                d.filter("_kept").drop("_kept", "_batch"), store_path
            ),
            staged=F.col("_batch"),
            merged=F.col("_batch") & F.col("_kept"),
            corpus=F.col("_kept"),
        )
        # status 'merged': ingested batches ARE merged into the store,
        # so RunStats.merged_tables counts them (unlike curation's pure
        # projections, which use 'curated' exactly so that total stays
        # 0).
        stats.tables[f"batch_{i}"] = {
            "staged": counts["staged"],
            "merged": counts["merged"],
            "status": "merged",
            "error": None,
        }
        corpus_rows = counts["corpus"]
    if not store.table_exists(store_path):
        # No batches and no pre-existing store: nothing to read and no
        # schema to synthesize an empty frame from — fail loudly
        # instead of raising PATH_NOT_FOUND from the parquet reader.
        raise ValueError(
            "ingest_flow: no batches ingested and no existing store at "
            f"{store_path!r}"
        )
    if batches:
        stats.tables["corpus"] = {
            "staged": -1,
            "merged": corpus_rows,
            "status": "merged",
            "error": None,
        }
    return store.read_table(spark, store_path), stats
