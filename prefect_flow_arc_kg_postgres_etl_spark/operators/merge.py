"""Merge/load semantics — the reference's database.ts, Spark-first.

The reference stages batches into temp tables and issues SQL MERGE /
INSERT ON CONFLICT / TRUNCATE+INSERT / clear-then-insert per table
(typescript/src/database.ts:168-254), ordered by FK dependencies
(2_database_load.ts + queries/sql/get_dependent_tables.sql).

Spark redesign: merges are declarative set operations —
- upsert        = union + per-PK window dedup, source wins. ONE shuffle
                  on the PK; no global sort; map-side partial nothing to
                  combine but AQE coalesces. At 100 TB the PK hash
                  partitioning is the same work MERGE would do anyway.
- truncate+insert = the source IS the result (overwrite write).
- clear-then-insert = anti-join target on the group key, union source
                  (database.ts:186-212 intellectual_entity_id /
                  organization_id path).
- orphan cleanup  = left-anti join on the FK (database.ts:300-355).
- FK order        = metadata toposort; levels can merge in parallel.
"""

from __future__ import annotations

from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE INTO target USING source ON keys: matched -> update (source
    row replaces target row), not matched -> insert.

    database.ts:214-222. Implemented as priority-union + row_number over
    the PK: one hash shuffle, deterministic, idempotent (re-running with
    the same source converges — test_merge_convergence).
    """
    cols = target.columns
    tagged = source.select(*cols).withColumn("_src", F.lit(0)).unionByName(
        target.select(*cols).withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(F.col("_src"))
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )


def truncate_insert(source: DataFrame, columns: list[str]) -> DataFrame:
    """Full-sync path (database.ts:179-184): truncate + bulk insert ==
    the staged source projected to the target schema."""
    return source.select(*columns)


def clear_and_insert(
    target: DataFrame, source: DataFrame, group_key: str
) -> DataFrame:
    """Multi-value-table merge (database.ts:186-212): delete every target
    row whose group key appears in the source, then insert all source
    rows. Left-anti join + union; the anti join broadcasts the distinct
    source keys when small (Catalyst decides)."""
    keys = source.select(group_key).distinct()
    kept = target.join(keys, on=group_key, how="left_anti")
    return kept.unionByName(source.select(*target.columns))


def orphan_cleanup(
    child: DataFrame, parent: DataFrame, fk: str, parent_key: str
) -> DataFrame:
    """Remove child rows whose FK no longer resolves
    (database.ts:300-326 TEMP_deleteOrphanedTempRepresentation).
    NULL FKs are legal and kept, as in the reference."""
    parents = parent.select(F.col(parent_key).alias(fk)).distinct()
    resolved = child.filter(F.col(fk).isNotNull()).join(
        parents, on=fk, how="left_semi"
    )
    return child.filter(F.col(fk).isNull()).unionByName(resolved)


def delete_flagged(
    entities: DataFrame,
    fragments: DataFrame,
    entity_key: str,
    fragment_fk: str,
    flag: str = "is_deleted",
) -> tuple[DataFrame, DataFrame]:
    """Delete processing (flows/arc_db_delete_flow.py:34-49): drop
    entities referenced by a flagged fragment, then drop flagged
    fragments. Returns (entities', fragments')."""
    flagged_keys = (
        fragments.filter(F.col(flag))
        .select(F.col(fragment_fk).alias(entity_key))
        .distinct()
    )
    ents = entities.join(flagged_keys, on=entity_key, how="left_anti")
    frags = fragments.filter(~F.col(flag) | F.col(flag).isNull())
    return ents, frags


def scd2_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    effective: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """History-preserving merge (slowly-changing-dimension type 2) —
    the temporal form of the reference's MERGE (database.ts:214-222)
    for stores that must keep superseded versions instead of
    overwriting them (the reference tracks ``updated_at`` per row; SCD2
    is what that becomes when history is retained).

    Contract: ``target`` rows carry [cols..., valid_from, valid_to]
    with ``valid_to IS NULL`` marking the current version; ``source``
    rows carry [cols..., valid_from] (their effective date). Per key:

    - current target rows matched by the source CLOSE (valid_to :=
      source effective date);
    - historical target rows (valid_to already set) pass through;
    - every source row INSERTS as the new current version.

    A source batch may stage SEVERAL versions of one key (e.g. two
    effective dates in one sync window): a bare key join would then
    attach every source row to every target row and duplicate the
    history (SQL MERGE rejects exactly this). Per key the EARLIEST
    staged effective date closes the current row (the moment its
    validity actually ended), and every staged version inserts with
    each non-final version closed by its successor — the emitted
    chain is gap-free and overlap-free history. Equal effective
    dates within a key break ties deterministically on the row-image
    hash (arbitrary but stable: the merge stays idempotent across
    runs and partitionings). PRECONDITION (the incremental-sync
    invariant): staged effectives postdate the matched current
    version's valid_from — a staged date at-or-before it is a
    bitemporal correction this operator does not attempt; the close
    clamps to valid_from (never an inverted interval) and such
    batches belong to a history-repair flow.

    One shuffle (the join on the PKs; the per-key window shares its
    partitioning); the conditional close is a projection. At 100 TB
    the target should be bucketed on ``keys`` so repeated merges
    co-locate — same layout advice as ``upsert``."""
    eff = (
        source.groupBy(*[F.col(k) for k in keys])
        .agg(F.min(effective).alias("_eff"))
    )
    closed = (
        target.join(eff, on=keys, how="left")
        .withColumn(
            valid_to,
            F.when(
                F.col(valid_to).isNull() & F.col("_eff").isNotNull(),
                F.greatest(F.col("_eff"), F.col(effective)),
            ).otherwise(F.col(valid_to)),
        )
        .drop("_eff")
    )
    to_type = dict(target.dtypes)[valid_to]
    tiebreak = F.xxhash64(*[F.col(c) for c in source.columns])
    succ = Window.partitionBy(*keys).orderBy(F.col(effective), tiebreak)
    new_versions = (
        source.withColumn("_next_eff", F.lead(effective).over(succ))
        .withColumn(valid_to, F.col("_next_eff").cast(to_type))
        .drop("_next_eff")
        .select(*target.columns)
    )
    return closed.unionByName(new_versions)


def fk_merge_order(dependencies: dict[str, set[str]]) -> list[list[str]]:
    """Topological merge levels over the FK graph
    (2_database_load.ts / get_dependent_tables.sql): each level's tables
    have all parents merged and can run as PARALLEL Spark jobs.

    ``dependencies[t]`` = set of tables t references (must merge first).
    Pure driver-side metadata — no data motion.
    """
    ts = TopologicalSorter(dependencies)
    ts.prepare()
    levels: list[list[str]] = []
    while ts.is_active():
        ready = sorted(ts.get_ready())
        if not ready:
            break
        levels.append(list(ready))
        ts.done(*ready)
    return levels


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the (large, skewed) left side gets a
    random-salt component on the key; the right side is replicated
    ``salt`` ways so every salted partition finds its match. Turns one
    hot key's partition into ``salt`` even ones.

    AQE's skew-join handles most cases at runtime; explicit salting is
    for the pathological keys AQE can't split (a single key larger than
    a partition). The salt is derived from a hash of the whole left row
    (deterministic, no rand()) so repeated runs produce identical
    plans/results."""
    # Replicating the right side is only sound when unmatched RIGHT rows
    # are never emitted: an outer-right/full join would emit each
    # unmatched right row ``salt`` times, and right-side null extension
    # changes shape. Guard the semantics instead of silently corrupting.
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — right-side replication "
            f"duplicates unmatched right rows under outer modes; use {sorted(allowed)}"
        )
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l_salted = left.withColumn("_salt", lsalt.cast("int"))
    r_salted = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l_salted.join(r_salted, on=[key, "_salt"], how=how).drop("_salt")


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
) -> DataFrame:
    """Summary-delta maintenance of an algebraic aggregate (the
    materialized-view refresh classic): ``state`` holds per-group
    partial aggregates (``count_col`` + one running sum per
    ``sum_cols``), ``delta`` is NEW raw rows; the refreshed state is
    state ⊎ aggregate(delta), merged group-wise by adding partials.

    Why this shape at 100 TB: the base FACT is never re-scanned — the
    refresh reads the state table (|groups| rows, orders of magnitude
    smaller than the fact) and the delta (small by definition of
    incremental). Two hash aggregations, each map-side combining:
    delta rows collapse to per-group partials BEFORE touching the
    state, then one union + re-sum merges them — sums and counts are
    commutative monoids, so merging partials is exact for every
    algebraic aggregate (avg/stddev reconstruct from (sum, sum_sq,
    n) without ever seeing raw history again).

    ``delta`` must carry the raw columns named in ``sum_cols``;
    ``state`` must already carry them as summed columns of the same
    names plus ``count_col``."""
    delta_agg = delta.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(count_col),
        *[F.sum(c).alias(c) for c in sum_cols],
    )
    return (
        state.select(*keys, count_col, *sum_cols)
        .unionByName(delta_agg)
        .groupBy(*keys)
        .agg(
            F.sum(count_col).alias(count_col),
            *[F.sum(c).alias(c) for c in sum_cols],
        )
    )


def upsert_conditional(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str],
    condition,
) -> DataFrame:
    """Conditional PARTIAL-update merge — the full SQL MERGE form
    ``WHEN MATCHED AND <condition> THEN UPDATE SET <subset>
      WHEN NOT MATCHED THEN INSERT *``
    (database.ts:214-222 is the unconditional whole-row special case).

    Per key: a matched target row takes the source's ``update_cols``
    ONLY when ``condition(src, tgt)`` holds (all other columns retain
    their target values — the partial update); a matched row failing
    the condition passes through untouched; unmatched source rows
    insert whole. ONE full-outer hash join on the keys — same shuffle
    budget as the plain upsert.

    ``condition`` is a callable (src_col, tgt_col getters) -> Column so
    the cross-row predicate (e.g. "source is newer") is expressed once
    against both sides of the join. Precondition (as in SQL MERGE): the
    source has at most one row per key — enforced here with a loud
    failure instead of silent nondeterminism.
    """
    cols = target.columns
    src = source.select(*cols)
    # SQL MERGE errors on a multi-row source key; mirror that with a
    # runtime raise_error wired into the JOIN key itself (an unused
    # assert column would be pruned by Catalyst). The count window keys
    # on the same columns as the join, so its shuffle partitioning is
    # reused — no extra exchange.
    w = Window.partitionBy(*keys)
    src = src.withColumn("_nk", F.count(F.lit(1)).over(w))
    guarded_key = F.when(
        F.col("_nk") > 1,
        F.raise_error(F.lit("upsert_conditional: duplicate key in merge source")),
    ).otherwise(F.col(keys[0]))
    s = src.select(
        guarded_key.alias(f"_sk_{keys[0]}"),
        *[F.col(k).alias(f"_sk_{k}") for k in keys[1:]],
        *[F.col(c).alias(f"_s_{c}") for c in cols],
        F.lit(1).alias("_sp"),
    )
    # Side-presence MARKERS, not key nullability: a target row whose
    # merge-key column is legitimately NULL would read as "source-only"
    # under a keys[0]-IS-NULL test and be overwritten with the absent
    # source side's NULLs (ADVICE r6). _tp/_sp are non-null exactly
    # when that side of the full-outer join is present, whatever the
    # key values are. (NULL keys never MATCH — SQL equality — they
    # just must not be misclassified.)
    t = target.withColumn("_tp", F.lit(1))
    joined = t.join(
        s, [t[k] == F.col(f"_sk_{k}") for k in keys], "full_outer"
    )
    matched = F.col("_sp").isNotNull() & F.col("_tp").isNotNull()
    src_only = F.col("_tp").isNull()
    cond = condition(
        lambda c: F.col(f"_s_{c}"), lambda c: F.col(c)
    )
    out_cols = []
    for c in cols:
        take_src = src_only | (matched & cond & F.lit(c in update_cols or c in keys))
        out_cols.append(
            F.when(take_src, F.col(f"_s_{c}")).otherwise(F.col(c)).alias(c)
        )
    return joined.select(*out_cols)


def merge_agg_state_signed(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    sign_col: str = "sign",
    count_col: str = "n",
) -> DataFrame:
    """``merge_agg_state`` for CDC deltas that carry RETRACTIONS: each
    delta row has ``sign_col`` +1 (insert) or -1 (retract) and its
    aggregate contribution merges SIGNED — counts and sums are abelian
    groups, not just monoids, so deletions fold in by addition of
    negated partials, with no re-scan of the base fact. Groups whose
    live count reaches zero leave the view (and a fully-retracted
    group's sums are exactly zero when the partials are exact
    integers — use cents, never doubles, or a retracted group can
    leave a last-ulp residue that keeps it alive). Same plan shape as
    merge_agg_state: two map-side-combining hash aggregations, one
    shuffle on the group key."""
    delta_agg = delta.groupBy(*keys).agg(
        F.sum(sign_col).alias(count_col),
        *[F.sum(F.col(sign_col) * F.col(c)).alias(c) for c in sum_cols],
    )
    return (
        state.select(*keys, count_col, *sum_cols)
        .unionByName(delta_agg)
        .groupBy(*keys)
        .agg(
            F.sum(count_col).alias(count_col),
            *[F.sum(c).alias(c) for c in sum_cols],
        )
        .filter(F.col(count_col) > 0)
    )
