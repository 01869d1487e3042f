"""Versioned parquet table store — copy-on-write table landing.

The reference merges into live tables DB-side (database.ts:214-222
MERGE INTO); a filesystem store can't overwrite a parquet directory it
is currently reading from, and the naive workaround (write tmp dir,
re-read, rewrite the target) doubles write I/O per table per merge —
at 100 TB that is a second full pass over every landed byte.

Layout instead:

    <table>.parquet/
        v_1/ ... v_N/     parquet data, one directory per version
        _current          text file holding N (the live version)

A merge reads ``v_N``, writes ``v_{N+1}`` ONCE, then atomically swaps
the ``_current`` pointer (tmp file + ``os.replace``) and prunes old
versions. Readers resolve the pointer first, so a crash mid-write
leaves the previous version live (the half-written ``v_{N+1}`` is
replaced wholesale by the retry). Flat legacy directories (plain
parquet files, no ``_current``) read as version-less tables, and their
first merge converts them to the versioned layout.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_POINTER = "_current"
# A crashed commit_tables holder's lock is taken over after this many
# seconds; its half-committed versions (above the live pointer,
# unpinned by any manifest) become vacuum-reclaimable orphans.
_COMMIT_LOCK_TTL = 600.0


def current_version(table_path: str) -> int | None:
    """The live version number, or None for flat/absent tables."""
    try:
        with open(os.path.join(table_path, _POINTER)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def version_dir(table_path: str, version: int) -> str:
    return os.path.join(table_path, f"v_{version}")


def _read_parquet(
    spark: SparkSession, path: str, schema: StructType | None
) -> DataFrame:
    """A parquet scan leaf. A known ``schema`` skips the footer-reading
    job Spark otherwise fires to infer it."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_table(
    spark: SparkSession, table_path: str, schema: StructType | None = None
) -> DataFrame:
    """Read the live version (pointer-resolved), or the flat legacy
    layout when the table predates versioning."""
    v = current_version(table_path)
    if v is None:
        return _read_parquet(spark, table_path, schema)
    return _read_parquet(spark, version_dir(table_path, v), schema)


def table_exists(table_path: str) -> bool:
    """True when the path holds a versioned table (live pointer) or a
    flat legacy parquet directory. Callers that treat 'no table yet'
    as a valid initial state must use THIS, not a bare try/except
    around read_table — swallowing every read error turns a transient
    failure (FS hiccup, corrupted footer) into 'no state', and a
    subsequent write then silently destroys the previous state."""
    if current_version(table_path) is not None:
        return True
    return os.path.isdir(table_path) and any(
        f.endswith(".parquet") or f == "_SUCCESS"
        for f in os.listdir(table_path)
    )


def write_table(df: DataFrame, table_path: str, prune: bool = True) -> int:
    """Land ``df`` as the next version of the table: ONE data write,
    then an atomic pointer swap. Returns the new version number.

    ``prune`` removes superseded version directories after the swap
    (pointer-first readers can no longer reach them; at cluster scale
    this is the async GC job, here it runs inline)."""
    prev = current_version(table_path)
    v = (prev or 0) + 1
    df.write.mode("overwrite").parquet(version_dir(table_path, v))
    tmp = os.path.join(table_path, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(table_path, _POINTER))
    if prune and prev is not None:
        for k in range(1, prev + 1):
            shutil.rmtree(version_dir(table_path, k), ignore_errors=True)
    return v


def compact_files(
    spark,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
):
    """Small-files compaction — the maintenance pass every streaming
    sink needs: micro-batches land one-file-per-trigger, and a 100 TB
    table accumulates millions of KB-sized files whose per-file open
    and listing cost dominates scans. Rewrite to
    ceil(total_bytes / target) files (one round-robin shuffle; 128 MB
    default matches the scan split size, so post-compaction file count
    == scan task count). Returns the compacted DataFrame reader.

    Sizing reads FILE METADATA only (the JVM FileSystem listing — no
    data scan); the rewrite is the unavoidable one full read+write,
    which is why compaction runs as scheduled maintenance, not inline.
    """
    import math

    df = spark.read.parquet(in_path)
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = path.getFileSystem(conf)
    total = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)


def zorder_layout(
    df,
    cols: list[str],
    n_files: int,
    bits: int = 8,
):
    """Z-ORDER (Morton-curve) clustering for multi-column data
    skipping: quantile-bucket each layout column into a ``bits``-bit
    integer, interleave the bits into one z-value, and RANGE-partition
    the rewrite on it. Files then hold z-contiguous blocks, so the
    parquet row-group/file min-max stats are NARROW on every layout
    column at once — a filter on ANY of them skips most files, where a
    plain sort gives narrow stats on the leading column only. This is
    the lakehouse OPTIMIZE ZORDER BY pass, in plain DataFrame ops.

    Scale shape: bucketing uses approx-quantile BOUNDARIES (one
    mergeable-sketch aggregation; quantile cut points resist skew
    where linear min/max buckets collapse onto hot ranges) folded into
    a scan-side comparison chain — NOT a global ntile window, which
    would be a single-partition sort of the whole table. The bit
    interleave is a shiftleft/or expression chain (no UDF); the only
    shuffle is the range partition (sample + exchange):
    scheduled-maintenance cost, like compaction. Returns the laid-out
    frame WITHOUT the helper column (write it with .write.parquet)."""
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]

    def as_double(c: str):
        # timestamps (ntz included) cannot cast to double directly:
        # route through epoch seconds.
        if df.schema[c].dataType.typeName().startswith("timestamp"):
            return F.col(c).cast("timestamp").cast("long").cast("double")
        return F.col(c).cast("double")

    # ONE boundary job for every layout column (a per-column .first()
    # loop would full-scan the table N_cols times).
    all_bounds = df.agg(
        *[
            F.percentile_approx(as_double(c), qs, 10_000).alias(c)
            for c in cols
        ]
    ).first()
    bucketed = df
    rank_cols = []
    for c in cols:
        bounds = all_bounds[c]
        if bounds is None:
            raise ValueError(
                f"zorder_layout: column {c!r} has no non-null values — "
                f"it cannot carry curve bits; drop it from the layout"
            )
        rc = f"_r_{c}"
        # rank = |boundaries < value|: a folded comparison chain over
        # the broadcast (≤255-element) cut array, evaluated scan-side.
        expr = F.lit(0)
        for b in bounds:
            expr = expr + F.when(
                as_double(c) > F.lit(float(b)), 1
            ).otherwise(0)
        bucketed = bucketed.withColumn(rc, expr.cast("int"))
        rank_cols.append(rc)
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for rc in rank_cols:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftrightunsigned(F.col(rc), bit)
                .bitwiseAND(F.lit(1))
                .cast("long")
            )
    return (
        bucketed.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .drop("_z", *rank_cols)
    )


def targeted_delete_rewrite(
    spark: SparkSession,
    table_path: str,
    keys_df: DataFrame,
    key_col: str,
) -> int:
    """Targeted row erasure (the GDPR/right-to-be-forgotten pass) over
    an immutable store WITHOUT rewriting the table: per-file key
    ranges (one column-pruned scan of the key column) identify the
    files that can possibly hold a target key; only THOSE files
    re-encode through an anti join, every other file carries over as a
    byte-level copy (at cluster scale: an object-store server-side
    copy — no scan, no decode). The new file set lands as the next
    store version with the usual atomic pointer swap, so readers never
    see a half-deleted table.

    The deletion key set broadcasts BY CONTRACT — erasure requests are
    small (and at z-ordered/clustered layouts the affected-file
    fraction is tiny, which is the point of pairing this with
    zorder_layout). Returns the new version number."""
    import urllib.parse

    from pyspark.sql import functions as F

    v = current_version(table_path)
    src_dir = version_dir(table_path, v) if v is not None else table_path
    df = spark.read.parquet(src_dir)
    tgt = keys_df.select(F.col(key_col).alias("_k")).distinct()
    ranges = (
        df.select(key_col, F.input_file_name().alias("_f"))
        .groupBy("_f")
        .agg(F.min(key_col).alias("_lo"), F.max(key_col).alias("_hi"))
    )
    hit_rows = (
        ranges.join(
            F.broadcast(tgt),
            (F.col("_k") >= F.col("_lo")) & (F.col("_k") <= F.col("_hi")),
        )
        .select("_f")
        .distinct()
        .collect()
    )
    affected = {
        os.path.basename(urllib.parse.urlparse(r._f).path) for r in hit_rows
    }
    new_v = (v or 0) + 1
    dst = version_dir(table_path, new_v)
    # A prior attempt that crashed mid-write (before the pointer swap)
    # leaves part files in v_{N+1}; the survivors write below appends,
    # so without clearing first a retry would commit duplicated rows.
    # Wholesale replacement restores write_table's crash contract.
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    for fn in os.listdir(src_dir):
        if fn.startswith("_") or fn in affected:
            continue
        if fn.endswith(".parquet"):
            shutil.copy2(os.path.join(src_dir, fn), os.path.join(dst, fn))
    if affected:
        survivors = spark.read.parquet(
            *[os.path.join(src_dir, fn) for fn in sorted(affected)]
        ).join(F.broadcast(tgt), F.col(key_col) == F.col("_k"), "left_anti")
        survivors.write.mode("append").parquet(dst)
    tmp = os.path.join(table_path, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(new_v))
    os.replace(tmp, os.path.join(table_path, _POINTER))
    # Erasure REQUIRES destroying history: every older version — and
    # the flat-legacy files when the table predates versioning — still
    # holds the erased rows, so unlike write_table's prune this removes
    # ALL of them, time travel included (that is the point of the op).
    for k in range(1, new_v):
        shutil.rmtree(version_dir(table_path, k), ignore_errors=True)
    if v is None:
        for fn in os.listdir(table_path):
            if fn.endswith(".parquet") or fn == "_SUCCESS":
                os.remove(os.path.join(table_path, fn))
    return new_v


def read_table_version(
    spark: SparkSession,
    table_path: str,
    version: int,
    schema: StructType | None = None,
) -> DataFrame:
    """TIME TRAVEL: read a PINNED store version instead of the live
    pointer — the audit/debug read every versioned store owes its
    operators ("what did the table look like before last night's
    merge?"). Requires the version to still exist: pass
    ``prune=False`` to ``write_table`` (retention) for tables that
    need history; the pruning default keeps exactly the live version,
    trading time travel for space, and this raises cleanly when the
    requested version was GC'd."""
    d = version_dir(table_path, version)
    if not os.path.isdir(d):
        raise FileNotFoundError(
            f"version {version} of {table_path} does not exist "
            f"(pruned by retention, or never written)"
        )
    return _read_parquet(spark, d, schema)


def write_snapshot_manifest(store_dir: str, tables: list[str]) -> str:
    """A46 (r6): SNAPSHOT-CONSISTENT multi-table reads. Table versions
    advance independently (each write_table swaps one pointer), so two
    reads in one query can observe different commit points — the
    cross-table anomaly every lakehouse solves with a snapshot/commit
    log. The manifest pins {table: version} at a single instant; a
    reader holding it sees one consistent store state regardless of
    concurrent writes, and retained versions make old manifests
    readable until erasure destroys history (targeted_delete_rewrite
    intentionally breaks them — that is the point of erasure).

    Consistency against CONCURRENT writers: pointer reads are
    per-table, so a single pass could capture a torn combination (a
    commit landing between two reads). The manifest therefore
    DOUBLE-READS — capture all pointers, re-read, and accept only when
    both passes agree (optimistic validation; any table that moved
    forces a retry). Every manifest gets its own numbered file, claimed
    with O_EXCL so two snapshotters can never clobber each other and a
    held manifest path never re-resolves to newer versions. Returns the
    manifest path."""
    import json

    def capture() -> dict[str, int]:
        out = {}
        for name in tables:
            v = current_version(os.path.join(store_dir, f"{name}.parquet"))
            if v is None:
                raise ValueError(
                    f"snapshot: table {name!r} is not versioned"
                )
            out[name] = v
        return out

    manifest = capture()
    for _ in range(100):
        again = capture()
        if again == manifest:
            break
        manifest = again
    else:
        raise RuntimeError(
            "snapshot: store did not quiesce across 100 validation reads"
        )
    n = 1
    while True:
        path = os.path.join(store_dir, f"_snapshot_{n}.json")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            n += 1
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return path


def read_manifest(manifest_path: str) -> dict[str, int]:
    """The {table: version} pins of one snapshot manifest."""
    import json

    with open(manifest_path) as f:
        return json.load(f)


def read_snapshot(
    spark: SparkSession,
    store_dir: str,
    manifest_path: str,
    names: list[str] | None = None,
    schemas: dict[str, StructType] | None = None,
) -> dict[str, DataFrame]:
    """Read every table (or only ``names``) AT ITS MANIFEST-PINNED
    VERSION — one consistent cross-table state, immune to pointer
    swaps that happened since. A table with a known schema in
    ``schemas`` is read without a schema-inference job."""
    manifest = read_manifest(manifest_path)
    schemas = schemas or {}
    return {
        name: read_table_version(
            spark,
            os.path.join(store_dir, f"{name}.parquet"),
            manifest[name],
            schemas.get(name),
        )
        for name in (manifest if names is None else names)
    }


def vacuum_table(
    table_path: str,
    store_dir: str | None = None,
    keep_last: int = 1,
    orphan_grace_sec: float = 3600.0,
) -> list[int]:
    """A56 (r6): MANIFEST-AWARE RETENTION GC — the missing end of the
    version lifecycle. ``write_table(prune=True)`` keeps only the live
    version (no time travel); ``prune=False`` keeps everything
    (unbounded space). Vacuum is the policy in between: remove
    superseded versions EXCEPT (a) the newest ``keep_last`` and (b) any
    version PINNED by a snapshot manifest in the store (A46) — so a
    held manifest keeps resolving until it is deleted, and space is
    reclaimed the moment nothing can reach a version. Pure file-
    metadata work (no data scan); returns the removed version numbers,
    newest-first never includes the live pointer's version."""
    import glob
    import re

    if keep_last < 1:
        # versions[-0:] would be the WHOLE list — i.e. keep everything,
        # the opposite of what a caller passing 0 means. The live
        # version is always kept, so 1 is the floor.
        raise ValueError("vacuum_table: keep_last must be >= 1")
    live = current_version(table_path)
    if live is None:
        return []
    table_name = os.path.basename(table_path)
    if table_name.endswith(".parquet"):
        table_name = table_name[: -len(".parquet")]
    pinned: set[int] = set()
    if store_dir:
        for mp in glob.glob(os.path.join(store_dir, "_snapshot_*.json")):
            manifest = read_manifest(mp)
            if table_name in manifest:
                pinned.add(int(manifest[table_name]))
    import time

    versions = sorted(
        int(m.group(1))
        for d in glob.glob(os.path.join(table_path, "v_*"))
        if (m := re.match(r".*v_(\d+)$", d)) and os.path.isdir(d)
    )
    # Retention window over REACHABLE history only (versions <= live):
    # a crashed committer's orphan numbered ABOVE the live pointer must
    # not permanently occupy the newest keep_last slot and displace a
    # genuinely reachable version (ADVICE r6). Unpinned orphans above
    # live are themselves reclaimable — after a grace window, so an
    # IN-FLIGHT commit (landed data, manifest not yet written) is never
    # swept out from under its committer. Stale _stage_* dirs age out
    # on the same clock.
    now = time.time()
    reachable = [v for v in versions if v <= live]
    keep = set(reachable[-keep_last:]) | {live} | pinned
    removed = []
    for v in versions:
        if v in keep:
            continue
        d = version_dir(table_path, v)
        if v > live:
            try:
                if now - os.stat(d).st_mtime < orphan_grace_sec:
                    continue
            except OSError:
                continue
        shutil.rmtree(d, ignore_errors=True)
        removed.append(v)
    for sd in glob.glob(os.path.join(table_path, "_stage_*")):
        try:
            if now - os.stat(sd).st_mtime >= orphan_grace_sec:
                shutil.rmtree(sd, ignore_errors=True)
        except OSError:
            pass
    return sorted(removed, reverse=True)


class CommitValidationError(RuntimeError):
    """A validated commit found constraint violations; nothing landed."""


def write_table_validated(
    df: DataFrame, table_path: str, checks: list, prune: bool = True
) -> int:
    """A62 (r6): CONSTRAINT-GATED COMMIT — the write-side composition
    of the DQ checks (A40) with the versioned store: the data lands in
    the next version directory, the checks run AGAINST THE LANDED
    FILES (what readers would actually see — validating the input
    DataFrame would miss write-path corruption), and only a clean
    validation swaps the pointer. A failing check leaves the live
    pointer UNTOUCHED (readers never observe the bad version) and the
    orphaned directory is removed. ``checks`` = [(name, fn)] where fn
    maps the landed DataFrame to a violation COUNT (0 = pass).
    Raises CommitValidationError listing every failing check."""
    spark = df.sparkSession
    prev = current_version(table_path)
    v = (prev or 0) + 1
    d = version_dir(table_path, v)
    df.write.mode("overwrite").parquet(d)
    landed = spark.read.parquet(d)
    failures = []
    for name, fn in checks:
        n = int(fn(landed))
        if n:
            failures.append((name, n))
    if failures:
        shutil.rmtree(d, ignore_errors=True)
        raise CommitValidationError(
            "validated commit rejected: "
            + ", ".join(f"{name}={n}" for name, n in failures)
        )
    tmp = os.path.join(table_path, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(table_path, _POINTER))
    if prune and prev is not None:
        for k in range(1, prev + 1):
            shutil.rmtree(version_dir(table_path, k), ignore_errors=True)
    return v


# Sentinel for commit_tables(carry_from=...): "inherit from whatever
# manifest is newest AT COMMIT TIME", resolved inside the commit lock
# (an explicit path pins that one snapshot — caller's choice).
CARRY_LATEST = "latest"


def commit_tables(
    store_dir: str,
    tables: dict,
    carry_from: str | None = None,
    derived: dict[str, Callable[[dict[str, DataFrame]], DataFrame]]
    | None = None,
    schemas: dict[str, StructType] | None = None,
) -> str:
    """A63 (r6): MULTI-TABLE ATOMIC COMMIT — per-table pointer swaps
    commit independently (A46 exists to pin around that); real
    cross-table writes (fact + its index, parent + child) need
    all-or-nothing VISIBILITY. Per-file pointers cannot give it, so
    the commit root moves up a level — the lakehouse answer (one
    commit log/root for the whole store): every table's data lands in
    its next version directory WITHOUT touching its pointer, then ONE
    numbered snapshot manifest referencing all the new versions is
    claimed with O_EXCL — the manifest write is the commit point. A
    crash before it leaves only unreferenced directories (invisible,
    vacuum-able); after it, manifest readers see ALL new versions.
    Per-table pointers then swap as a convenience cache for
    single-table readers — idempotent on retry, and pointer-path
    readers of a torn retry window are exactly the anomaly A46
    manifests exist to avoid. Returns the manifest path.

    ``carry_from`` (r11): a manifest path whose entries are INHERITED
    by the new snapshot for every table not in ``tables`` — a partial
    commit that still yields a COMPLETE consistent state, with zero
    data rewrite for the carried tables (metadata-only: the new
    manifest simply pins their existing version numbers, which vacuum
    already respects). This is how a nightly load commits only the
    tables its slice touched, and how a stage that touches one table
    (e.g. the index rebuild committing only graph.index_documents)
    leaves the store's latest manifest fully usable by the next stage
    instead of a documents-only island.

    ``derived``: {name: build} for tables computed FROM the committed
    state (the index documents over the graph tables). They are built
    after every table in ``tables`` is staged, over the LANDED data:
    each build gets {name: frame} for every table the new manifest
    pins — staged tables as scan leaves over their staging dirs,
    carried tables at their pinned versions (read with ``schemas``
    where given, so no schema-inference job fires) — never the
    lineage that produced the staged frames, which would run twice.
    A table the new manifest does not pin is not in that dict: the
    graph load lands only the tables its view emitted, so a graph.*
    table no load has emitted is absent, and the document build reads
    it as empty with its declared schema
    (``plans.reference_pipeline.with_absent_tables``). The derived
    tables stage next, and the one manifest then pins
    them with everything else: a build that raises leaves only
    ``_stage_*`` dirs and the previous manifest live. Derived builds
    read the carried versions before the commit lock, so they need an
    explicit ``carry_from`` path (the manifest the caller's own reads
    used), not ``CARRY_LATEST``.

    Concurrency contract (r12, closes the r11 advice): an EXPLICIT
    manifest path pins exactly that snapshot's versions — the caller
    is asserting "inherit from THIS state", which is the time-travel
    use and deliberately ignores commits that land in between. A
    caller that means "inherit from whatever is newest when my commit
    actually happens" must pass ``CARRY_LATEST`` instead: the sentinel
    is resolved via ``latest_manifest`` INSIDE the commit lock, so a
    concurrent commit landing between the caller's own
    ``latest_manifest()`` call and this commit can never be silently
    un-pinned (the lost-update the path form permits under
    multi-writer use)."""
    import glob
    import json
    import re
    import time
    import uuid

    derived = derived or {}
    if derived and carry_from == CARRY_LATEST:
        raise ValueError(
            "commit_tables: derived tables need an explicit carry_from "
            "manifest path, not CARRY_LATEST"
        )
    inherited = (
        read_manifest(carry_from)
        if carry_from is not None and carry_from != CARRY_LATEST
        else {}
    )

    # Phase 1 — NO coordination: every committer lands its data in a
    # private staging dir per table (a crash here leaves only
    # unreferenced _stage_* dirs, reclaimed by vacuum).  Version
    # numbers are NOT chosen yet: two concurrent committers computing
    # (current+1) independently would overwrite each other's v_{N+1}
    # and interleave pointer swaps (ADVICE r6) — exactly the torn state
    # the manifest exists to prevent.
    token = uuid.uuid4().hex[:12]
    staged: dict[str, str] = {}

    def _stage(name: str, df) -> tuple[str, str]:
        tp = os.path.join(store_dir, f"{name}.parquet")
        sd = os.path.join(tp, f"_stage_{token}")
        df.write.mode("overwrite").parquet(sd)
        return name, sd

    items = list(tables.items())
    if items:
        # Staging writes run CONCURRENTLY (r12): Phase 1 is
        # coordination-free by design, so a multi-table commit's wall
        # is max(per-table write) instead of sum — for the reference
        # load's ~30 small graph.* tables the sequential form was
        # ~2 s of pure job overhead per table (66 s at sf0.001; ~9 s
        # parallel). The FIRST table stages alone so any shared lazy
        # upstream (e.g. the pivot's persisted wide frame) is
        # materialized exactly once instead of racing in every
        # thread; Spark's scheduler accepts concurrent job
        # submission from driver threads natively.
        name0, df0 = items[0]
        staged[name0] = _stage(name0, df0)[1]
        if len(items) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(8, len(items) - 1)
            ) as ex:
                for name, sd in ex.map(
                    lambda it: _stage(*it), items[1:]
                ):
                    staged[name] = sd

    if derived:
        spark = (
            items[0][1].sparkSession if items else SparkSession.active()
        )
        schemas = schemas or {}
        inputs = {
            name: read_table_version(
                spark,
                os.path.join(store_dir, f"{name}.parquet"),
                v,
                schemas.get(name),
            )
            for name, v in inherited.items()
            if name not in tables and name not in derived
        }
        for name, df in items:
            inputs[name] = _read_parquet(spark, staged[name], df.schema)
        for name, build in derived.items():
            staged[name] = _stage(name, build(inputs))[1]

    # Phase 2 — metadata-only critical section under a store-wide
    # O_EXCL lock: allocate version numbers from what is actually on
    # disk, RENAME staging dirs into place (atomic, no data copy),
    # claim the next manifest number, write the manifest (the commit
    # point), swap the convenience pointers. Lock hold time is a few
    # renames + two tiny file writes. A committer that crashed inside
    # the lock leaves a stale lock file; it is taken over after
    # _COMMIT_LOCK_TTL (and its half-renamed versions sit above the
    # live pointer, unpinned — vacuum reclaims them after the grace
    # window).
    lock = os.path.join(store_dir, "_commit.lock")
    lock_token = f"{os.getpid()}:{token}"
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, lock_token.encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                if time.time() - os.stat(lock).st_mtime > _COMMIT_LOCK_TTL:
                    # Stale-lock takeover must be ATOMIC: two waiters
                    # that both stat the lock as expired must not both
                    # unlink — waiter B's pending unlink would delete
                    # the fresh lock waiter A just created, letting two
                    # committers into the rename/manifest critical
                    # section. rename() to a unique name arbitrates:
                    # exactly one waiter's rename succeeds (the path is
                    # gone for everyone else), and the stale file is
                    # removed under a name no other waiter targets.
                    takeover = f"{lock}.takeover.{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock, takeover)
                    except OSError:
                        continue  # lost the takeover race; re-check
                    os.unlink(takeover)
                    continue
            except OSError:
                continue
            time.sleep(0.05)
    try:
        landed: dict[str, int] = {}
        for name, sd in staged.items():
            tp = os.path.join(store_dir, f"{name}.parquet")
            on_disk = [
                int(m.group(1))
                for d in glob.glob(os.path.join(tp, "v_*"))
                if (m := re.match(r".*v_(\d+)$", d)) and os.path.isdir(d)
            ]
            v = max([current_version(tp) or 0, *on_disk, 0]) + 1
            os.rename(sd, version_dir(tp, v))
            landed[name] = v
        if carry_from == CARRY_LATEST:
            # Resolved here, INSIDE the lock: no commit can land
            # between resolution and the manifest write, so
            # inheritance always reflects the true latest state.
            src = latest_manifest(store_dir)
            inherited = read_manifest(src) if src is not None else {}
        # new versions win; everything else is pinned as-was
        manifest_entries = {**inherited, **landed}
        n = 1
        while True:
            path = os.path.join(store_dir, f"_snapshot_{n}.json")
            try:
                mfd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                n += 1
        with os.fdopen(mfd, "w") as f:
            json.dump(manifest_entries, f, sort_keys=True)
        # convenience-cache pointer swaps (idempotent; manifest is truth)
        for name, v in landed.items():
            tp = os.path.join(store_dir, f"{name}.parquet")
            tmp = os.path.join(tp, _POINTER + ".tmp")
            with open(tmp, "w") as f:
                f.write(str(v))
            os.replace(tmp, os.path.join(tp, _POINTER))
    finally:
        # Release only OUR lock: if this committer overstayed
        # _COMMIT_LOCK_TTL and a waiter took the lock over, the file
        # now belongs to someone else — unlinking unconditionally
        # would unlock THEIR critical section. (Read-then-unlink is
        # not atomic, but the window is microseconds against a TTL of
        # seconds — strictly safer than the unconditional unlink.)
        try:
            with open(lock) as f:
                if f.read() == lock_token:
                    os.unlink(lock)
        except OSError:
            pass
    return path


def latest_manifest(store_dir: str) -> str | None:
    """Highest-numbered snapshot manifest in the store, or None."""
    import glob
    import re

    best, best_n = None, 0
    for p in glob.glob(os.path.join(store_dir, "_snapshot_*.json")):
        m = re.match(r".*_snapshot_(\d+)\.json$", p)
        if m and int(m.group(1)) > best_n:
            best, best_n = p, int(m.group(1))
    return best
