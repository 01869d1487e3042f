"""Versioned parquet table store — copy-on-write table landing.

The reference merges into live tables DB-side (database.ts:214-222
MERGE INTO); a filesystem store can't overwrite a parquet directory it
is currently reading from, and the naive workaround (write tmp dir,
re-read, rewrite the target) doubles write I/O per table per merge —
at 100 TB that is a second full pass over every landed byte.

Layout instead:

    <store>/
        _commit.lock          held while a writer publishes
        _snapshot_<n>.json    manifests: {table: version} pins
        <table>.parquet/
            v_1/ ... v_N/     parquet data, one directory per version
                _summary.json what the writer observed in the data
                              (optional; see ``write_table``)
            _current          text file holding N (the live version)
            _stage_<token>/   a writer's data before it is published

Every writer lands through one protocol: (1) stage — the data is
written ONCE into a private ``_stage_<token>`` dir, uncoordinated;
(2) publish — under the store's commit lock, ``_publish`` allocates
max(pointer, on-disk ``v_*``) + 1, renames the staging dir to that
version (no data copy) and swaps the ``_current`` pointer (tmp file +
``os.replace``); (3) retire — ``vacuum_table`` removes superseded
versions that no snapshot manifest pins. Two writers never pick the
same version, and none touches a version it did not stage.

Readers resolve the pointer first, so a crash before publish leaves
the previous version live and only a ``_stage_*`` dir behind, which
vacuum reclaims after its grace window. Flat legacy directories (plain
parquet files, no ``_current``) read as version-less tables, and their
first write converts them to the versioned layout.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import hashlib
import json
import os
import re
import shutil
import tempfile
import time
import types
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_POINTER = "_current"
_SUMMARY = "_summary.json"
_VERSION_DIR = re.compile(r"v_(\d+)")
_MANIFEST = re.compile(r"_snapshot_(\d+)\.json")
# A crashed lock holder's lock is taken over after this many seconds;
# its half-published versions (above the live pointer, unpinned by any
# manifest) become vacuum-reclaimable orphans.
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


def _on_disk_versions(table_path: str) -> list[int]:
    """Every ``v_<n>`` directory of the table, ascending: published,
    superseded and orphaned alike."""
    try:
        names = os.listdir(table_path)
    except OSError:
        return []
    return sorted(
        int(m.group(1))
        for n in names
        if (m := _VERSION_DIR.fullmatch(n))
        and os.path.isdir(os.path.join(table_path, n))
    )


def _manifests(store_dir: str) -> list[str]:
    """The store's snapshot manifest paths, oldest first."""
    names = os.listdir(store_dir) if os.path.isdir(store_dir) else []
    found = {int(m.group(1)): n for n in names if (m := _MANIFEST.fullmatch(n))}
    return [os.path.join(store_dir, found[k]) for k in sorted(found)]


def _store_dir(table_path: str) -> str:
    """The store a table belongs to: the dir holding its lock and
    manifests."""
    return os.path.dirname(os.path.abspath(table_path))


def _stage(df: DataFrame, table_path: str, token: str) -> str:
    """Write ``df`` into the table's private ``_stage_<token>`` dir;
    returns that dir. Nothing reads it until ``_publish`` renames it."""
    staged = os.path.join(table_path, f"_stage_{token}")
    df.write.mode("overwrite").parquet(staged)
    return staged


def try_lock(lock: str, ttl_seconds: float) -> str | None:
    """One non-blocking attempt at an O_EXCL lock file. Returns the
    owner token written into it, or None while someone else holds it.
    A lock older than ``ttl_seconds`` belongs to a crashed holder and
    is taken over — atomically: two waiters that both see it expired
    must not both unlink, or one would delete the fresh lock the other
    just created. ``rename`` to a unique name arbitrates: exactly one
    rename succeeds, and the stale file is removed under a name no
    other waiter targets."""
    token = f"{os.getpid()}:{uuid.uuid4().hex[:12]}"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        takeover = f"{lock}.takeover.{uuid.uuid4().hex[:8]}"
        try:
            if time.time() - os.stat(lock).st_mtime <= ttl_seconds:
                return None
            os.rename(lock, takeover)
        except OSError:
            return None  # released meanwhile, or lost the takeover race
        os.unlink(takeover)
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return None
    os.write(fd, token.encode())
    os.close(fd)
    return token


def release_lock(lock: str, token: str) -> None:
    """Remove ``lock`` only if it still holds ``token``: a holder that
    overstayed the TTL and was taken over must not unlock its
    successor. (Read-then-unlink is not atomic, but the window is
    microseconds against a TTL of minutes.)"""
    try:
        with open(lock) as f:
            if f.read() == token:
                os.unlink(lock)
    except OSError:
        pass


@contextlib.contextmanager
def _store_lock(store_dir: str):
    """The store-wide commit lock: ``try_lock`` on
    ``<store>/_commit.lock`` until it is ours, then ``release_lock``."""
    lock = os.path.join(store_dir, "_commit.lock")
    while (token := try_lock(lock, _COMMIT_LOCK_TTL)) is None:
        time.sleep(0.05)
    try:
        yield
    finally:
        release_lock(lock, token)


def _publish(table_path: str, staged: str) -> int:
    """Publish a staged dir as the table's next version; the caller
    holds the store lock. The version is max(pointer, every on-disk
    ``v_*``) + 1, so a version another writer landed — published or
    not — is never overwritten. Returns the version."""
    v = 1 + max(
        [current_version(table_path) or 0, *_on_disk_versions(table_path)]
    )
    os.rename(staged, version_dir(table_path, v))
    tmp = os.path.join(table_path, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(table_path, _POINTER))
    return v


def _claim_manifest(store_dir: str, entries: dict[str, int]) -> str:
    """Land ``entries`` as the next free ``_snapshot_<n>.json``. The
    content is written to a private file first and hard-linked to the
    number, so the claim is exclusive (two snapshotters never clobber
    each other, a held manifest path never re-resolves) and a reader
    never sees a manifest half-written. Returns the manifest path."""
    tmp = os.path.join(store_dir, f"_manifest_{uuid.uuid4().hex[:12]}.tmp")
    with open(tmp, "w") as f:
        json.dump(entries, f, sort_keys=True)
    try:
        n = 1
        while True:
            path = os.path.join(store_dir, f"_snapshot_{n}.json")
            try:
                os.link(tmp, path)
                return path
            except FileExistsError:
                n += 1
    finally:
        os.unlink(tmp)


# Every staged input (``staged_input``) sits in this dir under the
# temp dir, shared by every process on the host.
_STAGED_INPUTS = "spark_graft_staged"


def staged_input(
    tag: str, source_files: list[str], build: Callable[[str], None]
) -> str:
    """The dir holding ``build``'s output for the current content of
    ``source_files``, built once per host and shared across processes.

    The key is an md5 over ``tag`` (name it with a layout version, so a
    layout change rebuilds) and the (path, mtime_ns, size) of each
    source file, so a changed source lands under a new key. On a miss
    ``build(stage)`` writes a private ``<path>._stage_<token>`` dir,
    which one ``os.rename`` publishes. Only a published dir is served:
    a build that raised or was killed leaves at most a stage behind,
    never a half-written ``path``. When two builders race, the first
    rename wins and the loser deletes its own stage."""
    key = hashlib.md5(tag.encode())
    for f in source_files:
        st = os.stat(f)
        stamp = f"{os.path.abspath(f)}:{st.st_mtime_ns}:{st.st_size};"
        key.update(stamp.encode())
    path = os.path.join(
        tempfile.gettempdir(), _STAGED_INPUTS, f"{tag}_{key.hexdigest()[:16]}"
    )
    if os.path.isdir(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    stage = f"{path}._stage_{uuid.uuid4().hex}"
    try:
        build(stage)
        os.rename(stage, path)
    except OSError:
        if not os.path.isdir(path):
            raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return path


def read_parquet(
    spark: SparkSession, *paths: str, schema: StructType | None = None
) -> DataFrame:
    """The package's one batch parquet reader: a scan leaf over
    ``paths`` that starts no Spark job.

    Without a ``schema``, ``spark.read.parquet`` starts a one-task job
    whose only work is reading one footer (Spark's schema inference
    runs in a job even for one file). Here the driver reads that footer
    itself (``_footer_schema``) and reads with the schema found there:
    on a 4-core host a warm read of a small table took 14-22 ms this
    way, 55-67 ms inferred, and 8-9 ms with the schema known. When the
    driver cannot (schema merging on, no data file, a footer that fails
    to convert), the read is a plain ``spark.read.parquet``, so Spark's
    own inference or error happens unchanged."""
    if schema is None:
        schema = _footer_schema(spark, paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def _footer_schema(spark: SparkSession, paths) -> StructType | None:
    """The schema Spark's inference derives for a read of ``paths``
    with ``mergeSchema`` off, computed on the driver, or None when
    Spark has to infer it itself.

    It runs what ``ParquetUtils.inferSchema`` runs inside its job:
    take the first data file in path order, read its footer, and
    convert it with ``ParquetFileFormat.readSchemaFromFooter``, which
    prefers the Spark schema a Spark writer stored in the footer. The
    converter reads the session conf (``nanosAsLong``,
    ``inferTimestampNTZ``, ``binaryAsString``) when it is called.
    Listing and footer go through the Hadoop ``FileSystem`` in the
    JVM, so local paths, ``file:`` URIs and remote stores are read the
    same way."""
    try:
        state = spark._jsparkSession.sessionState()
        sql_conf = state.conf()
        if sql_conf.isParquetSchemaMergingEnabled():
            return None
        jvm = _jvm_classes(spark._jvm)
        conf = state.newHadoopConf()
        status = _first_data_file(jvm, conf, paths)
        if status is None:
            return None
        metadata = jvm.ParquetFooterReader.readFooter(
            jvm.HadoopInputFile.fromStatus(status, conf), jvm.SKIP_ROW_GROUPS
        )
        jschema = jvm.ParquetFileFormat.readSchemaFromFooter(
            jvm.Footer(status.getPath(), metadata),
            jvm.ParquetToSparkSchemaConverter(sql_conf),
        )
        return StructType.fromJson(json.loads(jschema.json()))
    except Exception:
        return None


@functools.lru_cache(maxsize=None)
def _jvm_classes(jvm) -> types.SimpleNamespace:
    """The JVM classes a footer read uses, looked up once per gateway:
    py4j resolves ``jvm.org.apache...`` one package name per round
    trip, about 35 of them per read if done inline."""
    spark_pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    parquet = jvm.org.apache.parquet
    return types.SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        HadoopInputFile=parquet.hadoop.util.HadoopInputFile,
        Footer=parquet.hadoop.Footer,
        SKIP_ROW_GROUPS=(
            parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
        ),
        ParquetFooterReader=spark_pq.ParquetFooterReader,
        ParquetFileFormat=spark_pq.ParquetFileFormat,
        ParquetToSparkSchemaConverter=spark_pq.ParquetToSparkSchemaConverter,
    )


def _first_data_file(jvm, conf, paths):
    """The ``FileStatus`` of the data file Spark's inference reads:
    the least full path among the files of every root, skipping the
    names Spark's file index skips (``_``/``.`` prefixes, except
    ``k=v`` partition directories). Only ``k=v`` directories are
    entered, as Spark's partition discovery enters them; files in
    other subdirectories are not part of the read. None when no root
    holds a data file, or when Spark would read something else first:
    a summary file (``_metadata``, ``_common_metadata``) or a streaming
    sink's ``_spark_metadata`` log. A missing or glob root raises."""
    best = None
    for p in paths:
        root = jvm.Path(p)
        fs = root.getFileSystem(conf)
        found = _first_file_under(fs, fs.getFileStatus(root))
        if found is _DEFER:
            return None
        if found is not None and (
            best is None
            or found.getPath().toString() < best.getPath().toString()
        ):
            best = found
    return best


# Returned when Spark's inference would read something other than the
# first data file: a summary file or a streaming sink's log.
_DEFER = object()
_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _hidden(name: str) -> bool:
    """Spark's InMemoryFileIndex.shouldFilterOutPathName."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    ) and not name.startswith(_SUMMARY_FILES)


def _first_file_under(fs, status):
    if not status.isDirectory():
        return status
    entries = []
    for child in fs.listStatus(status.getPath()):
        name = child.getPath().getName()
        if name in _SUMMARY_FILES or name == "_spark_metadata":
            return _DEFER
        is_dir = child.isDirectory()
        if not _hidden(name) and (not is_dir or "=" in name):
            # name + "/" for a directory sorts the entries as their
            # full paths sort, which is the order Spark picks from.
            entries.append((name + "/" if is_dir else name, is_dir, child))
    for _, is_dir, child in sorted(entries, key=lambda e: e[0]):
        found = _first_file_under(fs, child) if is_dir else child
        if found is not None:
            return found
    return None


def read_table(
    spark: SparkSession, table_path: str, schema: StructType | None = None
) -> DataFrame:
    """Read the live version (pointer-resolved), or the flat legacy
    layout when the table predates versioning."""
    v = current_version(table_path)
    if v is None:
        return read_parquet(spark, table_path, schema=schema)
    return read_parquet(spark, version_dir(table_path, v), schema=schema)


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


def write_table(
    df: DataFrame,
    table_path: str,
    prune: bool = True,
    summary: Callable[[], dict] | None = None,
) -> int:
    """Land ``df`` as the next version of the table: ONE data write into
    a staging dir, then a publish under the store lock (version
    allocation, rename, pointer swap). Returns the new version number.

    ``summary`` is called once the data is written and before the
    publish; the dict it returns (JSON values, dates and datetimes)
    lands inside the version as ``_summary.json``, so it becomes
    visible, and is vacuumed, with the data it describes. It is where
    a writer puts what an ``Observation`` on the written frame saw
    (``version_summary`` reads it back). Spark's readers skip
    ``_``-prefixed files.

    ``prune`` then retires superseded versions through
    ``vacuum_table(keep_last=1)``: every version but the live one goes,
    except those a snapshot manifest in the store pins and orphans
    still in their grace window (another writer's in-flight data)."""
    staged = _stage(df, table_path, uuid.uuid4().hex[:12])
    if summary is not None:
        with open(os.path.join(staged, _SUMMARY), "w") as f:
            json.dump(summary(), f, default=_encode_summary_value)
    with _store_lock(_store_dir(table_path)):
        v = _publish(table_path, staged)
    if prune:
        vacuum_table(table_path, _store_dir(table_path), keep_last=1)
    return v


def version_summary(table_path: str) -> dict:
    """The summary stored with the live version (``write_table``'s
    ``summary``), or {} when it has none: a flat legacy table, a
    version written without one, or a version vacuumed between the
    pointer read and this one. Reads one small file; no Spark job."""
    v = current_version(table_path)
    if v is None:
        return {}
    try:
        with open(os.path.join(version_dir(table_path, v), _SUMMARY)) as f:
            return json.load(f, object_hook=_decode_summary_value)
    except FileNotFoundError:
        return {}


# JSON has no date or datetime: a summary value of either type is
# stored as {"$<type>": isoformat} and read back as the same Python
# type, so a recorded watermark compares exactly as the value observed.
_SUMMARY_TYPES = {
    "$datetime": datetime.datetime.fromisoformat,
    "$date": datetime.date.fromisoformat,
}


def _encode_summary_value(value):
    if isinstance(value, datetime.datetime):  # before date: a subclass
        return {"$datetime": value.isoformat()}
    if isinstance(value, datetime.date):
        return {"$date": value.isoformat()}
    raise TypeError(f"summary value {value!r} is not JSON serializable")


def _decode_summary_value(obj: dict):
    if len(obj) == 1:
        ((tag, text),) = obj.items()
        if tag in _SUMMARY_TYPES:
            return _SUMMARY_TYPES[tag](text)
    return obj


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

    df = read_parquet(spark, in_path)
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = path.getFileSystem(conf)
    total = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return read_parquet(spark, out_path)


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
    copy — no scan, no decode). The new file set is staged and
    published like any write, so readers never see a half-deleted
    table, and a crashed attempt leaves only its ``_stage_*`` dir.

    The deletion key set broadcasts BY CONTRACT — erasure requests are
    small (and at z-ordered/clustered layouts the affected-file
    fraction is tiny, which is the point of pairing this with
    zorder_layout). Returns the new version number."""
    import urllib.parse

    from pyspark.sql import functions as F

    v = current_version(table_path)
    src_dir = version_dir(table_path, v) if v is not None else table_path
    df = read_parquet(spark, src_dir)
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
    staged = os.path.join(table_path, f"_stage_{uuid.uuid4().hex[:12]}")
    os.makedirs(staged)
    for fn in os.listdir(src_dir):
        if fn.startswith("_") or fn in affected:
            continue
        if fn.endswith(".parquet"):
            shutil.copy2(os.path.join(src_dir, fn), os.path.join(staged, fn))
    if affected:
        survivors = read_parquet(
            spark,
            *[os.path.join(src_dir, fn) for fn in sorted(affected)]
        ).join(F.broadcast(tgt), F.col(key_col) == F.col("_k"), "left_anti")
        survivors.write.mode("append").parquet(staged)
    with _store_lock(_store_dir(table_path)):
        new_v = _publish(table_path, staged)
    # Erasure REQUIRES destroying history: every older version — and
    # the flat-legacy files when the table predates versioning — still
    # holds the erased rows, so unlike vacuum this removes ALL of them,
    # pinned versions and time travel included (that is the point of
    # the op).
    for k in _on_disk_versions(table_path):
        if k < new_v:
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
    merge?"). Requires the version to still exist: write with
    ``prune=False`` (or vacuum with a larger ``keep_last``, or pin it
    in a snapshot manifest) for tables that need history; the pruning
    default keeps only the live version and pinned ones, trading time
    travel for space, and this raises cleanly when the requested
    version was GC'd."""
    d = version_dir(table_path, version)
    if not os.path.isdir(d):
        raise FileNotFoundError(
            f"version {version} of {table_path} does not exist "
            f"(pruned by retention, or never written)"
        )
    return read_parquet(spark, d, schema=schema)


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

    Consistency against CONCURRENT writers: every writer swaps its
    pointer inside the store lock (``_publish``), so the pointers are
    captured inside that lock too — one pass sees one commit point.
    Every manifest gets its own numbered file (``_claim_manifest``), so
    two snapshotters can never clobber each other and a held manifest
    path never re-resolves to newer versions. Returns the manifest
    path."""
    with _store_lock(store_dir):
        manifest = {}
        for name in tables:
            v = current_version(os.path.join(store_dir, f"{name}.parquet"))
            if v is None:
                raise ValueError(f"snapshot: table {name!r} is not versioned")
            manifest[name] = v
        return _claim_manifest(store_dir, manifest)


def read_manifest(manifest_path: str) -> dict[str, int]:
    """The {table: version} pins of one snapshot manifest."""
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
    """A56 (r6): MANIFEST-AWARE RETENTION GC — the store's one retention
    rule, the last step of every landing (``write_table(prune=True)``
    runs it with ``keep_last=1``). Removes superseded versions EXCEPT
    (a) the newest ``keep_last`` and (b) any version PINNED by a
    snapshot manifest in the store (A46) — so a held manifest keeps
    resolving until it is deleted, and space is reclaimed the moment
    nothing can reach a version. Versions above the live pointer and
    ``_stage_*`` dirs (a writer that crashed before or during publish)
    go once they are older than ``orphan_grace_sec``. Pure file-
    metadata work (no data scan); returns the removed version numbers,
    newest-first; never includes the live pointer's version."""
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
        for mp in _manifests(store_dir):
            manifest = read_manifest(mp)
            if table_name in manifest:
                pinned.add(int(manifest[table_name]))
    versions = _on_disk_versions(table_path)
    # Retention window over REACHABLE history only (versions <= live):
    # a crashed committer's orphan numbered ABOVE the live pointer must
    # not permanently occupy the newest keep_last slot and displace a
    # genuinely reachable version (ADVICE r6). Unpinned orphans above
    # live are themselves reclaimable — after a grace window, so a
    # version another writer is publishing is never swept out from
    # under it. Stale _stage_* dirs age out on the same clock.
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
    for name in os.listdir(table_path):
        sd = os.path.join(table_path, name)
        try:
            if (
                name.startswith("_stage_")
                and now - os.stat(sd).st_mtime >= orphan_grace_sec
            ):
                shutil.rmtree(sd, ignore_errors=True)
        except OSError:
            pass
    return sorted(removed, reverse=True)


class CommitValidationError(RuntimeError):
    """A validated commit found constraint violations; nothing landed."""


def write_table_validated(df: DataFrame, table_path: str, checks: list) -> int:
    """A62 (r6): CONSTRAINT-GATED COMMIT — the write-side composition
    of the DQ checks (A40) with the versioned store: the data is
    staged, the checks run AGAINST THE STAGED FILES (what readers would
    actually see — validating the input DataFrame would miss
    write-path corruption), and only a clean validation publishes and
    prunes like ``write_table``. A failing check removes only its own
    staging dir: the live pointer and every version stay UNTOUCHED.
    ``checks`` = [(name, fn)] where fn maps the landed DataFrame to a
    violation COUNT (0 = pass). Returns the new version number.
    Raises CommitValidationError listing every failing check."""
    staged = _stage(df, table_path, uuid.uuid4().hex[:12])
    landed = read_parquet(df.sparkSession, staged)
    failures = []
    for name, fn in checks:
        n = int(fn(landed))
        if n:
            failures.append((name, n))
    if failures:
        shutil.rmtree(staged, ignore_errors=True)
        raise CommitValidationError(
            "validated commit rejected: "
            + ", ".join(f"{name}={n}" for name, n in failures)
        )
    with _store_lock(_store_dir(table_path)):
        v = _publish(table_path, staged)
    vacuum_table(table_path, _store_dir(table_path), keep_last=1)
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
    commit log/root for the whole store): every table stages its data
    first, then, inside the store lock, each table is published
    (``_publish``: version allocation, rename, pointer swap) and ONE
    numbered snapshot manifest referencing all the new versions is
    claimed (``_claim_manifest``) — the manifest is the commit point.
    A crash before the lock leaves only ``_stage_*`` dirs (invisible,
    reclaimed by vacuum); a crash inside it can move some pointers, but
    manifest readers see either the previous manifest or ALL new
    versions. Per-table pointers are a convenience cache for
    single-table readers; pointer-path readers of a torn window are
    exactly the anomaly A46 manifests exist to avoid. Returns the
    manifest path.

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

    # Stage — NO coordination: every table lands in a private staging
    # dir under one token (a crash here leaves only unreferenced
    # _stage_* dirs, reclaimed by vacuum). Version numbers are chosen
    # only at publish, inside the lock.
    token = uuid.uuid4().hex[:12]
    staged: dict[str, str] = {}

    def stage(name: str, df) -> str:
        return _stage(df, os.path.join(store_dir, f"{name}.parquet"), token)

    items = list(tables.items())
    if items:
        # Staging writes run CONCURRENTLY (r12): staging is
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
        staged[name0] = stage(name0, df0)
        if len(items) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(8, len(items) - 1)
            ) as ex:
                staged.update(
                    ex.map(lambda it: (it[0], stage(*it)), items[1:])
                )

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
            inputs[name] = read_parquet(spark, staged[name], schema=df.schema)
        for name, build in derived.items():
            staged[name] = stage(name, build(inputs))

    # Publish — a metadata-only critical section: a rename and a
    # pointer write per table, then the manifest.
    with _store_lock(store_dir):
        landed = {
            name: _publish(os.path.join(store_dir, f"{name}.parquet"), sd)
            for name, sd in staged.items()
        }
        if carry_from == CARRY_LATEST:
            # Resolved here, INSIDE the lock: no commit can land
            # between resolution and the manifest write, so
            # inheritance always reflects the true latest state.
            src = latest_manifest(store_dir)
            inherited = read_manifest(src) if src is not None else {}
        # new versions win; everything else is pinned as-was
        return _claim_manifest(store_dir, {**inherited, **landed})


def latest_manifest(store_dir: str) -> str | None:
    """Highest-numbered snapshot manifest in the store, or None."""
    paths = _manifests(store_dir)
    return paths[-1] if paths else None
