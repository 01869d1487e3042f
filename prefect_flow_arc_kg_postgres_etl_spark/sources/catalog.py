"""Source catalog over the harness parquet tables.

The reference discovers its load targets from database metadata
(reference: typescript/src/database.ts:55-66 getIntersectingSchemaTables);
here the catalog is the parquet directory. Readers are plain parquet
scans (``store.read_parquet``) so Catalyst gets pushdown + pruning;
nothing is cached eagerly — operators decide what to persist.

At cluster scale the same catalog fronts object-store paths; only
``sf_dir`` changes.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from prefect_flow_arc_kg_postgres_etl_spark.sources import store

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at ANY scale factor: only
# the FIXED-SIZE dims qualify (region = 5 rows, nation = 25 rows,
# independent of sf). customer/supplier/part grow LINEARLY with scale
# factor (150k/10k/200k × sf) — a forced broadcast hint on them overrides
# Catalyst's size check and OOMs executors at cluster scale, so they are
# deliberately NOT in this set: AQE picks broadcast for them at small sf
# and sort-merge/shuffle-hash at scale.
BROADCAST_DIMS = {"region", "nation"}

# Tables that scale linearly with sf — never hint-broadcast these; let
# AQE decide from runtime sizes.
SF_SCALED_TABLES = {
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Per-session memo of table DataFrames. The catalog dirs are immutable
# for a session's lifetime, and DataFrames are immutable logical plans,
# so reuse is safe — and it skips the per-call file listing, the
# driver's footer read, the epoch probe and the py4j chatter of each
# table per query build. Keyed weakly on the session so a stopped
# session's plans are collectable.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


# Columns that carry event-time. Harness regenerations have stored these
# as TIMESTAMP(NANOS) (reads as bigint under the legacy conf), plain
# timestamp[us] (reads as timestamp_ntz), and could plausibly ship
# tz-tagged micros (reads as TIMESTAMP ltz) — normalization is
# schema-driven, not filename-driven, so any of those load identically.
EPOCH_COLS = {"ts"}

# Epoch-magnitude thresholds for int64 time columns: values for dates in
# the plausible data range (1990..2100) are ~1e17..4e18 in nanos,
# ~1e14..4e15 in micros, ~1e11..4e12 in millis, ~1e8..4e9 in seconds.
# The bands are >4 orders of magnitude apart, so one sample classifies.
_EPOCH_BANDS = [(10**17, "ns"), (10**14, "us"), (10**11, "ms"), (0, "s")]


# Rows sampled when classifying an int64 epoch column. LocalLimit keeps
# the probe bounded at any table size (it short-circuits after the first
# partitions produce enough rows); min AND max over the sample are
# band-checked so a mixed-unit column or an epoch outside the plausible
# date range fails LOUDLY instead of being silently misconverted
# (r4 ADVICE — a single-value probe classified blind).
_EPOCH_PROBE_ROWS = 100_000


def _epoch_band(v: int) -> str:
    return next(u for lo, u in _EPOCH_BANDS if abs(v) >= lo)


def epoch_conversions(probe_df: DataFrame) -> dict:
    """Classify which columns of a BATCH-read table need int64-epoch ->
    timestamp conversion. Returns {col: unit} ('ns'|'us'|'ms'|'s'|'ltz');
    timestamp_ntz columns need nothing and are absent.

    int64 columns are classified by epoch magnitude over the MIN and MAX
    of a bounded LocalLimit sample (one cheap scan, size-independent);
    if min and max land in different magnitude bands the column is
    ambiguous (mixed units, or values outside the ~1990-2100 range the
    bands are valid for) and classification raises rather than
    misconverting."""
    from pyspark.sql import functions as F

    conv: dict = {}
    dtypes = dict(probe_df.dtypes)
    for c in EPOCH_COLS & set(probe_df.columns):
        dt = dtypes[c]
        if dt == "bigint":
            row = (
                probe_df.select(c)
                .where(f"{c} is not null")
                .limit(_EPOCH_PROBE_ROWS)
                .agg(F.min(c).alias("lo"), F.max(c).alias("hi"))
                .collect()
            )[0]
            if row.lo is None:
                continue
            lo_band, hi_band = _epoch_band(int(row.lo)), _epoch_band(int(row.hi))
            if lo_band != hi_band:
                raise ValueError(
                    f"epoch column '{c}' is ambiguous: sampled min {row.lo} "
                    f"classifies as '{lo_band}' but max {row.hi} as "
                    f"'{hi_band}' — mixed units or out-of-range epochs; "
                    "refusing to guess a conversion"
                )
            conv[c] = lo_band
        elif dt == "timestamp":
            # tz-tagged micros: rebase to ntz under the UTC session tz so
            # every variant lands on the same type the oracles compare.
            conv[c] = "ltz"
    return conv


def apply_epoch_conversions(df: DataFrame, conv: dict) -> DataFrame:
    """Apply ``epoch_conversions`` output to a DataFrame — batch OR
    streaming (pure column expressions; no actions). All converted
    columns land as timestamp_ntz (micros precision; nanos truncate,
    matching DuckDB/Arrow ns->us casts)."""
    from pyspark.sql import functions as F

    exprs = {
        "ns": lambda c: F.timestamp_micros(F.expr(f"{c} div 1000")),
        "us": lambda c: F.timestamp_micros(F.col(c)),
        "ms": lambda c: F.timestamp_millis(F.col(c)),
        "s": lambda c: F.col(c).cast("timestamp"),
        "ltz": lambda c: F.col(c),
    }
    for c, unit in conv.items():
        df = df.withColumn(c, exprs[unit](c).cast("timestamp_ntz"))
    return df


def read_raw(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read a parquet path with the confs a correct read depends
    on pinned. ``nanosAsLong`` is a no-op for non-nanos files but is the
    only way a TIMESTAMP(NANOS) file can be read at all, so it is set
    BEFORE the read unconditionally (probing dtype first is impossible —
    the read itself would raise)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return store.read_parquet(spark, path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    # Versioned store tables (sources/store.py) resolve their pointer
    # first; keying the memo on the version keeps it correct for
    # MUTABLE store dirs (a re-synced table gets a new version, so a
    # stale cached file listing can never be served).
    version = store.current_version(path)
    memo = _TABLE_MEMO.setdefault(spark, {})
    df = memo.get((sf_dir, name, version))
    if df is not None:
        return df
    if version is not None:
        raw = read_raw(spark, store.version_dir(path, version))
    else:
        raw = read_raw(spark, path)
    df = apply_epoch_conversions(raw, epoch_conversions(raw))
    memo[(sf_dir, name, version)] = df
    return df


def discover_tables(sf_dir: str) -> list[str]:
    """Source-side schema discovery: table names present in the catalog
    directory (the Spark analogue of information_schema listing —
    reference: typescript/src/database.ts:55-66)."""
    return sorted(
        f[: -len(".parquet")]
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )


def table_intersection(source_tables: list[str], target_tables: list[str]) -> list[str]:
    """Load only tables present in BOTH schemas (reference:
    typescript/src/database.ts:35-45 getIntersectingTables) — a catalog
    metadata op; order is deterministic (sorted)."""
    return sorted(set(source_tables) & set(target_tables))


def column_intersection(source_cols: list[str], target_cols: list[str]) -> list[str]:
    """Columns present in BOTH schemas, in TARGET order (reference:
    queries/sql/get_table_columns.sql lists the target's columns and
    database.ts:121-144 maps each record value per target column) —
    the column-level twin of ``table_intersection``."""
    src = set(source_cols)
    return [c for c in target_cols if c in src]


def conform_to_schema(df: DataFrame, target_schema) -> DataFrame:
    """Project a staged batch onto the TARGET's column set — the Spark
    analogue of the reference's per-target-column record mapping
    (database.ts:121-144: for every column of the target table, take
    the record's value or NULL). Extra source columns are dropped,
    columns missing from the source become typed NULLs, and shared
    columns are cast to the target's type. A pure projection — stays in
    the scan/codegen stage, no shuffle."""
    from pyspark.sql import functions as F

    src = set(df.columns)
    return df.select(
        *[
            (F.col(f.name) if f.name in src else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in target_schema.fields
        ]
    )


class Catalog:
    """Lazy handle on one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return load_table(self.spark, self.sf_dir, name)
        raise AttributeError(name)

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def register_views(self) -> None:
        """Register every table as a temp view for the SQL API."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)
