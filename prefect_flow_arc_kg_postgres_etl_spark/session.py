"""SparkSession factory.

Tuned for the harness (local[N], single JVM) but every setting is the one
you would ship to a 1000-executor cluster: AQE on (runtime coalesce +
skew-join), UTC session timezone (oracle comparison + sanity), Arrow for
the few Pandas-UDF paths, shuffle partitions sized to cores locally
(cluster: size to total cores / target partition bytes).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import SparkSession

# Returned by AppLRU.get on a miss, so a cached None is a hit.
MISS = object()


class AppLRU:
    """Bounded least-recently-used cache of driver-side values (plans,
    probe results, small catalog rows), keyed per Spark application.

    The application id, not the session object, scopes an entry: ids
    are unique per SparkContext, so a stopped session's entries can
    never be served to a new one (a recycled Python ``id()`` could).
    An entry put with a ``stamp`` (a store fingerprint, a listing
    stamp) hits only when read with the same stamp; a put replaces it.
    A lock guards every access: the per-organisation fan-out and the
    star compile pool read and fill these caches from threads. Values
    are built outside the lock by the caller, so two threads missing
    on one key may both build it; the later put wins."""

    def __init__(self, maxsize: int):
        self.maxsize = maxsize
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    @staticmethod
    def _key(spark: SparkSession, key) -> tuple:
        return (spark.sparkContext.applicationId, key)

    def get(self, spark: SparkSession, key, stamp=None):
        """The value cached under ``key`` and ``stamp``, else MISS."""
        k = self._key(spark, key)
        with self._lock:
            entry = self._entries.get(k)
            if entry is None or entry[0] != stamp:
                return MISS
            self._entries.move_to_end(k)
            return entry[1]

    def put(self, spark: SparkSession, key, value, stamp=None) -> None:
        k = self._key(spark, key)
        with self._lock:
            self._entries[k] = (stamp, value)
            self._entries.move_to_end(k)
            while len(self._entries) > self.maxsize:
                self._entries.popitem(last=False)

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)


def get_spark(app_name: str = "arc-kg-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start shuffles at 512 partitions and let AQE coalesce down:
        # sized-to-cores partitions (32) hold per-partition aggregation
        # state 50x too large once the data outgrows the tuning point —
        # measured on the 50x key-shifted index_documents blowup:
        # 40.7 s at 32 fixed partitions vs 24.9 s with this setting,
        # with the sf0.1 1x queries unchanged or faster (AQE coalesces
        # them back to a handful of post-shuffle partitions). This is
        # the cluster posture: initial partitions scale with data,
        # runtime coalesce handles the small case.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan the OUTPUT partitioning of cached/persisted
        # plans (default false pins every .persist() at the
        # pre-coalesce initialPartitionNum): with 512 initial
        # partitions, a persisted tiny frame (the reference pivot's
        # wide table) otherwise materializes as 512 cached partitions
        # and EVERY downstream consumer pays a 512-task scan —
        # measured on the composed main flow at sf0.001: 86 s -> 15 s
        # body wall with this on, identical results. At cluster scale
        # the setting is strictly better for small cached dims and
        # neutral for large ones (coalesce only shrinks below target
        # size).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Parallel CI shards run one JVM each; give every shard its own
        # warehouse dir so concurrent managed-table tests cannot
        # collide on ./spark-warehouse (unset => Spark's cwd default).
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(os.getcwd(), "spark-warehouse"),
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The generated-class cache defaults to 100 entries; a session
        # running the full 43-query headline suite compiles well over 100
        # codegen units per pass, so the LRU evicts everything and every
        # timed pass re-pays janino compilation (~0.1-0.3 s/query,
        # uniformly). Size it to hold the whole suite. Read once at
        # CodeGenerator static init, so it must be set at session build.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # No Python call-site capture per DataFrame/Column call. By
        # default every Column method and F.col records the Python
        # stack and makes about four extra py4j calls; that was about
        # half of the driver-side plan-building time of a small KG
        # night (SPARQL construct, pivot, document star). Error
        # messages lose only the Python file:line "DataFrame" query
        # context. Static: PySpark reads it once per process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # lower()/upper() without ICU case mapping. With it (Spark 4's
        # default) the first such call in a JVM runs the static
        # initialiser of CollationAwareUTF8String: on a 4-core host a
        # first lower() over 10 rows cost 2.5-2.7 s of JVM CPU, against
        # 0.44-0.48 s with this off (fresh JVM, after one plain query).
        # The nightly path calls lower() in langMatches and in the
        # index-document SQL.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
