"""``store.read_parquet`` takes a schema-less read's schema from a
footer on the driver. It must return exactly the schema Spark's own
inference returns, start no Spark job, and leave Spark's errors as
they were."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.sources import store

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _same_schema_no_job(spark, *paths):
    before = _jobs(spark)
    df = store.read_parquet(spark, *paths)
    assert _jobs(spark) == before, "read_parquet started a Spark job"
    assert df.schema == spark.read.parquet(*paths).schema
    return df


@pytest.fixture
def nanos_as_long(spark):
    previous = spark.conf.get(NANOS_AS_LONG, "false")
    spark.conf.set(NANOS_AS_LONG, "true")
    yield
    spark.conf.set(NANOS_AS_LONG, previous)


def test_pyarrow_nanos_timestamp(spark, tmp_path, nanos_as_long):
    path = str(tmp_path / "events.parquet")
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000, 1], pa.timestamp("ns")),
            "props": ["a", None],
        }
    )
    pq.write_table(table, path, version="2.6")
    df = _same_schema_no_job(spark, path)
    assert dict(df.dtypes)["ts"] == "bigint"  # nanosAsLong honoured


def test_store_version(spark, tmp_path):
    table = str(tmp_path / "orders.parquet")
    store.write_table(
        spark.range(20).select(
            "id", F.col("id").cast("string").alias("name"),
            F.current_date().alias("day"),
        ),
        table,
    )
    _same_schema_no_job(spark, store.version_dir(table, store.current_version(table)))


def test_partitioned_dedup_index(spark, tmp_path):
    import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(i, f"word{i} common words in every doc number {i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    D.build_dedup_index(docs, str(tmp_path), partitions=4)
    keys = _same_schema_no_job(spark, f"{tmp_path}/band_keys")
    assert keys.columns[-1] == "bh_p"  # the partition column is discovered
    grams = _same_schema_no_job(spark, f"{tmp_path}/grams")
    assert grams.columns[-1] == "id_p"


def test_multi_path_and_file_uri(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(5).selectExpr("id", "id * 2 AS twice").write.parquet(a)
    spark.range(5).selectExpr("id", "id * 3 AS twice").write.parquet(b)
    _same_schema_no_job(spark, a, b)
    _same_schema_no_job(spark, f"file://{a}")


def test_empty_directory_raises_sparks_error(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException) as ours:
        store.read_parquet(spark, str(empty))
    with pytest.raises(AnalysisException) as sparks:
        spark.read.parquet(str(empty))
    assert ours.value.getCondition() == sparks.value.getCondition()
    assert ours.value.getCondition() == "UNABLE_TO_INFER_SCHEMA"


def test_streaming_sink_output_is_read_through_its_log(spark, tmp_path):
    """Spark reads a file sink's output through its ``_spark_metadata``
    log, not its listing, so a stray file the log does not name (here
    one that sorts first, with another schema) must not decide the
    schema: the reader leaves such a read to Spark."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.parquet(src)
    query = (
        spark.readStream.schema("id long, twice long").parquet(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    stray = str(tmp_path / "stray")
    spark.range(1).selectExpr("'x' AS other").coalesce(1).write.parquet(stray)
    (part,) = (tmp_path / "stray").glob("part-*.parquet")
    shutil.copy(part, f"{out}/a-stray.parquet")
    df = store.read_parquet(spark, out)
    assert df.schema == spark.read.parquet(out).schema
    assert df.columns == ["id", "twice"]


def test_read_table_of_a_landed_table_starts_no_job(spark, tmp_path):
    table = str(tmp_path / "customer.parquet")
    store.write_table(spark.range(10).selectExpr("id", "id % 2 AS odd"), table)
    before = _jobs(spark)
    df = store.read_table(spark, table)
    assert _jobs(spark) == before
    assert df.columns == ["id", "odd"]


def test_dedup_probe_index_reads_start_no_job(spark, tmp_path, monkeypatch):
    """The probe's two index reads (band keys, grams) start no job, and
    its ``_meta`` read costs only its collect."""
    import prefect_flow_arc_kg_postgres_etl_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i} epsilon zeta") for i in range(8)],
        "doc_id long, text string",
    )
    D.build_dedup_index(docs, str(tmp_path))
    reads: list[tuple[str, int]] = []
    real = D.read_parquet

    def counting(spark_, *paths, **kw):
        before = _jobs(spark_)
        df = real(spark_, *paths, **kw)
        reads.append((paths[0].rsplit("/", 1)[1], _jobs(spark_) - before))
        return df

    monkeypatch.setattr(D, "read_parquet", counting)
    D._INDEX_META_CACHE.clear()
    before = _jobs(spark)
    assert D._read_index_meta(spark, str(tmp_path))[0]["partitions"] == 1
    assert _jobs(spark) - before == 1  # the collect
    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta doc 1 epsilon zeta")],
        "doc_id long, text string",
    )
    pairs = D.incremental_dup_pairs_indexed(new, str(tmp_path), 0.5).collect()
    assert reads == [("band_keys", 0), ("grams", 0)]
    assert any(r.doc_b == 100 for r in pairs)
