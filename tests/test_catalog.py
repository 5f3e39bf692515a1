"""Parquet source catalog (sources/catalog.py): ``read_parquet`` takes
the schema from the footer on the driver and must give exactly the
schema Spark's inference job gives, and opening a table must launch
no Spark job."""

from __future__ import annotations

import datetime as dt
import pathlib

import pytest
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import (
    TESTDATA_TABLES, load_table, read_parquet,
)

from .conftest import SF_DIR
from .helpers import count_jobs

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
#: the directory holding the sf0.001/sf0.01/sf0.1 testdata sets
_TESTDATA = pathlib.Path(SF_DIR).parent
_PKG = (pathlib.Path(__file__).resolve().parents[1]
        / "library_data_warehouse_and_business_analytics_system_spark")


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_footer_schema_equals_inferred_on_testdata(spark, sf, table):
    path = str(_TESTDATA / sf / f"{table}.parquet")
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_footer_schema_equals_inferred_on_spark_written_dir(spark, tmp_path):
    """Seven part files, a NOT NULL column and an INT96 timestamp: the
    footer carries Spark's own row schema, which the converter must
    turn into what inference gives (nullable, timestamp)."""
    path = str(tmp_path / "t.parquet")
    df = (spark.range(50).repartition(7)
          .withColumn("ts", F.timestamp_seconds(F.col("id") * 3600))
          .withColumn("amount", F.col("id").cast("decimal(12,2)")))
    assert df.schema["id"].nullable is False
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        df.write.parquet(path)
    finally:
        spark.conf.set(key, prev)
    assert len(list(pathlib.Path(path).glob("part-*.parquet"))) == 7
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert all(f.nullable for f in got.schema.fields)
    assert (sorted(got.collect())
            == sorted(spark.read.parquet(path).collect()))


def test_footer_schema_equals_inferred_on_documents_dir(spark, tmp_path):
    """The 2-column ``documents.parquet`` dir the llm_ops tests write."""
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame([(1, "a b"), (2, None)],
                          "doc_id long, text string").write.parquet(d)
    assert read_parquet(spark, d).schema == spark.read.parquet(d).schema
    assert load_table(spark, str(tmp_path), "documents").count() == 2


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_load_table_launches_no_job(spark, sf_dir, table):
    _, jobs = count_jobs(spark, lambda: load_table(spark, sf_dir, table))
    assert jobs == 0


def test_micros_events_leave_nanos_conf_untouched(spark, sf_dir):
    prev = spark.conf.get(_NANOS)
    spark.conf.set(_NANOS, "false")
    try:
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] != "bigint"
        assert spark.conf.get(_NANOS) == "false"
    finally:
        spark.conf.set(_NANOS, prev)


def test_nanos_events_load_with_exact_micros(spark, tmp_path):
    """A pyarrow ``timestamp[ns]`` events file: ts is read as nanos and
    rebuilt as a timestamp truncated to exact micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 0, 86_400_000_000_999, None]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(ns)), pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
    }), tmp_path / "events.parquet")
    prev = spark.conf.get(_NANOS)
    try:
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = {r["event_id"]: r["us"] for r in
               df.select("event_id", F.unix_micros("ts").alias("us"))
               .collect()}
    finally:
        spark.conf.set(_NANOS, prev)
    assert got == {i: (n // 1000 if n is not None else None)
                   for i, n in enumerate(ns)}
    assert (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=got[0])
            == dt.datetime(2023, 11, 14, 22, 13, 20, 123456))


def test_flat_parquet_opens_go_through_read_parquet():
    """Only reads that discover partitions (or read txlog dirs, which
    carry schema sidecars) may call ``spark.read.parquet`` directly;
    every other open goes through ``catalog.read_parquet``."""
    allowed = {"sources/txlog.py", "sources/warehouse.py",
               "sources/compaction.py", "streaming/events.py"}
    callers = {p.relative_to(_PKG).as_posix() for p in _PKG.rglob("*.py")
               if "spark.read.parquet(" in p.read_text()}
    assert callers <= allowed, sorted(callers - allowed)
