"""Parquet source catalog for the driver's testdata star schema.

Scan layer notes (SURVEY.md §2.1 S1): every table is a parquet scan,
so Catalyst gets vectorized Parquet scans with predicate pushdown +
column pruning for free.

Opening a table launches no Spark job. ``spark.read.parquet`` would
infer the schema with a distributed footer-read job — a fixed per-job
cost that dominates short queries — although the parquet footer
already holds it. :func:`read_parquet` reads that footer on the
driver, converts it with Spark's own converter (the one the inference
job runs, so INT96, ``timestamp_ntz`` and nanos-as-long come out the
same) and hands the result to ``spark.read.schema``. It reads flat
tables: a single file, or a directory of part files. Reads that
discover ``key=value`` partition directories stay on
``spark.read.parquet`` (``sources/warehouse.py``, ``compaction.py``,
``streaming/events.py``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .txlog import _as_nullable

#: Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
#: Summary files Spark's inference prefers to a data file, in order.
_SUMMARIES = ("_common_metadata", "_metadata")


def _footer(spark: SparkSession, path: str):
    """The parquet ``Footer`` of the file Spark's schema inference
    reads for ``path``: the file itself, or for a directory its
    ``_common_metadata``, else ``_metadata``, else its first data file
    by name (hidden ``_``/``.`` files skipped, as Spark's file index
    does)."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if fs.getFileStatus(p).isDirectory():
        names = sorted(s.getPath().getName() for s in fs.listStatus(p)
                       if s.isFile())
        data = [n for n in names if not n.startswith(("_", "."))
                and not n.endswith("._COPYING_")]
        pick = [n for n in _SUMMARIES if n in names] + data
        if not pick:
            raise FileNotFoundError(
                f"read_parquet: no parquet file directly under {path}")
        p = jvm.org.apache.hadoop.fs.Path(p, pick[0])
    meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, p)
    return jvm.org.apache.parquet.hadoop.Footer(p, meta)


def _holds_nanos(footer) -> bool:
    """Whether the footer's parquet schema has a TIMESTAMP(NANOS)
    column."""
    schema = footer.getParquetMetadata().getFileMetaData().getSchema()
    return "(TIMESTAMP(NANOS," in schema.toString()


def _open(spark: SparkSession, path: str, footer) -> DataFrame:
    """The scan of ``path`` with ``footer``'s schema, converted as the
    inference job converts it under the session's current conf."""
    jvm = spark._jvm
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pq.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf())
    schema = pq.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return spark.read.schema(_as_nullable(
        StructType.fromJson(json.loads(schema.json())))).parquet(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Open the parquet table at ``path`` like ``spark.read.parquet``
    does, with the schema taken from the footer on the driver instead
    of an inference job: same columns, same types, every field
    nullable."""
    return _open(spark, path, _footer(spark, path))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    ``events`` may be written with TIMESTAMP(NANOS) which Spark's
    parquet reader rejects; when its footer holds such a column, read
    nanos as long (runtime-settable session conf, so it also works on
    a driver-owned session) and rebuild the timestamp with exact
    integer division to micros.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return read_parquet(spark, path)
    footer = _footer(spark, path)
    if _holds_nanos(footer):
        spark.conf.set(_NANOS_AS_LONG, "true")
    df = _open(spark, path, footer)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """Register each table as a temp view so plans can use spark.sql."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
