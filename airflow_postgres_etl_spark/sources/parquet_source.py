"""Parquet testdata loader + temp-view registration.

Gives both API surfaces the reference implies: DataFrame handles for the
operator library and named views for ``spark.sql`` (reference entry point C,
SURVEY §3.3).

The rule for source reads: a read passes a schema; it never asks Spark to
infer one.  A bare ``spark.read.parquet(path)`` infers eagerly, in one
Spark job per call (labelled ``parquet at ...``) even for a single file.
:func:`footer_schema` resolves the same schema on the driver, through the
same footer converter Spark's inference uses, and the read is built with
``spark.read.schema(...)``: building a frame launches no job.  The keyed
table's reads pass the schema their manifest records instead
(``sink._read_files``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import TESTDATA_TABLES
from .csv_source import _GLOB_CHARS

# Testdata parquet may store TIMESTAMP(NANOS,false) (int64), which Spark's
# parquet reader rejects outright.  With spark.sql.legacy.parquet.nanosAsLong
# the column arrives as long nanoseconds; convert losslessly to timestamp
# (data is microsecond-grained — verified no sub-microsecond components).
# Files storing TIMESTAMP(MICROS,false) read as timestamp_ntz, unconverted.
NANO_TS_COLUMNS: dict[str, list[str]] = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Make a FOREIGN SparkSession (e.g. the driver's own, passed into
    ``__spark_entry__.entry``/``queries``) able to read the testdata and
    compare against the UTC-naive oracle.  Both settings are session-scoped
    and verified settable post-hoc:

    - without ``nanosAsLong`` a vanilla session fails outright on a
      file storing TIMESTAMP(NANOS) (PARQUET_TYPE_ILLEGAL);
    - without a UTC session timezone every timestamp comparison against
      the oracle shifts by the host offset.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # read-only conf (unlikely): proceed with the session as-is


def _data_files(spark: SparkSession, paths, conf) -> list:
    """The data files Spark's reader lists under ``paths`` (Hadoop
    ``Path``s, qualified), or none where its inference would read
    anything but the first of them: a glob (Spark expands it), a missing
    path, a directory holding a subdirectory (partition discovery adds
    columns) or a summary file (``_metadata``/``_common_metadata``, read
    first).  Hidden names (``_``/``.`` prefix) are skipped, as Spark
    skips them."""
    jvm = spark.sparkContext._jvm
    out = []
    for path in paths:
        if _GLOB_CHARS.search(path):
            return []
        root = jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(conf)
        if not fs.exists(root):
            return []
        st = fs.getFileStatus(root)
        for child in fs.listStatus(root) if st.isDirectory() else [st]:
            name = child.getPath().getName()
            if child.isDirectory() or name in ("_metadata", "_common_metadata"):
                return []
            if name[0] not in "_.":
                out.append(child.getPath())
    return out


def footer_schema(spark: SparkSession, *paths: str) -> StructType:
    """The schema ``spark.read.parquet(*paths)`` infers, without its job.

    Spark's inference (no schema merging) converts the footer of the
    first data file in path order; this reads that footer on the driver
    (Hadoop ``ParquetFileReader``) and converts it with the same call,
    ``ParquetFileFormat.readSchemaFromFooter`` under the session's
    ``ParquetToSparkSchemaConverter`` — so ``nanosAsLong``, the
    binary-as-string rule, INT96 handling and the Spark row-metadata
    key apply exactly as they do there.  Where one footer is not the
    answer — ``spark.sql.parquet.mergeSchema`` on, or no data file to
    read (see :func:`_data_files`) — it defers to Spark's inference,
    job included, whose answer or error the caller then gets."""
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    files = [] if merge.lower() == "true" else _data_files(spark, paths, conf)
    if not files:
        return spark.read.parquet(*paths).schema
    jvm = spark.sparkContext._jvm
    hadoop = jvm.org.apache.parquet.hadoop
    first = min(files, key=lambda p: p.toString())
    footers = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
    meta = hadoop.ParquetFileReader.readFooter(conf, first, footers.SKIP_ROW_GROUPS)
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        hadoop.Footer(first, meta), pq.ParquetToSparkSchemaConverter(state.conf())
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(footer_schema(spark, path)).parquet(path)
    for c in NANO_TS_COLUMNS.get(name, []):
        if c in df.columns and dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each testdata table as a temp view so ``spark.sql`` works."""
    tables = load_tables(spark, sf_dir, names)
    for n, df in tables.items():
        df.createOrReplaceTempView(n)
    return tables
