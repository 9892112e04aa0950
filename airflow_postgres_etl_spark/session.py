"""SparkSession factory.

One place to pin the configs that matter for correctness (UTC session
timezone so timestamps compare 1:1 with the DuckDB oracle) and for scale
(AQE on, shuffle partitions sized to the machine, Arrow for the few
pandas-UDF paths).

At 100 TB these same settings hold: AQE re-plans shuffles at runtime
(coalescing small partitions, splitting skewed ones), and
``shuffle.partitions`` becomes a cluster-level knob rather than a
hard-coded 200.

File listing (``LISTING_PARALLEL_MIN_PATHS``): every keyed-table read
passes Spark the exact live file paths from the manifest, so Spark's
only listing work is one stat per path.  Above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (Spark's
default: 32 paths) it does those stats in a Spark job with one task per
path.  The default keyed layout has 64 buckets, so with Spark's default
every full-table read, and every merge touching more than 32 buckets,
paid that job.  Measured on local disk (4 cores, 1-row parquet files,
median of 7): the driver-side stats cost about 0.2 ms a path (64 paths
61 ms, 1,024 paths 219 ms, 4,096 paths 830 ms) and the listing job
about 0.45 s plus 4 ms a path (64 paths 593 ms, 1,024 paths 4.7 s,
4,096 paths 17.3 s): no crossover on local disk up to 4,096 paths.  The
pinned 1,024 covers the default layout 16 times over (16 files per
bucket) and caps the driver's serial stats at about 0.2 s.  The
trade-off is object storage (not measured here): a stat there is a
network round trip of milliseconds, not a local syscall, so the serial
loop costs far more per path and the crossover falls back toward
Spark's 32.  A deployment on an object store lowers the threshold
through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Paths Spark stats on the driver before it launches a listing job
#: (see the module docstring for the measurement behind it).
LISTING_PARALLEL_MIN_PATHS = 1024


def get_spark(
    app_name: str = "airflow_postgres_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    Local-mode defaults; on a real cluster the master/memory settings come
    from spark-submit and everything here remains valid.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LISTING_PARALLEL_MIN_PATHS),
        )
        # testdata parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long nanos, converted in sources.parquet_source
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
