"""Scale-stress the table-format layer: does the cost of a SMALL keyed
batch stay flat while the TABLE grows?

For tables of 50k / 200k / 800k rows (or the row counts given), each
on its auto-sized layout (sized to its bytes,
``sink.TARGET_BUCKET_BYTES``) and on an explicit 64-bucket baseline,
applies the same 200-key batch through copy-on-write and merge-on-read,
then refreshes a grouped materialized view incrementally, recording the
layout, wall time, the process tree's CPU seconds per merge (driver,
JVM and Python workers) and bytes written / files read.  The 100 TB claims under test:

- CoW write volume grows with table size (every affected bucket is
  rewritten; a scattered 200-key batch touches most of them);
- MOR write volume is O(batch) — flat as the table grows 16x;
- the manifest-diff view refresh reads O(files changed), not O(table).

Usage: python tools/scale_stress_table.py [rows ...]   (appends nothing;
prints a markdown table for SCALE.md)
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_postgres_etl_spark.session import get_spark  # noqa: E402
from airflow_postgres_etl_spark.sink import (  # noqa: E402
    compact_keyed_table,
    describe_keyed_table,
    keyed_merge_mor,
    keyed_overwrite_parquet,
)
from airflow_postgres_etl_spark.views import refresh_aggregate_view  # noqa: E402
from etlbench.procfs import tree_cpu_s  # noqa: E402

WORK = "/tmp/scale_stress_table"
BATCH_KEYS = 200


def table_bytes(target: str) -> tuple[int, set[str]]:
    files = set(glob.glob(os.path.join(target, "data", "*", "*", "*.parquet")))
    return sum(os.path.getsize(f) for f in files), files


def new_bytes(target: str, before: set[str]) -> int:
    _, now = table_bytes(target)
    return sum(os.path.getsize(f) for f in now - before)


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [50_000, 200_000, 800_000]
    spark = get_spark(app_name="scale-stress-table")
    shutil.rmtree(WORK, ignore_errors=True)
    print(
        "| rows | layout | buckets | CoW merge | CoW CPU | CoW MB | MOR merge "
        "| MOR CPU | MOR MB | compact | view full | view incr | files read |"
    )
    print("|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    for n, num_buckets in itertools.product(sizes, (None, 64)):
        base = spark.range(n).selectExpr(
            "concat('k', id) AS oid__id",
            "concat('g', id % 7) AS grp",
            "CAST(id AS DOUBLE) AS v",
            "repeat('x', 64) AS payload",
        )

        def batch(tag):
            return spark.range(BATCH_KEYS).selectExpr(
                "concat('k', id) AS oid__id",
                "concat('g', id % 7) AS grp",
                f"CAST(-id - {tag} AS DOUBLE) AS v",
                "repeat('y', 64) AS payload",
            )

        stats = {}
        for mode, merge in (("cow", keyed_overwrite_parquet), ("mor", keyed_merge_mor)):
            t = os.path.join(WORK, f"{mode}{n}_{num_buckets}")
            keyed_overwrite_parquet(
                spark, base, t, num_buckets=num_buckets, vacuum=False
            )
            _, before = table_bytes(t)
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            merge(spark, batch(1), t)
            stats[f"{mode}_s"] = time.perf_counter() - t0
            stats[f"{mode}_cpu"] = tree_cpu_s() - cpu0
            stats[f"{mode}_mb"] = new_bytes(t, before) / 1e6
        t = os.path.join(WORK, f"mor{n}_{num_buckets}")
        t0 = time.perf_counter()
        compact_keyed_table(spark, t)
        stats["compact_s"] = time.perf_counter() - t0

        t = os.path.join(WORK, f"cow{n}_{num_buckets}")
        layout = describe_keyed_table(t)["num_buckets"]
        mv = os.path.join(WORK, f"mv{n}_{num_buckets}")
        t0 = time.perf_counter()
        r_full = refresh_aggregate_view(spark, t, mv, ["grp"], ["v"])
        stats["full_s"] = time.perf_counter() - t0
        assert r_full["mode"] == "full"
        n_table_files = r_full["files_read"]
        # bucket-correlated batch: 200 keys all hashing to ONE bucket of
        # the table's own layout — the workload where incremental refresh
        # shines (time-correlated or entity-correlated upserts cluster in
        # few buckets).  A fully SCATTERED batch rewrites ~every bucket
        # under CoW, so the diff degenerates to table-sized — that case
        # is the `CoW MB` column.  On a one-bucket layout the two cases
        # coincide: every batch rewrites the whole table.
        from pyspark.sql import functions as F

        keys = [
            r.oid__id
            for r in spark.range(n)
            .selectExpr("concat('k', id) AS oid__id")
            .filter(
                F.pmod(F.xxhash64(F.col("oid__id").cast("string")), F.lit(layout))
                == 0
            )
            .limit(BATCH_KEYS)
            .collect()
        ]
        corr = spark.createDataFrame(
            [(k, "g0", -99.0, "y" * 64) for k in keys],
            ["oid__id", "grp", "v", "payload"],
        )
        keyed_overwrite_parquet(spark, corr, t, vacuum=False)
        t0 = time.perf_counter()
        r_inc = refresh_aggregate_view(spark, t, mv, ["grp"], ["v"])
        stats["incr_s"] = time.perf_counter() - t0
        assert r_inc["mode"] == "incremental"

        print(
            f"| {n:,} | {num_buckets or 'auto'} | {layout} | "
            f"{stats['cow_s']:.2f} s | {stats['cow_cpu']:.2f} s | "
            f"{stats['cow_mb']:.1f} | {stats['mor_s']:.2f} s | "
            f"{stats['mor_cpu']:.2f} s | {stats['mor_mb']:.2f} | "
            f"{stats['compact_s']:.1f} s | {stats['full_s']:.1f} s "
            f"({n_table_files} files) | "
            f"{stats['incr_s']:.1f} s | {r_inc['files_read']} |"
        )
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
