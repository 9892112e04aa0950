"""Ingest-throughput benchmark against the reference's published number.

The reference loads ~3.6 M post-explode event rows in ~2 h (~500 rows/s,
``/root/reference/README.md:324``; BASELINE.md).  This tool generates a
reference-shaped corpus (same CSV/CDC format, ~10 events/row), runs the
full incremental pipeline (scan → parse → dedup → explode → merge sink)
over ``n_files`` files, and prints one JSON line with rows/s for
comparison.

It then lands one more file and runs one more cycle — the trickle case,
where a cycle should cost the new file, not the landing directory — and
reports that cycle's Spark jobs, the input bytes its stages read (CSV,
the merged buckets' parquet, and the persisted and checkpointed blocks
the cycle reads back), the new file's and the directory's
size, and the CPU seconds of the process tree (driver, JVM and Python
workers).  The last figure is the run's peak resident memory: the
driver's plus the JVM's high-water mark, as etlbench reads it.

Usage: python tools/ingest_bench.py [n_files] [rows_per_file]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_postgres_etl_spark.pipeline import incremental_load  # noqa: E402
from airflow_postgres_etl_spark.session import get_spark  # noqa: E402
from etlbench.procfs import tree_cpu_s, vm_hwm_mb  # noqa: E402
from tests.fixtures.gen_raw import generate  # noqa: E402


def _input_bytes(spark, job_ids) -> int:
    """Input bytes of the stages of ``job_ids`` (status store): files read
    from storage plus persisted and checkpointed blocks read back."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = set()
    for jid in job_ids:
        sids = store.job(jid).stageIds()
        stages.update(sids.apply(i) for i in range(sids.size()))
    total = 0
    for sid in stages:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "SKIPPED":
            total += sd.inputBytes()
    return total


def _one_cycle(spark, csv_dir, tr, ev) -> dict:
    """One ``incremental_load`` under its own job group: its counts, jobs,
    input bytes and process-tree CPU seconds."""
    sc = spark.sparkContext
    group = f"ingest-bench-{uuid.uuid4().hex[:8]}"
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    sc.setJobGroup(group, group)
    try:
        counts = incremental_load(spark, csv_dir, tr, ev)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    return {
        "counts": counts,
        "jobs": len(jobs),
        "input_bytes": _input_bytes(spark, jobs),
        "wall_s": round(wall, 2),
        "cpu_s": round(cpu, 2),
    }


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    work = tempfile.mkdtemp(prefix="ingest_bench_")
    try:
        csv_dir = os.path.join(work, "csv")
        t0 = time.perf_counter()
        generate(csv_dir, n_files=n_files, rows_per_file=rows)
        # the trickle file is generated apart (its own seed) and named
        # after every bulk file, so it lands past the high-water mark
        extra_dir = os.path.join(work, "extra")
        extra = generate(extra_dir, n_files=1, rows_per_file=rows, seed=7)[0]
        gen_s = time.perf_counter() - t0

        spark = get_spark(app_name="ingest_bench")
        tr, ev = os.path.join(work, "tracking"), os.path.join(work, "events")
        t0 = time.perf_counter()
        counts = incremental_load(spark, csv_dir, tr, ev)
        load_s = time.perf_counter() - t0

        dir_bytes = sum(
            os.path.getsize(os.path.join(csv_dir, f)) for f in os.listdir(csv_dir)
        )
        new_file = os.path.join(csv_dir, "99991231-235959999.csv")
        shutil.copy(os.path.join(extra_dir, extra), new_file)
        cycle = _one_cycle(spark, csv_dir, tr, ev)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak_mb = vm_hwm_mb("self") + (vm_hwm_mb(jvm.pid) if jvm else 0.0)

        print(
            json.dumps(
                {
                    "metric": "ingest_events_rows_per_sec",
                    "value": round(counts["events"] / load_s, 1),
                    "unit": "rows/sec",
                    "events_rows": counts["events"],
                    "tracking_rows": counts["tracking"],
                    "load_sec": round(load_s, 2),
                    "gen_sec": round(gen_s, 2),
                    "n_files": n_files,
                    "reference_baseline_rows_per_sec": 500,
                    "one_file_cycle": {
                        **cycle,
                        "new_file_bytes": os.path.getsize(new_file),
                        "dir_bytes_before": dir_bytes,
                    },
                    "peak_rss_mb": round(peak_mb),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
