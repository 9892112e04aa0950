"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 etlbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Run it from the repository root.  ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones.  Everything the run writes
stays under ``.etlbench_work/`` in the repository root and is removed at
exit.  Without the package next to this directory the run exits with
code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "airflow_postgres_etl_spark")
sys.path.insert(0, ROOT)

from etlbench.procfs import descendants, process_age_s, vm_hwm_mb  # noqa: E402


def pin_environment(work: str) -> int:
    """Size Spark to this host and keep every file it writes in ``work``.

    Must run before pyspark or the package is imported: ``session.py``
    reads ``SPARK_GRAFT_CPUS`` at import time and defaults to 32 cores.
    """
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_DRIVER_MEM": "2g",
            "TMPDIR": tmp,
            # the literal-parse UDF imports the package on the Python workers
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # a fixed heap keeps GC sizing, and so timings and RSS, alike run to run
            # no hsperfdata: HotSpot writes it to /tmp whatever java.io.tmpdir says
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
                "pyspark-shell"
            ),
        }
    )
    return cpus


def _jvm():
    from pyspark import SparkContext

    return SparkContext._gateway, getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait."""
    gateway, proc = _jvm()
    spark.stop()
    if proc is None:
        return
    others = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while others and time.time() < deadline:
        others = {p for p in others if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in others:
        os.kill(p, 9)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", help="full (default) or tiny, for smoke tests")
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"etlbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".etlbench_work")
    shutil.rmtree(work, ignore_errors=True)
    cpus = pin_environment(work)
    try:
        return _run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cpus: int) -> int:
    from etlbench import metrics as M
    from etlbench import workloads as W
    from etlbench.spans import Stats

    if args.workload not in W.WORKLOADS:
        print(f"etlbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import pyspark

    from airflow_postgres_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"etlbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_s = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "nproc": cpus,
                "spark": pyspark.__version__,
                "python": platform.python_version(),
            }
        ),
        flush=True,
    )
    try:
        bench = W.Bench(
            spark, work, bool(args.trace), W.SCALES[args.scale], time.time() - process_age_s()
        )
        bench.add_span_stats("session.get_spark", Stats(wall_s=session_s, driver_s=session_s))
        extra = W.WORKLOADS[args.workload](bench, args.seed, args.seconds)
        proc = _jvm()[1]
        peak = vm_hwm_mb("self") + (vm_hwm_mb(proc.pid) if proc else 0.0)
    finally:
        stop_spark(spark)

    for f in bench.failures:
        print(f"etlbench: FAILED {f}", file=sys.stderr)
    print(
        "etlbench: ops " + json.dumps([[round(o.seconds, 3), round(o.cpu_s, 2), o.jobs, o.traced] for o in bench.ops])
        + f" setup_cpu_s {bench.setup_cpu_s:.2f}",
        file=sys.stderr,
    )
    if args.trace:
        metrics = M.emit(bench.per_layer(extra), M.PER_LAYER)
    else:
        metrics = M.emit(bench.end_to_end(peak), M.END_TO_END)
    failed = sum(1 for o in bench.ops if o.error)
    result = {
        "correct": not bench.failures,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
