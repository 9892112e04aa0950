"""Per-query optimization profiler (r11).

Times one registered query end-to-end on a warmed session, counts the
Spark jobs it launches (statusTracker job-group ids) and the time spent
inside the engine's commit-path helpers and the view refresh skeleton's
steps (pinned read, view write, touched-group recompute), and
optionally dumps the final frame's ``explain("formatted")``.

Usage::

    python tools/profile_query.py NAME [NAME...] [--explain-dir DIR]

Prints one JSON line per query:
``{"query", "total_s", "n_jobs", "helpers": {fn: [calls, sec]}}``.
Measurement tool only — never imported by the engine or the bench.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import airflow_postgres_etl_spark.sink as sink
import airflow_postgres_etl_spark.views as views
from airflow_postgres_etl_spark.caching import release_caches
from airflow_postgres_etl_spark.plans import QUERIES
from airflow_postgres_etl_spark.session import get_spark

HELPERS = [
    "_read_files",
    "_describe_files",
    "vacuum_keyed_table",
    "_commit_manifest",
    "_align_batch_types",
    "_enforce_constraints",
    "_resolve_dirty",
    "_write_bucketed",
    "keyed_overwrite_parquet",
    "keyed_append",
    "read_keyed_table",
    "lookup_keys",
    "merge_into",
    "apply_changes",
    "apply_changes_scd2",
    "compact_keyed_table",
    "restore_keyed_table",
]

#: the refresh skeleton's steps (views.py module docstring); the
#: refreshers call them through the module, so wrapping them here
#: attributes a view query's time to its steps
VIEW_HELPERS = ["_read_pinned", "_write_view", "_touched_partial_recompute"]

COUNTS: dict[str, list] = {}


def _wrap(mod, name):
    fn = getattr(mod, name)

    @functools.wraps(fn)
    def inner(*a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            c = COUNTS.setdefault(name, [0, 0.0])
            c[0] += 1
            c[1] += time.perf_counter() - t0

    setattr(mod, name, inner)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    exp_dir = None
    if "--explain-dir" in sys.argv:
        exp_dir = sys.argv[sys.argv.index("--explain-dir") + 1]
        os.makedirs(exp_dir, exist_ok=True)
    for nm in HELPERS:
        _wrap(sink, nm)
    for nm in VIEW_HELPERS:
        _wrap(views, nm)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile-query")
    sc = spark.sparkContext
    QUERIES["tpch_q6_revenue_forecast"](spark, sf_dir).collect()
    for name in names:
        COUNTS.clear()
        group = f"prof-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        total = time.perf_counter() - t0
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("idle", "idle")
        if exp_dir is not None:
            with open(os.path.join(exp_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        release_caches()
        print(json.dumps({
            "query": name,
            "total_s": round(total, 3),
            "n_jobs": n_jobs,
            "helpers": {
                k: [v[0], round(v[1], 3)]
                for k, v in sorted(COUNTS.items(), key=lambda kv: -kv[1][1])
            },
        }))


if __name__ == "__main__":
    main()
