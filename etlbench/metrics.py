"""Every metric name the benchmark can print, with its unit.

``BENCHMARK.json`` declares the same names; a test keeps the two equal.
"""

from __future__ import annotations

import statistics

#: set-up and op cost in CPU seconds of the process tree (see README.md)
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "jobs_per_op": "count",
    "peak_rss_mb": "MB",
}

#: traced spans, one per layer call the benchmark wraps
SPANS = [
    "session.get_spark",
    "caching.release_caches",
    "pipeline.incremental_load.self",
    "pipeline.parquet_high_water_mark",
    "sink.keyed_overwrite_parquet.events",
    "sink.keyed_overwrite_parquet.tracking",
    "functions.literal_parse",
    "sink.read_keyed_table",
    "plans.reference_queries",
    "operators.expectations.dq_orders_report",
]
SPAN_FIELDS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "driver_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}
PER_LAYER = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()}
for _t in ("events", "tracking"):
    PER_LAYER[f"sink.keyed_overwrite_parquet.{_t}.files_written"] = "count"
    PER_LAYER[f"sink.keyed_overwrite_parquet.{_t}.bytes_written"] = "bytes"
PER_LAYER.update(
    {
        "fresh_read_p50_s": "s",
        "stored_bytes_per_input_byte": "ratio",
        "write_bytes_per_input_byte": "ratio",
        "trace.setup_wall_s": "s",
        "trace.op_p50_s": "s",
        "trace.op_cpu_s": "s",
        "trace.rows_per_s": "rows/s",
        "trace.unattributed_jobs": "count",
    }
)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def emit(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every declared name (0 when a
    workload has no such span)."""
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"undeclared metrics: {sorted(unknown)}")
    return {n: {"value": values.get(n, 0), "unit": u} for n, u in units.items()}
