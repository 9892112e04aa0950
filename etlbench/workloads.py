"""The benchmark's workloads, their correctness checks and their metrics.

Both run in one process on ``local[nproc]`` with one closed-loop client:
each op starts after the previous one returns.  Set-up (session, inputs,
preload) is timed as ``setup_s`` and never with the ops.  Runs time no
warm-up op: the run budget cannot pay for one (see README.md), and every
run pays the same first-use costs.  A traced run times the same op as an
untraced one, with spans.  Correctness is checked after the timed window.
"""

from __future__ import annotations

import gc
import os
import time
from contextlib import ExitStack, nullcontext
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from airflow_postgres_etl_spark import caching, pipeline, sink
from airflow_postgres_etl_spark.functions.literal_parse import parse_events
from airflow_postgres_etl_spark.plans import ORACLE, QUERIES
from airflow_postgres_etl_spark.plans import reference_queries as rq
from airflow_postgres_etl_spark.sources.csv_source import read_tracking_csv
from etlbench import corpus as C
from etlbench import metrics as M
from etlbench import tables
from etlbench.procfs import tree_cpu_s
from etlbench.spans import FIELDS, Stats, Tracer
from tests.oracle_utils import compare, run_oracle


@dataclass(frozen=True)
class Scale:
    rows_per_file: int
    preload_files: int
    n_orders: int


SCALES = {
    "full": Scale(rows_per_file=100, preload_files=2, n_orders=50_000),
    "tiny": Scale(rows_per_file=30, preload_files=2, n_orders=4_000),
}

#: files landed per cdc_trickle op, in rotation (the reference's 1-3 file arrivals)
FILES_PER_OP = (1, 2, 3)

#: the reference's declared queries, run on freshly read targets after each commit
REF_QUERIES = {
    "q1": lambda t, e: rq.q1_trackings_per_minute(t),
    "q2": lambda t, e: rq.q2_events_per_tracking_code(e),
    "q3": lambda t, e: rq.q3_top10_descriptions(e),
    "q4": rq.q4_tracking_with_events,
}
#: DuckDB twins of REF_QUERIES over the corpus model
REF_SQL = {
    "q1": """SELECT date_trunc('minute', createdAt) AS minute, count(*) AS "count"
             FROM tracking GROUP BY 1 ORDER BY minute LIMIT 1000""",
    "q2": """SELECT trackingCode, count(*) AS "count" FROM events GROUP BY trackingCode
             ORDER BY "count" DESC, trackingCode ASC NULLS FIRST LIMIT 1000""",
    "q3": """SELECT description, count(*) AS total_events,
                    rank() OVER (ORDER BY count(*) DESC) AS event_rank
             FROM events GROUP BY description QUALIFY event_rank <= 10""",
    "q4": """SELECT t.oid__id, t.Op, count(e.trackingCode) AS n_events
             FROM tracking t LEFT JOIN events e
               ON t.oid__id = e.oid__id AND e.trackingCode IS NOT NULL
             GROUP BY t.oid__id, t.Op""",
}

#: table_lifecycle: (query, module it mostly exercises, input tables it reads)
LIFECYCLE = [
    ("dq_orders_report", "operators.expectations", ("orders", "customer")),
]


class Collected:
    """A collected result in the shape ``oracle_utils.compare`` reads."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


@dataclass
class Op:
    seconds: float
    traced: bool
    cpu_s: float = 0.0
    jobs: int = 0
    rows: int = 0
    write_bytes: int = 0
    input_bytes: int = 0
    read_s: float = 0.0
    written: dict = field(default_factory=dict)
    stats: Stats | None = None
    error: str | None = None


class Bench:
    """State shared by the workloads: session, tracer, ops and span stats."""

    def __init__(self, spark, work: str, traced: bool, scale: Scale, started: float):
        self.spark = spark
        self.work = work
        self.traced = traced
        self.scale = scale
        self.started = started
        self.tracer = Tracer.for_context(spark.sparkContext)
        if self.tracer.store is None and not traced:
            raise RuntimeError("the Spark status store is unreachable; end-to-end metrics need it")
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.span_stats: dict[str, list[Stats]] = {}
        self.unattributed = 0
        self.setup_s = 0.0
        self.setup_cpu_s = 0.0

    def layer(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else nullcontext()

    def end_setup(self) -> None:
        self.setup_s = time.time() - self.started
        self.setup_cpu_s = tree_cpu_s()

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def run_op(self, fn, traced: bool) -> tuple[Op, object]:
        """Time ``fn()``.  Untraced, it runs under one job group; traced,
        ``fn`` opens the layer spans itself and every job must land in one."""
        first = len(self.tracer.roots)
        hi = self.tracer.max_job_id() if traced else -1
        # start every op from collected heaps, so no op pays for another's garbage
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        with self.layer("op", not traced):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                result, err = fn(), None
            except Exception as e:  # counted in failed, never fatal
                result, err = None, f"{type(e).__name__}: {e}"
            seconds, cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
        op = Op(seconds, traced, cpu_s, error=err)
        spans = self.tracer.roots[first:]
        ids = self.tracer.op_job_ids(spans) if err is None else set()
        op.jobs = len(ids)
        if traced:
            self.unattributed += len(self.tracer.jobs_after(hi) - ids)
            todo = list(spans)
            while todo:
                s = todo.pop()
                self.add_span_stats(s.name, self.tracer.read(s))
                todo.extend(s.children)
        else:
            op.stats = self.tracer.read(spans[0])
        self.ops.append(op)
        with self.layer("caching.release_caches", traced):
            caching.release_caches()
        if traced:
            self.add_span_stats("caching.release_caches", self.tracer.read(self.tracer.roots[-1]))
        return op, result

    # ------------------------------------------------------------- metrics

    def end_to_end(self, peak_rss_mb: float) -> dict[str, float]:
        """CPU seconds rather than wall seconds: on a shared VM the wall time
        of the same op swings by 40% with the host's load (see README.md)."""
        ops = [o for o in self.ops if o.error is None]
        return {
            "setup_s": self.setup_cpu_s,
            "op_cpu_s": M.median(o.cpu_s for o in ops),
            "jobs_per_op": sum(o.jobs for o in ops) / max(1, len(ops)),
            "peak_rss_mb": peak_rss_mb,
        }

    def per_layer(self, extra: dict[str, float]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, stats in self.span_stats.items():
            for f in FIELDS:
                out[f"{name}.{f}"] = M.median(getattr(s, f) for s in stats)
        ops = [o for o in self.ops if o.error is None]
        op_s = sum(o.seconds for o in ops)
        out["trace.setup_wall_s"] = self.setup_s
        out["trace.op_p50_s"] = M.median(o.seconds for o in ops)
        out["trace.op_cpu_s"] = M.median(o.cpu_s for o in ops)
        out["trace.rows_per_s"] = sum(o.rows for o in ops) / op_s if op_s else 0.0
        out["write_bytes_per_input_byte"] = sum(o.write_bytes for o in ops) / max(
            1, sum(o.input_bytes for o in ops)
        )
        out["trace.unattributed_jobs"] = self.unattributed
        out.update(extra)
        return out

    def add_span_stats(self, name: str, stats: Stats) -> None:
        self.span_stats.setdefault(name, []).append(stats)


def _files_under(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _window(seconds: float, min_ops: int):
    """Yield op indexes until ``seconds`` have passed and ``min_ops`` ran."""
    t0, k = time.perf_counter(), 0
    while k < min_ops or time.perf_counter() - t0 < seconds:
        yield k
        k += 1


# ------------------------------------------------------------- cdc_trickle


def _model_frames(state: dict[str, C.Row]) -> tuple[pd.DataFrame, pd.DataFrame]:
    rows = list(state.values())
    tracking = pd.DataFrame(
        {
            "oid__id": [r.key for r in rows],
            "Op": [r.op for r in rows],
            "createdAt": pd.to_datetime([r.created for r in rows], unit="s"),
        }
    )
    ev = [
        (r.key, e["trackingCode"], e["description"])
        for r in rows
        for e in (r.events or [{"trackingCode": None, "description": None}])
    ]
    events = pd.DataFrame(ev, columns=["oid__id", "trackingCode", "description"])
    return tracking, events


def expected_ref(corpus: C.Corpus, n_files: int, q: str) -> pd.DataFrame:
    """DuckDB's answer to reference query ``q`` after the first ``n_files``."""
    tracking, events = _model_frames(corpus.state(n_files))
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.register("tracking", tracking)
        con.register("events", events)
        return con.execute(REF_SQL[q]).fetchdf()
    finally:
        con.close()


def cdc_trickle(b: Bench, seed: int, seconds: float) -> dict[str, float]:
    spark = b.spark
    corpus = C.Corpus(seed, b.scale.rows_per_file)
    csv_dir = os.path.join(b.work, "csv")
    tr, ev = os.path.join(b.work, "tracking"), os.path.join(b.work, "events")
    os.makedirs(csv_dir)

    def land(n: int) -> list[C.CsvFile]:
        files = corpus.draw(n)
        for f in files:
            with open(os.path.join(csv_dir, f.name), "wb") as fh:
                fh.write(f.data)
        return files

    checks: list[tuple[Op, list[C.CsvFile], int, object]] = []

    def cycle(files: list[C.CsvFile], traced: bool) -> None:
        before = {t: _files_under(t) for t in (tr, ev)}

        def op():
            with b.layer("pipeline.incremental_load.self", traced):
                counts = pipeline.incremental_load(spark, csv_dir, tr, ev)
            t0 = time.perf_counter()
            with b.layer("sink.read_keyed_table", traced):
                t, e = sink.read_keyed_table(spark, tr), sink.read_keyed_table(spark, ev)
            with b.layer("plans.reference_queries", traced):
                pdfs = {q: fn(t, e).toPandas() for q, fn in REF_QUERIES.items()}
            return counts, pdfs, time.perf_counter() - t0

        o, result = b.run_op(op, traced)
        o.input_bytes = sum(len(f.data) for f in files)
        for name, t in (("tracking", tr), ("events", ev)):
            new = {p: n for p, n in _files_under(t).items() if p not in before[t]}
            o.written[name] = (len(new), sum(new.values()))
            o.write_bytes += sum(new.values())
        if result is not None:
            o.rows, o.read_s = result[0]["events"], result[2]
        checks.append((o, files, len(corpus.files), result))

    # the preload is the first merge of the process, so it also pays the
    # session's first-use costs before any op is timed
    land(b.scale.preload_files)
    got = pipeline.incremental_load(spark, csv_dir, tr, ev)
    if got != C.batch_counts([r for f in corpus.files for r in f.rows]):
        b.fail(f"preload merged {got}")
    b.end_setup()

    with ExitStack() as stack:
        if b.traced:
            stack.enter_context(
                b.tracer.wrapped(pipeline, "parquet_high_water_mark", lambda a: "pipeline.parquet_high_water_mark")
            )
            stack.enter_context(
                b.tracer.wrapped(
                    pipeline,
                    "keyed_overwrite_parquet",
                    lambda a: "sink.keyed_overwrite_parquet."
                    + ("events" if a["target"] == ev else "tracking"),
                )
            )
        for k in _window(seconds, 1):
            files = land(FILES_PER_OP[k % len(FILES_PER_OP)])
            cycle(files, b.traced)
            if b.traced:
                with b.tracer.span("functions.literal_parse"):
                    n = (
                        read_tracking_csv(spark, [os.path.join(csv_dir, f.name) for f in files])
                        .select(F.size(parse_events("array_trackingEvents")).alias("n"))
                        .agg(F.sum("n"))
                        .collect()[0][0]
                    )
                b.add_span_stats("functions.literal_parse", b.tracer.read(b.tracer.roots[-1]))
                if n != sum(len(r.events) for f in files for r in f.rows):
                    b.fail(f"parse_events counted {n} events")

    # correctness, outside the timed window
    for o, files, n_files, result in checks:
        if o.error:
            b.fail(o.error)
            continue
        want = C.batch_counts([r for f in files for r in f.rows])
        if result[0] != want or min(want.values()) == 0:
            b.fail(f"op merged {result[0]}, expected {want}")
            o.error = "wrong merge counts"
            continue
        for q, pdf in result[1].items():
            try:
                compare(Collected(pdf), expected_ref(corpus, n_files, q))
            except AssertionError as e:
                b.fail(f"{q} after {n_files} files: {e}")
                o.error = "wrong fresh read"
    # the last op's q4 already pins one tracking row per key and each key's
    # events; the count adds the null-event rows of empty arrays
    state = corpus.state(len(corpus.files))
    if sink.read_keyed_table(spark, ev).count() != sum(
        max(1, len(r.events)) for r in state.values()
    ):
        b.fail("events row count")

    ok = [o for o in b.ops if o.error is None]
    stored = sum(_files_under(tr).values()) + sum(_files_under(ev).values())
    extra = {
        "fresh_read_p50_s": M.median(o.read_s for o in ok),
        "stored_bytes_per_input_byte": stored / sum(len(f.data) for f in corpus.files),
    }
    for name in ("events", "tracking"):
        for i, f in enumerate(("files_written", "bytes_written")):
            extra[f"sink.keyed_overwrite_parquet.{name}.{f}"] = M.median(
                o.written[name][i] for o in ok
            )
    return extra


# ----------------------------------------------------------- table_lifecycle


def table_lifecycle(b: Bench, seed: int, seconds: float) -> dict[str, float]:
    spark = b.spark
    sf_dir = os.path.join(b.work, "sf")
    sizes = tables.write_tables(sf_dir, seed, b.scale.n_orders)
    results: list[tuple[Op, str, object]] = []

    def one(query: str, module: str, inputs: tuple[str, ...], traced: bool) -> None:
        def op():
            with b.layer(f"{module}.{query}", traced):
                return QUERIES[query](spark, sf_dir).toPandas()

        o, pdf = b.run_op(op, traced)
        stats = b.span_stats[f"{module}.{query}"][-1] if traced else o.stats
        o.rows, o.write_bytes = stats.output_records, stats.output_bytes
        o.input_bytes = sum(sizes[t] for t in inputs)
        results.append((o, query, pdf))

    b.end_setup()
    for _ in _window(seconds, 1):
        for query, module, inputs in LIFECYCLE:
            one(query, module, inputs, b.traced)

    oracle = {q: run_oracle(ORACLE[q], sf_dir) for q, _, _ in LIFECYCLE}
    for o, query, pdf in results:
        if o.error:
            b.fail(f"{query}: {o.error}")
            continue
        try:
            compare(Collected(pdf), oracle[query])
        except AssertionError as e:
            b.fail(f"{query}: {e}")
            o.error = "oracle mismatch"
    return {}


WORKLOADS = {"cdc_trickle": cdc_trickle, "table_lifecycle": table_lifecycle}
