"""The benchmark's own tests.

    python3 -m pytest etlbench/tests -q

The smoke runs start Spark and take about two minutes; the rest is fast.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from etlbench import corpus as C  # noqa: E402
from etlbench import metrics as M  # noqa: E402
from etlbench.spans import Span, Tracer, TraceError  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ corpus


def test_corpus_is_deterministic_per_seed():
    a, b, c = C.Corpus(5, 50), C.Corpus(5, 50), C.Corpus(6, 50)
    a.draw(3)
    b.draw(1)
    b.draw(2)  # drawing in steps gives the same files
    c.draw(3)
    assert [f.data for f in a.files] == [f.data for f in b.files]
    assert [f.data for f in a.files] != [f.data for f in c.files]


def test_lexical_order_is_arrival_order_past_100_files():
    corpus = C.Corpus(1, 1)
    names = [f.name for f in corpus.draw(250)]
    assert names == sorted(names)
    assert len(set(names)) == len(names)
    assert all(re.fullmatch(r"\d{8}-\d{9}\.csv", n) for n in names)


def test_corpus_shape_matches_the_reference():
    corpus = C.Corpus(3, 300)
    corpus.draw(20)
    rows = [r for f in corpus.files for r in f.rows]
    assert corpus.files[0].data.decode().splitlines()[0] == ",".join(C.HEADER)
    redelivered = 1 - len(corpus.state(20)) / len(rows)
    assert 0.09 < redelivered < 0.16
    n_events = [len(r.events) for r in rows]
    assert min(n_events) == 0 and max(n_events) == C.MAX_EVENTS
    assert 7 < sum(n_events) / len(rows) < 13
    assert any(e["status"] is None for r in rows for e in r.events)
    assert "None" in corpus.files[0].data.decode()
    # a key preloaded in the first file comes back in a later one
    first = {r.key for r in corpus.files[0].rows}
    assert any(r.key in first for f in corpus.files[1:] for r in f.rows)


def test_batch_counts_keep_the_last_delivery():
    a = C.Row("U", "k", 1, 1, 1, [{"x": 1}, {"x": 2}])
    b = C.Row("U", "k", 2, 2, 2, [])
    assert C.batch_counts([a, b]) == {"tracking": 1, "events": 1}
    assert C.batch_counts([b, a]) == {"tracking": 1, "events": 2}


# ----------------------------------------------------------------- metrics


def test_metric_names_are_declared_and_well_formed():
    spec = _declared()
    for section, emitted in (("end_to_end", M.END_TO_END), ("per_layer", M.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[section]}
        assert declared == emitted, section
        for name, unit in emitted.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit
    assert len(M.PER_LAYER) <= 128
    assert {w["name"] for w in spec["workloads"]} == {"cdc_trickle", "table_lifecycle"}


def test_emit_rejects_an_undeclared_metric():
    with pytest.raises(KeyError):
        M.emit({"nope": 1.0}, M.END_TO_END)


# ------------------------------------------------------------------ procfs


def test_tree_cpu_counts_children_and_excludes_sleep():
    from etlbench.procfs import descendants, tree_cpu_s

    c0 = tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
         "time.sleep(30)"],
    )
    try:
        deadline = time.time() + 20
        while tree_cpu_s() - c0 < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in descendants(os.getpid())
        busy = tree_cpu_s() - c0
        time.sleep(0.3)  # the child sleeps: no CPU time accrues
        assert 0.25 <= busy and tree_cpu_s() - c0 < busy + 0.2
    finally:
        child.kill()
        child.wait()


# ------------------------------------------------------------ traced reader


class _Tracker:
    def __init__(self, groups):
        self.groups = groups

    def getJobIdsForGroup(self, group):
        return self.groups.get(group, [])


class _Context:
    """The parts of a SparkContext the tracer touches."""

    def __init__(self, groups=None):
        self.groups = groups or {}
        self.props = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def statusTracker(self):
        return _Tracker(self.groups)


def test_wrapping_a_missing_function_fails_loudly():
    import types

    mod = types.ModuleType("fake_pipeline")
    with pytest.raises(TraceError, match="no longer exists"):
        with Tracer(_Context()).wrapped(mod, "parquet_high_water_mark", lambda a: "x"):
            pass


def test_an_op_with_no_job_in_its_groups_fails_loudly():
    tracer = Tracer(_Context())
    with tracer.span("pipeline.incremental_load.self"):
        pass
    with pytest.raises(TraceError, match="0 jobs"):
        tracer.op_job_ids(tracer.roots)


def test_spans_nest_and_restore_the_parent_group():
    import types

    ctx = _Context()
    tracer = Tracer(ctx)
    mod = types.ModuleType("fake_sink")
    mod.write = lambda target: ctx.props["spark.jobGroup.id"]
    with tracer.wrapped(mod, "write", lambda a: f"sink.write.{a['target']}"):
        with tracer.span("outer") as outer:
            inner_group = mod.write("events")
            assert ctx.props["spark.jobGroup.id"] == outer.group
    assert inner_group == outer.children[0].group
    assert outer.children[0].name == "sink.write.events"
    assert ctx.props["spark.jobGroup.id"] is None
    ctx.groups = {outer.children[0].group: [7]}
    assert tracer.op_job_ids([outer]) == {7}
    assert isinstance(outer, Span)


def test_without_a_status_store_the_reader_keeps_job_counts():
    ctx = _Context()
    tracer = Tracer(ctx)  # no status store
    with tracer.span("sink.read_keyed_table") as s:
        pass
    ctx.groups = {s.group: [3, 4]}
    st = tracer.read(s)
    assert st.jobs == 2 and st.tasks == 0 and st.wall_s >= 0
    assert tracer.jobs_after(-1) == set()


# -------------------------------------------------------------- end to end


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "etlbench"), tmp_path / "etlbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", "cdc_trickle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", ["cdc_trickle", "table_lifecycle"])
def test_tiny_smoke_run_passes_its_checks(workload):
    p = subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "0", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-2000:]
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(M.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
