"""Expectations operator unit tests on hand-built fixtures — each rule
kind catches exactly the planted violations; the split loses no rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_postgres_etl_spark.operators import expectations as E


def _fixture(spark):
    return spark.createDataFrame(
        [
            (1, 10, "a", "2024-01-10 00:00:00"),
            (2, None, "a", "2024-01-09 00:00:00"),   # null v
            (3, -5, "b", "2024-01-01 00:00:00"),     # negative v, stale
            (3, 7, "zz", "2024-01-10 00:00:00"),     # dup id, bad tag
            (4, 99, "a", None),                       # null ts
        ],
        "id long, v long, tag string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_report_counts_each_rule_kind(spark):
    df = _fixture(spark)
    parent = spark.createDataFrame([(10,), (7,), (99,)], ["pid"])
    rules = [
        E.expect("v_pos", "v > 0"),                     # rows 2 (NULL), 3
        E.expect("tag_ok", "tag IN ('a','b')"),         # row 4
        E.expect_unique("id_unique", ["id"]),           # one extra id=3 row
        E.expect_foreign_key("v_fk", "v", parent, "pid"),  # v=-5 orphan
        E.expect_fresh("fresh_7d", "ts", 7 * 24 * 3600),   # 2024-01-01 row
    ]
    got = {
        r.rule: (r.kind, r.n_violations, r.n_rows)
        for r in E.check_expectations(df, rules).collect()
    }
    assert got == {
        "v_pos": ("predicate", 2, 5),
        "tag_ok": ("predicate", 1, 5),
        "id_unique": ("unique", 1, 5),
        "v_fk": ("foreign_key", 1, 5),
        "fresh_7d": ("fresh", 1, 5),
    }


def test_report_on_clean_frame_is_all_zero(spark):
    df = spark.createDataFrame([(1, 5), (2, 6)], "id long, v long")
    rules = [E.expect("v_pos", "v > 0"), E.expect_unique("u", ["id"])]
    got = E.check_expectations(df, rules).collect()
    assert all(r.n_violations == 0 for r in got)
    assert {r.n_rows for r in got} == {2}


def test_split_partitions_rows_exactly(spark):
    df = _fixture(spark)
    rules = [E.expect("v_pos", "v > 0"), E.expect("tag_ok", "tag IN ('a','b')")]
    clean, bad = E.split_by_expectations(df, rules)
    assert clean.count() + bad.count() == df.count()
    assert clean.columns == df.columns  # marker column stripped
    failures = sorted(
        (r.id, tuple(sorted(r.failed_rules))) for r in bad.collect()
    )
    # id=2: NULL v fails v_pos; id=3 twice — the negative-v row fails
    # v_pos, the zz-tag row fails tag_ok
    assert failures == [(2, ("v_pos",)), (3, ("tag_ok",)), (3, ("v_pos",))]


def test_split_with_no_predicate_rules_is_identity(spark):
    df = _fixture(spark)
    clean, bad = E.split_by_expectations(df, [E.expect_unique("u", ["id"])])
    assert clean.count() == df.count() and bad.count() == 0


def _pass_rules(spark, mix):
    if mix == "predicates":
        return [E.expect(f"r{i}", f"v > {i}") for i in range(8)]
    parent = spark.createDataFrame([(i,) for i in range(8)], "pid long")
    return [
        E.expect("v_pos", "v > 0"),
        E.expect_unique("id_unique", ["id"]),
        E.expect("v_small", "v < 6"),
        E.expect_foreign_key("ref_fk", "ref", parent, "pid"),
    ]


#: Spark jobs of one report collect.  The predicate+unique+FK mix ran 10
#: jobs when each unique and FK rule (and their shared row count) read
#: the frame on its own; the one pass runs 6.
REPORT_JOBS = {"predicates": 2, "predicate_unique_fk": 6}


@pytest.mark.parametrize("mix", sorted(REPORT_JOBS))
def test_report_plan_is_single_pass_for_predicates(spark, mix):
    """Every predicate, unique and foreign-key rule of a report shares
    ONE pass over the checked frame — rule count must not multiply
    scans, and the report's job count is pinned."""
    from .test_commit_kernel import _jobs_of

    df = spark.range(0, 40).select(
        "id",
        (F.col("id") % 7).alias("v"),
        (F.col("id") % 11).cast("int").alias("ref"),
    )
    report = E.check_expectations(df, _pass_rules(spark, mix))
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # the checked frame appears once in the plan, whatever the rule count
    assert plan.count("Range (0, 40") == 1, plan
    assert _jobs_of(spark, report.collect) == REPORT_JOBS[mix]


def _random_frames(rng, n_rows):
    """Seeded child/parent rows with NULLs in the unique and FK columns,
    duplicate keys, and duplicate and NULL parent keys."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def maybe(x, p=0.2):
        return None if rng.random() < p else x

    child = [
        (
            i,
            maybe(rng.randrange(n_rows // 2 + 1)),
            maybe(rng.randrange(12)),
            maybe(rng.randrange(6)),
            maybe(t0 + dt.timedelta(hours=rng.randrange(200)), 0.1),
            maybe(rng.uniform(-5.0, 20.0), 0.1),
        )
        for i in range(n_rows)
    ]
    parent1 = [(maybe(rng.randrange(10)),) for _ in range(rng.randrange(1, 15))]
    parent2 = [(maybe(rng.randrange(4)),) for _ in range(rng.randrange(0, 6))]
    return child, parent1, parent2


#: the DuckDB model of each rule: its violation count over table ``t``
_MODEL_SQL = {
    "v_pos": "SELECT count(*) FROM t WHERE NOT coalesce(v > 0, false)",
    "k_present": "SELECT count(*) FROM t WHERE k IS NULL",
    "id_not_mult3": "SELECT count(*) FROM t WHERE NOT coalesce(id % 3 != 0, false)",
    "k_unique": "SELECT coalesce(sum(c - 1), 0) FROM "
    "(SELECT count(*) AS c FROM t GROUP BY k HAVING count(*) > 1)",
    "k_fk_unique": "SELECT coalesce(sum(c - 1), 0) FROM "
    "(SELECT count(*) AS c FROM t GROUP BY k, fk HAVING count(*) > 1)",
    "fk_p1": "SELECT count(*) FROM t WHERE fk IS NOT NULL AND NOT EXISTS "
    "(SELECT 1 FROM p1 WHERE p1.pid = t.fk)",
    "fk2_p2": "SELECT count(*) FROM t WHERE fk2 IS NOT NULL AND NOT EXISTS "
    "(SELECT 1 FROM p2 WHERE p2.pid2 = t.fk2)",
    "fresh_5d": "SELECT count(*) FROM t WHERE ts < "
    "(SELECT max(ts) FROM t) - INTERVAL 432000 SECOND",
}


def _model_rules(p1, p2):
    return [
        E.expect("v_pos", "v > 0"),
        E.expect_unique("k_unique", ["k"]),
        E.expect_foreign_key("fk_p1", "fk", p1, "pid"),
        E.expect("k_present", "k IS NOT NULL"),
        E.expect_fresh("fresh_5d", "ts", 5 * 24 * 3600),
        E.expect_unique("k_fk_unique", ["k", "fk"]),
        E.expect_foreign_key("fk2_p2", "fk2", p2, "pid2"),
        E.expect("id_not_mult3", "id % 3 != 0"),
    ]


@pytest.mark.parametrize("seed,n_rows", [(1, 60), (2, 25), (3, 0), (4, 90)])
def test_report_matches_duckdb_model_on_random_frames(spark, seed, n_rows):
    """check_expectations against a DuckDB model over seeded random
    frames: NULL and duplicate unique/FK values, duplicate and NULL
    parent keys, an empty frame, an int FK column against a long parent
    key, and a mix of two unique rules, two FK rules, a fresh rule and
    predicates — in full and as the rule subsets a report can take
    (no unique rule; unique rules only)."""
    import random

    import duckdb

    child, parent1, parent2 = _random_frames(random.Random(seed), n_rows)
    schema = "id int, k long, fk int, fk2 long, ts timestamp, v double"
    df = spark.createDataFrame(child, schema)
    p1 = spark.createDataFrame(parent1, "pid long")
    p2 = spark.createDataFrame(parent2, "pid2 long")

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id INTEGER, k BIGINT, fk INTEGER, fk2 BIGINT,"
        " ts TIMESTAMP, v DOUBLE)"
    )
    con.execute("CREATE TABLE p1 (pid BIGINT)")
    con.execute("CREATE TABLE p2 (pid2 BIGINT)")
    if child:
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)", child)
    if parent1:
        con.executemany("INSERT INTO p1 VALUES (?)", parent1)
    if parent2:
        con.executemany("INSERT INTO p2 VALUES (?)", parent2)
    n = con.execute("SELECT count(*) FROM t").fetchone()[0]

    rules = _model_rules(p1, p2)
    for mix in (
        rules,
        [r for r in rules if r.kind != "unique"],
        [r for r in rules if r.kind == "unique"],
    ):
        got = {
            r.rule: (r.kind, r.n_violations, r.n_rows)
            for r in E.check_expectations(df, mix).collect()
        }
        want = {
            r.name: (r.kind, con.execute(_MODEL_SQL[r.name]).fetchone()[0], n)
            for r in mix
        }
        assert got == want, (seed, [r.name for r in mix])
    con.close()


# ---------------------------------------------------------------------------
# Load-path gate (gate_and_merge / Table.merge(expectations=...)):
# clean rows merge, bad rows quarantine, reports persist, and the whole
# thing is idempotent under batch replay.
# ---------------------------------------------------------------------------


def _gate_rules():
    return [E.expect("v_pos", "v > 0"), E.expect("tag_ok", "tag IN ('a','b')")]


def test_gate_and_merge_splits_and_reports(spark, tmp_path):
    from airflow_postgres_etl_spark.api import Engine

    target = str(tmp_path / "t")
    t = Engine(spark).table(target)
    batch = spark.createDataFrame(
        [(1, 10, "a"), (2, -1, "a"), (3, 5, "zz"), (4, None, "zz")],
        "oid__id long, v long, tag string",
    )
    report = t.merge(batch, expectations=_gate_rules(), num_buckets=4)

    got = {(r.oid__id, r.v) for r in t.read().collect()}
    assert got == {(1, 10)}  # only the fully-clean row merged
    q = {(r.oid__id, r.failed_rules) for r in t.quarantine().collect()}
    assert q == {
        (2, "v_pos"),
        (3, "tag_ok"),
        (4, "v_pos,tag_ok"),  # NULL v violates (CHECK semantics)
    }
    by_rule = {r["rule"]: r["n_violations"] for r in report}
    assert by_rule == {"v_pos": 2, "tag_ok": 2}
    reports = t.dq_reports()
    assert len(reports) == 1 and reports[0]["rules"][0]["n_rows"] == 4
    assert reports[0]["table_version"] == 1


def test_gate_replay_is_idempotent(spark, tmp_path):
    """Re-delivering the same batch (streaming replay) must leave BOTH
    tables with the same content: quarantine rows replace themselves."""
    from airflow_postgres_etl_spark.api import Engine

    target = str(tmp_path / "t")
    t = Engine(spark).table(target)
    batch = spark.createDataFrame(
        [(1, 10, "a"), (2, -1, "a")], "oid__id long, v long, tag string"
    )
    t.merge(batch, expectations=_gate_rules(), num_buckets=4)
    t.merge(batch, expectations=_gate_rules(), num_buckets=4)  # replay

    assert {(r.oid__id, r.v) for r in t.read().collect()} == {(1, 10)}
    assert [r.oid__id for r in t.quarantine().collect()] == [2]
    # the report history keeps one entry per delivery (it's a log)
    assert len(t.dq_reports()) == 2


def test_gate_mor_path_and_fixed_row_promotion(spark, tmp_path):
    """MOR-gated merge; a later CORRECTED version of a quarantined key
    merges cleanly (quarantine keeps its last bad version for audit)."""
    from airflow_postgres_etl_spark.api import Engine

    target = str(tmp_path / "t")
    t = Engine(spark).table(target)
    t.merge_mor(
        spark.createDataFrame(
            [(1, 10, "a"), (2, -1, "a")], "oid__id long, v long, tag string"
        ),
        expectations=_gate_rules(),
        num_buckets=4,
    )
    t.merge_mor(
        spark.createDataFrame([(2, 7, "b")], "oid__id long, v long, tag string"),
        expectations=_gate_rules(),
        num_buckets=4,
    )
    assert {(r.oid__id, r.v) for r in t.read().collect()} == {(1, 10), (2, 7)}
    assert [r.oid__id for r in t.quarantine().collect()] == [2]


def test_gate_vacuum_never_collects_quarantine(spark, tmp_path):
    """The quarantine keyed table nests INSIDE the target; the target's
    vacuum must treat it as a foreign namespace, not orphaned data."""
    from airflow_postgres_etl_spark.api import Engine

    target = str(tmp_path / "t")
    t = Engine(spark).table(target)
    batch = spark.createDataFrame(
        [(1, 10, "a"), (2, -1, "a")], "oid__id long, v long, tag string"
    )
    t.merge(batch, expectations=_gate_rules(), num_buckets=4)
    removed = t.vacuum(retention_s=0)
    assert removed == 0
    assert [r.oid__id for r in t.quarantine().collect()] == [2]


def test_stream_ingest_with_expectations(spark, tmp_path):
    """Gated streaming ingest over the reference-faithful CSV fixture
    (which plants ``status: None`` events): null-status event rows
    quarantine under the events target, everything else merges, and
    re-running the stream over the same checkpoint changes nothing."""
    import os

    from airflow_postgres_etl_spark.api import Engine
    from airflow_postgres_etl_spark.operators.expectations import (
        read_dq_reports,
        read_quarantine,
    )

    from .fixtures.gen_raw import generate

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir, n_files=2, rows_per_file=20)
    eng = Engine(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rules = {"events": [E.expect("has_status", "status IS NOT NULL")]}
    q = eng.stream_ingest(csv_dir, out, ck, expectations=rules)
    q.awaitTermination(300)
    assert q.exception() is None

    events_target = os.path.join(out, "events")
    clean = eng.table(events_target).read()
    assert clean.filter(F.col("status").isNull()).count() == 0
    bad = read_quarantine(spark, events_target)
    n_bad = bad.count()
    assert n_bad > 0
    assert bad.filter(F.col("failed_rules") != "has_status").count() == 0
    # tracking was not gated: full row count, no quarantine dir
    tracking = eng.table(os.path.join(out, "tracking")).read()
    assert tracking.count() > 0
    assert not os.path.isdir(os.path.join(out, "tracking", "_quarantine"))
    reports = read_dq_reports(events_target)
    assert reports and all(
        r["rules"][0]["rule"] == "has_status" for r in reports
    )
    n_reports = len(reports)

    # replay: same files, same checkpoint — nothing new to process
    q2 = eng.stream_ingest(csv_dir, out, ck, expectations=rules)
    q2.awaitTermination(300)
    assert q2.exception() is None
    assert read_quarantine(spark, events_target).count() == n_bad
    assert len(read_dq_reports(events_target)) == n_reports  # no new batch


def test_gate_fail_threshold_rejects_batch_wholesale(spark, tmp_path):
    """expect_or_fail semantics: a threshold breach rejects the batch
    BEFORE anything lands — no merge, no quarantine, no version bump;
    within-threshold batches gate normally."""
    import pytest as _pytest

    from airflow_postgres_etl_spark.api import Engine
    from airflow_postgres_etl_spark.operators.expectations import (
        ExpectationFailure,
    )

    target = str(tmp_path / "t")
    t = Engine(spark).table(target)
    t.merge(
        spark.createDataFrame([(0, 1, "a")], "oid__id long, v long, tag string"),
        num_buckets=4,
    )
    v0 = t.version()
    batch = spark.createDataFrame(
        [(1, 10, "a"), (2, -1, "a"), (3, -2, "b")],
        "oid__id long, v long, tag string",
    )
    with _pytest.raises(ExpectationFailure, match="v_pos"):
        t.merge(
            batch,
            expectations=_gate_rules(),
            fail_thresholds={"v_pos": 1},
            num_buckets=4,
        )
    assert t.version() == v0  # nothing written
    assert len(t.dq_reports()) == 0
    import os

    assert not os.path.isdir(os.path.join(target, "_quarantine"))

    # same batch passes with a looser bound: bad rows quarantine
    t.merge(
        batch, expectations=_gate_rules(), fail_thresholds={"v_pos": 5},
        num_buckets=4,
    )
    assert {r.oid__id for r in t.quarantine().collect()} == {2, 3}


def test_stream_ingest_fail_threshold_stops_stream(spark, tmp_path):
    """Streaming expect_or_fail: a threshold breach raises inside
    foreachBatch and fails the stream before anything lands for that
    trigger; the file-source checkpoint never advances, so a restart
    with a looser bound reprocesses the SAME files (fail-stop, not
    skip)."""
    import os

    from airflow_postgres_etl_spark.api import Engine
    from airflow_postgres_etl_spark.operators.expectations import (
        read_quarantine,
    )

    from .fixtures.gen_raw import generate

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir, n_files=2, rows_per_file=20)
    eng = Engine(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rules = {"events": [E.expect("has_status", "status IS NOT NULL")]}
    # the fixture plants status: None events — a zero-tolerance bound
    # must fail the very first trigger
    q = eng.stream_ingest(
        csv_dir, out, ck, expectations=rules,
        fail_thresholds={"events": {"has_status": 0}},
        max_files_per_trigger=10,
    )
    # awaitTermination re-raises a failed query's error directly
    with pytest.raises(Exception, match="has_status"):
        q.awaitTermination(300)
    assert q.exception() is not None
    events_target = os.path.join(out, "events")
    assert not os.path.isdir(events_target)  # nothing written

    # restart over the SAME checkpoint with a looser bound: the failed
    # trigger's files replay and gate normally
    q2 = eng.stream_ingest(csv_dir, out, ck, expectations=rules)
    q2.awaitTermination(300)
    assert q2.exception() is None
    t = eng.table(events_target)
    assert t.read().filter(F.col("status").isNull()).count() == 0
    assert read_quarantine(spark, events_target).count() > 0


def test_stream_gate_replay_after_crash_quarantines_once(spark, tmp_path, monkeypatch):
    """VERDICT r7 task 7: foreachBatch is at-least-once — a crash AFTER
    the gated writes but BEFORE the checkpoint commit re-delivers the
    whole epoch on restart.  The re-delivered bad rows must quarantine
    exactly once (replace, not append), and table + quarantine must
    converge to exactly what a crash-free run produces."""
    import os

    from airflow_postgres_etl_spark.api import Engine
    from airflow_postgres_etl_spark.operators import expectations as E_mod
    from airflow_postgres_etl_spark.operators.expectations import (
        read_quarantine,
    )

    from .fixtures.gen_raw import generate

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir, n_files=2, rows_per_file=20)
    eng = Engine(spark)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    rules = {"events": [E.expect("has_status", "status IS NOT NULL")]}

    real_gate = E_mod.gate_and_merge
    state = {"fired": False}

    def gate_then_crash(*a, **kw):
        result = real_gate(*a, **kw)  # all writes LAND
        if not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash before checkpoint commit")
        return result

    monkeypatch.setattr(E_mod, "gate_and_merge", gate_then_crash)
    q = eng.stream_ingest(
        csv_dir, out, ck, expectations=rules, max_files_per_trigger=10
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    assert q.exception() is not None
    events_target = os.path.join(out, "events")
    # the crash hit AFTER the gated events write: quarantine already has
    # this epoch's bad rows — the exact state a replay must not double
    n_bad_crashed = read_quarantine(spark, events_target).count()
    assert n_bad_crashed > 0

    # restart (crash-free): the unacknowledged epoch re-delivers in full
    monkeypatch.setattr(E_mod, "gate_and_merge", real_gate)
    q2 = eng.stream_ingest(csv_dir, out, ck, expectations=rules)
    q2.awaitTermination(300)
    assert q2.exception() is None

    # crash-free control run over the same files
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q3 = eng.stream_ingest(csv_dir, out2, ck2, expectations=rules)
    q3.awaitTermination(300)
    assert q3.exception() is None

    def rows_of(df):
        # uploadDate is the T10 audit stamp — job wall-clock, differs
        # between runs by construction (same exclusion as the mor/cow
        # differential in test_streaming.py)
        cols = sorted(c for c in df.columns if c != "uploadDate")
        return sorted(
            tuple(str(r[c]) for c in cols) for r in df.collect()
        )

    tgt2 = os.path.join(out2, "events")
    got_bad = read_quarantine(spark, events_target)
    want_bad = read_quarantine(spark, tgt2)
    # exactly once: the replay REPLACED the crashed epoch's quarantine
    # rows (same count as both the pre-replay state and the control,
    # same row multiset as the control — never an appended duplicate)
    assert got_bad.count() == want_bad.count() == n_bad_crashed
    assert rows_of(got_bad) == rows_of(want_bad)
    got = rows_of(eng.table(events_target).read())
    want = rows_of(eng.table(tgt2).read())
    assert got == want and len(got) > 0
    # tracking (ungated) also converged across the replay
    got_tr = rows_of(eng.table(os.path.join(out, "tracking")).read())
    want_tr = rows_of(eng.table(os.path.join(out2, "tracking")).read())
    assert got_tr == want_tr and len(got_tr) > 0


# ---------------------------------------------------------------------------
# Distribution-drift expectations (PSI): the batch-level circuit breaker
# no row-local predicate can express.
# ---------------------------------------------------------------------------


def _psi_hand(counts, ref, n):
    import math

    lam, nb = 0.5, len(ref)
    psi = 0.0
    for lbl, q in ref:
        p = (counts.get(lbl, 0) + lam) / (n + lam * nb)
        qs = (n * q + lam) / (n + lam * nb)
        psi += (p - qs) * math.log(p / qs)
    return round(psi * 1e6)


def test_distribution_psi_matches_hand_computation(spark):
    from airflow_postgres_etl_spark.operators.expectations import (
        check_expectations,
        expect_distribution,
    )

    rule = expect_distribution("drift", "v", {"a": 0.5, "b": 0.3, "c": 0.2})
    batch = spark.createDataFrame(
        [(f"x{i}", ["a", "b", "c"][i % 3]) for i in range(300)],
        ["oid__id", "v"],
    )
    rep = {
        r.rule: (r.n_violations, r.n_rows)
        for r in check_expectations(batch, [rule]).collect()
    }
    want = _psi_hand({"a": 100, "b": 100, "c": 100}, rule.ref, 300)
    assert rep["drift"] == (want, 300)


def test_distribution_report_plan_is_single_pass(spark):
    """ALL distribution rules must share ONE batch pass (r11): each rule
    previously planned its own counts aggregate PLUS a separately
    recomputed total subtree — 2 scans per rule.  The shared
    explode-keyed aggregate keeps the batch subtree count at 1 whatever
    the rule count, and the report stays value-identical (the
    hand-computation tests above pin the arithmetic)."""
    from airflow_postgres_etl_spark.operators.expectations import (
        check_expectations,
        expect_distribution,
    )

    df = spark.range(50).select(
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 5).cast("double").alias("b"),
    )
    rules = [
        expect_distribution("r1", "a", {"0": 0.4, "1": 0.3, "2": 0.3}),
        expect_distribution("r2", "b", edges=[1.0, 3.0], probs=[0.4, 0.4, 0.2]),
        expect_distribution("r3", "a", {"0": 0.9, "1": 0.1}),
    ]
    plan = (
        check_expectations(df, rules)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the batch source must appear exactly once — 3 rules, 1 scan
    assert plan.count("Range (0, 50") == 1, plan


def test_distribution_numeric_and_null_pooling(spark):
    from airflow_postgres_etl_spark.operators.expectations import (
        check_expectations,
        expect_distribution,
    )

    rule = expect_distribution(
        "drift", "x", edges=[10.0, 20.0], probs=[0.5, 0.3, 0.2]
    )
    rows = [(f"k{i}", float(v)) for i, v in enumerate([1] * 5 + [15] * 3 + [25] * 2)]
    batch = spark.createDataFrame(rows, "oid__id string, x double").unionByName(
        spark.createDataFrame([("kn", None)], "oid__id string, x double")
    )
    rep = check_expectations(batch, [rule]).collect()[0]
    # buckets: "0":5 "1":3 "2":2 __OTHER__:1 (the NULL)
    want = _psi_hand(
        {"0": 5, "1": 3, "2": 2, "__OTHER__": 1}, rule.ref, 11
    )
    assert (rep.n_violations, rep.n_rows) == (want, 11)


def test_distribution_gate_rejects_drifted_batch_only(spark, tmp_path):
    from airflow_postgres_etl_spark.operators.expectations import (
        ExpectationFailure,
        expect_distribution,
        gate_and_merge,
    )
    from airflow_postgres_etl_spark.sink import read_keyed_table, table_version

    t = str(tmp_path / "t")
    rule = expect_distribution(
        "drift", "v", {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    )
    ok = spark.createDataFrame(
        [(f"x{i}", ["a", "b", "c"][i % 3]) for i in range(90)],
        ["oid__id", "v"],
    )
    gate_and_merge(
        spark, ok, t, [rule], fail_thresholds={"drift": 100_000},
        num_buckets=2,
    )
    assert read_keyed_table(spark, t).count() == 90
    v = table_version(t)
    bad = spark.createDataFrame(
        [(f"y{i}", "zzz") for i in range(50)], ["oid__id", "v"]
    )
    with pytest.raises(ExpectationFailure, match="drift"):
        gate_and_merge(
            spark, bad, t, [rule], fail_thresholds={"drift": 100_000}
        )
    # fail-stop with ZERO side effects: no version bump, no quarantine
    assert table_version(t) == v
    assert read_keyed_table(spark, t).count() == 90
    # without a threshold it is report-only: the batch merges, the
    # micro-PSI lands in the persisted report
    rep = gate_and_merge(spark, bad, t, [rule])
    assert read_keyed_table(spark, t).count() == 140
    assert rep[0]["n_violations"] > 1_000_000  # PSI >> 1


def test_reference_capture_helpers(spark):
    from airflow_postgres_etl_spark.operators.expectations import (
        reference_bins,
        reference_distribution,
    )

    df = spark.createDataFrame(
        [(f"k{i}", ["a"] * 6 + ["b"] * 3 + ["c"] * 1)[1][i % 10]
         if False else (f"k{i}", (["a"] * 6 + ["b"] * 3 + ["c"])[i % 10])
         for i in range(100)],
        ["oid__id", "v"],
    )
    cap = reference_distribution(df, "v", top_k=2)
    assert abs(cap["a"] - 0.6) < 1e-9 and abs(cap["b"] - 0.3) < 1e-9
    assert abs(cap["__OTHER__"] - 0.1) < 1e-9

    num = spark.createDataFrame(
        [(f"k{i}", float(i)) for i in range(100)], "oid__id string, x double"
    )
    edges, probs = reference_bins(num, "x", n_bins=4)
    # len(edges)+1 numeric buckets plus the trailing __OTHER__/NULL share
    assert len(probs) == len(edges) + 2
    assert abs(sum(probs) - 1.0) < 1e-9
    assert probs[-1] == 0.0  # no NULLs here
    assert all(abs(p - 0.25) < 0.02 for p in probs[:-1])


def test_reference_bins_null_share_not_drift(spark):
    """ADVICE r8 (medium): a steady NULL rate captured by
    reference_bins must NOT read as drift — the NULL share rides the
    trailing probs entry into the rule's __OTHER__ bucket, so a
    drift-free batch with the same NULL rate scores PSI ≈ 0 and passes
    the documented 0.1 threshold."""
    from airflow_postgres_etl_spark.operators.expectations import (
        check_expectations,
        expect_distribution,
        reference_bins,
    )

    def frame(seed):
        # ~5% NULLs, values uniform on [0, 100)
        rows = [
            (f"{seed}{i}", None if i % 20 == 0 else float((i * 7 + seed) % 100))
            for i in range(400)
        ]
        return spark.createDataFrame(rows, "oid__id string, x double")

    ref_df, batch = frame(0), frame(3)
    edges, probs = reference_bins(ref_df, "x", n_bins=5)
    assert probs[-1] > 0.03  # the NULL share was actually captured
    rule = expect_distribution("d", "x", edges=edges, probs=probs)
    assert dict(rule.ref)["__OTHER__"] > 0.03
    rep = check_expectations(batch, [rule]).collect()[0]
    assert rep.n_violations < 100_000  # PSI < 0.1: no false alarm


def test_reference_capture_empty_and_all_null_guards(spark):
    from airflow_postgres_etl_spark.operators.expectations import (
        reference_bins,
        reference_distribution,
    )

    empty = spark.createDataFrame([], "oid__id string, x double")
    with pytest.raises(ValueError, match="empty"):
        reference_distribution(empty, "x")
    with pytest.raises(ValueError, match="no non-NULL"):
        reference_bins(empty, "x")
    allnull = spark.createDataFrame(
        [("a", None), ("b", None)], "oid__id string, x double"
    )
    with pytest.raises(ValueError, match="no non-NULL"):
        reference_bins(allnull, "x")


def test_distribution_builder_validation():
    from airflow_postgres_etl_spark.operators.expectations import (
        expect_distribution,
    )

    with pytest.raises(ValueError, match="exactly one"):
        expect_distribution("d", "v")
    with pytest.raises(ValueError, match="exactly one"):
        expect_distribution("d", "v", {"a": 1.0}, edges=[1.0], probs=[0.5, 0.5])
    with pytest.raises(ValueError, match="len"):
        expect_distribution("d", "v", edges=[1.0, 2.0], probs=[0.5, 0.5])
    with pytest.raises(ValueError, match="ascending"):
        expect_distribution("d", "v", edges=[2.0, 1.0], probs=[0.3, 0.3, 0.4])
    with pytest.raises(ValueError, match="sum"):
        expect_distribution("d", "v", {"a": 0.0})


def test_stream_ingest_drift_rule_gates_stream(spark, tmp_path):
    """A distribution rule rides the same streaming expectations path:
    a reference the fixture's status mix cannot match fails the first
    trigger fail-stop (checkpoint never advances); a reference captured
    FROM the stream's own output passes a re-run."""
    import os

    from airflow_postgres_etl_spark.api import Engine
    from airflow_postgres_etl_spark.operators.expectations import (
        expect_distribution,
        reference_distribution,
    )

    from .fixtures.gen_raw import generate

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir, n_files=2, rows_per_file=20)
    eng = Engine(spark)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    impossible = expect_distribution(
        "status_drift", "status", {"NO_SUCH_STATUS": 1.0}
    )
    q = eng.stream_ingest(
        csv_dir, out, ck,
        expectations={"events": [impossible]},
        fail_thresholds={"events": {"status_drift": 100_000}},
        max_files_per_trigger=10,
    )
    with pytest.raises(Exception, match="status_drift"):
        q.awaitTermination(300)
    events_target = os.path.join(out, "events")
    assert not os.path.isdir(events_target)  # fail-stop: nothing landed

    # bootstrap unguarded, capture the real mix, re-gate: passes
    q2 = eng.stream_ingest(csv_dir, out, ck)
    q2.awaitTermination(300)
    assert q2.exception() is None
    ref = reference_distribution(
        eng.table(events_target).read(), "status", top_k=16
    )
    ok_rule = expect_distribution("status_drift", "status", ref)
    csv2 = str(tmp_path / "csv2")
    generate(csv2, n_files=1, rows_per_file=20)
    q3 = eng.stream_ingest(
        csv2, out, str(tmp_path / "ck2"),
        expectations={"events": [ok_rule]},
        fail_thresholds={"events": {"status_drift": 250_000}},
    )
    q3.awaitTermination(300)
    assert q3.exception() is None


# ---------------------------------------------------------------------------
# Stored drift policy (VERDICT r8 task 7): the circuit breaker becomes
# ambient — rules + thresholds live in the table manifest, ride the
# commit carry, follow renames, block drops, and Table.maintain
# re-checks them with nobody re-passing the rules.
# ---------------------------------------------------------------------------


def _policy_table(spark, tmp_path):
    from airflow_postgres_etl_spark.sink import keyed_overwrite_parquet

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(f"k{i}", ["a", "b", "c"][i % 3], float(i)) for i in range(90)],
        ["oid__id", "status", "price"],
    )
    keyed_overwrite_parquet(spark, df, t, num_buckets=4, vacuum=False)
    return t


def test_drift_policy_roundtrip_carry_and_maintain(spark, tmp_path):
    from airflow_postgres_etl_spark.api import Table
    from airflow_postgres_etl_spark.operators.expectations import (
        ExpectationFailure,
        expect_distribution,
    )
    from airflow_postgres_etl_spark.sink import (
        compact_keyed_table,
        drift_policy,
        keyed_merge_mor,
        keyed_overwrite_parquet,
        set_drift_policy,
        table_version,
    )

    t = _policy_table(spark, tmp_path)
    rules = [
        expect_distribution("sdrift", "status", {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    ]
    v = set_drift_policy(spark, t, rules, {"sdrift": 100_000})
    assert v == table_version(t)
    pol = drift_policy(t)
    assert pol["thresholds"] == {"sdrift": 100_000}
    assert pol["rules"][0]["col"] == "status"

    # rides ordinary commits AND compaction via the manifest carry
    more = spark.createDataFrame(
        [(f"m{i}", ["a", "b", "c"][i % 3], 1.0) for i in range(30)],
        ["oid__id", "status", "price"],
    )
    keyed_merge_mor(spark, more, t)
    compact_keyed_table(spark, t)
    assert drift_policy(t)["thresholds"] == {"sdrift": 100_000}

    tab = Table(spark, t)
    rep = tab.maintain(retention_s=0.0)
    assert [r["ok"] for r in rep["drift"]] == [True]
    assert rep["drift"][0]["n_violations"] < 100_000

    # drift it: all-'a' flood, ambient breaker trips before side effects
    flood = spark.createDataFrame(
        [(f"f{i}", "a", 2.0) for i in range(500)],
        ["oid__id", "status", "price"],
    )
    keyed_overwrite_parquet(spark, flood, t)
    with pytest.raises(ExpectationFailure, match="sdrift"):
        tab.maintain(retention_s=0.0)
    rep2 = tab.maintain(retention_s=0.0, on_drift="report")
    assert rep2["drift"][0]["ok"] is False
    assert "vacuumed_files" in rep2  # report mode proceeded

    # disarm
    set_drift_policy(spark, t, None)
    assert drift_policy(t) is None
    assert tab.check_drift() == []
    assert "drift" not in tab.maintain(retention_s=0.0)


def test_drift_policy_follows_rename_blocks_drop(spark, tmp_path):
    from airflow_postgres_etl_spark.api import Table
    from airflow_postgres_etl_spark.operators.expectations import (
        expect_distribution,
    )
    from airflow_postgres_etl_spark.sink import (
        drift_policy,
        drop_column,
        rename_column,
        set_drift_policy,
    )

    t = _policy_table(spark, tmp_path)
    rules = [
        expect_distribution("sdrift", "status", {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    ]
    set_drift_policy(spark, t, rules, {"sdrift": 100_000})

    with pytest.raises(ValueError, match="drift-policy rule"):
        drop_column(spark, t, "status")

    rename_column(spark, t, "status", "state")
    assert drift_policy(t)["rules"][0]["col"] == "state"
    # the renamed policy still evaluates against the logical schema
    rep = Table(spark, t).check_drift()
    assert rep[0]["ok"] and "error" not in rep[0]

    # an unrelated column drops fine
    drop_column(spark, t, "price")
    assert drift_policy(t)["rules"][0]["col"] == "state"


def test_drift_policy_validation(spark, tmp_path):
    from airflow_postgres_etl_spark.operators.expectations import (
        expect,
        expect_distribution,
    )
    from airflow_postgres_etl_spark.sink import set_drift_policy

    t = _policy_table(spark, tmp_path)
    dist = expect_distribution("d", "status", {"a": 0.5, "b": 0.5})
    with pytest.raises(ValueError, match="only distribution rules"):
        set_drift_policy(spark, t, [expect("p", "price > 0")], {})
    with pytest.raises(ValueError, match="unknown rules"):
        set_drift_policy(spark, t, [dist], {"nope": 1})
    with pytest.raises(ValueError, match="missing columns"):
        set_drift_policy(
            spark, t,
            [expect_distribution("d", "ghost", {"a": 1.0})], {},
        )
    with pytest.raises(ValueError, match="duplicate rule names"):
        set_drift_policy(spark, t, [dist, dist], {})
    with pytest.raises(ValueError, match="thresholds given"):
        set_drift_policy(spark, t, None, {"d": 1})
