"""Tests for the keyed-overwrite sink and the incremental pipeline:
replace-by-key semantics, idempotent re-runs, HWM incremental filtering,
failure-ordering, and the generated merge SQL (reference S6-S9)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from airflow_postgres_etl_spark.pipeline import (
    incremental_load,
    parquet_high_water_mark,
)
from airflow_postgres_etl_spark.sink import (
    BUCKET_COL,
    ConcurrentWriteError,
    create_table_sql,
    high_water_mark_sql,
    keyed_overwrite_parquet,
    merge_sql,
    read_keyed_table,
    rename_column,
    table_stats,
    vacuum_keyed_table,
)

from .fixtures.gen_raw import generate
from .legacy_layout import write_legacy_spec


def test_keyed_overwrite_replaces_all_rows_per_key(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("k1", 1), ("k1", 2), ("k2", 3)], ["oid__id", "v"]
    )
    keyed_overwrite_parquet(spark, base, target)
    # k1 arrives again with ONE row: both old k1 rows must go (child-set
    # replace), k2 untouched
    batch = spark.createDataFrame([("k1", 9)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, batch, target)
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert got == {("k1", 9), ("k2", 3)}


def test_keyed_overwrite_idempotent(spark, tmp_path):
    target = str(tmp_path / "t")
    batch = spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, batch, target)
    keyed_overwrite_parquet(spark, batch, target)
    assert read_keyed_table(spark, target).count() == 2


def test_empty_batch_merge_is_a_true_noop(spark, tmp_path):
    """A zero-row batch must not bump the manifest version, write a commit
    dir, or touch any live file — otherwise every empty streaming
    micro-batch churns the table."""
    from airflow_postgres_etl_spark.sink import table_version

    target = str(tmp_path / "t")
    batch = spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, batch, target)
    v1 = table_version(target)
    before = _bucket_file_state(target)

    empty = batch.where(F.lit(False))
    assert keyed_overwrite_parquet(spark, empty, target) == 0
    assert table_version(target) == v1
    assert _bucket_file_state(target) == before
    assert read_keyed_table(spark, target).count() == 2

    # empty FIRST batch: nothing is created at all (no manifest, no spec)
    fresh = str(tmp_path / "fresh")
    keyed_overwrite_parquet(spark, empty, fresh)
    assert table_version(fresh) is None
    with pytest.raises(FileNotFoundError):
        read_keyed_table(spark, fresh)


def test_keyed_overwrite_returns_the_rows_it_merged(spark, tmp_path):
    """The merge reports the batch rows it admitted (duplicate keys
    included), and 0 when it writes nothing: an empty batch or a
    replayed ``txn`` epoch."""
    target = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], ["oid__id", "v"]
    )
    assert keyed_overwrite_parquet(spark, batch, target) == 3
    assert keyed_overwrite_parquet(spark, batch.limit(1), target) == 1
    assert keyed_overwrite_parquet(spark, batch.limit(0), target) == 0
    txn = dict(txn_app="w", txn_seq=1)
    assert keyed_overwrite_parquet(spark, batch, target, **txn) == 3
    assert keyed_overwrite_parquet(spark, batch, target, **txn) == 0


def test_batch_that_does_not_rerun_identically_lands_what_was_admitted(
    spark, tmp_path
):
    """A batch whose key is nondeterministic (a Python UDF marked so)
    draws new keys on every execution of its plan.  The merge must land
    exactly the rows it admitted and counted: it materializes the batch
    once, so the affected-bucket set and the written rows come from the
    same execution.  A probe and a write that each ran the plan sent
    the written rows to buckets the probe never saw, and the commit
    dropped them: the merge returned 3 and the table gained fewer."""
    import random

    from pyspark.sql.types import StringType

    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(f"k{i}", i) for i in range(50)], ["oid__id", "v"]),
        target,
        num_buckets=64,
    )
    fresh_key = F.udf(
        lambda i: f"n{i}-{random.random()}", StringType()
    ).asNondeterministic()
    batch = spark.range(3).select(
        fresh_key("id").alias("oid__id"), F.col("id").cast("long").alias("v")
    )
    assert keyed_overwrite_parquet(spark, batch, target) == 3
    got = read_keyed_table(spark, target)
    assert got.count() == 53
    new = sorted(r.v for r in got.filter(F.col("oid__id").startswith("n")).collect())
    assert new == [0, 1, 2]


def _bucket_file_state(target):
    """{bucket: {relpath: (size, mtime_ns, md5)}} of the LIVE (manifest-
    referenced) files of the target."""
    import hashlib

    from airflow_postgres_etl_spark.sink import _load_manifest

    state = {}
    for b, files in _load_manifest(target)["buckets"].items():
        per = {}
        for rel in files:
            p = os.path.join(target, rel)
            st = os.stat(p)
            per[rel] = (
                st.st_size,
                st.st_mtime_ns,
                hashlib.md5(open(p, "rb").read()).hexdigest(),
            )
        state[b] = per
    return state


def test_keyed_overwrite_rewrites_only_affected_buckets(spark, tmp_path):
    """The scale contract: a merge must not touch buckets absent from the
    batch — their files stay byte-identical (same inode mtime, same md5)."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(f"key{i}", i) for i in range(200)], ["oid__id", "v"]
    )
    keyed_overwrite_parquet(spark, base, target, num_buckets=8)
    before = _bucket_file_state(target)
    assert len(before) > 1  # keys actually spread over several buckets

    batch = spark.createDataFrame([("key0", 999)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, batch, target, num_buckets=8)
    after = _bucket_file_state(target)

    from airflow_postgres_etl_spark.sink import _bucket_expr

    hit = str(
        spark.createDataFrame([("key0",)], ["oid__id"])
        .select(_bucket_expr("oid__id", 8).alias("b"))
        .collect()[0][0]
    )
    assert hit in before and hit in after
    for d in before:
        if d == hit:
            assert before[d] != after[d]  # the hit bucket WAS rewritten
        else:
            assert before[d] == after[d]  # untouched buckets byte-identical

    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert ("key0", 999) in got and ("key0", 0) not in got
    assert len(got) == 200


def test_keyed_overwrite_rejects_bucket_spec_change(spark, tmp_path):
    target = str(tmp_path / "t")
    df = spark.createDataFrame([("a", 1)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, df, target, num_buckets=8)
    with pytest.raises(ValueError, match="bucket"):
        keyed_overwrite_parquet(spark, df, target, num_buckets=16)


def test_read_keyed_table_hides_bucket_column(spark, tmp_path):
    target = str(tmp_path / "t")
    df = spark.createDataFrame([("a", 1)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, df, target)
    assert read_keyed_table(spark, target).columns == ["oid__id", "v"]


def test_merge_sql_quotes_reserved_words():
    stmts = merge_sql("events", "events__stage", "oid__id", ["oid__id", "from", "to"])
    assert stmts[0] == (
        'DELETE FROM "events" t USING "events__stage" s '
        'WHERE t."oid__id" = s."oid__id"'
    )
    assert '"from"' in stmts[1] and '"to"' in stmts[1]
    assert create_table_sql("t", {"from": "String", "x": "DateTime"}) == (
        'CREATE TABLE IF NOT EXISTS "t" ("from" TEXT, "x" TIMESTAMP)'
    )
    assert high_water_mark_sql("t") == 'SELECT max("fileName") FROM "t"'


@pytest.fixture()
def staged_dirs(spark, tmp_path):
    csv_dir = str(tmp_path / "csv")
    generate(csv_dir)
    return csv_dir, str(tmp_path / "tracking"), str(tmp_path / "events")


def test_incremental_load_end_to_end(spark, staged_dirs):
    csv_dir, tr, ev = staged_dirs
    # phase 1: hold back the last two files
    all_files = sorted(os.listdir(csv_dir))
    held = all_files[-2:]
    holding = csv_dir + "_held"
    os.makedirs(holding)
    for f in held:
        shutil.move(os.path.join(csv_dir, f), os.path.join(holding, f))

    c1 = incremental_load(spark, csv_dir, tr, ev)
    assert c1["tracking"] > 0 and c1["events"] > 0
    hwm1 = parquet_high_water_mark(spark, tr)
    assert hwm1 == all_files[-3]

    # no new files → nothing merged
    assert incremental_load(spark, csv_dir, tr, ev) == {"tracking": 0, "events": 0}

    # phase 2: deliver the held files; only they are processed
    for f in held:
        shutil.move(os.path.join(holding, f), os.path.join(csv_dir, f))
    c2 = incremental_load(spark, csv_dir, tr, ev)
    assert 0 < c2["tracking"] < c1["tracking"] + c2["tracking"]
    assert parquet_high_water_mark(spark, tr) == all_files[-1]

    tracking = read_keyed_table(spark, tr)
    # still exactly one row per key after the merge
    assert tracking.count() == tracking.select("oid__id").distinct().count()
    # final state == a single full load (same keys, same chosen fileName)
    full_tr = str(os.path.dirname(tr)) + "/tracking_full"
    full_ev = str(os.path.dirname(ev)) + "/events_full"
    incremental_load(spark, csv_dir, full_tr, full_ev)
    a = tracking.select("oid__id", "fileName")
    b = read_keyed_table(spark, full_tr).select("oid__id", "fileName")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # events table consistent with parents
    events = read_keyed_table(spark, ev)
    orphan = events.join(tracking.select("oid__id"), "oid__id", "left_anti")
    assert orphan.count() == 0


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _csv_files_read(spark, job_ids) -> int:
    """CSV files the given jobs opened: the "number of files read"
    metric of every ``Scan csv`` node of the SQL executions that ran
    them, from the SQL status store (a persisted batch's scan is the
    cached plan under its in-memory scan, so a file read once counts
    once)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    jobs, total = set(job_ids), 0
    recent = store.executionsList(max(0, store.executionsCount() - 200), 200)
    for ex in _scala_iter(recent):
        if not jobs & {int(j) for j in _scala_iter(ex.jobs().keys())}:
            continue
        values = store.executionMetrics(ex.executionId())
        for node in _scala_iter(store.planGraph(ex.executionId()).allNodes()):
            if not node.name().startswith("Scan csv"):
                continue
            for m in _scala_iter(node.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of files read" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


def _land(src, csv_dir, names):
    """Copy fixture files into the landing dir; ``names`` maps a fixture
    file to the name it lands under (a list lands them as they are)."""
    if not isinstance(names, dict):
        names = {n: n for n in names}
    os.makedirs(csv_dir, exist_ok=True)
    for f, name in names.items():
        shutil.copy(os.path.join(src, f), os.path.join(csv_dir, name))


def _with_jobs(spark, fn):
    """``fn()``'s result and the Spark jobs it ran."""
    from .test_commit_kernel import _job_ids_of

    out = []
    jobs = _job_ids_of(spark, lambda: out.append(fn()))
    return out[0], list(jobs)


def _cycle(spark, csv_dir, tr, ev):
    return _with_jobs(spark, lambda: incremental_load(spark, csv_dir, tr, ev))


def _assert_equals_full_load(spark, csv_dir, tr, ev, tmp_path):
    """The incrementally loaded targets hold what one full load of
    every landed file gives: the same (key, surviving fileName) pairs
    and as many event rows."""
    full_tr, full_ev = str(tmp_path / "full_tr"), str(tmp_path / "full_ev")
    full = incremental_load(spark, csv_dir, full_tr, full_ev)
    pairs = [
        {
            tuple(r)
            for r in read_keyed_table(spark, t)
            .select("oid__id", "fileName")
            .collect()
        }
        for t in (tr, full_tr)
    ]
    assert pairs[0] == pairs[1]
    assert full["tracking"] == len(pairs[1])
    n_events = read_keyed_table(spark, ev).count()
    assert n_events == read_keyed_table(spark, full_ev).count() == full["events"]


def test_incremental_cycle_reads_only_the_files_that_landed(spark, tmp_path):
    """A cycle opens each new CSV file exactly once and no old one, a
    cycle with no new file (an empty landing dir included) runs no Spark
    job, the counts come back from the merges, and the two-phase load
    equals one full load."""
    src, csv_dir = str(tmp_path / "src"), str(tmp_path / "csv")
    tr, ev = str(tmp_path / "tracking"), str(tmp_path / "events")
    files = generate(src, n_files=4, rows_per_file=20)

    with pytest.raises(FileNotFoundError):
        incremental_load(spark, csv_dir, tr, ev)
    os.makedirs(csv_dir)
    assert _cycle(spark, csv_dir, tr, ev) == ({"tracking": 0, "events": 0}, [])
    assert not os.path.exists(tr)

    _land(src, csv_dir, files[:3])
    c1, jobs = _cycle(spark, csv_dir, tr, ev)
    assert _csv_files_read(spark, jobs) == 3
    assert c1["tracking"] == read_keyed_table(spark, tr).count()
    assert c1["events"] == read_keyed_table(spark, ev).count()

    _land(src, csv_dir, files[3:])
    c2, jobs = _cycle(spark, csv_dir, tr, ev)
    assert _csv_files_read(spark, jobs) == 1
    newest = read_keyed_table(spark, tr).where(F.col("fileName") == files[3])
    assert c2["tracking"] == newest.count()

    assert _cycle(spark, csv_dir, tr, ev) == ({"tracking": 0, "events": 0}, [])
    _assert_equals_full_load(spark, csv_dir, tr, ev, tmp_path)


def test_one_file_cycle_into_one_bucket_targets_runs_nine_jobs(spark, tmp_path):
    """A one-file cycle into auto-sized targets still at one bucket
    runs 9 Spark jobs: the shared keep-last dedup's checkpoint 2 (its
    map stage and the checkpoint), the events merge 4 (the distinct's
    map stage, the admission checkpoint, the batch keys' broadcast, the
    write) and the tracking merge 3 (admission, broadcast, write — the
    one-bucket write has no exchange).  The cycle leaves no persisted
    RDD behind."""
    from airflow_postgres_etl_spark.sink import describe_keyed_table

    from .test_commit_kernel import _persisted_rdds

    src, csv_dir = str(tmp_path / "src"), str(tmp_path / "csv")
    tr, ev = str(tmp_path / "tracking"), str(tmp_path / "events")
    files = generate(src, n_files=3, rows_per_file=20)
    _land(src, csv_dir, files[:2])
    incremental_load(spark, csv_dir, tr, ev)
    _land(src, csv_dir, files[2:])
    held = _persisted_rdds(spark)
    counts, jobs = _cycle(spark, csv_dir, tr, ev)
    assert counts["tracking"] > 0 and counts["events"] > 0
    for t in (tr, ev):
        desc = describe_keyed_table(t)
        assert desc["auto_sized"] and desc["num_buckets"] == 1
    assert len(jobs) == 9
    assert _persisted_rdds(spark) <= held, "the cycle left a checkpoint"
    _assert_equals_full_load(spark, csv_dir, tr, ev, tmp_path)


def test_high_water_mark_compares_names_as_file_name_stores_them(
    spark, tmp_path
):
    """``fileName`` is URI-encoded (``a b.csv`` is stored as
    ``a%20b.csv``), and the raw and encoded orders differ: raw
    ``"a b.csv" < "a!.csv"``, encoded ``"a%20b.csv" > "a!.csv"``.  The
    listing cut must compare encoded names, or ``a b.csv`` landing after
    ``a!.csv`` would be skipped.  A listed name holding a glob
    metacharacter (``a[1].csv``) is read as itself, not as a pattern."""
    src, csv_dir = str(tmp_path / "src"), str(tmp_path / "csv")
    tr, ev = str(tmp_path / "tracking"), str(tmp_path / "events")
    files = generate(src, n_files=4, rows_per_file=20)

    _land(src, csv_dir, {files[0]: "a!.csv"})
    _cycle(spark, csv_dir, tr, ev)
    assert parquet_high_water_mark(spark, tr) == "a!.csv"

    _land(
        src, csv_dir, {files[1]: "a b.csv", files[2]: "a%.csv", files[3]: "a[1].csv"}
    )
    _, jobs = _cycle(spark, csv_dir, tr, ev)
    assert _csv_files_read(spark, jobs) == 3
    assert parquet_high_water_mark(spark, tr) == "a%5B1%5D.csv"
    assert _cycle(spark, csv_dir, tr, ev) == ({"tracking": 0, "events": 0}, [])
    _assert_equals_full_load(spark, csv_dir, tr, ev, tmp_path)


def _rows_of(spark, target):
    from collections import Counter

    df = read_keyed_table(spark, target).drop("uploadDate")
    return Counter(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_crash_between_the_two_commits_replays_the_same_files(
    spark, tmp_path, monkeypatch
):
    """The events commit lands, then the tracking merge dies: the
    high-water mark (read from tracking) has not moved, so the retry
    lists and reads the same files, and both tables end equal to an
    uncrashed run's."""
    import airflow_postgres_etl_spark.pipeline as pipeline
    from airflow_postgres_etl_spark.sink import table_version

    from .test_commit_kernel import _persisted_rdds

    src, csv_dir = str(tmp_path / "src"), str(tmp_path / "csv")
    tr, ev = str(tmp_path / "tracking"), str(tmp_path / "events")
    ref_tr, ref_ev = str(tmp_path / "ref_tr"), str(tmp_path / "ref_ev")
    files = generate(src, n_files=3, rows_per_file=20)
    _land(src, csv_dir, files[:2])
    incremental_load(spark, csv_dir, tr, ev)
    incremental_load(spark, csv_dir, ref_tr, ref_ev)
    hwm = parquet_high_water_mark(spark, tr)
    _land(src, csv_dir, files[2:])
    incremental_load(spark, csv_dir, ref_tr, ref_ev)

    read, real_read = [], pipeline.read_tracking_csv
    real_merge = pipeline.keyed_overwrite_parquet

    def spy_read(spark, paths, **kw):
        read.append(list(paths))
        return real_read(spark, paths, **kw)

    def crash_on_tracking(spark, batch, target, *a, **kw):
        if target == tr:
            raise RuntimeError("injected crash before the tracking commit")
        return real_merge(spark, batch, target, *a, **kw)

    monkeypatch.setattr(pipeline, "read_tracking_csv", spy_read)
    monkeypatch.setattr(pipeline, "keyed_overwrite_parquet", crash_on_tracking)
    ev_version = table_version(ev)
    held = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_load(spark, csv_dir, tr, ev)
    assert _persisted_rdds(spark) <= held, "the crashed cycle left a checkpoint"
    assert table_version(ev) == ev_version + 1  # the events commit landed
    assert parquet_high_water_mark(spark, tr) == hwm

    monkeypatch.setattr(pipeline, "keyed_overwrite_parquet", real_merge)
    retry = incremental_load(spark, csv_dir, tr, ev)
    assert len(read) == 2 and read[0] == read[1] and len(read[0]) == 1
    assert retry["tracking"] > 0 and retry["events"] > 0
    assert parquet_high_water_mark(spark, tr) == files[2]
    assert _rows_of(spark, tr) == _rows_of(spark, ref_tr)
    assert _rows_of(spark, ev) == _rows_of(spark, ref_ev)


def test_incremental_load_relational_lists_then_reads(spark, tmp_path):
    """The relational loader against DuckDB: a cycle reads only the new
    file, a cycle with no new file runs no Spark job, and the target
    ends with the (key, fileName) pairs of one full parquet load."""
    import duckdb

    from airflow_postgres_etl_spark.pipeline import incremental_load_relational

    db = str(tmp_path / "wh.duckdb")

    def stage_writer_factory(cols):
        def write(df, stage):
            con = duckdb.connect(db)
            try:
                _duck_stage_writer(con)(df, stage)
            finally:
                con.close()

        return write

    def cycle():
        return _with_jobs(
            spark,
            lambda: incremental_load_relational(
                spark, csv_dir, "tracking", "events",
                connection_factory=lambda: duckdb.connect(db),
                stage_writer_factory=stage_writer_factory,
            ),
        )

    src, csv_dir = str(tmp_path / "src"), str(tmp_path / "csv")
    files = generate(src, n_files=3, rows_per_file=20)
    _land(src, csv_dir, files[:2])
    cycle()
    assert cycle() == ({"tracking": 0, "events": 0}, [])
    _land(src, csv_dir, files[2:])
    c2, jobs = cycle()
    assert _csv_files_read(spark, jobs) == 1
    # the shared dedup's checkpoint counts the tracking rows: no count job
    assert len(jobs) == 8

    con = duckdb.connect(db)
    try:
        pairs = set(
            con.execute('SELECT "oid__id", "fileName" FROM "tracking"').fetchall()
        )
        n_events = con.execute('SELECT count(*) FROM "events"').fetchone()[0]
    finally:
        con.close()
    full = incremental_load(spark, csv_dir, str(tmp_path / "tr"), str(tmp_path / "ev"))
    want = read_keyed_table(spark, str(tmp_path / "tr")).select("oid__id", "fileName")
    assert pairs == {tuple(r) for r in want.collect()}
    assert n_events == full["events"]
    assert c2["tracking"] == sum(1 for _, f in pairs if f == files[2])


def _scan_max(spark, target, column="fileName"):
    return read_keyed_table(spark, target).agg(F.max(column)).collect()[0][0]


def _hwm_and_jobs(spark, target):
    from .test_commit_kernel import _jobs_of

    got = []
    jobs = _jobs_of(spark, lambda: got.append(parquet_high_water_mark(spark, target)))
    return got[0], jobs


def test_high_water_mark_from_manifest_equals_scan(spark, tmp_path):
    """parquet_high_water_mark answers from the manifest's fileName stats
    when they are exact, and equals max(fileName) from a scan in every
    case: a pipeline-written table (no Spark job), a table written
    before the stats were kept, a snapshot with pending MOR deltas and
    a table whose fileName stats belong to a renamed column (all fall
    back to the scan), and an all-null column (None)."""
    from airflow_postgres_etl_spark.sink import keyed_merge_mor

    csv_dir, tr, ev = (str(tmp_path / d) for d in ("csv", "tracking", "events"))
    generate(csv_dir, n_files=2, rows_per_file=10)
    incremental_load(spark, csv_dir, tr, ev)
    hwm, jobs = _hwm_and_jobs(spark, tr)
    assert jobs == 0
    assert hwm == _scan_max(spark, tr) == sorted(os.listdir(csv_dir))[-1]

    schema = "oid__id string, fileName string"
    rows = [(f"k{i}", f"f{i:03d}.csv") for i in range(40)]
    old = str(tmp_path / "pre_stats")
    keyed_overwrite_parquet(
        spark, spark.createDataFrame(rows, schema), old, num_buckets=64
    )
    # a later stats-keeping merge covers only the buckets it rewrites
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([("k0", "f000.csv")], schema),
        old,
        stats_cols=["fileName"],
    )
    hwm, jobs = _hwm_and_jobs(spark, old)
    assert jobs > 0 and hwm == _scan_max(spark, old) == "f039.csv"

    mor = str(tmp_path / "mor")
    keyed_overwrite_parquet(
        spark, spark.createDataFrame(rows, schema), mor, stats_cols=["fileName"]
    )
    assert parquet_high_water_mark(spark, mor) == "f039.csv"
    # the delta replaces the max row: the base files' stats now overstate it
    keyed_merge_mor(spark, spark.createDataFrame([("k39", "f000.csv")], schema), mor)
    hwm, jobs = _hwm_and_jobs(spark, mor)
    assert jobs > 0 and hwm == _scan_max(spark, mor) == "f038.csv"

    nulls = str(tmp_path / "nulls")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(f"k{i}", None) for i in range(40)], schema),
        nulls,
        stats_cols=["fileName"],
    )
    assert _hwm_and_jobs(spark, nulls) == (None, 0)
    assert _scan_max(spark, nulls) is None

    # swapped names: the physical fileName column (stats and all) now
    # holds the logical "fn"; the logical fileName is physical "x"
    swapped = str(tmp_path / "swapped")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [(f"k{i}", f"f{i:03d}.csv", f"x{i:03d}.csv") for i in range(40)],
            "oid__id string, fileName string, x string",
        ),
        swapped,
        stats_cols=["fileName"],
    )
    rename_column(spark, swapped, "fileName", "fn")
    rename_column(spark, swapped, "x", "fileName")
    assert "fileName" not in table_stats(swapped)["columns"]
    hwm, jobs = _hwm_and_jobs(spark, swapped)
    assert jobs > 0 and hwm == _scan_max(spark, swapped) == "x039.csv"


# ---------------------------------------------------------------------------
# JDBC stage-then-merge, executed end-to-end against DuckDB as the
# in-process database stand-in: the DELETE-USING / INSERT / DROP ordering,
# replace-by-key semantics, replay idempotency, and mid-transaction
# rollback are all *run*, not just string-asserted.
# ---------------------------------------------------------------------------

_MERGE_COLS = {"oid__id": "String", "from": "String", "to": "String", "ts": "DateTime"}


def _fresh_target(con):
    con.execute(create_table_sql("events", _MERGE_COLS))
    con.execute(
        """INSERT INTO "events" VALUES
           ('k1', 'a', 'b', TIMESTAMP '2023-01-01 00:00:00'),
           ('k1', 'c', 'd', TIMESTAMP '2023-01-02 00:00:00'),
           ('k2', 'e', 'f', TIMESTAMP '2023-01-03 00:00:00')"""
    )


def _stage_batch(con):
    con.execute('CREATE TABLE "events__stage" ("oid__id" TEXT, "from" TEXT, "to" TEXT, "ts" TIMESTAMP)')
    con.execute(
        """INSERT INTO "events__stage" VALUES
           ('k1', 'x', 'y', TIMESTAMP '2023-02-01 00:00:00'),
           ('k3', 'g', 'h', TIMESTAMP '2023-02-02 00:00:00')"""
    )


def _final_state(con):
    return set(
        map(tuple, con.execute('SELECT * FROM "events" ORDER BY 1, 2').fetchall())
    )


def _run_merge_transaction(con):
    con.execute("BEGIN")
    for stmt in merge_sql("events", "events__stage", "oid__id", list(_MERGE_COLS)):
        con.execute(stmt)
    con.execute("COMMIT")


def test_jdbc_merge_executes_replace_by_key():
    import datetime

    import duckdb

    con = duckdb.connect()
    _fresh_target(con)
    _stage_batch(con)
    _run_merge_transaction(con)

    got = _final_state(con)
    # BOTH old k1 rows replaced by the single staged one (child-set
    # replace); k2 untouched; k3 inserted; stage dropped.
    assert got == {
        ("k1", "x", "y", datetime.datetime(2023, 2, 1)),
        ("k2", "e", "f", datetime.datetime(2023, 1, 3)),
        ("k3", "g", "h", datetime.datetime(2023, 2, 2)),
    }
    assert con.execute(
        "SELECT count(*) FROM information_schema.tables WHERE table_name = 'events__stage'"
    ).fetchone()[0] == 0
    # high-water-mark probe runs against the merged target
    assert con.execute(high_water_mark_sql("events", "ts")).fetchone()[0] is not None


def test_jdbc_merge_replay_is_idempotent():
    import duckdb

    con = duckdb.connect()
    _fresh_target(con)
    _stage_batch(con)
    _run_merge_transaction(con)
    state1 = _final_state(con)

    # the retry scenario: the SAME batch is staged and merged again
    _stage_batch(con)
    _run_merge_transaction(con)
    assert _final_state(con) == state1


def test_jdbc_merge_failure_rolls_back_atomically():
    """If the transaction dies between DELETE and INSERT, the target must
    be unchanged — the single-transaction contract the reference relies on
    (postgres.py:30-38 uses one engine.begin() block)."""
    import duckdb

    con = duckdb.connect()
    _fresh_target(con)
    _stage_batch(con)
    before = _final_state(con)

    stmts = merge_sql("events", "events__stage", "oid__id", list(_MERGE_COLS))
    con.execute("BEGIN")
    con.execute(stmts[0])  # DELETE ran ...
    con.execute("ROLLBACK")  # ... then the connection died mid-transaction

    assert _final_state(con) == before  # no partial delete visible


def _duck_stage_writer(con):
    """Test stand-in for ``batch.write.jdbc``: land the Spark batch in the
    same DuckDB the merge transaction will run on (Arrow hop, no JDBC)."""

    def write(df, stage_table):
        pdf = df.toPandas()
        con.register("__stage_src", pdf)
        con.execute(
            f'CREATE OR REPLACE TABLE "{stage_table}" AS SELECT * FROM __stage_src'
        )
        con.unregister("__stage_src")

    return write


def _jdbc_batch(spark):
    import datetime

    return spark.createDataFrame(
        [
            ("k1", "x", "y", datetime.datetime(2023, 2, 1)),
            ("k3", "g", "h", datetime.datetime(2023, 2, 2)),
        ],
        ["oid__id", "from", "to", "ts"],
    )


def test_keyed_overwrite_jdbc_executes_end_to_end(spark):
    """The FUNCTION (not just its SQL): ensure-target → stage → one-
    transaction merge, with DuckDB injected through the production seams."""
    import datetime

    import duckdb

    from airflow_postgres_etl_spark.sink import keyed_overwrite_jdbc

    con = duckdb.connect()
    _fresh_target(con)
    batch = _jdbc_batch(spark)

    keyed_overwrite_jdbc(
        batch,
        url="",
        table="events",
        key="oid__id",
        columns_dict=_MERGE_COLS,
        connection=con,
        stage_writer=_duck_stage_writer(con),
    )
    state1 = _final_state(con)
    assert state1 == {
        ("k1", "x", "y", datetime.datetime(2023, 2, 1)),
        ("k2", "e", "f", datetime.datetime(2023, 1, 3)),
        ("k3", "g", "h", datetime.datetime(2023, 2, 2)),
    }
    # stage dropped inside the transaction
    assert con.execute(
        "SELECT count(*) FROM information_schema.tables WHERE table_name = 'events__stage'"
    ).fetchone()[0] == 0

    # the retry scenario: the SAME batch replayed through the function
    keyed_overwrite_jdbc(
        batch,
        url="",
        table="events",
        key="oid__id",
        columns_dict=_MERGE_COLS,
        connection=con,
        stage_writer=_duck_stage_writer(con),
    )
    assert _final_state(con) == state1


def test_keyed_overwrite_jdbc_creates_missing_target(spark):
    """S6+S7 inside the sink: an absent target is created from the 3-type
    column dict before the first merge."""
    import duckdb

    from airflow_postgres_etl_spark.sink import keyed_overwrite_jdbc

    con = duckdb.connect()  # no events table at all
    keyed_overwrite_jdbc(
        _jdbc_batch(spark),
        url="",
        table="events",
        key="oid__id",
        columns_dict=_MERGE_COLS,
        connection=con,
        stage_writer=_duck_stage_writer(con),
    )
    assert len(_final_state(con)) == 2


def test_keyed_overwrite_jdbc_failure_rolls_back(spark):
    """A failure mid-transaction (INSERT dies after DELETE ran) leaves the
    target exactly as it was — through the function's own rollback path."""
    import duckdb
    import pytest as _pytest

    from airflow_postgres_etl_spark.sink import keyed_overwrite_jdbc

    con = duckdb.connect()
    _fresh_target(con)
    before = _final_state(con)

    class FailOnInsert:
        """DB-API-shaped wrapper over the DuckDB connection that dies on
        INSERT; begin/commit/rollback delegate so the sink's DB-API
        transaction control drives the real engine."""

        closed = False

        def execute(self, sql):
            if sql.startswith("INSERT INTO"):
                raise RuntimeError("connection lost mid-transaction")
            con.execute(sql)

        def begin(self):
            con.begin()

        def commit(self):
            con.commit()

        def rollback(self):
            con.rollback()

        def close(self):
            self.closed = True

    fake = FailOnInsert()
    with _pytest.raises(RuntimeError, match="connection lost"):
        keyed_overwrite_jdbc(
            _jdbc_batch(spark),
            url="",
            table="events",
            key="oid__id",
            columns_dict=_MERGE_COLS,
            connection_factory=lambda: fake,
            stage_writer=_duck_stage_writer(con),
        )
    assert _final_state(con) == before  # DELETE was rolled back
    assert fake.closed  # factory-created connections are closed by the sink


def test_keyed_overwrite_jdbc_validates_connection_before_staging(spark):
    """A call with no merge connection must fail BEFORE staging — otherwise
    a misconfigured call leaves an orphan <table>__stage in the database."""
    from airflow_postgres_etl_spark.sink import keyed_overwrite_jdbc

    staged = []
    with pytest.raises(RuntimeError, match="DB-API connection"):
        keyed_overwrite_jdbc(
            _jdbc_batch(spark),
            url="",
            table="events",
            key="oid__id",
            columns_dict=_MERGE_COLS,
            stage_writer=lambda df, t: staged.append(t),
        )
    assert staged == []  # nothing was staged


def test_keyed_overwrite_jdbc_rollback_failure_keeps_original_error(spark):
    """If the rollback itself fails (connection genuinely lost), the
    ORIGINAL merge error propagates, not the rollback's."""
    from airflow_postgres_etl_spark.sink import keyed_overwrite_jdbc

    class DeadAfterDelete:
        def execute(self, sql):
            if sql.startswith("DELETE"):
                raise RuntimeError("server closed the connection")

        def begin(self):
            pass

        def commit(self):
            pass

        def rollback(self):
            raise OSError("rollback on a dead connection")

        def close(self):
            pass

    with pytest.raises(RuntimeError, match="server closed"):
        keyed_overwrite_jdbc(
            _jdbc_batch(spark),
            url="",
            table="events",
            key="oid__id",
            columns_dict=_MERGE_COLS,
            connection_factory=DeadAfterDelete,
            stage_writer=lambda df, t: None,
        )


def test_crash_before_manifest_commit_preserves_old_state(spark, tmp_path, monkeypatch):
    """The object-store contract: until the single-file manifest replace
    lands, readers see the OLD snapshot — no matter how many new data
    files were already written.  Replaying the batch then converges, and
    vacuum collects the crash's orphan files."""
    import airflow_postgres_etl_spark.sink as sink

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(f"key{i}", i) for i in range(100)], ["oid__id", "v"]
    )
    keyed_overwrite_parquet(spark, base, target, num_buckets=8)
    before = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}

    batch = spark.createDataFrame(
        [("key0", 1000), ("key1", 1001), ("key2", 1002)], ["oid__id", "v"]
    )

    # crash AFTER all merged data files are written, BEFORE the commit
    real_commit = sink._commit_manifest

    def crash(*a, **k):
        raise OSError("simulated crash before manifest swap")

    monkeypatch.setattr(sink, "_commit_manifest", crash)
    with pytest.raises(OSError, match="simulated crash"):
        keyed_overwrite_parquet(spark, batch, target, num_buckets=8)

    # the uncommitted files exist on disk ...
    orphans = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(target, "data"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(orphans) > 8  # base commit's files plus the orphaned ones
    # ... but a reader still sees exactly the old committed state
    assert {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()} == before

    # the retry path: replay the same batch for real.  retention_s=0:
    # single-process test, immediate collection (the default 1 h window
    # would — correctly — keep the fresh orphans for in-flight readers).
    monkeypatch.setattr(sink, "_commit_manifest", real_commit)
    keyed_overwrite_parquet(spark, batch, target, num_buckets=8, retention_s=0)
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    expected = {(f"key{i}", i) for i in range(3, 100)} | {
        ("key0", 1000), ("key1", 1001), ("key2", 1002)
    }
    assert got == expected
    # post-commit vacuum collected the crash's orphans: every remaining
    # parquet file is manifest-referenced
    live = {
        os.path.normpath(f)
        for fs in sink._load_manifest(target)["buckets"].values()
        for f in fs
    }
    on_disk = {
        os.path.normpath(os.path.relpath(os.path.join(r, f), target))
        for r, _d, fs in os.walk(target)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == live


def test_vacuum_retention_protects_in_flight_readers(spark, tmp_path):
    """The reader-safety contract: a reader that resolved the manifest
    BEFORE a merge can still read every file of its snapshot afterwards —
    the merge's vacuum keeps superseded files for retention_s.  Once the
    window elapses (simulated with retention_s=0), they are collected."""
    import airflow_postgres_etl_spark.sink as sink

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(f"key{i}", i) for i in range(50)], ["oid__id", "v"]
    )
    keyed_overwrite_parquet(spark, base, target, num_buckets=4)

    # reader resolves the manifest now (the old snapshot)
    old_manifest = sink._load_manifest(target)
    old_files = [
        os.path.join(target, f)
        for fs in old_manifest["buckets"].values()
        for f in fs
    ]

    # a merge with the DEFAULT retention supersedes some of those files
    batch = spark.createDataFrame([("key0", 999)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, batch, target, num_buckets=4)

    # the reader's snapshot is fully intact: every old file readable
    assert all(os.path.exists(f) for f in old_files)
    old_df = spark.read.option("recursiveFileLookup", "true").parquet(*old_files)
    assert old_df.count() == 50  # the PRE-merge state, complete

    # retirees are stamped in the manifest, and survive a 0-retention...
    m = sink._load_manifest(target)
    assert len(m["retired"]) > 0 and all("ts" in e for e in m["retired"])
    # ...only until the window elapses: collect them and re-check
    removed = vacuum_keyed_table(target, retention_s=0)
    assert removed == len(
        [e for e in m["retired"]]
    ) and not all(os.path.exists(f) for f in old_files)
    # current snapshot unaffected by the vacuum
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert ("key0", 999) in got and len(got) == 50
    # the next merge prunes collected retirees from the manifest
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([("key1", 888)], ["oid__id", "v"]),
        target,
        num_buckets=4,
        retention_s=0,
    )
    m2 = sink._load_manifest(target)
    collected = {e["path"] for e in m["retired"]}
    assert not collected & {e["path"] for e in m2["retired"]}


def test_concurrent_writer_is_detected(spark, tmp_path, monkeypatch):
    """If another writer rewrites the SAME bucket between this merge's
    snapshot read and its manifest swap, the optimistic rebase refuses
    (true conflict) and the commit aborts.  A concurrent commit to
    OTHER buckets rebases instead — tests/test_concurrency.py."""
    import airflow_postgres_etl_spark.sink as sink

    target = str(tmp_path / "t")
    base = spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, base, target, num_buckets=4)

    # interloper rewrites key "a"'s bucket while our merge of key "a"
    # is writing its data files
    real_write = sink._write_bucketed
    state = {"fired": False}

    def write_then_interlope(df, path, n):
        real_write(df, path, n)
        if not state["fired"]:
            state["fired"] = True  # before the nested merge re-enters
            keyed_overwrite_parquet(
                spark,
                spark.createDataFrame([("a", 99)], ["oid__id", "v"]),
                target,
                num_buckets=4,
            )

    monkeypatch.setattr(sink, "_write_bucketed", write_then_interlope)
    batch = spark.createDataFrame([("a", 9)], ["oid__id", "v"])
    with pytest.raises(ConcurrentWriteError):
        keyed_overwrite_parquet(spark, batch, target, num_buckets=4)
    # target state is whatever the interloper committed — our merge left
    # no visible trace, and its files are vacuumable orphans
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert got == {("a", 99), ("b", 2)}
    # retention_s=0: single-process test, no concurrent writers — the
    # default (DEFAULT_RETENTION_S) would correctly REFUSE to collect
    # these fresh orphans, since a fresh orphan may be a concurrent
    # writer's in-flight merge data
    assert vacuum_keyed_table(target, retention_s=0) > 0


def test_legacy_unmanifested_layout_is_adopted(spark, tmp_path):
    """A pre-manifest target (bucket dirs at the root, no _manifest.json)
    reads correctly and the first merge migrates it — no data rewrite."""
    from pyspark.sql import functions as F  # noqa: F811

    import airflow_postgres_etl_spark.sink as sink

    target = str(tmp_path / "t")
    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["oid__id", "v"])
    df.withColumn(BUCKET_COL, sink._bucket_expr("oid__id", 4)).repartition(
        4, F.col(BUCKET_COL)
    ).write.partitionBy(BUCKET_COL).parquet(target)
    write_legacy_spec(target, "oid__id", 4)
    assert not os.path.exists(os.path.join(target, "_manifest.json"))

    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}

    batch = spark.createDataFrame([("a", 9), ("d", 4)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, batch, target, num_buckets=4)
    assert os.path.exists(os.path.join(target, "_manifest.json"))
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert got == {("a", 9), ("b", 2), ("c", 3), ("d", 4)}


def test_keyed_merge_additive_schema_evolution(spark, tmp_path):
    """A batch may ADD columns (existing rows null-fill them across every
    read path: current, time-travel-adjacent merges, rebucket); a batch
    MISSING an existing column is rejected — silent per-key nulling in a
    replace-by-key sink is data loss."""
    import pytest as _pytest

    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        read_keyed_table,
        rebucket_keyed_table,
    )

    target = str(tmp_path / "t")
    v1 = spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, v1, target, num_buckets=2, vacuum=False)

    v2 = spark.createDataFrame(
        [("a", 10, "x"), ("c", 30, "y")], ["oid__id", "v", "extra"]
    )
    keyed_overwrite_parquet(spark, v2, target, num_buckets=2, vacuum=False)

    got = {
        r.oid__id: (r.v, r.extra)
        for r in read_keyed_table(spark, target).collect()
    }
    assert got == {"a": (10, "x"), "b": (2, None), "c": (30, "y")}

    # dropping a column is rejected with the column named
    narrow = spark.createDataFrame([("b",)], ["oid__id"])
    with _pytest.raises(ValueError, match="missing existing column.*'v'"):
        keyed_overwrite_parquet(spark, narrow, target, num_buckets=2)

    # the mixed-schema table survives re-bucketing intact
    rebucket_keyed_table(spark, target, 8)
    got2 = {
        r.oid__id: (r.v, r.extra)
        for r in read_keyed_table(spark, target).collect()
    }
    assert got2 == got

def test_table_exists_sql_probe_duckdb_standin():
    """S6's wire-leg probe (r11): one catalog statement any DB-API
    driver runs — row iff the table exists (the reference's
    ``inspect(engine).has_table``), quote-safe."""
    import duckdb

    from airflow_postgres_etl_spark.sink import table_exists_sql

    con = duckdb.connect()
    con.execute('CREATE TABLE "events" (x INTEGER)')
    assert con.execute(table_exists_sql("events")).fetchone() is not None
    assert con.execute(table_exists_sql("absent")).fetchone() is None
    # a malicious name stays inside the literal
    assert con.execute(
        table_exists_sql("x' OR '1'='1")
    ).fetchone() is None
