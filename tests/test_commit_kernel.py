"""Every data-writing commit of the keyed table goes through one kernel
(``sink._commit_files``).  These tests drive each public write path on
a tiny table and pin what the kernel owes all of them:

- a crash after the data files are written and before the manifest swap
  leaves the committed snapshot untouched, a retry lands, and a
  zero-retention vacuum then leaves no unreferenced data file — for the
  metadata-only commits that re-point a whole snapshot (restore, WAP
  publish, adopt) as well;
- each commit keeps the manifest invariants (``check_manifest``);
- each path's Spark-job budget for a 2-row change stays at its pinned
  count;
- a writer that loses the manifest CAS to another writer leaves the
  table at exactly one of the two versions, and its retry converges
  (MERGE, both CDC ops and each of ``apply_changes``' two commits, a
  CoW merge and an append that rebase over a commit to another bucket,
  an MOR merge, a rebucket, an auto-sized table's growth commit, a
  table's first commit racing another bootstrap — the loser's layout
  never outlives its failed commit — and CHECK constraint commits
  racing a merge or each other: a data commit never lands rows checked
  against constraints other than the ones it commits under);
- each path releases every local checkpoint it took, whether its
  commit lands or fails (no persisted RDD outlives the op).
"""

from __future__ import annotations

import os
import uuid

import pytest

import airflow_postgres_etl_spark.sink as sink
from airflow_postgres_etl_spark.storage import (
    ConcurrentWriteError,
    FakeConditionalStore,
    LocalManifestStore,
)


def _rows(spark, data):
    return spark.createDataFrame(data, "oid__id string, v int, w double")


def _base(spark, target, store=sink.LOCAL_STORE):
    sink.keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", i, float(i % 5)) for i in range(12)]),
        target,
        num_buckets=4,
        stats_cols=["v"],
        store=store,
    )


def _snapshot(spark, target, store=sink.LOCAL_STORE) -> set:
    df = sink.read_keyed_table(spark, target, store)
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


def _live(manifest: dict) -> set[str]:
    return {f for fs in manifest["buckets"].values() for f in fs} | set(
        sink._delta_files_of(manifest)
    )


def check_manifest(manifest: dict, prev: dict | None = None) -> None:
    """Invariants every committed manifest keeps: live files have a row
    count and a stored size, stats describe live files only, nothing is
    both live and retired, every table-owned (relative) file the commit
    superseded is retired with a timestamp — a foreign reference
    (absolute, into a clone source or a WAP branch) is not the table's
    to retire — a commit over a base that records a schema records
    one too, and every manifest records its layout's key and count."""
    assert manifest.get("key") and manifest.get("num_buckets"), "no layout"
    live = _live(manifest)
    retired = {e["path"]: e for e in manifest.get("retired", [])}
    assert live <= set(manifest.get("rows", {})), "live file without rows"
    assert live <= set(manifest.get("bytes", {})), "live file without bytes"
    assert set(manifest.get("stats", {})) <= live, "stats for dead file"
    assert not live & set(retired), "file both live and retired"
    if prev is not None:
        for f in _live(prev) - live:
            if not os.path.isabs(f):
                assert f in retired and "ts" in retired[f], f"{f} not retired"
        if prev.get("schema"):
            assert manifest.get("schema"), "schema entry dropped"


def _setup_mor(spark, t):
    _base(spark, t)
    sink.keyed_merge_mor(spark, _rows(spark, [("k1", 100, 1.5)]), t)


def _setup_append(spark, t):
    _base(spark, t)
    sink.keyed_append(spark, _rows(spark, [("n9", 9, 9.0), ("n8", 8, 8.0)]), t)


def _base_auto(spark, target, store=sink.LOCAL_STORE):
    """:func:`_base` on an auto-sized layout (no ``num_buckets=``)."""
    sink.keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", i, float(i % 5)) for i in range(12)]),
        target,
        stats_cols=["v"],
        store=store,
    )


def _grow(spark, target, store=sink.LOCAL_STORE):
    """A 2-row CoW merge on an auto-sized table whose mean bucket has
    just passed ``TARGET_BUCKET_BYTES``: it commits every bucket at twice
    the count."""
    m = sink._load_manifest(target, store)
    live = sum(m["bytes"][f] for f in sink._live_files(m))
    saved = sink.TARGET_BUCKET_BYTES
    sink.TARGET_BUCKET_BYTES = -(-live // (2 * m["num_buckets"]))
    try:
        sink.keyed_overwrite_parquet(
            spark, _rows(spark, [("k1", 10, 0.5), ("k2", 20, 0.5)]), target,
            store=store,
        )
    finally:
        sink.TARGET_BUCKET_BYTES = saved


def _setup_renamed(spark, t):
    _base(spark, t)
    sink.rename_column(spark, t, "w", "w2")


_HIST = "k string, seq bigint, op string, v string"


def _setup_scd2(spark, t, store=sink.LOCAL_STORE):
    """A four-key SCD2 history table, one open interval per key."""
    sink.apply_changes_scd2(
        spark, t,
        spark.createDataFrame(
            [(k, 1, "U", v) for k, v in zip("abcd", "xpqr")], _HIST
        ),
        "seq", ["v"], key="k", num_buckets=4, store=store,
    )


def _scd2_change(spark, t, store=sink.LOCAL_STORE):
    """Closes ``a``'s open interval and opens a new key ``e``."""
    return sink.apply_changes_scd2(
        spark, t,
        spark.createDataFrame([("a", 2, "U", "y"), ("e", 2, "U", "z")], _HIST),
        "seq", ["v"], store=store,
    )


_CDC = "oid__id string, seq bigint, op string, v int, w double"


def _cdc_change(spark, t, store=sink.LOCAL_STORE):
    """An upsert of ``k1`` and a delete of ``k2``: a target delta commit,
    then a delete-memory commit."""
    return sink.apply_changes(
        spark, t,
        spark.createDataFrame(
            [("k1", 1, "U", 10, 0.5), ("k2", 1, "D", None, None)], _CDC
        ),
        "seq", store=store,
    )


#: public write path -> (table setup, the op: a 2-row change or one
#: maintenance call).  Setups leave work for the maintenance ops: MOR
#: deltas for compact, multi-file buckets for optimize, a rename for
#: purge.
OPS = {
    "merge": (
        _base,
        lambda s, t: sink.keyed_overwrite_parquet(
            s, _rows(s, [("k1", 10, 0.5), ("k2", 20, 0.5)]), t
        ),
    ),
    "merge_auto": (
        _base_auto,
        lambda s, t: sink.keyed_overwrite_parquet(
            s, _rows(s, [("k1", 10, 0.5), ("k2", 20, 0.5)]), t
        ),
    ),
    "grow": (_base_auto, _grow),
    "merge_mor": (
        _base,
        lambda s, t: sink.keyed_merge_mor(
            s, _rows(s, [("k1", 10, 0.5), ("k2", 20, 0.5)]), t
        ),
    ),
    "append": (
        _base,
        lambda s, t: sink.keyed_append(
            s, _rows(s, [("n1", 1, 0.5), ("n2", 2, 0.5)]), t
        ),
    ),
    "delete_where": (
        _base,
        lambda s, t: sink.keyed_delete_where(s, t, "v IN (1, 2)"),
    ),
    "update_where": (
        _base,
        lambda s, t: sink.keyed_update_where(s, t, {"w": "w + 1"}, "v IN (1, 2)"),
    ),
    "compact": (_setup_mor, lambda s, t: sink.compact_keyed_table(s, t)),
    "optimize": (_setup_append, lambda s, t: sink.optimize_keyed_table(s, t)),
    "rebucket": (_base, lambda s, t: sink.rebucket_keyed_table(s, t, 8)),
    "widen": (_base, lambda s, t: sink.widen_keyed_table(s, t, {"v": "bigint"})),
    "purge_mapping": (
        _setup_renamed,
        lambda s, t: sink.purge_column_mapping(s, t),
    ),
    "cluster": (
        _base,
        lambda s, t: sink.cluster_keyed_table(s, t, "v", files_per_bucket=2),
    ),
    "zorder": (
        _base,
        lambda s, t: sink.zorder_keyed_table(s, t, ["v", "w"], files_per_bucket=2),
    ),
    "merge_into": (
        _base,
        lambda s, t: sink.merge_into(
            s, t, _rows(s, [("k1", 10, 0.5), ("n1", 1, 0.5)]),
            when_matched_update={"v": "s_v"},
        ),
    ),
    "merge_into_by_source": (
        _base,
        lambda s, t: sink.merge_into(
            s, t, _rows(s, [("k1", 10, 0.5)]),
            when_not_matched_insert=False,
            when_not_matched_by_source_delete="v IN (2, 3)",
        ),
    ),
    "apply_changes": (_base, _cdc_change),
    "apply_changes_scd2": (_setup_scd2, _scd2_change),
}


def _setup_history(spark, t):
    _base(spark, t)
    sink.keyed_overwrite_parquet(
        spark, _rows(spark, [("k1", 10, 0.5), ("n1", 1, 0.5)]), t
    )


def _setup_branch(spark, t):
    _base(spark, t)
    sink.keyed_overwrite_parquet(
        spark,
        _rows(spark, [("k1", 10, 0.5), ("n1", 1, 0.5)]),
        sink.wap_begin(t, "audit"),
    )


def _setup_published(spark, t):
    _setup_branch(spark, t)
    sink.wap_publish(spark, t, "audit")


#: metadata-only commits -> (table setup, the op): each re-points a
#: whole snapshot and writes no data file of its own (adopt copies the
#: foreign files it re-owns).
METADATA_OPS = {
    "restore": (_setup_history, lambda s, t: sink.restore_keyed_table(s, t, 1)),
    "wap_publish": (_setup_branch, lambda s, t: sink.wap_publish(s, t, "audit")),
    "adopt_foreign": (_setup_published, lambda s, t: sink.adopt_foreign_files(t)),
}

#: Spark jobs each path launches for the ops above (spark fixture:
#: local mode, 8 shuffle partitions, AQE on).  A change here is a
#: change to the path's cost: re-measure and say why.
JOB_BUDGET = {
    "merge": 4,
    "merge_auto": 3,
    "grow": 4,
    "merge_mor": 3,
    "append": 6,
    "delete_where": 6,
    "update_where": 5,
    "compact": 3,
    "optimize": 2,
    "rebucket": 2,
    "widen": 2,
    "purge_mapping": 2,
    "cluster": 3,
    "zorder": 5,
    "merge_into": 8,
    "merge_into_by_source": 8,
    "apply_changes": 10,
    "apply_changes_scd2": 8,
}


def _table_parquet(target: str) -> set[str]:
    """The table's own parquet files: ``_``-prefixed subtrees are other
    tables nested under it (``apply_changes``' ``_cdc_tombstones``, WAP
    ``_branches``); ``__bucket=`` directories are the table's own."""
    rels = (
        os.path.normpath(os.path.relpath(os.path.join(r, f), target))
        for r, _d, fs in os.walk(target)
        for f in fs
        if f.endswith(".parquet")
    )
    return {
        rel
        for rel in rels
        if not rel.startswith("_") or rel.startswith(f"{sink.BUCKET_COL}=")
    }


@pytest.mark.parametrize("op", sorted(OPS) + sorted(METADATA_OPS))
def test_crash_before_commit_keeps_snapshot_then_retry_lands(
    spark, tmp_path, monkeypatch, op
):
    setup, run = {**OPS, **METADATA_OPS}[op]
    target = str(tmp_path / "t")
    setup(spark, target)
    before = sink._load_manifest(target)
    rows_before = _snapshot(spark, target)

    real_commit = sink._commit_manifest

    def crash_once(*a, **k):
        monkeypatch.setattr(sink, "_commit_manifest", real_commit)
        raise OSError("simulated crash before manifest swap")

    monkeypatch.setattr(sink, "_commit_manifest", crash_once)
    held = _persisted_rdds(spark)
    with pytest.raises(OSError, match="simulated crash"):
        run(spark, target)
    assert sink._commit_manifest is real_commit, "op committed nothing"
    assert _persisted_rdds(spark) <= held, "failed op left a checkpoint"
    assert sink.table_version(target) == before["version"]
    assert _snapshot(spark, target) == rows_before

    run(spark, target)
    after = sink._load_manifest(target)
    assert after["version"] == before["version"] + 1
    check_manifest(after, before)
    sink.vacuum_keyed_table(target, retention_s=0)
    live = {os.path.normpath(f) for f in _live(after) if not os.path.isabs(f)}
    assert _table_parquet(target) == live


def test_apply_changes_crash_before_delete_memory_commit(
    spark, tmp_path, monkeypatch
):
    """``apply_changes`` commits twice: the target delta, then the
    delete memory (``_cdc_tombstones``).  A crash between the two leaves
    the deletes applied but unremembered; a retry of the same batch must
    report what an uncrashed run reports, converge to the same table and
    record the memory, so an upsert sequenced before the delete stays
    fenced.  The batch holds deletes only: an upsert that already landed
    is a redelivered change on the retry, counted as ``ignored``."""
    deletes = spark.createDataFrame(
        [("k2", 5, "D", None, None), ("k3", 5, "D", None, None)],
        "oid__id string, seq bigint, op string, v int, w double",
    )
    stale = spark.createDataFrame(
        [("k2", 4, "U", 99, 9.9)],
        "oid__id string, seq bigint, op string, v int, w double",
    )
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    _base(spark, clean)
    _base(spark, crashed)
    expected = sink.apply_changes(spark, clean, deletes, "seq")
    assert expected == {"upserted": 0, "deleted": 2, "ignored": 0}

    real_commit = sink._commit_manifest
    calls = []

    def crash_second(*a, **k):
        calls.append(a[0])
        if len(calls) == 2:
            monkeypatch.setattr(sink, "_commit_manifest", real_commit)
            raise OSError("simulated crash before the delete memory commit")
        return real_commit(*a, **k)

    monkeypatch.setattr(sink, "_commit_manifest", crash_second)
    with pytest.raises(OSError, match="simulated crash"):
        sink.apply_changes(spark, crashed, deletes, "seq")
    assert calls == [crashed, sink._cdc_tomb_path(crashed)]
    assert sink._load_manifest(sink._cdc_tomb_path(crashed)) is None

    assert sink.apply_changes(spark, crashed, deletes, "seq") == expected
    assert _snapshot(spark, crashed) == _snapshot(spark, clean)
    for t in (clean, crashed):
        assert sink.apply_changes(spark, t, stale, "seq") == {
            "upserted": 0, "deleted": 0, "ignored": 1,
        }
    assert _snapshot(spark, crashed) == _snapshot(spark, clean)
    assert "k2" not in {r[0] for r in _snapshot(spark, crashed)}


def _persisted_rdds(spark) -> set[int]:
    """Ids of the RDDs the context holds persisted (local checkpoints
    included)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _job_ids_of(spark, fn) -> list[int]:
    sc = spark.sparkContext
    group = f"jobpin-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _jobs_of(spark, fn) -> int:
    return len(_job_ids_of(spark, fn))


@pytest.mark.parametrize("op", sorted(OPS))
def test_write_path_job_budget_and_manifest_invariants(spark, tmp_path, op):
    setup, run = OPS[op]
    target = str(tmp_path / "t")
    setup(spark, target)
    before = sink._load_manifest(target)
    held = _persisted_rdds(spark)
    jobs = _jobs_of(spark, lambda: run(spark, target))
    after = sink._load_manifest(target)
    assert after["version"] == before["version"] + 1
    check_manifest(after, before)
    assert jobs == JOB_BUDGET[op], f"{op}: {jobs} jobs"
    assert _persisted_rdds(spark) <= held, f"{op} left a checkpoint"


def test_default_layout_reads_are_jobless_and_writes_scale_with_the_commit(
    spark, tmp_path
):
    """At a 64-bucket layout (more live files than Spark's default
    listing threshold of 32): a table read and the high-water
    mark run no Spark job, and a 2-row merge keeps its job count, adds
    exactly one file to each bucket it touches, and writes through no
    more tasks than buckets touched (the AQE-coalesced exchange)."""
    from airflow_postgres_etl_spark.pipeline import parquet_high_water_mark

    sc = spark.sparkContext
    target = str(tmp_path / "t")
    schema = "oid__id string, fileName string, v int"
    sink.keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [(f"k{i}", f"f{i % 7:03d}.csv", i) for i in range(200)], schema
        ),
        target,
        num_buckets=64,
        stats_cols=["fileName"],
    )
    before = sink._load_manifest(target)
    assert len(_live(before)) > 32

    assert _jobs_of(spark, lambda: sink.read_keyed_table(spark, target)) == 0
    hwm = []
    assert _jobs_of(
        spark, lambda: hwm.append(parquet_high_water_mark(spark, target))
    ) == 0
    assert hwm == ["f006.csv"]

    jobs = _job_ids_of(
        spark,
        lambda: sink.keyed_overwrite_parquet(
            spark,
            spark.createDataFrame(
                [("k1", "f900.csv", 10), ("k2", "f901.csv", 20)], schema
            ),
            target,
        ),
    )
    assert len(jobs) == 4

    after = sink._load_manifest(target)
    check_manifest(after, before)
    changed = {
        b
        for b in set(before["buckets"]) | set(after["buckets"])
        if before["buckets"].get(b) != after["buckets"].get(b)
    }
    assert 1 <= len(changed) <= 2
    assert all(len(after["buckets"][b]) == 1 for b in changed)

    # the write is the merge's last job and its result stage the write:
    # AQE coalesced the exchange down to (at most) the touched buckets
    tracker = sc.statusTracker()
    write_stage = max(tracker.getJobInfo(max(jobs)).stageIds)
    assert tracker.getStageInfo(write_stage).numTasks <= len(changed)


def _write_plans(spark, job_ids) -> list[str]:
    """Physical plans of the parquet writes the given jobs ran, from the
    SQL status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    jobs, plans = set(job_ids), []
    recent = store.executionsList(max(0, store.executionsCount() - 50), 50)
    it = recent.iterator()
    while it.hasNext():
        ex = it.next()
        ran = {int(j) for j in ex.jobs().keys().toList().mkString(",").split(",") if j}
        plan = ex.physicalPlanDescription()
        if jobs & ran and "InsertIntoHadoopFsRelationCommand" in plan:
            plans.append(plan)
    return plans


def test_one_bucket_commit_writes_one_file_without_an_exchange(spark, tmp_path):
    """A one-bucket layout, fixed or auto-sized, commits each change as
    exactly one data file through ``coalesce(1)``: the write's plan holds
    no exchange on the bucket column, whose one reduce partition would
    route every row to one task anyway."""
    for name, kw in (("fixed", {"num_buckets": 1}), ("auto", {})):
        target = str(tmp_path / name)
        spread = spark.createDataFrame(
            [(f"k{i}", i, 0.5) for i in range(40)],
            "oid__id string, v int, w double",
        ).repartition(4)
        prev = None
        for batch in (spread, _rows(spark, [("k1", 10, 0.5), ("n1", 1, 0.5)])):
            jobs = _job_ids_of(
                spark,
                lambda: sink.keyed_overwrite_parquet(spark, batch, target, **kw),
            )
            after = sink._load_manifest(target)
            assert after["num_buckets"] == 1
            assert len(_live(after) - (_live(prev) if prev else set())) == 1
            (plan,) = _write_plans(spark, jobs)
            assert "Coalesce" in plan
            assert "REPARTITION_BY_COL" not in plan, f"{name}: bucket exchange"
            prev = after


def test_small_local_batch_broadcasts_its_keys(spark, tmp_path):
    """A batch of local rows (``createDataFrame``) checkpoints with no
    size statistic, so the broadcast is decided from the bytes its
    admission checkpoint holds: a 2-row merge into a 40-row one-bucket
    table plans no sort-merge join, neither up front nor after AQE
    re-plans it."""
    target = str(tmp_path / "t")
    sink.keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", i, 0.5) for i in range(40)]),
        target,
        num_buckets=1,
    )
    jobs = _job_ids_of(
        spark,
        lambda: sink.keyed_overwrite_parquet(
            spark, _rows(spark, [("k1", 10, 0.5), ("n1", 1, 0.5)]), target
        ),
    )
    (plan,) = _write_plans(spark, jobs)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _tomb_mor(spark, t, store):
    """Another writer records delete memory for ``k2`` at seq 0 and for
    ``k7`` at seq 4."""
    sink.keyed_merge_mor(
        spark,
        spark.createDataFrame(
            [("k2", 0), ("k7", 4)],
            f"oid__id string, {sink.CDC_TOMB_COL} bigint",
        ),
        sink._cdc_tomb_path(t),
        store=store,
    )


def _setup_cdc(spark, t, store):
    """:func:`_base` plus delete memory (``k3`` deleted at seq 1)."""
    _base(spark, t, store)
    sink.apply_changes(
        spark, t,
        spark.createDataFrame([("k3", 1, "D", None, None)], _CDC),
        "seq", store=store,
    )


def _mor_k1(spark, t, store):
    sink.keyed_merge_mor(
        spark, _rows(spark, [("k1", 77, 7.7)]), t, store=store
    )


def _cdc_k1(spark, t, store):
    """Another CDC writer upserts ``k1`` at a later sequence."""
    sink.apply_changes(
        spark, t,
        spark.createDataFrame([("k1", 5, "U", 55, 5.5)], _CDC),
        "seq", store=store,
    )


def _cow_k3(spark, t, store):
    sink.keyed_overwrite_parquet(
        spark, _rows(spark, [("k3", 30, 3.5)]), t, store=store
    )


def _constrain(name, predicate):
    """A writer that adds a CHECK constraint."""
    return lambda s, t, store: sink.add_table_constraint(
        s, t, name, predicate, store=store
    )


def _cdc_bootstrap(rows):
    """A CDC writer that creates the table from its first batch."""
    return lambda s, t, store: sink.apply_changes(
        s, t, s.createDataFrame(rows, _CDC), "seq", key="oid__id",
        num_buckets=4, store=store,
    )


#: case -> (setup, the op, which of the op's manifest CAS attempts the
#: other writer beats, the other writer's commit).  At 4 buckets ``k1``
#: hashes to bucket 1, ``n1`` to 2 and ``k3`` to 3.  A rival that
#: touches a bucket the op decided from, or is not rebase-safe, fails
#: the op (its retry lands); one that commits to another bucket, or
#: under an MOR delta, is rebased over (``*_rebase`` and ``merge_mor``);
#: a rival table's first commit fails the op's own bootstrap.  A layout
#: change (``rebucket``, ``grow``) rewrote every bucket from its base,
#: so any rival commit fails it.  A constraint commit fails a data
#: commit admitted before it, and a data commit fails a constraint
#: commit validated before it; two constraint commits both land.
RACES = {
    "merge_rebase": (
        _base,
        lambda s, t, store: sink.keyed_overwrite_parquet(
            s, _rows(s, [("k1", 10, 0.5)]), t, store=store
        ),
        1,
        _cow_k3,
    ),
    "append_rebase": (
        _base,
        lambda s, t, store: sink.keyed_append(
            s, _rows(s, [("n1", 1, 0.5)]), t, store=store
        ),
        1,
        _cow_k3,
    ),
    "merge_mor": (
        _base,
        lambda s, t, store: sink.keyed_merge_mor(
            s, _rows(s, [("k1", 10, 0.5)]), t, store=store
        ),
        1,
        _mor_k1,
    ),
    "bootstrap": (
        lambda s, t, store: None,
        _cdc_bootstrap([("k1", 1, "U", 10, 0.5), ("k2", 1, "U", 20, 1.5)]),
        1,
        _cdc_bootstrap([("k1", 2, "U", 11, 0.7), ("k5", 1, "U", 50, 5.0)]),
    ),
    "merge_into": (
        _base,
        lambda s, t, store: sink.merge_into(
            s, t, _rows(s, [("k1", 10, 0.5), ("n1", 1, 0.5)]),
            when_matched_update={"v": "s_v"}, store=store,
        ),
        1,
        _mor_k1,
    ),
    "rebucket": (
        _base,
        lambda s, t, store: sink.rebucket_keyed_table(s, t, 8, store=store),
        1,
        _cow_k3,
    ),
    "grow": (_base_auto, _grow, 1, _mor_k1),
    "apply_changes": (_setup_cdc, _cdc_change, 1, _cdc_k1),
    "apply_changes_memory": (_setup_cdc, _cdc_change, 2, _tomb_mor),
    "apply_changes_scd2": (
        _setup_scd2,
        _scd2_change,
        1,
        lambda s, t, store: sink.apply_changes_scd2(
            s, t, s.createDataFrame([("a", 3, "U", "w")], _HIST), "seq",
            ["v"], store=store,
        ),
    ),
    "merge_vs_constraint": (
        _base,
        lambda s, t, store: sink.keyed_overwrite_parquet(
            s, _rows(s, [("k1", 10, 0.5)]), t, store=store
        ),
        1,
        _constrain("v_small", "v < 100"),
    ),
    "constraint_vs_merge": (_base, _constrain("v_small", "v < 100"), 1, _cow_k3),
    "constraint_vs_constraint": (
        _base,
        _constrain("v_small", "v < 100"),
        1,
        _constrain("w_small", "w < 10"),
    ),
}


#: the raced ops that rebase over their rival and land at once
LANDS = {
    "merge_rebase",
    "append_rebase",
    "merge_mor",
    "apply_changes_memory",
    "constraint_vs_constraint",
}


def _tables_state(spark, target, store) -> list:
    """Layout (key, bucket count), CHECK constraints and rows of the
    table and of its delete memory (None: no table)."""
    out = []
    for t in (target, sink._cdc_tomb_path(target)):
        m = sink._load_manifest(t, store)
        if m is None:
            out.append(None)
            continue
        df = sink.read_keyed_table(spark, t, store)
        rows = df.select(*sorted(df.columns)).collect()
        cons = sink.table_constraints(t, store)
        out.append((m["key"], m["num_buckets"], cons, {tuple(r) for r in rows}))
    return out


@pytest.mark.parametrize("case", sorted(RACES))
def test_lost_cas_race_leaves_one_version_then_retry_converges(
    spark, tmp_path, case
):
    """Another writer commits to the table the op is committing to,
    between the op's decision and its conditional PUT.  Each table then
    reads as exactly the version before or after the op's commit (on
    top of the rival's), the op holds no checkpoint, and a retry of a
    rejected op converges to the op applied after the rival without a
    race."""
    setup, run, nth, rival = RACES[case]
    clean, raced = str(tmp_path / "clean"), str(tmp_path / "raced")
    cstore, rstore = FakeConditionalStore(), FakeConditionalStore()
    setup(spark, clean, cstore)
    setup(spark, raced, rstore)
    rival(spark, clean, cstore)
    pre = _tables_state(spark, clean, cstore)
    run(spark, clean, cstore)
    post = _tables_state(spark, clean, cstore)
    assert pre != post

    casses = []

    def hook():
        casses.append(1)
        if len(casses) < nth:
            rstore.on_replace = hook  # fired hooks disarm: re-arm
        else:
            rival(spark, raced, rstore)

    rstore.on_replace = hook
    held = _persisted_rdds(spark)
    try:
        run(spark, raced, rstore)
        landed = True
    except ConcurrentWriteError:
        landed = False
    assert len(casses) == nth and rstore.on_replace is None, "no race"
    assert landed == (case in LANDS), f"{case}: landed={landed}"
    assert _persisted_rdds(spark) <= held, "raced op left a checkpoint"
    got = _tables_state(spark, raced, rstore)
    for table, before, after in zip(got, pre, post):
        assert table in (before, after)
    if not landed:
        run(spark, raced, rstore)
    assert _tables_state(spark, raced, rstore) == post


def test_bootstrap_race_keeps_the_winners_layout(spark, tmp_path, monkeypatch):
    """Two writers create the same table with different layouts: B
    (``oid__id`` into 2 buckets) commits while A (``v`` into 4) is
    between its data write and its first CAS.  A fails, and the table
    is B's, layout included: describe reports B's key and count, and a
    merge by B's key lands."""
    store = FakeConditionalStore()
    target = str(tmp_path / "t")
    real_write = sink._write_bucketed

    def write_then_rival(*a, **k):
        monkeypatch.setattr(sink, "_write_bucketed", real_write)
        real_write(*a, **k)
        sink.keyed_overwrite_parquet(
            spark, _rows(spark, [("k1", 1, 0.5), ("k2", 2, 1.5)]), target,
            num_buckets=2, store=store,
        )

    monkeypatch.setattr(sink, "_write_bucketed", write_then_rival)
    with pytest.raises(ConcurrentWriteError):
        sink.keyed_overwrite_parquet(
            spark, _rows(spark, [("k3", 3, 2.5)]), target, key="v",
            num_buckets=4, store=store,
        )
    assert sink._write_bucketed is real_write, "no race"
    d = sink.describe_keyed_table(target, store)
    assert (d["key"], d["num_buckets"], d["auto_sized"]) == ("oid__id", 2, False)

    sink.keyed_overwrite_parquet(
        spark, _rows(spark, [("k1", 10, 0.5), ("k4", 4, 3.5)]), target,
        store=store,
    )
    got = sink.read_keyed_table(spark, target, store).collect()
    assert {(r.oid__id, r.v) for r in got} == {("k1", 10), ("k2", 2), ("k4", 4)}
    assert len(got) == 3


#: a write of ``v = 500`` to ``k1`` through each path that enforces
#: CHECK constraints on its own rows
VIOLATING = {
    "merge": lambda s, t, store: sink.keyed_overwrite_parquet(
        s, _rows(s, [("k1", 500, 0.5)]), t, store=store
    ),
    "merge_mor": lambda s, t, store: sink.keyed_merge_mor(
        s, _rows(s, [("k1", 500, 0.5)]), t, store=store
    ),
    "merge_into": lambda s, t, store: sink.merge_into(
        s, t, _rows(s, [("k1", 500, 0.5)]), when_matched_update={"v": "s_v"},
        store=store,
    ),
    "apply_changes": lambda s, t, store: sink.apply_changes(
        s, t, s.createDataFrame([("k1", 1, "U", 500, 0.5)], _CDC), "seq",
        store=store,
    ),
}


@pytest.mark.parametrize("op", sorted(VIOLATING))
def test_constraint_added_before_a_writes_cas_fails_the_write(spark, tmp_path, op):
    """A constraint ``v < 100`` lands while a write of ``v = 500`` sits
    between its admission and its CAS: the write must not land (its
    rows were never checked against the new rule), and a rerun, which
    admits against it, is rejected."""
    store, target = FakeConditionalStore(), str(tmp_path / "t")
    _base(spark, target, store)
    rows = _snapshot(spark, target, store)
    store.on_replace = lambda: sink.add_table_constraint(
        spark, target, "v_small", "v < 100", store=store
    )
    with pytest.raises(ConcurrentWriteError, match="CHECK constraints"):
        VIOLATING[op](spark, target, store)
    assert store.on_replace is None, "no race"
    assert sink.table_constraints(target, store) == {"v_small": "v < 100"}
    assert _snapshot(spark, target, store) == rows
    with pytest.raises(sink.ConstraintViolation, match="v_small"):
        VIOLATING[op](spark, target, store)


def test_violating_write_before_a_constraints_cas_fails_the_constraint(
    spark, tmp_path
):
    """A write of ``v = 500`` lands while ``add_table_constraint(v <
    100)`` sits between its validation and its CAS: the constraint is
    not recorded, and a retry, which validates the new rows, rejects
    it."""
    store, target = FakeConditionalStore(), str(tmp_path / "t")
    _base(spark, target, store)
    store.on_replace = lambda: VIOLATING["merge"](spark, target, store)
    with pytest.raises(ConcurrentWriteError, match="checked on"):
        sink.add_table_constraint(spark, target, "v_small", "v < 100", store=store)
    assert store.on_replace is None, "no race"
    assert sink.table_constraints(target, store) == {}
    assert ("k1", 500, 0.5) in _snapshot(spark, target, store)
    with pytest.raises(sink.ConstraintViolation, match="existing row"):
        sink.add_table_constraint(spark, target, "v_small", "v < 100", store=store)


class _ReadSpy(LocalManifestStore):
    """Counts the commit-object reads and listings a write makes."""

    def __init__(self):
        self.reads: list[str] = []
        self.listings = 0

    def read_json(self, path):
        self.reads.append(os.path.basename(path))
        return super().read_json(path)

    def list_dir(self, path):
        self.listings += 1
        return super().list_dir(path)


#: op -> (the 2-row change of :data:`OPS`, through ``store``; the
#: manifest reads and listings it makes on a table created with its
#: constraints in the manifest).  Each read one ``_constraints.json``
#: more when constraints lived beside the manifest, and one manifest
#: more (a listing too, on a first commit) when the commit re-read the
#: tip to carry the table state instead of taking it from its base.
#: ``bootstrap`` is a first commit, of a new table beside the base one.
READS = {
    "merge": (
        lambda s, t, store: sink.keyed_overwrite_parquet(
            s, _rows(s, [("k1", 10, 0.5), ("k2", 20, 0.5)]), t, store=store
        ),
        (3, 4),
    ),
    "merge_mor": (
        lambda s, t, store: sink.keyed_merge_mor(
            s, _rows(s, [("k1", 10, 0.5), ("k2", 20, 0.5)]), t, store=store
        ),
        (2, 3),
    ),
    "merge_into": (
        lambda s, t, store: sink.merge_into(
            s, t, _rows(s, [("k1", 10, 0.5), ("n1", 1, 0.5)]),
            when_matched_update={"v": "s_v"}, store=store,
        ),
        (2, 3),
    ),
    "bootstrap": (lambda s, t, store: _base(s, t + "_new", store), (1, 6)),
}


@pytest.mark.parametrize("op", sorted(READS))
def test_writes_read_no_side_file(spark, tmp_path, op):
    """A write takes its CHECK constraints from the manifest it loaded:
    it reads no commit object but the manifest."""
    target, spy = str(tmp_path / "t"), _ReadSpy()
    _base(spark, target)
    run, counts = READS[op]
    run(spark, target, spy)
    assert set(spy.reads) == {sink.MANIFEST_NAME}
    assert (len(spy.reads), spy.listings) == counts


class _LosesVersionCopy(LocalManifestStore):
    """Raises on the first per-version manifest write once armed: a
    crash between a commit's CAS and its version copy."""

    armed = False

    def write_json(self, path, obj):
        if self.armed and os.path.basename(path).startswith("_manifest.v"):
            self.armed = False
            raise OSError("simulated crash after the manifest CAS")
        super().write_json(path, obj)


def test_a_crash_lost_version_copy_reads_through_the_tip(spark, tmp_path):
    """The tip is the one record of a version whose copy was lost after
    its CAS: time travel, TIMESTAMP AS OF, the change feed and history
    all see that version, and the next commit lands over it."""
    import time

    target, store = str(tmp_path / "t"), _LosesVersionCopy()
    _base(spark, target, store)
    store.armed = True
    with pytest.raises(OSError, match="simulated crash"):
        sink.keyed_overwrite_parquet(
            spark, _rows(spark, [("k1", 10, 0.5), ("n1", 1, 0.5)]), target,
            store=store,
        )
    n = sink.table_version(target, store)
    assert not os.path.exists(sink._version_manifest_path(target, n))
    df = sink.read_keyed_table(spark, target, store, version=n)
    assert {tuple(r) for r in df.select(*sorted(df.columns)).collect()} == (
        _snapshot(spark, target, store)
    )
    assert sink.resolve_as_of(target, time.time(), store) == n
    changes = sink.table_changes(spark, target, n - 1, n, store=store)
    assert {(r.oid__id, r.change_type) for r in changes.collect()} == {
        ("k1", "update"), ("n1", "insert"),
    }
    last = sink.table_history_detail(target, store)[-1]
    assert (last["version"], last["operation"], last["total_rows"]) == (
        n, "merge", 13,
    )
    sink.keyed_merge_mor(spark, _rows(spark, [("k2", 20, 0.5)]), target, store=store)
    assert sink.table_version(target, store) == n + 1
    assert os.path.exists(sink._version_manifest_path(target, n + 1))
