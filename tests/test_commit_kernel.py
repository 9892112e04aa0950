"""Every data-writing commit of the keyed table goes through one kernel
(``sink._commit_files``).  These tests drive each public write path on
a tiny table and pin what the kernel owes all of them:

- a crash after the data files are written and before the manifest swap
  leaves the committed snapshot untouched, a retry lands, and a
  zero-retention vacuum then leaves no unreferenced data file;
- each commit keeps the manifest invariants (``check_manifest``);
- each path's Spark-job budget for a 2-row change stays at its pinned
  count.
"""

from __future__ import annotations

import os
import uuid

import pytest

import airflow_postgres_etl_spark.sink as sink


def _rows(spark, data):
    return spark.createDataFrame(data, "oid__id string, v int, w double")


def _base(spark, target):
    sink.keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", i, float(i % 5)) for i in range(12)]),
        target,
        num_buckets=4,
        stats_cols=["v"],
    )


def _snapshot(spark, target) -> set:
    df = sink.read_keyed_table(spark, target)
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


def _live(manifest: dict) -> set[str]:
    return {f for fs in manifest["buckets"].values() for f in fs} | set(
        sink._delta_files_of(manifest)
    )


def check_manifest(manifest: dict, prev: dict | None = None) -> None:
    """Invariants every committed manifest keeps: live files have a row
    count, stats describe live files only, nothing is both live and
    retired, and every file the commit superseded is retired with a
    timestamp."""
    live = _live(manifest)
    retired = {e["path"]: e for e in manifest.get("retired", [])}
    assert live <= set(manifest.get("rows", {})), "live file without rows"
    assert set(manifest.get("stats", {})) <= live, "stats for dead file"
    assert not live & set(retired), "file both live and retired"
    if prev is not None:
        for f in _live(prev) - live:
            assert f in retired and "ts" in retired[f], f"{f} not retired"


def _setup_mor(spark, t):
    _base(spark, t)
    sink.keyed_merge_mor(spark, _rows(spark, [("k1", 100, 1.5)]), t)


def _setup_append(spark, t):
    _base(spark, t)
    sink.keyed_append(spark, _rows(spark, [("n9", 9, 9.0), ("n8", 8, 8.0)]), t)


def _setup_renamed(spark, t):
    _base(spark, t)
    sink.rename_column(spark, t, "w", "w2")


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
}

#: write paths whose bodies stay outside the kernel (only their final
#: delta commit goes through it); pinned for their job budget only
JOB_ONLY_OPS = {
    "merge_into": (
        _base,
        lambda s, t: sink.merge_into(
            s, t, _rows(s, [("k1", 10, 0.5), ("n1", 1, 0.5)]),
            when_matched_update={"v": "s_v"},
        ),
    ),
    "apply_changes": (
        _base,
        lambda s, t: sink.apply_changes(
            s,
            t,
            s.createDataFrame(
                [("k1", 1, "U", 10, 0.5), ("k2", 1, "D", None, None)],
                "oid__id string, seq bigint, op string, v int, w double",
            ),
            "seq",
        ),
    ),
}

#: Spark jobs each path launches for the ops above (spark fixture:
#: local mode, 8 shuffle partitions, AQE on).  A change here is a
#: change to the path's cost: re-measure and say why.
JOB_BUDGET = {
    "merge": 7,
    "merge_mor": 4,
    "append": 8,
    "delete_where": 6,
    "update_where": 5,
    "compact": 3,
    "optimize": 2,
    "rebucket": 2,
    "widen": 2,
    "purge_mapping": 2,
    "cluster": 3,
    "zorder": 5,
    "merge_into": 15,
    "apply_changes": 17,
}


def _table_parquet(target: str) -> set[str]:
    return {
        os.path.normpath(os.path.relpath(os.path.join(r, f), target))
        for r, _d, fs in os.walk(target)
        for f in fs
        if f.endswith(".parquet")
    }


@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_before_commit_keeps_snapshot_then_retry_lands(
    spark, tmp_path, monkeypatch, op
):
    setup, run = OPS[op]
    target = str(tmp_path / "t")
    setup(spark, target)
    before = sink._load_manifest(target)
    rows_before = _snapshot(spark, target)

    real_commit = sink._commit_manifest

    def crash_once(*a, **k):
        monkeypatch.setattr(sink, "_commit_manifest", real_commit)
        raise OSError("simulated crash before manifest swap")

    monkeypatch.setattr(sink, "_commit_manifest", crash_once)
    with pytest.raises(OSError, match="simulated crash"):
        run(spark, target)
    assert sink._commit_manifest is real_commit, "op committed nothing"
    assert sink.table_version(target) == before["version"]
    assert _snapshot(spark, target) == rows_before

    run(spark, target)
    after = sink._load_manifest(target)
    assert after["version"] == before["version"] + 1
    check_manifest(after, before)
    sink.vacuum_keyed_table(target, retention_s=0)
    live = {os.path.normpath(f) for f in _live(after)}
    assert _table_parquet(target) == live


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


@pytest.mark.parametrize("op", sorted({**OPS, **JOB_ONLY_OPS}))
def test_write_path_job_budget_and_manifest_invariants(spark, tmp_path, op):
    setup, run = {**OPS, **JOB_ONLY_OPS}[op]
    target = str(tmp_path / "t")
    setup(spark, target)
    before = sink._load_manifest(target)
    jobs = _jobs_of(spark, lambda: run(spark, target))
    after = sink._load_manifest(target)
    assert after["version"] == before["version"] + 1
    check_manifest(after, before)
    assert jobs == JOB_BUDGET[op], f"{op}: {jobs} jobs"


def test_default_layout_reads_are_jobless_and_writes_scale_with_the_commit(
    spark, tmp_path
):
    """At the default 64-bucket layout (more live files than Spark's
    default listing threshold of 32): a table read and the high-water
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
    assert len(jobs) == 7

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
