"""Merge-on-read (MOR) path for the keyed table: O(batch) writes as
per-bucket delta files, reader-side precedence resolution, compaction
folding deltas back into the base — plus every interaction that could
lose or resurrect a row (vacuum, CoW merge over dirty buckets, data
skipping, time travel, rebucket, point lookups).

The ground truth throughout is the copy-on-write path: the same batch
sequence applied via ``keyed_overwrite_parquet`` must read back
identically to the MOR path (differential, not hand-computed)."""

from __future__ import annotations

import os

import pytest

from airflow_postgres_etl_spark.sink import (
    compact_keyed_table,
    keyed_merge_mor,
    keyed_overwrite_parquet,
    lookup_keys,
    read_keyed_table,
    rebucket_keyed_table,
    table_delta_depth,
    table_version,
    vacuum_keyed_table,
)


def _rows(spark, data, cols=("oid__id", "v")):
    return spark.createDataFrame(data, list(cols))


def _read_set(spark, target):
    df = read_keyed_table(spark, target)
    return {tuple(r[c] for c in sorted(df.columns)) for r in df.collect()}


BATCHES = [
    [("k1", 1), ("k1", 2), ("k2", 3), ("k3", 4)],  # initial (multi-row key)
    [("k1", 9)],                                   # child-set collapse
    [("k2", 7), ("k4", 8)],                        # replace + insert
    [("k4", 10), ("k4", 11), ("k5", 12)],          # multi-row replace + new
]


def test_mor_matches_cow_differential(spark, tmp_path):
    """Same batches through both paths -> identical table contents."""
    cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
    for b in BATCHES:
        keyed_overwrite_parquet(spark, _rows(spark, b), cow)
        keyed_merge_mor(spark, _rows(spark, b), mor)
    assert _read_set(spark, cow) == _read_set(spark, mor)
    assert table_delta_depth(mor) >= 1  # really took the delta path


def test_mor_writes_only_the_batch(spark, tmp_path):
    """The MOR commit must not read or rewrite base files: base file set
    is unchanged and the new commit's bytes are a fraction of a CoW
    rewrite of the same buckets."""
    import json

    target = str(tmp_path / "t")
    big = _rows(spark, [(f"k{i}", i) for i in range(2000)])
    keyed_overwrite_parquet(spark, big, target)
    with open(os.path.join(target, "_manifest.json")) as fh:
        before = json.load(fh)
    base_files = {f for fs in before["buckets"].values() for f in fs}
    base_bytes = sum(
        os.path.getsize(os.path.join(target, f)) for f in base_files
    )

    keyed_merge_mor(spark, _rows(spark, [("k7", -1)]), target)
    with open(os.path.join(target, "_manifest.json")) as fh:
        after = json.load(fh)
    # base untouched, batch recorded as deltas
    assert {f for fs in after["buckets"].values() for f in fs} == base_files
    delta_files = [e["path"] for es in after["deltas"].values() for e in es]
    assert delta_files
    delta_bytes = sum(
        os.path.getsize(os.path.join(target, f)) for f in delta_files
    )
    # 1-row delta vs 2000-row base: at least 10x less write volume even
    # with parquet per-file overhead
    assert delta_bytes * 10 < base_bytes
    got = _read_set(spark, target)
    assert ("k7", -1) in got and len(got) == 2000


def test_compact_folds_deltas_and_restores_skipping(spark, tmp_path):
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", i) for i in range(100)]),
        target,
        stats_cols=["v"],
    )
    keyed_merge_mor(spark, _rows(spark, [("k1", 500), ("k9", 501)]), target)
    before = _read_set(spark, target)
    v = table_version(target)

    assert compact_keyed_table(spark, target) >= 1
    assert table_delta_depth(target) == 0
    assert table_version(target) == v + 1
    assert _read_set(spark, target) == before
    # data skipping works again on the folded buckets: the range read
    # must see the NEW values, not the stale ones
    hi = {
        (r.oid__id, r.v)
        for r in read_keyed_table(spark, target, where=("v", 400, None)).collect()
    }
    assert hi == {("k1", 500), ("k9", 501)}
    # nothing to do -> no manifest churn
    assert compact_keyed_table(spark, target) == 0
    assert table_version(target) == v + 1


def test_vacuum_never_collects_pending_deltas(spark, tmp_path):
    """Delta files are live data; even retention_s=0 must not touch them
    (only compaction supersedes them)."""
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(spark, _rows(spark, [("a", 1), ("b", 2)]), target)
    keyed_merge_mor(spark, _rows(spark, [("a", 9)]), target)
    before = _read_set(spark, target)
    vacuum_keyed_table(target, retention_s=0)
    assert _read_set(spark, target) == before == {("a", 9), ("b", 2)}
    # after compaction the folded files DO become collectable
    compact_keyed_table(spark, target)
    removed = vacuum_keyed_table(target, retention_s=0)
    assert removed >= 1
    assert _read_set(spark, target) == before


def test_where_read_never_resurrects_stale_base_row(spark, tmp_path):
    """A delta replaces k's value with one OUTSIDE the queried range: the
    stale in-range base row must not come back (precedence before
    filtering; dirty buckets exempt from file pruning)."""
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [("k1", 10), ("k2", 20)]),
        target,
        stats_cols=["v"],
    )
    keyed_merge_mor(spark, _rows(spark, [("k1", 999)]), target)
    got = {
        (r.oid__id, r.v)
        for r in read_keyed_table(spark, target, where=("v", 0, 50)).collect()
    }
    assert got == {("k2", 20)}


def test_cow_merge_folds_affected_deltas_only(spark, tmp_path):
    """A CoW merge over a dirty bucket resolves that bucket's deltas and
    clears them; deltas of untouched buckets survive verbatim."""
    import json

    target = str(tmp_path / "t")
    keyed_overwrite_parquet(spark, _rows(spark, BATCHES[0]), target)
    keyed_merge_mor(spark, _rows(spark, [("k1", 100)]), target)
    keyed_merge_mor(spark, _rows(spark, [("k2", 200)]), target)
    # CoW batch touches k1 (folds k1's bucket) but not k2's bucket
    keyed_overwrite_parquet(spark, _rows(spark, [("k1", 111)]), target)
    got = _read_set(spark, target)
    assert got == {("k1", 111), ("k2", 200), ("k3", 4)}
    with open(os.path.join(target, "_manifest.json")) as fh:
        manifest = json.load(fh)
    remaining = [e["path"] for es in manifest.get("deltas", {}).values() for e in es]
    # k2's delta survives unless k1 and k2 hash to the same bucket (then
    # the merge folded both, which is also correct)
    if remaining:
        assert table_delta_depth(target) >= 1
        assert _read_set(spark, target) == got  # still resolves


def test_lookup_keys_sees_delta_rows(spark, tmp_path):
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark, _rows(spark, [(f"k{i}", i) for i in range(50)]), target
    )
    keyed_merge_mor(spark, _rows(spark, [("k3", 333)]), target)
    got = {(r.oid__id, r.v) for r in lookup_keys(spark, target, ["k3", "k4"]).collect()}
    assert got == {("k3", 333), ("k4", 4)}


def test_time_travel_across_mor_commits(spark, tmp_path):
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(spark, _rows(spark, [("a", 1)]), target)
    v1 = table_version(target)
    keyed_merge_mor(spark, _rows(spark, [("a", 2)]), target)
    v2 = table_version(target)
    assert v2 == v1 + 1
    old = {(r.oid__id, r.v) for r in read_keyed_table(spark, target, version=v1).collect()}
    new = {(r.oid__id, r.v) for r in read_keyed_table(spark, target, version=v2).collect()}
    assert old == {("a", 1)} and new == {("a", 2)}


def test_mor_empty_batch_is_noop_and_dropped_column_rejected(spark, tmp_path):
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(spark, _rows(spark, [("a", 1)]), target)
    v = table_version(target)
    empty = spark.createDataFrame([], "oid__id string, v long")
    keyed_merge_mor(spark, empty, target)
    assert table_version(target) == v
    with pytest.raises(ValueError, match="missing existing column"):
        keyed_merge_mor(
            spark, spark.createDataFrame([("a",)], ["oid__id"]), target
        )


def test_mor_schema_evolution_additive(spark, tmp_path):
    """A delta batch may ADD a column; pre-delta rows null-fill it on
    read, exactly like the CoW path."""
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(spark, _rows(spark, [("a", 1), ("b", 2)]), target)
    wide = spark.createDataFrame([("a", 9, "x")], ["oid__id", "v", "extra"])
    keyed_merge_mor(spark, wide, target)
    got = {
        (r.oid__id, r.v, r.extra) for r in read_keyed_table(spark, target).collect()
    }
    assert got == {("a", 9, "x"), ("b", 2, None)}


def test_rebucket_resolves_pending_deltas(spark, tmp_path):
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark, _rows(spark, [(f"k{i}", i) for i in range(30)]), target
    )
    keyed_merge_mor(spark, _rows(spark, [("k5", 555)]), target)
    before = _read_set(spark, target)
    rebucket_keyed_table(spark, target, 8)
    assert _read_set(spark, target) == before
    assert table_delta_depth(target) == 0


def test_mor_first_write_falls_through_to_cow(spark, tmp_path):
    target = str(tmp_path / "t")
    keyed_merge_mor(spark, _rows(spark, [("a", 1)]), target)
    assert table_delta_depth(target) == 0  # initial load is a base write
    assert _read_set(spark, target) == {("a", 1)}


def test_mor_idempotent_rerun(spark, tmp_path):
    """Re-applying the same MOR batch converges (latest commit wins per
    key) — the crash-retry story matches the CoW path."""
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(spark, _rows(spark, [("a", 1), ("b", 2)]), target)
    batch = [("a", 5), ("a", 6)]
    keyed_merge_mor(spark, _rows(spark, batch), target)
    keyed_merge_mor(spark, _rows(spark, batch), target)
    assert _read_set(spark, target) == {("a", 5), ("a", 6), ("b", 2)}


def test_describe_keyed_table_reports_health(spark, tmp_path):
    from airflow_postgres_etl_spark.sink import describe_keyed_table

    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", i) for i in range(100)]),
        target,
        stats_cols=["v"],
    )
    keyed_merge_mor(spark, _rows(spark, [("k1", -1)]), target)
    d = describe_keyed_table(target)
    assert d["version"] == 2 and d["key"] == "oid__id"
    assert d["n_files"] == d["n_buckets_live"] >= 1
    assert d["total_bytes"] > 0 and d["avg_bucket_bytes"] > 0
    assert d["dirty_buckets"] == 1 and d["max_delta_depth"] == 1
    assert d["n_delta_files"] >= 1
    assert d["stats_cols"] == ["v"]
    assert d["history_versions"] == [1, 2]
    compact_keyed_table(spark, target)
    d2 = describe_keyed_table(target)
    assert d2["dirty_buckets"] == d2["max_delta_depth"] == d2["n_delta_files"] == 0
    assert d2["retired_files"] >= 1


def test_mor_random_batch_sequences_match_cow(spark, tmp_path):
    """Property-style differential: arbitrary interleavings of
    replace/insert batches (multi-row keys included) with compactions
    sprinkled in must leave the MOR table identical to the CoW table.
    A fixed seeded generator (not hypothesis) keeps Spark-session cost
    bounded while still exploring ~100 batches across 8 sequences."""
    import random

    rng = random.Random(0xC0FFEE)
    keys = [f"k{i}" for i in range(12)]
    for trial in range(8):
        cow = str(tmp_path / f"cow{trial}")
        mor = str(tmp_path / f"mor{trial}")
        for step in range(rng.randint(3, 6)):
            batch = []
            for k in rng.sample(keys, rng.randint(1, 5)):
                # multi-row child sets for some keys
                for j in range(rng.randint(1, 3)):
                    batch.append((k, trial * 1000 + step * 100 + j))
            df = _rows(spark, batch)
            keyed_overwrite_parquet(spark, df, cow, num_buckets=4)
            keyed_merge_mor(spark, df, mor, num_buckets=4)
            if rng.random() < 0.3:
                compact_keyed_table(spark, mor)
        assert _read_set(spark, cow) == _read_set(spark, mor), f"trial {trial}"


def test_check_constraints_guard_both_merge_paths(spark, tmp_path):
    """Delta-style CHECK constraints: recorded once, enforced on every
    CoW and MOR merge BEFORE anything is written (no version bump, no
    commit dir on rejection); NULL predicate results violate; existing
    violations reject the constraint itself; dropping re-admits."""
    from airflow_postgres_etl_spark.sink import (
        ConstraintViolation,
        add_table_constraint,
        drop_table_constraint,
        table_constraints,
    )

    target = str(tmp_path / "t")
    keyed_overwrite_parquet(spark, _rows(spark, [("a", 1), ("b", 2)]), target)
    add_table_constraint(spark, target, "v_positive", "v > 0")
    assert table_constraints(target) == {"v_positive": "v > 0"}

    v = table_version(target)
    for merge in (keyed_overwrite_parquet, keyed_merge_mor):
        with pytest.raises(ConstraintViolation, match="v_positive"):
            merge(spark, _rows(spark, [("c", -5)]), target)
    # NULL is a violation, not a pass
    nulls = spark.createDataFrame([("d", None)], "oid__id string, v long")
    with pytest.raises(ConstraintViolation):
        keyed_overwrite_parquet(spark, nulls, target)
    assert table_version(target) == v  # nothing committed
    assert _read_set(spark, target) == {("a", 1), ("b", 2)}

    # a conforming batch passes through both paths
    keyed_merge_mor(spark, _rows(spark, [("c", 5)]), target)
    assert ("c", 5) in _read_set(spark, target)

    # can't record a constraint the table already violates
    with pytest.raises(ConstraintViolation, match="existing row"):
        add_table_constraint(spark, target, "v_small", "v < 3")
    assert "v_small" not in table_constraints(target)

    drop_table_constraint(target, "v_positive")
    keyed_overwrite_parquet(spark, _rows(spark, [("e", -1)]), target)
    assert ("e", -1) in _read_set(spark, target)


def test_constraints_are_table_state(spark, tmp_path):
    """A CHECK constraint is committed in the manifest: adding and
    dropping one each make a version (named in history), and the
    constraint survives a column rename and a restore to a version
    before it, and a clone carries it."""
    from airflow_postgres_etl_spark.sink import (
        ConstraintViolation,
        add_table_constraint,
        clone_keyed_table,
        drop_table_constraint,
        rename_column,
        restore_keyed_table,
        table_constraints,
        table_history_detail,
    )

    target, clone = str(tmp_path / "t"), str(tmp_path / "clone")
    rows = [("a", 1, "x"), ("b", 2, "y")]
    keyed_overwrite_parquet(spark, _rows(spark, rows, ("oid__id", "v", "w")), target)
    v0 = table_version(target)
    add_table_constraint(spark, target, "v_positive", "v > 0")
    assert table_version(target) == v0 + 1
    assert table_history_detail(target)[-1]["operation"] == "add_constraint"

    rename_column(spark, target, "w", "label")
    renamed = _rows(spark, [("c", -1, "z")], ("oid__id", "v", "label"))
    with pytest.raises(ConstraintViolation, match="v_positive"):
        keyed_merge_mor(spark, renamed, target)
    restore_keyed_table(spark, target, v0)
    clone_keyed_table(target, clone)
    for t in (target, clone):
        assert table_constraints(t) == {"v_positive": "v > 0"}
        with pytest.raises(ConstraintViolation, match="v_positive"):
            keyed_merge_mor(
                spark, _rows(spark, [("c", -1, "z")], ("oid__id", "v", "w")), t
            )

    drop_table_constraint(target, "v_positive")
    assert table_history_detail(target)[-1]["operation"] == "drop_constraint"
    assert table_constraints(target) == {}
    assert table_constraints(clone) == {"v_positive": "v > 0"}


def test_compaction_loses_cas_to_concurrent_mor_merge(spark, tmp_path):
    """The MOR race that must never lose data: a delta commit lands
    between compaction's manifest read and its CAS.  The compaction must
    fail with ConcurrentWriteError (stale expected version), the fresh
    delta must survive, and a rerun compaction folds everything."""
    from airflow_postgres_etl_spark.sink import ConcurrentWriteError, _manifest_path
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark, _rows(spark, [(f"k{i}", i) for i in range(20)]), target
    )
    keyed_merge_mor(spark, _rows(spark, [("k1", 100)]), target)

    class RacingStore:
        armed = True

        def read_json(self, path):
            return LOCAL_STORE.read_json(path)

        def exists(self, path):
            return LOCAL_STORE.exists(path)

        def write_json(self, path, obj):
            LOCAL_STORE.write_json(path, obj)

        def list_dir(self, path):
            return LOCAL_STORE.list_dir(path)

        def size(self, path):
            return LOCAL_STORE.size(path)

        def open_input(self, path):
            return LOCAL_STORE.open_input(path)

        def replace_if_version(self, path, manifest, expected_version):
            if self.armed and path == _manifest_path(target):
                self.armed = False
                keyed_merge_mor(spark, _rows(spark, [("k2", 200)]), target)
            return LOCAL_STORE.replace_if_version(path, manifest, expected_version)

    with pytest.raises(ConcurrentWriteError):
        compact_keyed_table(spark, target, store=RacingStore())
    # the racing delta survived the failed compaction
    got = _read_set(spark, target)
    assert ("k1", 100) in got and ("k2", 200) in got
    assert table_delta_depth(target) >= 1
    # rerun converges: everything folds, content unchanged
    assert compact_keyed_table(spark, target) >= 1
    assert table_delta_depth(target) == 0
    assert _read_set(spark, target) == got


def test_mor_merge_rebases_over_concurrent_mor_merge(spark, tmp_path):
    """Two MOR writers from the same snapshot: the CAS loser REBASES
    (sink._commit_optimistic — a blind upsert layers a restamped
    higher seq over any row-preserving winner) and BOTH batches land,
    with no error and no orphaned data files."""
    from airflow_postgres_etl_spark.sink import _manifest_path
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    target = str(tmp_path / "t")
    keyed_overwrite_parquet(spark, _rows(spark, [("a", 1), ("b", 2)]), target)

    class RacingStore:
        armed = True

        def read_json(self, path):
            return LOCAL_STORE.read_json(path)

        def exists(self, path):
            return LOCAL_STORE.exists(path)

        def write_json(self, path, obj):
            LOCAL_STORE.write_json(path, obj)

        def list_dir(self, path):
            return LOCAL_STORE.list_dir(path)

        def size(self, path):
            return LOCAL_STORE.size(path)

        def open_input(self, path):
            return LOCAL_STORE.open_input(path)

        def replace_if_version(self, path, manifest, expected_version):
            if self.armed and path == _manifest_path(target):
                self.armed = False
                keyed_merge_mor(spark, _rows(spark, [("b", 22)]), target)
            return LOCAL_STORE.replace_if_version(path, manifest, expected_version)

    keyed_merge_mor(spark, _rows(spark, [("a", 11)]), target, store=RacingStore())
    assert _read_set(spark, target) == {("a", 11), ("b", 22)}
    # winner v2, rebased loser v3 — its delta seq restamped to 3
    import airflow_postgres_etl_spark.sink as sink

    m = sink._load_manifest(target)
    assert m["version"] == 3
    assert {e["seq"] for es in m["deltas"].values() for e in es} == {2, 3}
    # nothing orphaned: every written file is referenced
    removed = vacuum_keyed_table(target, retention_s=0)
    assert removed == 0
    assert _read_set(spark, target) == {("a", 11), ("b", 22)}
