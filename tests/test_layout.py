"""Bucket layouts sized to the table's bytes (``sink.TARGET_BUCKET_BYTES``).

A keyed table created without ``num_buckets=`` is auto-sized: its first
commit starts at the smallest power of two whose buckets fit the
admitted batch, and a copy-on-write merge, compaction or optimize
doubles the layout in one commit once the mean bucket passes the
target.  An explicit ``num_buckets=`` and a table written before
auto-sizing keep their count.  The layout — key, count and ``auto``
flag — lives in the manifest, which moves atomically with the files it
describes.
"""

from __future__ import annotations

import os

import pytest

import airflow_postgres_etl_spark.sink as sink
from airflow_postgres_etl_spark.storage import (
    LOCAL_STORE,
    ConcurrentWriteError,
    FakeConditionalStore,
    LocalManifestStore,
)

from .legacy_layout import write_legacy_constraints, write_legacy_spec


def _rows(spark, data):
    return spark.createDataFrame(data, "oid__id string, v int")


def _table(spark, target, n=200, store=LOCAL_STORE, **kw):
    sink.keyed_overwrite_parquet(
        spark, _rows(spark, [(f"k{i}", i) for i in range(n)]), target,
        vacuum=False, store=store, **kw,
    )


def _state(spark, target, store=LOCAL_STORE) -> dict:
    rows = sink.read_keyed_table(spark, target, store=store).collect()
    assert len(rows) == len({r.oid__id for r in rows}), "duplicate keys"
    return {r.oid__id: r.v for r in rows}


def _split_target(target, store=LOCAL_STORE) -> int:
    """A target the table's mean bucket passes by less than 2×, so the
    next growth doubles the layout exactly once."""
    m = sink._load_manifest(target, store)
    live = sum(m["bytes"][f] for f in sink._live_files(m))
    return -(-live // (2 * m["num_buckets"]))


def _file_buckets(spark, target, manifest, num_buckets) -> dict[str, set]:
    """{directory bucket: the buckets its rows hash to at num_buckets}."""
    out = {}
    for b, files in manifest["buckets"].items():
        df = spark.read.parquet(*(os.path.join(target, f) for f in files))
        out[b] = {
            r[0]
            for r in df.select(sink._bucket_expr("oid__id", num_buckets))
            .distinct()
            .collect()
        }
    return out


def _key_dirs(spark, target, manifest) -> dict[str, int]:
    """{key: the bucket directory its row sits in}."""
    return {
        r.oid__id: int(b)
        for b, files in manifest["buckets"].items()
        for r in spark.read.parquet(
            *(os.path.join(target, f) for f in files)
        ).select("oid__id").collect()
    }


def test_new_table_is_sized_from_its_admitted_batch(spark, tmp_path, monkeypatch):
    """A small table starts at one bucket; with a target below the
    batch's bytes the first commit starts at a larger power of two and
    writes at most one file per bucket.  No Spark job sizes it: the
    layout comes from the admission checkpoint's block size."""
    small = str(tmp_path / "small")
    _table(spark, small)
    m = sink._load_manifest(small)
    assert m["num_buckets"] == 1 and len(sink._live_files(m)) == 1
    # and no Hadoop _SUCCESS marker: the manifest publishes the commit
    data_file = m["buckets"]["0"][0]
    commit = os.path.join(small, os.path.dirname(os.path.dirname(data_file)))
    names = [f for _, _, fs in os.walk(commit) for f in fs]
    assert not any("_SUCCESS" in f for f in names), names
    assert sink.describe_keyed_table(small)["auto_sized"] is True

    monkeypatch.setattr(sink, "TARGET_BUCKET_BYTES", 1 << 10)
    sized = str(tmp_path / "sized")
    _table(spark, sized, n=2000)
    m = sink._load_manifest(sized)
    n = m["num_buckets"]
    assert n > 1 and n & (n - 1) == 0
    assert len(sink._live_files(m)) <= n
    assert all(int(b) < n for b in m["buckets"])
    assert _file_buckets(spark, sized, m, n) == {b: {int(b)} for b in m["buckets"]}
    assert _state(spark, sized) == {f"k{i}": i for i in range(2000)}


def test_start_size_is_capped_at_the_old_fixed_default(spark, tmp_path, monkeypatch):
    """The start size comes from in-memory bytes, which overstate the
    parquet; a batch far past the target starts at 64 buckets, the old
    fixed default, and no wider."""
    monkeypatch.setattr(sink, "TARGET_BUCKET_BYTES", 1)
    target = str(tmp_path / "t")
    _table(spark, target)
    assert sink._load_manifest(target)["num_buckets"] == 64
    assert _state(spark, target) == {f"k{i}": i for i in range(200)}


def test_growth_check_reads_sizes_from_the_manifest(spark, tmp_path, monkeypatch):
    """Every commit records its new files' stored bytes in the manifest,
    sized through the store, so the growth check of a later merge sizes
    no file: a one-bucket merge on a four-bucket table sizes only the
    file it wrote."""

    class SizingStore(LocalManifestStore):
        sized: list[str] = []

        def size(self, path):
            self.sized.append(path)
            return super().size(path)

    store = SizingStore()
    target = str(tmp_path / "t")
    with monkeypatch.context() as mp:
        mp.setattr(sink, "_batch_bytes", lambda cp: 4 * sink.TARGET_BUCKET_BYTES)
        _table(spark, target, store=store)
    m = sink._load_manifest(target, store)
    assert m["num_buckets"] == 4
    assert m["bytes"] == {
        f: os.path.getsize(os.path.join(target, f)) for f in sink._live_files(m)
    }
    store.sized.clear()
    sink.keyed_overwrite_parquet(
        spark, _rows(spark, [("k1", -1)]), target, vacuum=False, store=store
    )
    after = sink._load_manifest(target, store)
    assert after["num_buckets"] == 4
    new = set(sink._live_files(after)) - set(sink._live_files(m))
    assert len(new) == 1
    assert store.sized == [os.path.join(target, f) for f in new]


def test_cow_merge_grows_the_layout_in_one_commit(spark, tmp_path, monkeypatch):
    """Once the mean bucket passes the target, the next CoW merge
    commits the table at twice the count: one version, content equal
    to the oracle, every row in pmod(xxhash64(key), 2N) — old bucket b
    splits into b and b + N — and later merges stay at 2N."""
    target = str(tmp_path / "t")
    batch = [("k1", -1), ("k2", -2), ("new", 7)]
    with monkeypatch.context() as mp:
        mp.setattr(sink, "TARGET_BUCKET_BYTES", 1 << 11)
        _table(spark, target, n=400)
        before = sink._load_manifest(target)
        mp.setattr(sink, "TARGET_BUCKET_BYTES", _split_target(target))
        sink.keyed_overwrite_parquet(
            spark, _rows(spark, batch), target, vacuum=False
        )
    n = before["num_buckets"]
    oracle = {f"k{i}": i for i in range(400)}
    oracle.update(dict(batch))
    after = sink._load_manifest(target)
    assert after["version"] == before["version"] + 1
    assert after["num_buckets"] == 2 * n
    assert after["deltas"] == {}
    assert _state(spark, target) == oracle
    placed = _file_buckets(spark, target, after, 2 * n)
    assert placed == {b: {int(b)} for b in after["buckets"]}
    old, new = _key_dirs(spark, target, before), _key_dirs(spark, target, after)
    assert all(new[k] in (b, b + n) for k, b in old.items())
    # under the default target a small merge keeps 2N
    sink.keyed_overwrite_parquet(spark, _rows(spark, [("k3", -3)]), target)
    assert sink._load_manifest(target)["num_buckets"] == 2 * n


def test_compact_and_optimize_grow_an_auto_sized_table(spark, tmp_path, monkeypatch):
    """The maintenance rewrites grow the layout too: a compaction over
    MOR deltas and an optimize over appended files each commit every
    bucket at the doubled count, content unchanged."""
    for op in ("compact", "optimize"):
        target = str(tmp_path / op)
        _table(spark, target)
        if op == "compact":
            sink.keyed_merge_mor(spark, _rows(spark, [("k1", -1)]), target)
        else:
            sink.keyed_append(spark, _rows(spark, [("new", 1)]), target)
        want = _state(spark, target)
        with monkeypatch.context() as mp:
            mp.setattr(sink, "TARGET_BUCKET_BYTES", _split_target(target))
            if op == "compact":
                assert sink.compact_keyed_table(spark, target) == 1
            else:
                assert sink.optimize_keyed_table(spark, target) == 1
        m = sink._load_manifest(target)
        assert m["num_buckets"] == 2 and m["operation"] == op
        assert m["deltas"] == {}
        assert _state(spark, target) == want


def test_explicit_and_pre_existing_layouts_never_resize(spark, tmp_path, monkeypatch):
    """An explicit num_buckets= and a table written before auto-sizing
    (its spec has no ``auto`` flag, its manifest no key) keep their
    count through merges, compaction and optimize, whatever the
    target."""
    explicit, legacy = str(tmp_path / "explicit"), str(tmp_path / "legacy")
    _table(spark, explicit, num_buckets=2)
    _table(spark, legacy)
    write_legacy_spec(legacy, "oid__id", sink._load_manifest(legacy)["num_buckets"])
    assert not sink.describe_keyed_table(explicit)["auto_sized"]
    monkeypatch.setattr(sink, "TARGET_BUCKET_BYTES", 1)
    for target, n in ((explicit, 2), (legacy, 1)):
        sink.keyed_overwrite_parquet(spark, _rows(spark, [("k1", -1)]), target)
        sink.keyed_merge_mor(spark, _rows(spark, [("k2", -2)]), target)
        sink.compact_keyed_table(spark, target)
        sink.keyed_append(spark, _rows(spark, [("new", 1)]), target)
        sink.optimize_keyed_table(spark, target)
        assert sink._load_manifest(target)["num_buckets"] == n
        assert sink.describe_keyed_table(target)["num_buckets"] == n
        assert len(_state(spark, target)) == 201


def test_legacy_table_records_its_key_and_time_travels(spark, tmp_path):
    """A table whose manifests predate the recorded key reads its key
    from the spec until its next commit records it in the manifest; a
    version read of an old snapshot with pending MOR deltas resolves
    them by that key."""
    target = str(tmp_path / "t")

    def rows(data):
        return spark.createDataFrame(data, "id string, v int")

    sink.keyed_overwrite_parquet(
        spark, rows([(f"k{i}", i) for i in range(10)]), target, key="id",
        num_buckets=2, vacuum=False,
    )
    sink.keyed_merge_mor(spark, rows([("k1", -1)]), target, key="id")
    v = sink.table_version(target)
    write_legacy_spec(target, "id", 2)
    assert sink.describe_keyed_table(target)["key"] == "id"

    sink.keyed_overwrite_parquet(
        spark, rows([("k2", -2)]), target, key="id", vacuum=False
    )
    assert LOCAL_STORE.read_json(sink._manifest_path(target))["key"] == "id"
    old = sink.read_keyed_table(spark, target, version=v).collect()
    want = {f"k{i}": i for i in range(10)}
    want["k1"] = -1
    assert {r.id: r.v for r in old} == want and len(old) == len(want)


def test_legacy_constraints_are_enforced_recorded_and_stay_dropped(
    spark, tmp_path
):
    """A table whose manifests predate recorded CHECK constraints keeps
    them in ``_constraints.json``: its rule is enforced, its next commit
    records the rule in the manifest, and a rule dropped on such a table
    never comes back from the old file."""
    target = str(tmp_path / "t")
    _table(spark, target, n=4, num_buckets=2)
    write_legacy_constraints(target, {"v_small": "v < 100"})
    with pytest.raises(sink.ConstraintViolation, match="v_small"):
        sink.keyed_merge_mor(spark, _rows(spark, [("k1", 500)]), target)
    sink.keyed_overwrite_parquet(spark, _rows(spark, [("k1", 50)]), target)
    manifest = LOCAL_STORE.read_json(sink._manifest_path(target))
    assert manifest["constraints"] == {"v_small": "v < 100"}

    write_legacy_constraints(target, {"v_small": "v < 100"})
    sink.drop_table_constraint(target, "v_small")
    sink.keyed_merge_mor(spark, _rows(spark, [("k1", 500)]), target)
    sink.keyed_overwrite_parquet(spark, _rows(spark, [("k2", 600)]), target)
    assert sink.table_constraints(target) == {}
    assert LOCAL_STORE.read_json(sink._manifest_path(target))["constraints"] == {}
    assert _state(spark, target) == {"k0": 0, "k1": 500, "k2": 600, "k3": 3}


def test_merge_racing_a_growth_commit_conflicts(spark, tmp_path):
    """A merge computed at N whose CAS loses to a growth commit at 2N
    fails with ConcurrentWriteError (the kernel's bucket-count rule),
    leaving the grown table as the growth committed it."""
    store = FakeConditionalStore()
    target = str(tmp_path / "t")
    _table(spark, target, store=store)
    want = _state(spark, target, store)

    def grow():
        saved = sink.TARGET_BUCKET_BYTES
        sink.TARGET_BUCKET_BYTES = _split_target(target, store)
        try:
            sink.compact_keyed_table(spark, target, store=store)
        finally:
            sink.TARGET_BUCKET_BYTES = saved

    store.on_replace = grow
    with pytest.raises(ConcurrentWriteError, match="bucket count"):
        sink.keyed_overwrite_parquet(
            spark, _rows(spark, [("k1", -1)]), target, store=store
        )
    assert sink._load_manifest(target, store)["num_buckets"] == 2
    assert _state(spark, target, store) == want


def test_restore_before_a_growth_commit(spark, tmp_path, monkeypatch):
    """Restoring an auto-sized table to a version before its growth
    brings back that version's layout with its content, and merges
    after the restore hash with it."""
    target = str(tmp_path / "t")
    _table(spark, target)
    v1 = sink.table_version(target)
    want = _state(spark, target)
    with monkeypatch.context() as mp:
        mp.setattr(sink, "TARGET_BUCKET_BYTES", _split_target(target))
        sink.keyed_overwrite_parquet(spark, _rows(spark, [("k1", -1)]), target)
    assert sink._load_manifest(target)["num_buckets"] == 2

    sink.restore_keyed_table(spark, target, v1)
    assert sink._load_manifest(target)["num_buckets"] == 1
    assert _state(spark, target) == want
    sink.keyed_overwrite_parquet(spark, _rows(spark, [("k1", -1)]), target)
    want["k1"] = -1
    assert _state(spark, target) == want


def test_describe_reports_the_manifest_layout(spark, tmp_path):
    """describe_keyed_table reports the count the manifest records and
    whether the table is auto-sized; a rebucket pins the layout."""
    target = str(tmp_path / "t")
    _table(spark, target)
    sink.rebucket_keyed_table(spark, target, 4)
    d = sink.describe_keyed_table(target)
    assert (d["num_buckets"], d["auto_sized"]) == (4, False)
