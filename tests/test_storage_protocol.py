"""Commit-protocol tests against BOTH storage implementations.

The sink's crash/concurrency story reduces to one primitive —
replace-the-manifest-if-version-unchanged — isolated behind
``storage.ManifestStore``.  These tests drive the protocol through the
local-FS store AND the fake conditional-PUT store, including the lost
conditional-PUT race a local filesystem can't natively produce: a
competing writer lands its commit at the exact moment between our
snapshot read and our swap, and the store's server-side CAS (not a
client-side re-read) rejects us.
"""

from __future__ import annotations

import collections
import os

import pytest

from airflow_postgres_etl_spark.storage import (
    ConcurrentWriteError,
    FakeConditionalStore,
    LocalManifestStore,
)


def _stores(tmp_path):
    return [
        ("local", LocalManifestStore(), str(tmp_path / "local" / "_m.json")),
        ("fake", FakeConditionalStore(), "mem://table/_m.json"),
    ]


def test_read_write_roundtrip_and_absent(tmp_path):
    for name, store, path in _stores(tmp_path):
        assert store.read_json(path) is None, name
        store.write_json(path, {"version": 1, "buckets": {"0": ["a.parquet"]}})
        got = store.read_json(path)
        assert got == {"version": 1, "buckets": {"0": ["a.parquet"]}}, name
        # reads are snapshots, not aliases: mutating the returned dict
        # must not corrupt the store
        got["version"] = 99
        assert store.read_json(path)["version"] == 1, name


def test_initial_commit_then_versioned_replace(tmp_path):
    for name, store, path in _stores(tmp_path):
        store.replace_if_version(path, {"version": 1, "buckets": {}}, None)
        store.replace_if_version(path, {"version": 2, "buckets": {}}, 1)
        assert store.read_json(path)["version"] == 2, name


def test_stale_writer_is_rejected(tmp_path):
    """Writer B snapshots v1, writer A commits v2; B's conditional
    replace must fail and leave A's commit untouched."""
    for name, store, path in _stores(tmp_path):
        store.replace_if_version(path, {"version": 1, "buckets": {"0": ["a"]}}, None)
        # A commits from the same snapshot first
        store.replace_if_version(path, {"version": 2, "buckets": {"0": ["b"]}}, 1)
        with pytest.raises(ConcurrentWriteError):
            store.replace_if_version(path, {"version": 2, "buckets": {"0": ["c"]}}, 1)
        assert store.read_json(path)["buckets"] == {"0": ["b"]}, name


def test_second_initial_commit_is_rejected(tmp_path):
    """An initial commit (expected version None) creates the manifest
    only if it is absent: a second writer bootstrapping the same table
    fails instead of silently replacing the first one's commit, and
    leaves no temp file behind."""
    for name, store, path in _stores(tmp_path):
        store.replace_if_version(path, {"version": 1, "buckets": {"0": ["a"]}}, None)
        with pytest.raises(ConcurrentWriteError):
            store.replace_if_version(
                path, {"version": 1, "buckets": {"0": ["b"]}}, None
            )
        assert store.read_json(path)["buckets"] == {"0": ["a"]}, name
    residue = [f for f in os.listdir(tmp_path / "local") if f.endswith(".tmp")]
    assert residue == []


def test_lost_conditional_put_race():
    """The race the fake store exists for: the competing commit lands
    INSIDE our replace call (after we decided to commit, before the CAS
    evaluates) — exactly a lost conditional PUT on S3/GCS.  The CAS must
    reject us atomically; no torn or interleaved state."""
    store = FakeConditionalStore()
    path = "mem://t/_m.json"
    store.replace_if_version(path, {"version": 1, "buckets": {"0": ["a"]}}, None)

    def competing_commit():
        store.replace_if_version(path, {"version": 2, "buckets": {"0": ["theirs"]}}, 1)

    store.on_replace = competing_commit
    with pytest.raises(ConcurrentWriteError):
        store.replace_if_version(path, {"version": 2, "buckets": {"0": ["ours"]}}, 1)
    assert store.read_json(path) == {"version": 2, "buckets": {"0": ["theirs"]}}


def test_local_replace_is_atomic_no_tmp_residue(tmp_path):
    store = LocalManifestStore()
    path = str(tmp_path / "t" / "_m.json")
    os.makedirs(os.path.dirname(path))
    store.replace_if_version(path, {"version": 1}, None)
    store.replace_if_version(path, {"version": 2}, 1)
    residue = [f for f in os.listdir(os.path.dirname(path)) if f.endswith(".tmp")]
    assert residue == []


def test_sink_commit_protocol_runs_on_fake_store(spark, tmp_path):
    """The sink's merge commits through an injected store: data files go
    to the local path (Spark's writer), but every manifest/spec object
    lives ONLY in the fake conditional-PUT store — proof the protocol
    itself has no hidden filesystem dependency."""
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        read_keyed_table,
        table_version,
    )

    store = FakeConditionalStore()
    target = str(tmp_path / "t")
    base = spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, base, target, num_buckets=4, store=store)
    batch = spark.createDataFrame([("a", 9)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, batch, target, num_buckets=4, store=store)

    # no _manifest.json / _bucket_spec.json on the local filesystem, and
    # no spec object in the store: the manifest holds the layout
    assert not os.path.exists(os.path.join(target, "_manifest.json"))
    assert not os.path.exists(os.path.join(target, "_bucket_spec.json"))
    assert not [k for k in store.objects if k.endswith("_bucket_spec.json")]
    assert table_version(target, store=store) == 2
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target, store=store).collect()}
    assert got == {("a", 9), ("b", 2)}
    # and reading through the DEFAULT (local) store finds nothing
    with pytest.raises(FileNotFoundError):
        read_keyed_table(spark, target)

def test_vacuum_runs_entirely_through_fake_store(spark, tmp_path):
    """Retention cleanup routes EVERY filesystem touch through the
    storage seam (VERDICT r5 residual 4: the walk was os.listdir/os.stat/
    os.remove, so vacuum silently no-oped on a non-local store).  Driven
    end-to-end against the fake conditional-PUT store: a merge retires a
    bucket file, vacuum(retention 0) collects it, and expired time-travel
    snapshot OBJECTS (which live only in the store, not on the local
    filesystem) are pruned from the store too."""
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        read_keyed_table,
        table_history,
        vacuum_keyed_table,
    )

    store = FakeConditionalStore()
    target = str(tmp_path / "t")
    base = spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"])
    keyed_overwrite_parquet(
        spark, base, target, num_buckets=2, store=store, vacuum=False
    )
    batch = spark.createDataFrame([("a", 9)], ["oid__id", "v"])
    keyed_overwrite_parquet(
        spark, batch, target, num_buckets=2, store=store, vacuum=False
    )
    manifest = store.read_json(os.path.join(target, "_manifest.json"))
    retired = [e["path"] for e in manifest.get("retired", [])]
    assert retired, "the keyed merge should have retired the rewritten file"
    assert all(
        os.path.exists(os.path.join(target, p)) for p in retired
    )  # still on disk pre-vacuum (reader-safety window)

    removed = vacuum_keyed_table(target, retention_s=0, store=store)
    assert removed >= len(retired)
    assert not any(os.path.exists(os.path.join(target, p)) for p in retired)
    # table still reads correctly through the store afterwards
    got = {
        (r.oid__id, r.v)
        for r in read_keyed_table(spark, target, store=store).collect()
    }
    assert got == {("a", 9), ("b", 2)}
    # snapshot objects: v1 (expired, non-current) pruned FROM THE STORE,
    # current v2 kept — these never existed on the local filesystem
    assert table_history(target, store=store) == [2]


def test_rebucket_is_pure_reorganization(spark, tmp_path):
    """rebucket_keyed_table: content identical, new bucket layout live
    (files under new __bucket dirs, manifest count updated), version
    bumped once, old files retired not deleted, and merges continue
    under the new layout while old-layout writers are rejected."""
    from airflow_postgres_etl_spark.sink import (
        _load_manifest,
        keyed_overwrite_parquet,
        read_keyed_table,
        rebucket_keyed_table,
        table_version,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    target = str(tmp_path / "t")
    for i in range(3):
        batch = spark.createDataFrame(
            [(f"k{j}", i * 10 + j) for j in range(8)], ["oid__id", "v"]
        )
        keyed_overwrite_parquet(spark, batch, target, num_buckets=2, vacuum=False)
    before = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    m0 = _load_manifest(target, LOCAL_STORE)
    old_files = [f for fs in m0["buckets"].values() for f in fs]

    rebucket_keyed_table(spark, target, 8)

    m1 = _load_manifest(target, LOCAL_STORE)
    assert m1["version"] == m0["version"] + 1
    assert len(m1["buckets"]) > len(m0["buckets"])  # 8 keys spread wider than 2
    after = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert after == before
    retired = {e["path"] for e in m1["retired"]}
    for f in old_files:
        assert f in retired
        assert os.path.exists(os.path.join(target, f))  # retained for readers
    assert m1["num_buckets"] == 8

    # same count is a no-op
    rebucket_keyed_table(spark, target, 8)
    assert table_version(target) == m1["version"]

    # merges continue under the new layout; the old layout is rejected
    nxt = spark.createDataFrame([("k0", 777)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, nxt, target, num_buckets=8, vacuum=False)
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert ("k0", 777) in got and len(got) == len(before)
    with pytest.raises(ValueError, match="bucket layout"):
        keyed_overwrite_parquet(spark, nxt, target, num_buckets=2, vacuum=False)


def test_rebucket_loses_cas_to_concurrent_merge(spark, tmp_path):
    """A merge landing between the re-bucketing's manifest read and its
    commit must win: ConcurrentWriteError propagates, the table keeps
    the merge's content under the OLD layout, and the manifest keeps the
    old count."""
    from airflow_postgres_etl_spark.sink import (
        _load_manifest,
        _manifest_path,
        keyed_overwrite_parquet,
        read_keyed_table,
        rebucket_keyed_table,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE, ConcurrentWriteError

    target = str(tmp_path / "t")
    for i in range(2):
        batch = spark.createDataFrame(
            [(f"k{j}", i * 10 + j) for j in range(4)], ["oid__id", "v"]
        )
        keyed_overwrite_parquet(spark, batch, target, num_buckets=2, vacuum=False)

    class RacingStore:
        def __init__(self):
            self.armed = True

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
                racing = spark.createDataFrame([("k0", 999)], ["oid__id", "v"])
                keyed_overwrite_parquet(
                    spark, racing, target, num_buckets=2, vacuum=False
                )
            LOCAL_STORE.replace_if_version(path, manifest, expected_version)

    with pytest.raises(ConcurrentWriteError):
        rebucket_keyed_table(spark, target, 8, store=RacingStore())
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target).collect()}
    assert ("k0", 999) in got
    assert _load_manifest(target)["num_buckets"] == 2  # old layout still live


def test_broken_store_fails_the_commit_before_its_cas(spark, tmp_path):
    """Only an unreadable footer (``OSError``, or pyarrow's
    ``ArrowInvalid``) leaves a new file without a row count.  Any other
    error from the store's ``open_input`` is a broken store: the commit
    fails before its CAS, with no version bump."""
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        read_keyed_table,
        table_version,
    )

    class BrokenStore(FakeConditionalStore):
        broken = False

        def open_input(self, path):
            if self.broken:
                raise RuntimeError("store cannot open inputs")
            return super().open_input(path)

    store = BrokenStore()
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark, spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"]),
        target, num_buckets=2, store=store,
    )
    store.broken = True
    with pytest.raises(RuntimeError, match="cannot open inputs"):
        keyed_overwrite_parquet(
            spark, spark.createDataFrame([("a", 9)], ["oid__id", "v"]),
            target, store=store,
        )
    assert table_version(target, store=store) == 1
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target, store=store).collect()}
    assert got == {("a", 1), ("b", 2)}


def test_time_travel_reads_historical_snapshots(spark, tmp_path):
    """Every commit publishes an immutable versioned manifest; version=N
    reads reproduce each historical snapshot exactly while retained, and
    a vacuumed snapshot fails loudly (named missing file) instead of
    returning a torn table."""
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        read_keyed_table,
        table_history,
        vacuum_keyed_table,
    )

    target = str(tmp_path / "t")
    snapshots = {}
    state: dict[str, int] = {}
    for i in range(1, 4):
        batch = spark.createDataFrame(
            [(f"k{i}", i), ("k0", i * 100)], ["oid__id", "v"]
        )
        keyed_overwrite_parquet(spark, batch, target, num_buckets=2, vacuum=False)
        state.update({f"k{i}": i, "k0": i * 100})
        snapshots[i] = dict(state)

    assert table_history(target) == [1, 2, 3]
    for v, expect in snapshots.items():
        got = {
            r.oid__id: r.v
            for r in read_keyed_table(spark, target, version=v).collect()
        }
        assert got == expect, v
    # current read == latest version read
    cur = {r.oid__id: r.v for r in read_keyed_table(spark, target).collect()}
    assert cur == snapshots[3]

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="version 9"):
        read_keyed_table(spark, target, version=9)

    # retention-0 vacuum collects superseded data AND stale snapshots;
    # the historical read now fails loudly, current stays intact
    vacuum_keyed_table(target, retention_s=0)
    assert table_history(target) == [3]
    with _pytest.raises(FileNotFoundError, match="version 1"):
        read_keyed_table(spark, target, version=1)
    cur2 = {r.oid__id: r.v for r in read_keyed_table(spark, target).collect()}
    assert cur2 == snapshots[3]


def test_table_changes_between_snapshots(spark, tmp_path):
    """Change feed from the version manifests alone (no write-time log):
    inserts, updates, deletes per key between any two snapshots,
    schema-stable even across an additive column evolution."""
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        read_keyed_table,
        table_changes,
    )

    target = str(tmp_path / "t")
    v1 = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, v1, target, num_buckets=2, vacuum=False)
    # v2: update a, insert d (b, c untouched)
    v2 = spark.createDataFrame([("a", 10), ("d", 4)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, v2, target, num_buckets=2, vacuum=False)
    # v3: additive column; update b
    v3 = spark.createDataFrame([("b", 20, "x")], ["oid__id", "v", "extra"])
    keyed_overwrite_parquet(spark, v3, target, num_buckets=2, vacuum=False)

    got12 = {
        (r.oid__id, r.change_type)
        for r in table_changes(spark, target, 1, 2).collect()
    }
    assert got12 == {("a", "update"), ("d", "insert")}

    # v2 -> current (v3): b updated (new column arrived with a value);
    # a/c/d byte-identical rows -> no row, even though the SCHEMA widened
    got2c = {
        (r.oid__id, r.change_type)
        for r in table_changes(spark, target, 2).collect()
    }
    assert got2c == {("b", "update")}

    # full span composes
    got13 = {
        (r.oid__id, r.change_type)
        for r in table_changes(spark, target, 1, 3).collect()
    }
    assert got13 == {("a", "update"), ("b", "update"), ("d", "insert")}

    # deletes: replace-by-key can't delete, but a rewritten snapshot can
    # (rebucket after manually shrinking is out of scope) — same-version
    # diff is empty instead
    assert table_changes(spark, target, 3, 3).count() == 0

    # payloads are full-row JSON
    row = {
        r.oid__id: r
        for r in table_changes(spark, target, 2, 3).collect()
    }["b"]
    assert '"v":2' in row.old_row and '"v":20' in row.new_row and '"extra":"x"' in row.new_row


def test_data_skipping_stats_prune_files(spark, tmp_path):
    """stats_cols: manifest carries per-file min/max from the parquet
    footers; where= range reads open only files whose range can match
    (asserted via inputFiles), results equal read-then-filter exactly,
    stats persist through later merges without re-passing the flag, and
    a disjoint range returns an empty frame with the right schema."""
    from airflow_postgres_etl_spark.sink import (
        _load_manifest,
        keyed_overwrite_parquet,
        read_keyed_table,
        rebucket_keyed_table,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    target = str(tmp_path / "t")
    # two batches with DISJOINT v ranges, keys chosen so each batch lands
    # ENTIRELY in its own bucket: a merge rewrites affected buckets
    # wholesale, so mixing buckets would blend each file's value range
    # and leave nothing for stats to prune.  (This is also the real
    # workload where skipping pays: time-correlated merges touch few
    # buckets, untouched files keep narrow old ranges.)
    from pyspark.sql import functions as F

    cand = spark.range(400).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.pmod(F.xxhash64(F.concat(F.lit("k"), F.col("id"))), F.lit(2)).alias("b"),
    )
    b0 = [r.k for r in cand.filter("b = 0").take(10)]
    b1 = [r.k for r in cand.filter("b = 1").take(10)]
    lo_batch = spark.createDataFrame(
        [(k, i) for i, k in enumerate(b0)], ["oid__id", "v"]
    )
    hi_batch = spark.createDataFrame(
        [(k, 1000 + i) for i, k in enumerate(b1)], ["oid__id", "v"]
    )
    keyed_overwrite_parquet(
        spark, lo_batch, target, num_buckets=2, vacuum=False, stats_cols=["v"]
    )
    # NOTE: no stats_cols here — the tracked set must be remembered
    keyed_overwrite_parquet(spark, hi_batch, target, num_buckets=2, vacuum=False)

    m = _load_manifest(target, LOCAL_STORE)
    assert m["stats"], "manifest carries no stats"
    assert all("v" in s for s in m["stats"].values())

    full = read_keyed_table(spark, target)
    n_all_files = len(full.inputFiles())
    expect = {
        (r.oid__id, r.v) for r in full.collect() if r.v >= 1000
    }

    pruned = read_keyed_table(spark, target, where=("v", 1000, None))
    got = {(r.oid__id, r.v) for r in pruned.collect()}
    assert got == expect
    assert len(pruned.inputFiles()) < n_all_files  # skipped low files

    # a range nothing can match: empty result, schema intact, 1 file max
    none = read_keyed_table(spark, target, where=("v", 5000, 9000))
    assert none.count() == 0
    assert set(none.columns) == {"oid__id", "v"}
    assert len(none.inputFiles()) <= 1

    # residual filter still applies WITHIN surviving files
    mid = read_keyed_table(spark, target, where=("v", 3, 5))
    assert {r.v for r in mid.collect()} == {3, 4, 5}

    # stats survive a rebucket (recomputed from the new footers)
    rebucket_keyed_table(spark, target, 4)
    m2 = _load_manifest(target, LOCAL_STORE)
    assert m2["stats"] and all("v" in s for s in m2["stats"].values())
    pruned2 = read_keyed_table(spark, target, where=("v", 1000, None))
    assert {(r.oid__id, r.v) for r in pruned2.collect()} == expect


def test_clustering_makes_skipping_effective(spark, tmp_path):
    """cluster_keyed_table: after one merge whose values span the full
    range in every bucket (worst case for skipping — nothing prunable),
    clustering splits each bucket into value-contiguous files and the
    same range read opens a FRACTION of the files, with identical
    results and an intact bucket layout for later merges."""
    from airflow_postgres_etl_spark.sink import (
        _load_manifest,
        cluster_keyed_table,
        keyed_overwrite_parquet,
        read_keyed_table,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    target = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(f"k{i}", i) for i in range(400)], ["oid__id", "v"]
    )
    keyed_overwrite_parquet(
        spark, batch, target, num_buckets=2, vacuum=False, stats_cols=["v"]
    )
    # hash buckets blend ranges: the range read must open every file
    base = read_keyed_table(spark, target, where=("v", 0, 49))
    assert len(base.inputFiles()) == 2
    expect = {(r.oid__id, r.v) for r in base.collect()}
    assert len(expect) == 50

    cluster_keyed_table(spark, target, "v", files_per_bucket=4)
    m = _load_manifest(target, LOCAL_STORE)
    n_files = sum(len(fs) for fs in m["buckets"].values())
    assert n_files > 2  # buckets actually split
    clustered = read_keyed_table(spark, target, where=("v", 0, 49))
    assert {(r.oid__id, r.v) for r in clustered.collect()} == expect
    assert len(clustered.inputFiles()) < n_files / 2  # real pruning now

    # merges still work against the clustered layout
    up = spark.createDataFrame([("k0", 9999)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, up, target, num_buckets=2, vacuum=False)
    got = {
        r.v for r in read_keyed_table(spark, target, where=("v", 9000, None)).collect()
    }
    assert got == {9999}


def test_lookup_keys_reads_only_matching_buckets(spark, tmp_path):
    """Point lookup: a k-key read opens only the buckets those keys hash
    to (inputFiles subset), returns exactly the requested live rows, and
    an absent key yields nothing rather than an error."""
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        lookup_keys,
        read_keyed_table,
    )

    target = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(f"k{i}", i) for i in range(64)], ["oid__id", "v"]
    )
    keyed_overwrite_parquet(spark, batch, target, num_buckets=16, vacuum=False)

    total_files = len(read_keyed_table(spark, target).inputFiles())
    hit = lookup_keys(spark, target, ["k3", "k40", "nope"])
    rows = {(r.oid__id, r.v) for r in hit.collect()}
    assert rows == {("k3", 3), ("k40", 40)}
    assert len(hit.inputFiles()) < total_files  # bucket-pruned, not a scan


def test_zorder_beats_1d_clustering_on_box_queries(spark, tmp_path):
    """Z-order (Morton) clustering: a conjunctive 2-D box read prunes on
    BOTH columns at once — strictly fewer files than 1-D clustering on
    either column, identical results, merges still work."""
    from airflow_postgres_etl_spark.sink import (
        _load_manifest,
        cluster_keyed_table,
        keyed_overwrite_parquet,
        read_keyed_table,
        zorder_keyed_table,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    # 32x32 grid of independent (x, y)
    rows = [(f"k{i}", i % 32, i // 32) for i in range(1024)]
    batch = spark.createDataFrame(rows, ["oid__id", "x", "y"])
    box = [("x", 0, 7), ("y", 0, 7)]  # 1/16 of the value area
    expect = {(r.oid__id, r.x, r.y) for r in batch.collect() if r.x <= 7 and r.y <= 7}

    def files_opened(target):
        df = read_keyed_table(spark, target, where=box)
        assert {(r.oid__id, r.x, r.y) for r in df.collect()} == expect
        return len(df.inputFiles())

    t1 = str(tmp_path / "oned")
    keyed_overwrite_parquet(spark, batch, t1, num_buckets=2, vacuum=False,
                            stats_cols=["x", "y"])
    cluster_keyed_table(spark, t1, "x", files_per_bucket=16)
    n_1d = files_opened(t1)

    t2 = str(tmp_path / "zord")
    keyed_overwrite_parquet(spark, batch, t2, num_buckets=2, vacuum=False)
    zorder_keyed_table(spark, t2, ["x", "y"], files_per_bucket=16)
    m = _load_manifest(t2, LOCAL_STORE)
    n_total = sum(len(fs) for fs in m["buckets"].values())
    assert n_total > 2  # buckets actually split along the curve
    n_z = files_opened(t2)
    assert n_z < n_1d, f"zorder opened {n_z} files, 1-D clustering {n_1d}"
    assert n_z < n_total / 2

    # merges continue against the z-ordered layout
    up = spark.createDataFrame([("k0", 99, 99)], ["oid__id", "x", "y"])
    keyed_overwrite_parquet(spark, up, t2, num_buckets=2, vacuum=False)
    got = {
        (r.x, r.y)
        for r in read_keyed_table(spark, t2, where=[("x", 90, None)]).collect()
    }
    assert got == {(99, 99)}


def test_multi_predicate_where_single_tuple_compat(spark, tmp_path):
    """where= accepts the old single tuple and the new list form with
    identical semantics."""
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        read_keyed_table,
    )

    target = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(f"k{i}", i, -i) for i in range(50)], ["oid__id", "a", "b"]
    )
    keyed_overwrite_parquet(spark, batch, target, stats_cols=["a", "b"])
    single = {r.oid__id for r in read_keyed_table(spark, target, where=("a", 10, 20)).collect()}
    listed = {r.oid__id for r in read_keyed_table(spark, target, where=[("a", 10, 20)]).collect()}
    both = {
        r.oid__id
        for r in read_keyed_table(
            spark, target, where=[("a", 10, 20), ("b", -15, None)]
        ).collect()
    }
    assert single == listed == {f"k{i}" for i in range(10, 21)}
    assert both == {f"k{i}" for i in range(10, 16)}


def test_zorder_unknown_column_rejected(spark, tmp_path):
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        zorder_keyed_table,
    )

    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([("a", 1)], ["oid__id", "v"]),
        target,
        vacuum=False,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table"):
        zorder_keyed_table(spark, target, ["v", "nope"])


def test_merge_listing_goes_through_store_seam(spark, tmp_path, monkeypatch):
    """VERDICT r6 residual 3: `_list_commit_buckets` and pre-manifest
    adoption used to call `os.listdir` directly, so a merge commit
    against a non-local ManifestStore could not see what Spark just
    wrote.  Spy on os.listdir: an end-to-end CoW + MOR merge through the
    fake store must (a) never listdir the target from the sink and
    (b) route every listing through store.list_dir."""
    from airflow_postgres_etl_spark import sink as sink_mod
    from airflow_postgres_etl_spark.sink import (
        keyed_merge_mor,
        keyed_overwrite_parquet,
        read_keyed_table,
    )

    store = FakeConditionalStore()
    target = str(tmp_path / "t")

    # the FAKE STORE's list_dir itself delegates to os.listdir (its
    # local stand-in for a prefix listing), so the spy must separate
    # DIRECT sink calls from calls made through the seam: os.listdir
    # hits are offenders only when no store.list_dir frame is active.
    listdir_calls: list[str] = []
    real_listdir = os.listdir
    in_store = {"depth": 0}

    def spy_listdir(path="."):
        if in_store["depth"] == 0:
            listdir_calls.append(str(path))
        return real_listdir(path)

    store_list_calls: list[str] = []
    real_store_list = store.list_dir

    def spy_store_list(path):
        store_list_calls.append(path)
        in_store["depth"] += 1
        try:
            return real_store_list(path)
        finally:
            in_store["depth"] -= 1

    monkeypatch.setattr(sink_mod.os, "listdir", spy_listdir)
    store.list_dir = spy_store_list

    base = spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"])
    keyed_overwrite_parquet(spark, base, target, num_buckets=4, store=store)
    keyed_merge_mor(
        spark,
        spark.createDataFrame([("a", 9)], ["oid__id", "v"]),
        target,
        num_buckets=4,
        store=store,
    )

    offenders = [p for p in listdir_calls if p.startswith(target)]
    assert offenders == [], f"sink listed the target via os.listdir: {offenders}"
    assert any(p.startswith(target) for p in store_list_calls)
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target, store=store).collect()}
    assert got == {("a", 9), ("b", 2)}


def test_premanifest_adoption_through_fake_store(spark, tmp_path):
    """A pre-manifest bucket layout is adopted via store.list_dir: write
    a legacy layout with Spark (no manifest), register its file listing
    in the fake store's namespace, and merge — the first commit must
    carry the adopted files forward."""
    from airflow_postgres_etl_spark.sink import (
        BUCKET_COL,
        _bucket_expr,
        keyed_overwrite_parquet,
        read_keyed_table,
    )

    target = str(tmp_path / "legacy")
    base = spark.createDataFrame([("a", 1), ("b", 2)], ["oid__id", "v"])
    (
        base.withColumn(BUCKET_COL, _bucket_expr("oid__id", 4))
        .write.partitionBy(BUCKET_COL)
        .parquet(target)
    )
    # local layout is visible through the fake store's delegating list_dir
    store = FakeConditionalStore()
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([("b", 7)], ["oid__id", "v"]),
        target,
        num_buckets=4,
        store=store,
    )
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target, store=store).collect()}
    assert got == {("a", 1), ("b", 7)}


def test_restore_makes_old_snapshot_current(spark, tmp_path):
    """RESTORE: metadata-only forward commit; reads flip back, history
    stays append-only, CDF shows the restore as changes, and vacuum
    never touches the re-liveed files."""
    from airflow_postgres_etl_spark.api import Engine
    from airflow_postgres_etl_spark.sink import table_changes

    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([("a", 1), ("b", 2)], "oid__id string, v long"),
        num_buckets=4, vacuum=False,
    )
    t.merge(
        spark.createDataFrame([("a", 9), ("c", 3)], "oid__id string, v long"),
        vacuum=False,
    )
    t.merge(
        spark.createDataFrame([("b", 7)], "oid__id string, v long"),
        vacuum=False,
    )
    assert t.version() == 3

    new_v = t.restore(1)
    assert new_v == 4 and t.version() == 4
    got = {(r.oid__id, r.v) for r in t.read().collect()}
    assert got == {("a", 1), ("b", 2)}
    # the skipped-over versions stay readable (history is append-only)
    v3 = {(r.oid__id, r.v) for r in t.read(version=3).collect()}
    assert v3 == {("a", 9), ("b", 7), ("c", 3)}
    # CDF 3 -> 4 reports the restore's effect
    ch = {(r.oid__id, r.change_type) for r in table_changes(spark, t.path, 3, 4).collect()}
    assert ch == {("a", "update"), ("b", "update"), ("c", "delete")}
    # vacuum with zero retention: restored-live files survive; the
    # post-restore-dead files go
    t.vacuum(retention_s=0)
    assert {(r.oid__id, r.v) for r in t.read().collect()} == {("a", 1), ("b", 2)}


def test_restore_noop_and_missing_snapshot(spark, tmp_path):
    import pytest as _pytest

    from airflow_postgres_etl_spark.api import Engine

    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(spark.createDataFrame([("a", 1)], "oid__id string, v long"), num_buckets=2)
    assert t.restore(1) == 1  # restore-to-current: no-op, no churn
    assert t.version() == 1
    with _pytest.raises(FileNotFoundError, match="no snapshot"):
        t.restore(99)


def test_restore_refused_across_rebucket(spark, tmp_path):
    import pytest as _pytest

    from airflow_postgres_etl_spark.api import Engine

    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([(f"k{i}", i) for i in range(8)], "oid__id string, v long"),
        num_buckets=2, vacuum=False,
    )
    t.rebucket(8)
    with _pytest.raises(ValueError, match="re-bucketing"):
        t.restore(1)


def test_restore_fails_loudly_after_vacuum_expiry(spark, tmp_path):
    """A snapshot whose files were vacuumed past retention must refuse
    to restore — never a torn table."""
    import pytest as _pytest

    from airflow_postgres_etl_spark.api import Engine

    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([("a", 1)], "oid__id string, v long"),
        num_buckets=2, vacuum=False,
    )
    t.merge(
        spark.createDataFrame([("a", 2)], "oid__id string, v long"),
        vacuum=False,
    )
    t.vacuum(retention_s=0)  # v1's superseded file is collected
    with _pytest.raises(FileNotFoundError, match="vacuumed past retention|no snapshot"):
        t.restore(1)


def test_null_count_skipping(spark, tmp_path):
    """[lo, hi, null_count, row_count] stats: where_notnull prunes
    all-null files, where_isnull prunes zero-null files, results equal
    read-then-filter, and an all-null column (no parquet min/max at
    all) still records nulls-only stats."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.sink import (
        _load_manifest,
        keyed_overwrite_parquet,
        read_keyed_table,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    target = str(tmp_path / "t")
    cand = spark.range(400).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.pmod(F.xxhash64(F.concat(F.lit("k"), F.col("id"))), F.lit(2)).alias("b"),
    )
    b0 = [r.k for r in cand.filter("b = 0").take(8)]
    b1 = [r.k for r in cand.filter("b = 1").take(8)]
    # bucket 0: v fully populated; bucket 1: v entirely NULL
    dense = spark.createDataFrame(
        [(k, i) for i, k in enumerate(b0)], "oid__id string, v bigint"
    )
    allnull = spark.createDataFrame(
        [(k, None) for k in b1], "oid__id string, v bigint"
    )
    keyed_overwrite_parquet(
        spark, dense, target, num_buckets=2, vacuum=False, stats_cols=["v"]
    )
    keyed_overwrite_parquet(spark, allnull, target, num_buckets=2, vacuum=False)

    m = _load_manifest(target, LOCAL_STORE)
    forms = sorted(len(s["v"]) for s in m["stats"].values())
    assert forms == [4, 4]  # dense: [lo,hi,0,n]; all-null: [None,None,n,n]

    full = read_keyed_table(spark, target)
    n_all = len(full.inputFiles())

    nn = read_keyed_table(spark, target, where_notnull="v")
    assert len(nn.inputFiles()) < n_all
    assert {r["oid__id"] for r in nn.collect()} == set(b0)

    isn = read_keyed_table(spark, target, where_isnull="v")
    assert len(isn.inputFiles()) < n_all
    assert {r["oid__id"] for r in isn.collect()} == set(b1)

    # equals read-then-filter exactly
    want_nn = {r["oid__id"] for r in full.filter("v IS NOT NULL").collect()}
    assert {r["oid__id"] for r in nn.collect()} == want_nn


def test_null_skipping_never_changes_results_on_mixed_files(spark, tmp_path):
    """A file with SOME nulls survives both null predicates (can't
    prune) and the residual filter does the row-level work."""
    from airflow_postgres_etl_spark.sink import (
        keyed_overwrite_parquet,
        read_keyed_table,
    )

    target = str(tmp_path / "t")
    mixed = spark.createDataFrame(
        [("a", 1), ("b", None), ("c", 3)], "oid__id string, v bigint"
    )
    keyed_overwrite_parquet(
        spark, mixed, target, num_buckets=1, vacuum=False, stats_cols=["v"]
    )
    assert {
        r["oid__id"] for r in read_keyed_table(spark, target, where_notnull="v").collect()
    } == {"a", "c"}
    assert {
        r["oid__id"] for r in read_keyed_table(spark, target, where_isnull="v").collect()
    } == {"b"}


# ---------------------------------------------------------------------------
# Footer stats, row counts and sizes: each commit describes its new
# files once (sink._describe_files), on the driver.
# ---------------------------------------------------------------------------


def _stats_fixture_table(spark, tmp_path):
    """A committed table whose files exercise every stat entry form:
    int range, double range, string range, a column with SOME nulls,
    and an ALL-null file (null-skipping-only form)."""
    from airflow_postgres_etl_spark.sink import keyed_overwrite_parquet

    target = str(tmp_path / "t")
    rows = [
        (
            f"k{i}",
            i,
            float(i) * 1.5,
            f"s{i:03d}",
            None if i % 3 == 0 else i * 10,
            None,  # all-null everywhere
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "oid__id string, vi bigint, vd double, vs string, "
        "vn bigint, vz string",
    )
    keyed_overwrite_parquet(
        spark, df, target, num_buckets=8, vacuum=False,
        stats_cols=["vi", "vd", "vs", "vn", "vz"],
    )
    return target


def test_file_stats_legs_byte_identical(spark, tmp_path):
    """Describing a table's committed files again gives exactly what
    their commit recorded (stats, rows and bytes), and the stats take
    all three entry forms."""
    from airflow_postgres_etl_spark.sink import _describe_files, _load_manifest
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    target = _stats_fixture_table(spark, tmp_path)
    m = _load_manifest(target, LOCAL_STORE)
    files = [f for fs in m["buckets"].values() for f in fs]
    assert len(files) >= 4
    tracked = ["vi", "vd", "vs", "vn", "vz", "nosuchcol"]
    stats, rows, sizes = _describe_files(target, files, tracked, LOCAL_STORE)
    assert (stats, rows, sizes) == (m["stats"], m["rows"], m["bytes"])
    # the fixture really exercised all three entry forms
    forms = {tuple(type(x).__name__ for x in s.get("vz", []))
             for s in stats.values()}
    assert ("NoneType", "NoneType", "int", "int") in forms  # all-null
    assert any(len(s.get("vn", [])) == 4 and s["vn"][2] > 0
               for s in stats.values())  # some-null range form
    assert any(len(s.get("vi", [])) == 4 and s["vi"][2] == 0
               for s in stats.values())  # range form, no nulls


def test_merge_txn_watermark_idempotent(spark, tmp_path):
    """r9: keyed_overwrite_parquet records a txn watermark INSIDE its
    one commit — a replayed epoch is a no-op (no version bump, no
    content change), a later epoch applies, and keyed_append's
    bootstrap is now a single atomic first commit."""
    from airflow_postgres_etl_spark.sink import (
        _load_manifest,
        keyed_append,
        keyed_overwrite_parquet,
        read_keyed_table,
        table_version,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    t = str(tmp_path / "t")
    b1 = spark.createDataFrame([(f"k{i}", i) for i in range(8)], ["oid__id", "v"])
    keyed_overwrite_parquet(
        spark, b1, t, num_buckets=2, vacuum=False, txn_app="ck", txn_seq=0
    )
    v1 = table_version(t)
    assert _load_manifest(t, LOCAL_STORE)["txns"] == {"ck": 0}
    # replay of epoch 0: pure no-op
    keyed_overwrite_parquet(
        spark, b1, t, num_buckets=2, vacuum=False, txn_app="ck", txn_seq=0
    )
    assert table_version(t) == v1
    # epoch 1 applies and advances the watermark
    b2 = spark.createDataFrame([("k0", 99)], ["oid__id", "v"])
    keyed_overwrite_parquet(
        spark, b2, t, vacuum=False, txn_app="ck", txn_seq=1
    )
    assert table_version(t) == v1 + 1
    assert _load_manifest(t, LOCAL_STORE)["txns"] == {"ck": 1}
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, t).collect()}
    assert ("k0", 99) in got and len(got) == 8

    # bootstrap atomicity: keyed_append's FIRST commit carries the txn
    t2 = str(tmp_path / "t2")
    keyed_append(
        spark, b1, t2, num_buckets=2, txn_app="ck2", txn_seq=5,
        verify_new=False,
    )
    m = _load_manifest(t2, LOCAL_STORE)
    assert m["version"] == 1 and m["txns"] == {"ck2": 5}
    # replayed bootstrap epoch: no-op
    assert keyed_append(
        spark, b1, t2, num_buckets=2, txn_app="ck2", txn_seq=5,
        verify_new=False,
    ) == 0
    assert read_keyed_table(spark, t2).count() == 8


class CountingStore(FakeConditionalStore):
    """Fake conditional-PUT store that counts the footer opens and the
    sizings of each data file."""

    def __init__(self) -> None:
        super().__init__()
        self.opens: collections.Counter = collections.Counter()
        self.sizes: collections.Counter = collections.Counter()

    def open_input(self, path: str):
        self.opens[path] += 1
        return super().open_input(path)

    def size(self, path: str) -> int | None:
        self.sizes[path] += 1
        return super().size(path)


@pytest.mark.parametrize("stats_cols", [["v"], None], ids=["stats", "no_stats"])
def test_commit_opens_and_sizes_each_new_file_once(spark, tmp_path, stats_cols):
    """Each data file a commit creates has its footer opened once and is
    sized once, with or without tracked stats columns, including by a
    CoW merge that loses its first CAS to a commit to another bucket and
    rebases; and the manifests record every live file's rows and bytes
    (and stats, when tracked)."""
    from airflow_postgres_etl_spark.sink import (
        _live_files,
        _load_manifest,
        keyed_overwrite_parquet,
        table_stats,
    )

    store = CountingStore()
    target = str(tmp_path / "t")

    def merge(rows):
        keyed_overwrite_parquet(
            spark, spark.createDataFrame(rows, ["oid__id", "v"]), target,
            num_buckets=4, vacuum=False, stats_cols=stats_cols, store=store,
        )

    merge([(f"k{i}", i) for i in range(20)])
    # at 4 buckets k1 hashes to bucket 1, k3 to bucket 3
    store.on_replace = lambda: merge([("k3", 100)])
    merge([("k1", 99)])
    assert store.on_replace is None, "no race"
    m = _load_manifest(target, store)
    assert m["version"] == 3  # the merge rebased over the rival
    new_files = {
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(target, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert len(new_files) == 4 + 1 + 1
    assert dict(store.opens) == dict.fromkeys(new_files, 1)
    assert dict(store.sizes) == dict.fromkeys(new_files, 1)
    live = set(_live_files(m))
    assert live <= set(m["rows"]) and live <= set(m["bytes"])
    assert (live <= set(m["stats"])) == bool(stats_cols)
    assert table_stats(target, store=store)["row_count"] == 20


# ---------------------------------------------------------------------------
# Footer opens route through the storage seam (store.open_input) — zero
# direct os-path parquet opens anywhere on the commit path.
# ---------------------------------------------------------------------------


class RedirectStore(LocalManifestStore):
    """Seam-spy store whose DATA files live at a different physical root
    than the logical paths the sink asks for.  Any footer open that
    bypasses ``open_input`` (a direct os-path pyarrow open) hits a
    missing file and fails loudly."""

    def __init__(self, src_root: str, dst_root: str) -> None:
        self.src_root = src_root
        self.dst_root = dst_root

    def open_input(self, path: str):
        assert path.startswith(self.src_root), path
        return self.dst_root + path[len(self.src_root):]


def test_footer_opens_route_through_seam_both_legs(spark, tmp_path):
    """Write a table, MOVE its data to a hidden root, and describe its
    files again through a redirecting store: the footer pass must give
    the exact pre-move stats and row counts (proof every open went
    through open_input — the original paths no longer exist), while a
    direct os-path open finds nothing to read."""
    import shutil

    from airflow_postgres_etl_spark.sink import (
        _describe_files,
        _load_manifest,
        keyed_overwrite_parquet,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    target = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(f"k{i}", i, None if i % 3 == 0 else float(i)) for i in range(40)],
        "oid__id string, vi bigint, vf double",
    )
    keyed_overwrite_parquet(
        spark, df, target, num_buckets=4, vacuum=False,
        stats_cols=["vi", "vf"],
    )
    m = _load_manifest(target, LOCAL_STORE)
    files = [f for fs in m["buckets"].values() for f in fs]
    tracked = ["vi", "vf"]
    before = _describe_files(target, files, tracked, LOCAL_STORE)[:2]
    assert before == (m["stats"], m["rows"])

    hidden = str(tmp_path / "hidden_root")
    shutil.move(target, hidden)
    store = RedirectStore(target, hidden)

    # direct os-path open now fails: the seam is the ONLY way in
    assert _describe_files(target, files, tracked, LOCAL_STORE) == ({}, {}, {})
    assert _describe_files(target, files, tracked, store)[:2] == before


def test_commit_and_optimize_zero_direct_path_opens(
    spark, tmp_path, monkeypatch
):
    """Full lifecycle (create → merge → append → optimize) under a spy
    store whose open_input returns FILE OBJECTS, with driver-side
    pyarrow patched to reject raw string paths: the whole commit path
    must perform zero direct os-path parquet opens."""
    import pyarrow.parquet as real_pq

    from airflow_postgres_etl_spark.sink import (
        _load_manifest,
        keyed_append,
        keyed_overwrite_parquet,
        optimize_keyed_table,
        read_keyed_table,
        table_stats,
    )

    class FileObjectSpyStore(LocalManifestStore):
        def __init__(self):
            self.opened: list[str] = []

        def open_input(self, path: str):
            self.opened.append(path)
            return open(path, "rb")

    spy = FileObjectSpyStore()
    orig_parquet_file = real_pq.ParquetFile

    def no_raw_paths(source, *a, **k):
        assert not isinstance(source, (str, os.PathLike)), (
            f"direct os-path parquet open on the commit path: {source}"
        )
        return orig_parquet_file(source, *a, **k)

    monkeypatch.setattr(real_pq, "ParquetFile", no_raw_paths)

    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(f"k{i}", i) for i in range(20)], ["oid__id", "v"]),
        target, num_buckets=4, vacuum=False, stats_cols=["v"], store=spy,
    )
    n_create = len(spy.opened)
    assert n_create > 0  # stats pass went through the seam
    keyed_overwrite_parquet(  # merge leg
        spark,
        spark.createDataFrame([("k0", 99), ("z1", 100)], ["oid__id", "v"]),
        target, vacuum=False, store=spy,
    )
    keyed_append(  # append leg
        spark,
        spark.createDataFrame([("a1", 200)], ["oid__id", "v"]),
        target, verify_new=False, store=spy,
    )
    optimize_keyed_table(spark, target, max_files_per_bucket=1, store=spy)
    assert len(spy.opened) > n_create
    m = _load_manifest(target, spy)
    assert m["stats"] and all("v" in s for s in m["stats"].values())
    # row counts recorded off the same seam-routed footer pass
    assert table_stats(target, store=spy)["row_count"] == 22
    got = {(r.oid__id, r.v) for r in read_keyed_table(spark, target, store=spy).collect()}
    assert ("k0", 99) in got and ("a1", 200) in got and len(got) == 22


