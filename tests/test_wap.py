"""Write-Audit-Publish (`sink.wap_begin`/`wap_publish`, `Table.branch`/
`publish`): stage commits on a shallow-clone branch, audit with
expectation rules, fast-forward the source with one CAS.

Safety properties under test: main-table readers never observe
unaudited data; a failed audit or a concurrent source commit leaves the
source byte-identical; the source's vacuum never eats branch files; a
published snapshot survives the branch's re-owning optimize.
"""

from __future__ import annotations

import glob
import os

import pytest

from airflow_postgres_etl_spark import sink
from airflow_postgres_etl_spark.api import Engine, Table
from airflow_postgres_etl_spark.operators.expectations import expect
from airflow_postgres_etl_spark.storage import (
    ConcurrentWriteError,
    LocalManifestStore,
)


def _table(spark, tmp_path, rows):
    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame(rows, "k string, v long"),
        key="k", num_buckets=4, vacuum=False,
    )
    return t


def _state(t) -> dict:
    return {r["k"]: r["v"] for r in t.read().collect()}


def test_branch_publish_roundtrip(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1), ("b", 2)])
    b = t.branch("load1")
    b.merge(spark.createDataFrame([("b", 20), ("c", 3)], "k string, v long"), key="k")

    # unpublished: main table still shows the pre-branch state
    assert _state(t) == {"a": 1, "b": 2}
    assert _state(b) == {"a": 1, "b": 20, "c": 3}
    assert t.branches() == ["load1"]

    res = t.publish("load1")
    assert _state(t) == {"a": 1, "b": 20, "c": 3}
    assert res["version"] == t.version() == 2
    ops = [h["operation"] for h in t.history_detail()]
    assert "wap_publish" in ops


def test_failed_audit_leaves_source_untouched(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1)])
    b = t.branch("bad")
    b.merge(spark.createDataFrame([("z", -5)], "k string, v long"), key="k")
    v0 = t.version()
    with pytest.raises(ValueError, match="audit failed.*v_nonneg"):
        t.publish("bad", expectations=[expect("v_nonneg", "v >= 0")])
    assert t.version() == v0 and _state(t) == {"a": 1}

    # audit passes once the branch is repaired -> report comes back clean
    b.merge(spark.createDataFrame([("z", 5)], "k string, v long"), key="k")
    res = t.publish("bad", expectations=[expect("v_nonneg", "v >= 0")])
    assert res["report"][0]["n_violations"] == 0
    assert _state(t)["z"] == 5


def test_concurrent_source_commit_fails_publish(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1)])
    b = t.branch("race")
    b.merge(spark.createDataFrame([("b", 2)], "k string, v long"), key="k")
    # source moves on while the branch is open
    t.merge(spark.createDataFrame([("c", 3)], "k string, v long"), key="k")
    with pytest.raises(ConcurrentWriteError, match="re-branch"):
        t.publish("race")
    assert _state(t) == {"a": 1, "c": 3}


def test_empty_branch_refuses_publish(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1)])
    t.branch("idle")
    with pytest.raises(ValueError, match="nothing to publish"):
        t.publish("idle")


def test_abandon_unpublished_only(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1)])
    b = t.branch("scratch")
    b.merge(spark.createDataFrame([("b", 2)], "k string, v long"), key="k")
    t.abandon("scratch")
    assert t.branches() == []
    assert _state(t) == {"a": 1}

    b2 = t.branch("keep")
    b2.merge(spark.createDataFrame([("b", 2)], "k string, v long"), key="k")
    t.publish("keep")
    with pytest.raises(ValueError, match="published"):
        t.abandon("keep")
    assert _state(t) == {"a": 1, "b": 2}


class _CrashAfterCas(LocalManifestStore):
    """Raises on the first write after a manifest CAS, once armed: a
    crash right after a commit landed."""

    armed = crashing = False

    def replace_if_version(self, *a, **k):
        super().replace_if_version(*a, **k)
        self.crashing, self.armed = self.armed, False

    def write_json(self, path, obj):
        if self.crashing:
            self.crashing = False
            raise OSError("simulated crash after the CAS")
        super().write_json(path, obj)


def test_abandon_refuses_a_branch_whose_publish_crashed_after_its_cas(
    spark, tmp_path
):
    """A branch is published once the source's manifest says so: after
    the publish CAS lands the source reads the branch's files, so
    abandoning the branch (deleting its directory) must be refused even
    though the publish crashed before it returned."""
    store = _CrashAfterCas()
    t = Table(spark, str(tmp_path / "t"), store=store)
    t.merge(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"),
        key="k", num_buckets=4, vacuum=False,
    )
    b = t.branch("load")
    b.merge(spark.createDataFrame([("b", 20), ("c", 3)], "k string, v long"), key="k")
    want = _state(b)

    store.armed = True
    with pytest.raises(OSError, match="simulated crash"):
        t.publish("load")
    with pytest.raises(ValueError, match="published"):
        t.abandon("load")
    assert t.branches() == ["load"]
    assert _state(t) == want


def test_vacuum_ownership_across_publish(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1), ("b", 2)])
    b = t.branch("v")
    b.merge(spark.createDataFrame([("a", 10)], "k string, v long"), key="k")
    t.publish("v")

    # aggressive source vacuum: may collect the retired pre-publish
    # bucket file, must NEVER touch the branch subtree the published
    # manifest references
    branch_files = set(
        glob.glob(str(tmp_path / "t" / "_branches" / "**" / "*.parquet"),
                  recursive=True)
    )
    assert branch_files
    sink.vacuum_keyed_table(str(tmp_path / "t"), retention_s=0)
    assert branch_files == set(
        glob.glob(str(tmp_path / "t" / "_branches" / "**" / "*.parquet"),
                  recursive=True)
    )
    assert _state(t) == {"a": 10, "b": 2}


def test_adopt_reowns_then_branch_removable(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1), ("b", 2)])
    b = t.branch("load")
    b.merge(spark.createDataFrame([("c", 3)], "k string, v long"), key="k")
    b.merge_mor(spark.createDataFrame([("b", 20)], "k string, v long"), key="k")
    t.publish("load")
    # adoption copies ONLY the foreign refs (base + MOR delta), then the
    # branch directory can disappear; a second adopt is a no-op
    n = t.adopt_foreign()
    assert n > 0
    assert t.adopt_foreign() == 0
    import shutil

    shutil.rmtree(tmp_path / "t" / "_branches")
    assert _state(t) == {"a": 1, "b": 20, "c": 3}
    ops = [h["operation"] for h in t.history_detail()]
    assert "adopt_foreign" in ops
    # no reference escapes the table directory anymore
    m = sink._load_manifest(str(tmp_path / "t"))
    refs = [f for fs in m["buckets"].values() for f in fs]
    refs += [e["path"] for es in m.get("deltas", {}).values() for e in es]
    assert all(not os.path.isabs(f) for f in refs)


def test_layout_divergence_refused(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1), ("b", 2)])
    b = t.branch("rb")
    sink.rebucket_keyed_table(spark, b.path, 2)
    with pytest.raises(ValueError, match="bucket layout"):
        t.publish("rb")


def test_publish_a_branch_of_a_grown_auto_sized_table(spark, tmp_path, monkeypatch):
    """An auto-sized table (no num_buckets=) doubles its layout in the
    manifest.  A branch of the grown table, merged on, publishes: the
    branch's layout is the source's, and the source lands with the
    branch's content."""

    def rows(data):
        return spark.createDataFrame(data, "k string, v long")

    src = str(tmp_path / "t")
    sink.keyed_overwrite_parquet(
        spark, rows([(f"k{i}", i) for i in range(200)]), src, key="k",
        vacuum=False,
    )
    live = sum(
        os.path.getsize(os.path.join(src, f))
        for f in sink._live_files(sink._load_manifest(src))
    )
    with monkeypatch.context() as mp:
        mp.setattr(sink, "TARGET_BUCKET_BYTES", -(-live // 2))
        sink.keyed_overwrite_parquet(spark, rows([("k1", -1)]), src, key="k")
    assert sink._load_manifest(src)["num_buckets"] == 2

    branch = sink.wap_begin(src, "load")
    sink.keyed_overwrite_parquet(
        spark, rows([("k2", -2), ("new", 7)]), branch, key="k", vacuum=False
    )
    sink.wap_publish(spark, src, "load")
    want = {f"k{i}": i for i in range(200)}
    want.update(k1=-1, k2=-2, new=7)
    got = sink.read_keyed_table(spark, src).collect()
    assert {r["k"]: r["v"] for r in got} == want and len(got) == len(want)
    assert sink._load_manifest(src)["num_buckets"] == 2


def test_mor_seq_safety_after_publish(spark, tmp_path):
    """Branch MOR commits push its version past base+1; publish
    fast-forwards the source to the BRANCH's version so the source's
    next delta seq stays above every published one."""
    t = _table(spark, tmp_path, [("a", 1)])
    b = t.branch("m")
    b.merge_mor(spark.createDataFrame([("a", 2)], "k string, v long"), key="k")
    b.merge_mor(spark.createDataFrame([("a", 3)], "k string, v long"), key="k")
    res = t.publish("m")
    assert res["version"] == 3 and t.version() == 3
    # a post-publish MOR merge on the source must win precedence
    t.merge_mor(spark.createDataFrame([("a", 4)], "k string, v long"), key="k")
    assert _state(t) == {"a": 4}


def test_branch_name_traversal_rejected(tmp_path):
    """'.'/'..' (and any non-allowlisted name) must never resolve a
    branch path into the source table itself: os.path.join(src,
    '_branches', '..') normalizes to src, so a clone/delete aimed there
    would hit the SOURCE (r7 advisor finding)."""
    import pytest as _pytest

    from airflow_postgres_etl_spark import sink as sink_mod

    src = str(tmp_path / "t")
    for bad in ("..", ".", "../x", "a/b", "_hidden", "", "a b", "a\nb"):
        with _pytest.raises(ValueError, match="invalid branch name"):
            sink_mod._branch_path(src, bad)
    # normal names still resolve under the branch subtree
    for ok in ("audit-2026", "r8.main", "B_1"):
        p = sink_mod._branch_path(src, ok)
        assert p.startswith(src + "/") and "_branches" in p


def test_publish_carries_the_audited_snapshot(spark, tmp_path):
    """Publish re-points the branch's snapshot as audited: its recorded
    schema, row counts and column mapping travel with its files, so the
    source reads the branch's column names, infers no schema and opens
    no parquet footer to rebuild row counts."""
    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([(f"k{i}", i) for i in range(16)], "k string, v long"),
        key="k", num_buckets=8, vacuum=False,
    )
    b = t.branch("audit")
    b.merge(spark.createDataFrame([("k1", 10)], "k string, v long"), key="k")
    sink.rename_column(spark, b.path, "v", "value")
    audited = sink._load_manifest(b.path)

    class OpenSpyStore(LocalManifestStore):
        def __init__(self) -> None:
            self.opened: list[str] = []

        def open_input(self, path: str):
            self.opened.append(path)
            return path

    spy = OpenSpyStore()
    Table(spark, t.path, store=spy).publish("audit")
    assert spy.opened == []

    published = sink._load_manifest(t.path)
    assert published["schema"] == audited["schema"]
    assert published["column_mapping"] == {"value": "v"}
    assert sorted(t.read().columns) == sorted(b.read().columns) == ["k", "value"]
    got = {r["k"]: r["value"] for r in t.read().collect()}
    assert got == {**{f"k{i}": i for i in range(16)}, "k1": 10}
