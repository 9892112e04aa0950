"""Shallow clone of the keyed table (``sink.clone_keyed_table`` /
``Table.clone``): a metadata-only copy referencing the source's files in
place, diverging copy-on-write.

The safety property under test is OWNERSHIP: a clone must never delete or
mutate source data (nor the reverse), no matter what sequence of merges,
vacuums, restores, or further clones runs on either side.
"""

from __future__ import annotations

import glob
import os

import pytest

from airflow_postgres_etl_spark.sink import (
    clone_keyed_table,
    keyed_merge_mor,
    keyed_overwrite_parquet,
    read_keyed_table,
    table_version,
    vacuum_keyed_table,
)
from airflow_postgres_etl_spark.storage import LocalManifestStore


def _mk(spark, tmp_path, name="src", rows=None, **kw):
    rows = rows or [
        ("k1", 1, "a"),
        ("k2", 2, "a"),
        ("k3", 3, "b"),
        ("k4", 4, "b"),
        ("k5", 5, "c"),
    ]
    target = str(tmp_path / name)
    df = spark.createDataFrame(rows, ["oid__id", "v", "tag"])
    keyed_overwrite_parquet(spark, df, target, num_buckets=4, **kw)
    return target


def _rows(spark, target, **kw):
    df = read_keyed_table(spark, target, **kw)
    return {tuple(r[c] for c in sorted(df.columns)) for r in df.collect()}


def _parquet_files(root):
    return sorted(
        glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )


def test_clone_is_metadata_only_and_reads_equal(spark, tmp_path):
    src = _mk(spark, tmp_path)
    dest = str(tmp_path / "dest")
    v = clone_keyed_table(src, dest)
    assert v == table_version(dest) == table_version(src)
    assert _rows(spark, dest) == _rows(spark, src)
    # the clone directory holds ZERO data files — pure metadata
    assert _parquet_files(dest) == []


def test_clone_refuses_existing_table(spark, tmp_path):
    src = _mk(spark, tmp_path)
    other = _mk(spark, tmp_path, name="other")
    with pytest.raises(ValueError, match="already a keyed table"):
        clone_keyed_table(src, other)


def test_clone_diverges_cow_and_source_is_untouched(spark, tmp_path):
    src = _mk(spark, tmp_path)
    before_files = _parquet_files(src)
    before_rows = _rows(spark, src)
    before_version = table_version(src)
    dest = str(tmp_path / "dest")
    clone_keyed_table(src, dest)

    # merge on the CLONE: replaces k1, adds k9
    batch = spark.createDataFrame(
        [("k1", 100, "z"), ("k9", 9, "z")], ["oid__id", "v", "tag"]
    )
    keyed_overwrite_parquet(spark, batch, dest, num_buckets=4)
    assert _rows(spark, dest) == (
        before_rows - {("k1", "a", 1)} | {("k1", "z", 100), ("k9", "z", 9)}
    )
    # source: same rows, same version, byte-identical file list
    assert _rows(spark, src) == before_rows
    assert table_version(src) == before_version
    assert _parquet_files(src) == before_files
    # the clone's divergent data lives under the clone
    assert len(_parquet_files(dest)) > 0


def test_source_merge_does_not_move_clone_snapshot(spark, tmp_path):
    src = _mk(spark, tmp_path)
    dest = str(tmp_path / "dest")
    clone_keyed_table(src, dest)
    snapshot = _rows(spark, src)
    # source advances (vacuum deferred so the clone's references survive)
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([("k2", 222, "q")], ["oid__id", "v", "tag"]),
        src,
        num_buckets=4,
        vacuum=False,
    )
    assert ("k2", "q", 222) in _rows(spark, src)
    # clone still reads the snapshot it was taken from
    assert _rows(spark, dest) == snapshot


def test_clone_vacuum_never_deletes_source_files(spark, tmp_path):
    src = _mk(spark, tmp_path)
    src_files = _parquet_files(src)
    dest = str(tmp_path / "dest")
    clone_keyed_table(src, dest)
    # diverge every bucket so ALL foreign references get retired
    batch = spark.createDataFrame(
        [(f"k{i}", i * 10, "n") for i in range(1, 6)], ["oid__id", "v", "tag"]
    )
    keyed_overwrite_parquet(spark, batch, dest, num_buckets=4, vacuum=False)
    removed = vacuum_keyed_table(dest, retention_s=0)
    assert removed == 0  # nothing foreign is ever collected
    assert _parquet_files(src) == src_files
    assert _rows(spark, src) == {
        ("k1", "a", 1),
        ("k2", "a", 2),
        ("k3", "b", 3),
        ("k4", "b", 4),
        ("k5", "c", 5),
    }


def test_clone_carries_mor_deltas_with_precedence(spark, tmp_path):
    src = _mk(spark, tmp_path)
    # pending MOR delta on the source: k1 -> 11 at a higher seq
    keyed_merge_mor(
        spark,
        spark.createDataFrame([("k1", 11, "m")], ["oid__id", "v", "tag"]),
        src,
    )
    dest = str(tmp_path / "dest")
    clone_keyed_table(src, dest)
    assert ("k1", "m", 11) in _rows(spark, dest)
    # a NEW merge on the clone must beat the cloned delta's seq
    keyed_merge_mor(
        spark,
        spark.createDataFrame([("k1", 999, "w")], ["oid__id", "v", "tag"]),
        dest,
    )
    got = _rows(spark, dest)
    assert ("k1", "w", 999) in got
    assert ("k1", "m", 11) not in got


def test_clone_carries_skipping_stats_and_where_reads(spark, tmp_path):
    src = _mk(spark, tmp_path, stats_cols=["v"])
    dest = str(tmp_path / "dest")
    clone_keyed_table(src, dest)
    assert _rows(spark, dest, where=("v", 4, 5)) == {
        ("k4", "b", 4),
        ("k5", "c", 5),
    }


def test_clone_of_clone_references_origin(spark, tmp_path):
    src = _mk(spark, tmp_path)
    c1 = str(tmp_path / "c1")
    c2 = str(tmp_path / "c2")
    clone_keyed_table(src, c1)
    clone_keyed_table(c1, c2)
    assert _rows(spark, c2) == _rows(spark, src)
    assert _parquet_files(c1) == [] and _parquet_files(c2) == []
    import json

    m2 = json.load(open(os.path.join(c2, "_manifest.json")))
    src_abs = os.path.abspath(src)
    for fs in m2["buckets"].values():
        for f in fs:
            # entries point at the true owner, not the intermediate clone
            assert f.startswith(src_abs + os.sep)


def test_table_facade_clone(spark, tmp_path):
    from airflow_postgres_etl_spark.api import Engine

    src = _mk(spark, tmp_path)
    t = Engine(spark).table(src)
    c = t.clone(str(tmp_path / "c"))
    assert c.read().count() == 5
    c.merge(
        spark.createDataFrame([("k9", 9, "z")], ["oid__id", "v", "tag"]),
        num_buckets=4,
    )
    assert c.read().count() == 6 and t.read().count() == 5


class OpenSpyStore(LocalManifestStore):
    """Local store that records every parquet footer the sink opens."""

    def __init__(self) -> None:
        self.opened: list[str] = []

    def open_input(self, path: str):
        self.opened.append(path)
        return path


def test_clone_opens_no_footer(spark, tmp_path):
    """One spec write + one manifest commit: the source's per-file row
    counts carry over under the re-pointed keys, so cloning opens no
    parquet footer however many files the table has."""
    from airflow_postgres_etl_spark import sink

    src = _mk(spark, tmp_path)
    dest = str(tmp_path / "dest")
    spy = OpenSpyStore()
    clone_keyed_table(src, dest, store=spy)
    assert spy.opened == []
    src_rows = sink._load_manifest(src)["rows"]
    assert sink._load_manifest(dest)["rows"] == {
        os.path.join(os.path.abspath(src), f): n for f, n in src_rows.items()
    }
