"""Unit + end-to-end tests for the ingest chain (SURVEY §2.2 T1–T13),
pinning the verified edge semantics of the reference:

- outer-explode keeps empty-array rows (T5);
- keep-last dedup by file order (T3 intended semantics);
- epoch ms vs s units (T7/T8);
- sentinel-string → NULL (T12);
- reserved-word columns ``from``/``to`` survive the pipeline;
- parser handles embedded tabs/apostrophes/quotes (T4).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airflow_postgres_etl_spark.operators.ingest import (
    build_events,
    build_tracking,
    cast_epoch_seconds,
    dedup_keep_last,
    explode_events,
    filter_after_high_water_mark,
    flatten_event_struct,
    sentinels_to_null,
)
from airflow_postgres_etl_spark.schemas import TRACKING_RAW
from airflow_postgres_etl_spark.sources.csv_source import list_files, read_tracking_csv

from .fixtures.gen_raw import generate


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw_csv")
    generate(str(d))
    return str(d)


@pytest.fixture(scope="module")
def raw(spark, raw_dir):
    return read_tracking_csv(spark, raw_dir + "/*.csv")


def test_scan_schema_and_lineage(spark, raw, raw_dir):
    assert [f.name for f in raw.schema.fields] == [
        "Op", "oid__id", "createdAt", "updatedAt", "lastSyncTracker",
        "array_trackingEvents", "fileName", "__file_pos",
    ]
    names = {r.fileName for r in raw.select("fileName").distinct().collect()}
    assert names == set(list_files(raw_dir))
    assert raw.count() == 6 * 62  # 60 rows + 2 dup rows per file


def test_high_water_mark_filter(spark, raw, raw_dir):
    files = list_files(raw_dir)
    hwm = files[2]
    kept = filter_after_high_water_mark(raw, hwm)
    assert {r.fileName for r in kept.select("fileName").distinct().collect()} == set(
        files[3:]
    )
    assert filter_after_high_water_mark(raw, None).count() == raw.count()


def test_dedup_keep_last(spark):
    df = spark.createDataFrame(
        [("k1", 1, "a.csv"), ("k1", 2, "b.csv"), ("k2", 3, "a.csv")],
        ["oid__id", "v", "fileName"],
    )
    out = dedup_keep_last(df)
    got = {(r.oid__id, r.v) for r in out.collect()}
    assert got == {("k1", 2), ("k2", 3)}


def test_dedup_keep_last_intra_file(spark, tmp_path):
    """Duplicate keys within ONE file: the later row in file order must win,
    deterministically (ADVICE r1: fileName alone ties intra-file)."""
    p = tmp_path / "20240101-000000000.csv"
    header = "Op,oid__id,createdAt,updatedAt,lastSyncTracker,array_trackingEvents"
    body = "\n".join(
        ["I,k1,1,1,1,[]", "U,k1,2,2,2,[]", "U,k1,3,3,3,[]", "I,k2,4,4,4,[]"]
    )
    p.write_text(header + "\n" + body + "\n")
    raw = read_tracking_csv(spark, str(tmp_path) + "/*.csv")
    for _ in range(3):  # stable across repeated planning
        got = {(r.oid__id, r.Op) for r in dedup_keep_last(raw).collect()}
        assert got == {("k1", "U"), ("k2", "I")}
        last_k1 = [r for r in dedup_keep_last(raw).collect() if r.oid__id == "k1"]
        assert last_k1[0].createdAt == 3


def test_dedup_strategies_differential_equal(spark, tmp_path):
    """VERDICT r8 task 4: the max_by aggregate and the row_number window
    pick the SAME survivor on every input with a total (order, pos)
    ordering — across files, within one file (tie on fileName broken by
    scan position), and under a redelivery storm on one key."""
    from airflow_postgres_etl_spark.operators.ingest import dedup_keep_last

    # intra-file ties through the real CSV source (scan-position column)
    p = tmp_path / "20240101-000000000.csv"
    header = "Op,oid__id,createdAt,updatedAt,lastSyncTracker,array_trackingEvents"
    body = "\n".join(
        ["I,k1,1,1,1,[]", "U,k1,2,2,2,[]", "U,k1,3,3,3,[]", "I,k2,4,4,4,[]"]
    )
    p.write_text(header + "\n" + body + "\n")
    q = tmp_path / "20240102-000000000.csv"
    q.write_text(header + "\n" + "U,k2,9,9,9,[]\nD,k3,1,1,1,[]\n")
    raw = read_tracking_csv(spark, str(tmp_path) + "/*.csv")
    rows = lambda d: sorted(map(tuple, d.collect()))
    a = dedup_keep_last(raw, strategy="agg")
    w = dedup_keep_last(raw, strategy="window")
    assert a.columns == w.columns
    assert rows(a) == rows(w)
    assert {(r.oid__id, r.createdAt) for r in a.collect()} == {
        ("k1", 3), ("k2", 9), ("k3", 1)
    }

    # redelivery storm: one key duplicated 5000×, unique (file, pos)
    storm = spark.range(5000).selectExpr(
        "'hot' as oid__id",
        "id as v",
        "concat('f', lpad(cast(id % 7 as string), 3, '0')) as fileName",
        "id as __file_pos",
    ).unionByName(
        spark.range(50).selectExpr(
            "concat('c', id) as oid__id", "id as v",
            "'f000' as fileName", "id as __file_pos",
        )
    ).repartition(16)
    sa = dedup_keep_last(storm, strategy="agg")
    sw = dedup_keep_last(storm, strategy="window")
    assert rows(sa) == rows(sw)
    hot = [r for r in sa.collect() if r.oid__id == "hot"]
    assert hot[0].fileName == "f006" and hot[0]["__file_pos"] == 4997

    with pytest.raises(ValueError, match="unknown dedup strategy"):
        dedup_keep_last(storm, strategy="nope")


def test_parser_edge_cases(spark):
    rows = [
        # empty array
        ("a", "[]"),
        # None status, apostrophe + tab + double-quote descriptions
        (
            "b",
            repr(
                [
                    {
                        "createdAt": {"$date": 1_693_000_000_000},
                        "trackingCode": "tc1",
                        "status": None,
                        "description": "d'entrega \"ok\"\tcom tab",
                        "trackerType": "tt",
                        "from": "f1",
                        "to": "t1",
                    }
                ]
            ),
        ),
        # null / garbage
        ("c", None),
        ("d", "not a list"),
    ]
    df = spark.createDataFrame(rows, ["oid__id", "array_trackingEvents"])
    out = explode_events(df)
    flat = flatten_event_struct(out)
    by_id = {r["oid__id"]: r for r in flat.collect()}
    assert len(by_id) == 4  # every row kept (outer explode)
    assert by_id["a"]["trackingCode"] is None
    b = by_id["b"]
    assert b["status"] is None
    assert b["description"] == "d'entrega \"ok\"\tcom tab"
    assert b["from"] == "f1" and b["to"] == "t1"
    assert b["eventCreatedAt"] == dt.datetime(2023, 8, 25, 21, 46, 40)
    assert by_id["c"]["trackingCode"] is None
    assert by_id["d"]["trackingCode"] is None


def test_epoch_seconds_cast(spark):
    df = spark.createDataFrame([(1_693_000_000, 5)], ["createdAt", "other"])
    out = cast_epoch_seconds(df, ["createdAt", "missing_col"])
    row = out.collect()[0]
    assert row["createdAt"] == dt.datetime(2023, 8, 25, 21, 46, 40)
    assert row["other"] == 5


def test_sentinels_to_null(spark):
    df = spark.createDataFrame(
        [("NaN", "x"), ("None", "NaT"), ("", "ok")], ["a", "b"]
    )
    out = sentinels_to_null(df)
    rows = out.collect()
    assert [r["a"] for r in rows] == [None, None, None]
    assert [r["b"] for r in rows] == ["x", None, "ok"]


def test_build_tracking_end_to_end(spark, raw):
    out = build_tracking(raw)
    assert [f.name for f in out.schema.fields] == [
        "oid__id", "Op", "createdAt", "updatedAt", "lastSyncTracker",
        "uploadDate", "fileName",
    ]
    # exactly one row per key (keep-last dedup)
    assert out.count() == out.select("oid__id").distinct().count()
    # keep-last: for a key present in multiple files the surviving row comes
    # from the lexicographically greatest file
    multi = (
        raw.groupBy("oid__id")
        .agg(F.countDistinct("fileName").alias("nf"), F.max("fileName").alias("mx"))
        .filter(F.col("nf") > 1)
    )
    joined = out.join(multi, "oid__id").filter(F.col("fileName") != F.col("mx"))
    assert joined.count() == 0
    # timestamps materialized
    assert dict(out.dtypes)["createdAt"] == "timestamp"


def test_build_tracking_keeps_one_row_per_raw_sentinel_key(spark, raw):
    """After the keep-last dedup the frame holds one row per raw
    ``oid__id``, so ``build_tracking`` runs no final ``distinct``: rows
    whose keys T12 maps to NULL (``'None'``, ``'NaN'``, ``'NaT'``) stay
    one row per raw key even when every other column agrees.  Without
    the dedup (``keep_last=False``) T13's ``distinct`` still merges
    them."""
    row = raw.orderBy("fileName", "oid__id").first().asDict()
    same = spark.createDataFrame(
        [{**row, "oid__id": k} for k in ("None", "NaN", "NaT")], raw.schema
    )
    kept = build_tracking(same).collect()
    assert [r["oid__id"] for r in kept] == [None, None, None]
    assert len({tuple(r) for r in kept}) == 1
    assert build_tracking(same, keep_last=False).count() == 1


def test_build_events_end_to_end(spark, raw):
    out = build_events(raw)
    assert [f.name for f in out.schema.fields] == [
        "oid__id", "trackingCode", "status", "description", "trackerType",
        "from", "to", "eventCreatedAt", "uploadDate", "fileName",
    ]
    # empty-array rows survive as NULL-event rows
    empties = out.filter(F.col("trackingCode").isNull())
    assert empties.count() >= 1
    # the 88-event row fully exploded: that oid's event count >= 88
    counts = out.groupBy("oid__id").count()
    assert counts.agg(F.max("count")).collect()[0][0] >= 88
    # child rows only for surviving parents (keep-last)
    parents = build_tracking(raw).select("oid__id", "fileName")
    orphan = out.join(parents, ["oid__id", "fileName"], "left_anti")
    assert orphan.count() == 0


def test_ingest_idempotent_rerun(spark, raw):
    a = build_events(raw).drop("uploadDate")
    b = build_events(raw).drop("uploadDate")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
