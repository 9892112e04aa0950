"""CDC apply: ``sink.apply_changes`` (DLT APPLY CHANGES INTO, SCD1)
and ``operators.scd.scd2_from_changes`` (STORED AS SCD TYPE 2).

Ground truth is sequential replay: applying the feed one change at a
time in sequence order to a dict (SCD1) or via ``scd2_merge`` (SCD2)
must equal the one-shot operator — including out-of-order delivery,
redelivered batches, stale late changes, deletes of absent keys, and
redundant-change suppression.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_postgres_etl_spark.sink import (
    CDC_SEQ_COL,
    apply_changes,
    keyed_overwrite_parquet,
    read_keyed_table,
    table_version,
)
from airflow_postgres_etl_spark.operators.scd import (
    scd2_from_changes,
    scd2_init,
    scd2_merge,
)

CH_COLS = "k string, seq bigint, op string, v bigint"


def _apply(spark, target, rows, **kw):
    df = spark.createDataFrame(rows, CH_COLS)
    return apply_changes(spark, target, df, "seq", key="k", num_buckets=4, **kw)


def _state(spark, target):
    df = read_keyed_table(spark, target)
    return {r["k"]: (r["v"], r[CDC_SEQ_COL]) for r in df.collect()}


def test_bootstrap_net_resolution_and_delete_drop(spark, tmp_path):
    target = str(tmp_path / "t")
    res = _apply(
        spark,
        target,
        [
            ("a", 1, "I", 10),
            ("a", 3, "U", 30),  # wins over seq 1
            ("b", 1, "I", 11),
            ("c", 1, "I", 12),
            ("c", 2, "D", None),  # net delete: never lands, but remembered
        ],
    )
    assert res == {"upserted": 2, "deleted": 1, "ignored": 0}
    assert _state(spark, target) == {"a": (30, 3), "b": (11, 1)}
    # the bootstrap-dropped delete left sequence memory: c's out-of-order
    # insert (seq 1 < 2) must not resurrect it
    res = _apply(spark, target, [("c", 1, "I", 12)])
    assert res == {"upserted": 0, "deleted": 0, "ignored": 1}
    assert _state(spark, target) == {"a": (30, 3), "b": (11, 1)}


def test_cross_batch_stale_changes_ignored(spark, tmp_path):
    target = str(tmp_path / "t")
    _apply(spark, target, [("a", 5, "I", 50), ("b", 5, "I", 51)])
    res = _apply(
        spark,
        target,
        [
            ("a", 3, "U", 999),  # stale: older than stored seq 5
            ("b", 7, "U", 71),  # fresh
            ("c", 1, "I", 12),  # new key
            ("z", 2, "D", None),  # delete of absent key: recorded, no rows
        ],
    )
    assert res == {"upserted": 2, "deleted": 1, "ignored": 1}
    assert _state(spark, target) == {"a": (50, 5), "b": (71, 7), "c": (12, 1)}


def test_delete_tombstones_and_reinsert(spark, tmp_path):
    target = str(tmp_path / "t")
    _apply(spark, target, [("a", 1, "I", 10), ("b", 1, "I", 11)])
    res = _apply(spark, target, [("a", 2, "D", None)])
    assert res == {"upserted": 0, "deleted": 1, "ignored": 0}
    assert _state(spark, target) == {"b": (11, 1)}
    # the delete remembered its sequence: an out-of-order EARLIER change
    # cannot resurrect the key ...
    res = _apply(spark, target, [("a", 1, "I", 99)])
    assert res == {"upserted": 0, "deleted": 0, "ignored": 1}
    assert _state(spark, target) == {"b": (11, 1)}
    # ... but a genuinely LATER change re-inserts
    res = _apply(spark, target, [("a", 3, "I", 99)])
    assert res == {"upserted": 1, "deleted": 0, "ignored": 0}
    assert _state(spark, target) == {"a": (99, 3), "b": (11, 1)}


def test_order_independence_across_batchings(spark, tmp_path):
    """THE CDC invariant: any permutation of the feed, split into any
    batches, converges to the same final table."""
    import itertools

    feed = [
        ("a", 1, "I", 10),
        ("a", 2, "D", None),
        ("a", 3, "I", 30),
        ("b", 1, "I", 11),
        ("b", 4, "D", None),
    ]
    expect = {"a": (30, 3)}
    for i, perm in enumerate(itertools.permutations(range(5))):
        if i % 12:  # 10 of 120 permutations: keep runtime bounded
            continue
        rows = [feed[p] for p in perm]
        target = str(tmp_path / f"t{i}")
        _apply(spark, target, rows[:2])
        _apply(spark, target, rows[2:4])
        _apply(spark, target, rows[4:])
        assert _state(spark, target) == expect, f"perm {perm}"


def test_gc_tombstones_expires_delete_memory(spark, tmp_path):
    from airflow_postgres_etl_spark.sink import gc_cdc_tombstones

    target = str(tmp_path / "t")
    _apply(spark, target, [("a", 1, "I", 10), ("b", 1, "I", 11)])
    _apply(spark, target, [("a", 5, "D", None), ("b", 9, "D", None)])
    assert gc_cdc_tombstones(spark, target, 6) == 1  # a@5 expires
    # a's memory is gone: the stale insert now lands (the documented
    # GC contract — size the watermark to the feed's max disorder)
    res = _apply(spark, target, [("a", 2, "I", 20), ("b", 2, "I", 21)])
    assert res == {"upserted": 1, "deleted": 0, "ignored": 1}
    assert _state(spark, target) == {"a": (20, 2)}


def test_redelivered_batch_is_noop(spark, tmp_path):
    target = str(tmp_path / "t")
    batch = [("a", 1, "I", 10), ("b", 2, "I", 11), ("a", 3, "U", 30)]
    _apply(spark, target, batch)
    v = table_version(target)
    res = _apply(spark, target, batch)  # at-least-once redelivery
    assert res == {"upserted": 0, "deleted": 0, "ignored": 2}
    assert table_version(target) == v  # no version churn on a no-op
    assert _state(spark, target) == {"a": (30, 3), "b": (11, 2)}


def test_duplicate_key_seq_rejected(spark, tmp_path):
    target = str(tmp_path / "t")
    with pytest.raises(ValueError, match="duplicate"):
        _apply(spark, target, [("a", 1, "I", 10), ("a", 1, "U", 20)])


def test_duplicate_key_seq_at_a_losing_seq_rejected(spark, tmp_path):
    """A duplicate pair is ambiguous at any sequence, not only at the
    key's winning one: (a, 1) twice under a winning (a, 2) is rejected
    too, before anything commits."""
    target = str(tmp_path / "t")
    with pytest.raises(ValueError, match="duplicate"):
        _apply(
            spark,
            target,
            [("a", 1, "I", 10), ("a", 1, "U", 11), ("a", 2, "U", 20)],
        )
    assert table_version(target) is None


def test_seeded_rows_without_seq_lose_to_any_change(spark, tmp_path):
    target = str(tmp_path / "t")
    seed = spark.createDataFrame([("a", 100), ("b", 101)], ["k", "v"])
    keyed_overwrite_parquet(spark, seed, target, key="k", num_buckets=4)
    res = _apply(spark, target, [("a", 1, "U", 10)])
    assert res == {"upserted": 1, "deleted": 0, "ignored": 0}
    assert _state(spark, target) == {"a": (10, 1), "b": (101, None)}


def test_apply_equals_sequential_replay(spark, tmp_path):
    """One-shot apply == change-at-a-time replay into a dict, under an
    out-of-order interleaving split across two batches."""
    import random

    rng = random.Random(7)
    feed = []
    for k in "abcdefgh":
        for s in range(1, 6):
            op = "D" if (ord(k) + s) % 7 == 0 else "U"
            feed.append((k, s, op, ord(k) * 100 + s))
    rng.shuffle(feed)
    cut = len(feed) // 2
    b1, b2 = feed[:cut], feed[cut:]

    target = str(tmp_path / "t")
    _apply(spark, target, b1)
    _apply(spark, target, b2)

    truth = {}
    for k, s, op, v in sorted(feed, key=lambda r: (r[0], r[1])):
        if op == "D":
            truth.pop(k, None)
        else:
            truth[k] = (v, s)
    # replay truth keeps the seq of the LAST change; a delete mid-stream
    # followed by an upsert re-inserts — both covered by the feed shape
    assert _state(spark, target) == truth


# ---------------------------------------------------------------------------
# SCD2 from changes
# ---------------------------------------------------------------------------


def _hist_rows(df):
    return sorted(
        (
            (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in df.collect()
        ),
        key=lambda t: (t[0], t[2]),
    )


def test_scd2_intervals_and_suppression(spark):
    feed = spark.createDataFrame(
        [
            ("a", 1, "U", "x"),
            ("a", 2, "U", "x"),  # redundant: suppressed
            ("a", 3, "U", "y"),  # change
            ("a", 4, "D", None),  # delete closes
            ("a", 5, "D", None),  # delete-after-delete: suppressed
            ("a", 6, "U", "y"),  # reopen after delete (same value!)
            ("b", 1, "U", "p"),  # single open version
            ("c", 1, "U", "q"),
            ("c", 2, "D", None),  # deleted last: no current version
        ],
        ["k", "seq", "op", "v"],
    )
    hist = scd2_from_changes(feed, "k", "seq", ["v"], op_col="op")
    assert _hist_rows(hist) == [
        ("a", "x", 1, 3, False),
        ("a", "y", 3, 4, False),
        ("a", "y", 6, None, True),
        ("b", "p", 1, None, True),
        ("c", "q", 1, 2, False),
    ]


def test_scd2_null_transitions_tracked(spark):
    feed = spark.createDataFrame(
        [("a", 1, "U", None), ("a", 2, "U", "x"), ("a", 3, "U", None)],
        "k string, seq int, op string, v string",
    )
    hist = scd2_from_changes(feed, "k", "seq", ["v"], op_col="op")
    assert _hist_rows(hist) == [
        ("a", None, 1, 2, False),
        ("a", "x", 2, 3, False),
        ("a", None, 3, None, True),
    ]


def test_scd2_duplicate_seq_rejected(spark):
    feed = spark.createDataFrame(
        [("a", 1, "U", "x"), ("a", 1, "U", "y")], ["k", "seq", "op", "v"]
    )
    with pytest.raises(ValueError, match="duplicate"):
        scd2_from_changes(feed, "k", "seq", ["v"], op_col="op").collect()


def test_scd2_from_changes_equals_merge_replay(spark):
    """The one-pass builder == replaying snapshots through scd2_merge
    (the incremental path), on an upsert-only feed."""
    snaps = [
        ("2020-01-01 00:00:00", {"a": "x", "b": "p"}),
        ("2021-01-01 00:00:00", {"a": "x", "b": "q"}),
        ("2022-01-01 00:00:00", {"a": "y", "b": "q"}),
    ]

    def snap_df(ts, m):
        return spark.createDataFrame(
            [(k, v, ts) for k, v in m.items()], ["k", "v", "uploadDate"]
        ).withColumn("uploadDate", F.col("uploadDate").cast("timestamp"))

    hist = scd2_init(snap_df(*snaps[0]))
    for ts, m in snaps[1:]:
        hist = scd2_merge(hist, snap_df(ts, m), "k", ["v"])

    feed = None
    for ts, m in snaps:
        part = snap_df(ts, m).withColumnRenamed("uploadDate", "seq")
        feed = part if feed is None else feed.unionByName(part)
    built = scd2_from_changes(feed, "k", "seq", ["v"])

    def norm(df):
        return sorted(
            (r["k"], r["v"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
            for r in df.select("k", "v", "valid_from", "valid_to", "is_current").collect()
        )

    assert norm(built) == norm(hist)


# ---------------------------------------------------------------------------
# Streaming apply
# ---------------------------------------------------------------------------


def test_stream_apply_changes_effectively_once(spark, tmp_path):
    """Two micro-batches stream in; a restarted query over the same
    source (plus one stale late file) changes nothing — the sequence
    guard makes at-least-once delivery effectively-once."""
    import json
    import os

    from airflow_postgres_etl_spark.streaming.cdc_stream import (
        stream_apply_changes,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "t")
    schema = "k string, seq long, op string, v long"

    def drop(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    drop(
        "b1.json",
        [
            {"k": "a", "seq": 1, "op": "I", "v": 10},
            {"k": "b", "seq": 1, "op": "I", "v": 11},
        ],
    )
    drop(
        "b2.json",
        [
            {"k": "a", "seq": 3, "op": "U", "v": 30},
            {"k": "b", "seq": 2, "op": "D", "v": None},
        ],
    )
    q = stream_apply_changes(
        spark, str(src), target, ckpt, schema, "seq", key="k", num_buckets=4,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert _state(spark, target) == {"a": (30, 3)}
    v = table_version(target)

    # restart with a fresh checkpoint (full redelivery) + one stale file
    drop("late.json", [{"k": "a", "seq": 2, "op": "U", "v": 999}])
    q2 = stream_apply_changes(
        spark, str(src), target, str(tmp_path / "ckpt2"), schema, "seq",
        key="k", num_buckets=4,
    )
    q2.awaitTermination(120)
    assert _state(spark, target) == {"a": (30, 3)}
    assert table_version(target) == v  # every redelivered batch no-oped


def test_facade_apply_changes_and_gc(spark, tmp_path):
    """Engine/Table facade exposure: Table.apply_changes + gc, and
    Engine.stream_apply_changes parity with the module function."""
    from airflow_postgres_etl_spark.api import Engine

    t = Engine(spark).table(str(tmp_path / "t"))
    r = t.apply_changes(
        spark.createDataFrame([("a", 1, "I", 10)], CH_COLS),
        "seq", key="k", num_buckets=4,
    )
    assert r == {"upserted": 1, "deleted": 0, "ignored": 0}
    t.apply_changes(spark.createDataFrame([("a", 5, "D", None)], CH_COLS), "seq")
    assert t.gc_cdc_tombstones(9) == 1


def test_apply_changes_emits_cdf(spark, tmp_path):
    """CDC in, CDF out: the table's change feed between the pre- and
    post-apply versions reflects exactly the applied net changes —
    apply_changes composes with the existing table-format machinery."""
    from airflow_postgres_etl_spark.sink import table_changes

    target = str(tmp_path / "t")
    _apply(spark, target, [("a", 1, "I", 10), ("b", 1, "I", 11)])
    v0 = table_version(target)
    _apply(
        spark,
        target,
        [("a", 2, "U", 20), ("b", 2, "D", None), ("c", 2, "I", 12)],
    )
    v1 = table_version(target)
    ch = table_changes(spark, target, v0, v1)
    kinds = {(r["change_type"], r["k"]) for r in ch.collect()}
    assert kinds == {("update", "a"), ("delete", "b"), ("insert", "c")}


def test_apply_changes_rejects_missing_column(spark, tmp_path):
    """A feed whose payload drops an existing column must raise — on a
    replace-by-key table a narrower upsert row is silent data loss
    (same guard chain as keyed_merge_mor)."""
    target = str(tmp_path / "t")
    _apply(spark, target, [("a", 1, "I", 10)])
    narrow = spark.createDataFrame(
        [("a", 2, "U")], "k string, seq bigint, op string"
    )
    with pytest.raises(ValueError, match="missing existing column"):
        apply_changes(spark, target, narrow, "seq")


def test_delete_only_batch_keeps_the_table_schema(spark, tmp_path):
    """A batch of deletes only records no sequence column on a table
    written without one, so MOR and CoW merges of the table's own
    columns still land after it."""
    from airflow_postgres_etl_spark.sink import _load_manifest, keyed_merge_mor

    target = str(tmp_path / "t")
    cols = "oid__id string, v int, w double"
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(f"k{i}", i, float(i)) for i in range(6)], cols),
        target, key="oid__id", num_buckets=4,
    )
    schema = _load_manifest(target)["schema"]
    deletes = spark.createDataFrame(
        [("k2", 1, "D", None, None)],
        "oid__id string, seq bigint, op string, v int, w double",
    )
    res = apply_changes(spark, target, deletes, "seq")
    assert res == {"upserted": 0, "deleted": 1, "ignored": 0}
    assert _load_manifest(target)["schema"] == schema
    keyed_merge_mor(spark, spark.createDataFrame([("k1", 10, 0.5)], cols), target)
    keyed_overwrite_parquet(
        spark, spark.createDataFrame([("k3", 30, 3.5)], cols), target
    )
    got = read_keyed_table(spark, target)
    assert sorted(got.columns) == ["oid__id", "v", "w"]
    assert {r["oid__id"]: (r["v"], r["w"]) for r in got.collect()} == {
        "k0": (0, 0.0), "k1": (10, 0.5), "k3": (30, 3.5),
        "k4": (4, 4.0), "k5": (5, 5.0),
    }


# ---------------------------------------------------------------------------
# SCD2 maintained table (apply_changes_scd2)
# ---------------------------------------------------------------------------


SCD2_FEED = [
    ("a", 1, "U", "x"),
    ("a", 2, "U", "x"),   # redundant
    ("a", 3, "U", "y"),
    ("a", 4, "D", None),
    ("a", 6, "U", "y"),   # reopen after delete
    ("b", 1, "U", "p"),
    ("b", 5, "U", "q"),
    ("c", 1, "U", "q"),
    ("c", 2, "D", None),  # deleted last
]


def _hist_set(spark, target):
    from airflow_postgres_etl_spark.sink import read_keyed_table

    return {
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in read_keyed_table(spark, target).collect()
    }


def _scd2_apply(spark, target, rows):
    from airflow_postgres_etl_spark.sink import apply_changes_scd2

    df = spark.createDataFrame(rows, CH_COLS.replace("v bigint", "v string"))
    return apply_changes_scd2(
        spark, target, df, "seq", ["v"], key="k", num_buckets=4
    )


def test_scd2_table_incremental_equals_one_shot(spark, tmp_path):
    """Three ordered micro-batches into the maintained table == the
    one-pass builder over the whole feed."""
    target = str(tmp_path / "h")
    _scd2_apply(spark, target, SCD2_FEED[:3])
    _scd2_apply(spark, target, SCD2_FEED[3:6])
    _scd2_apply(spark, target, SCD2_FEED[6:])

    feed = spark.createDataFrame(
        SCD2_FEED, CH_COLS.replace("v bigint", "v string")
    )
    want = {
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_from_changes(feed, "k", "seq", ["v"], op_col="op").collect()
    }
    assert _hist_set(spark, target) == want


def test_scd2_table_redelivery_and_stale_noop(spark, tmp_path):
    from airflow_postgres_etl_spark.sink import table_version

    target = str(tmp_path / "h")
    _scd2_apply(spark, target, SCD2_FEED)
    v = table_version(target)
    state = _hist_set(spark, target)
    # full redelivery: state-identical tails are skipped, no commit
    res = _scd2_apply(spark, target, SCD2_FEED)
    assert res["keys_touched"] == 0 and res["rows_written"] == 0
    assert table_version(target) == v
    assert _hist_set(spark, target) == state
    # stale change below a's open frontier (6): dropped
    res = _scd2_apply(spark, target, [("a", 5, "U", "zzz")])
    assert res == {"keys_touched": 0, "rows_written": 0, "ignored_stale": 1}
    # stale change at/below c's closed frontier (2): dropped (deleted key)
    res = _scd2_apply(spark, target, [("c", 2, "U", "zzz")])
    assert res["keys_touched"] == 0 and res["ignored_stale"] == 1
    assert _hist_set(spark, target) == state


def test_scd2_table_conflicting_pairs_rejected(spark, tmp_path):
    """Two different changes at one (key, seq) are rejected, on the
    first batch and on a later one, and nothing commits; the same change
    delivered twice in one batch is a duplicate, not a conflict."""
    target = str(tmp_path / "h")
    with pytest.raises(ValueError, match="conflicting"):
        _scd2_apply(spark, target, [("a", 1, "U", "x"), ("a", 1, "U", "y")])
    assert table_version(target) is None
    res = _scd2_apply(spark, target, [("a", 1, "U", "x"), ("a", 1, "U", "x")])
    assert res == {"keys_touched": 1, "rows_written": 1, "ignored_stale": 0}
    v = table_version(target)
    with pytest.raises(ValueError, match="conflicting"):
        _scd2_apply(
            spark, target, [("b", 2, "U", "p"), ("b", 2, "D", None)]
        )
    assert table_version(target) == v
    assert _hist_set(spark, target) == {("a", "x", 1, None, True)}


def test_scd2_table_extends_and_reopens(spark, tmp_path):
    target = str(tmp_path / "h")
    _scd2_apply(spark, target, SCD2_FEED)
    # fresh change for a (open at 6, value y): y->z closes 6 at 8
    # fresh change for c (deleted at 2): reopens at 9
    res = _scd2_apply(spark, target, [("a", 8, "U", "z"), ("c", 9, "U", "r")])
    assert res["keys_touched"] == 2
    got = _hist_set(spark, target)
    assert ("a", "y", 6, 8, False) in got and ("a", "z", 8, None, True) in got
    assert ("c", "r", 9, None, True) in got
    # closed prefix untouched
    assert ("a", "x", 1, 3, False) in got


def test_stream_scd2_maintains_history(spark, tmp_path):
    import json

    from airflow_postgres_etl_spark.streaming.cdc_stream import stream_scd2

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"k": k, "seq": s, "op": op, "v": v} for k, s, op, v in SCD2_FEED
    ]
    import os as _os

    for i, chunk in enumerate([rows[:4], rows[4:7], rows[7:]]):
        p = src / f"b{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        # the file source orders by modification time: pin distinct
        # mtimes so delivery order matches feed order (sub-second writes
        # otherwise tie and deliver arbitrarily)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    target = str(tmp_path / "h")
    q = stream_scd2(
        spark, str(src), target, str(tmp_path / "ckpt"),
        "k string, seq long, op string, v string", "seq", ["v"],
        key="k", num_buckets=4, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    feed = spark.createDataFrame(
        SCD2_FEED, CH_COLS.replace("v bigint", "v string")
    )
    want = {
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_from_changes(feed, "k", "seq", ["v"], op_col="op").collect()
    }
    assert _hist_set(spark, target) == want
