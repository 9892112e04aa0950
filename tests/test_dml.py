"""Predicate DML on the keyed table: ``keyed_delete_where`` /
``keyed_update_where`` (MOR tombstone deltas, O(affected keys) writes).

Ground truth is recomputation: the same logical DELETE/UPDATE applied to
an in-memory copy of the table must equal the table read back — across
compaction, CDF, time travel, constraints, and the CoW/MOR mix.
"""

from __future__ import annotations

import glob
import os

import pytest

from airflow_postgres_etl_spark.sink import (
    ConstraintViolation,
    add_table_constraint,
    compact_keyed_table,
    keyed_delete_where,
    keyed_merge_mor,
    keyed_overwrite_parquet,
    keyed_update_where,
    lookup_keys,
    merge_into,
    read_keyed_table,
    table_changes,
    table_delta_depth,
    table_version,
)


def _mk(spark, tmp_path, name="t", rows=None):
    rows = rows or [
        ("k1", 1, "a"),
        ("k1", 2, "a"),
        ("k2", 3, "b"),
        ("k3", 4, "b"),
        ("k4", 5, "c"),
    ]
    target = str(tmp_path / name)
    df = spark.createDataFrame(rows, ["oid__id", "v", "tag"])
    keyed_overwrite_parquet(spark, df, target, num_buckets=4)
    return target


def _read_set(spark, target):
    df = read_keyed_table(spark, target)
    return {tuple(r[c] for c in sorted(df.columns)) for r in df.collect()}


def test_delete_where_removes_matching_rows_only(spark, tmp_path):
    target = _mk(spark, tmp_path)
    n = keyed_delete_where(spark, target, "v >= 3 AND tag = 'b'")
    assert n == 2
    assert _read_set(spark, target) == {
        ("k1", "a", 1),
        ("k1", "a", 2),
        ("k4", "c", 5),
    }


def test_delete_partial_key_keeps_survivors(spark, tmp_path):
    """A key whose rows only partly match is re-stated as its surviving
    rows (replace-by-key precedence), not tombstoned whole."""
    target = _mk(spark, tmp_path)
    n = keyed_delete_where(spark, target, "v = 2")
    assert n == 1
    got = _read_set(spark, target)
    assert ("k1", "a", 1) in got and ("k1", "a", 2) not in got
    assert len(got) == 4


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """SQL semantics: WHERE NULL deletes nothing."""
    rows = [("k1", 1, None), ("k2", None, "b"), ("k3", 3, "b")]
    target = _mk(spark, tmp_path, rows=rows)
    n = keyed_delete_where(spark, target, "v > 1 AND tag = 'b'")
    assert n == 1  # only k3: k2's v is NULL -> predicate NULL -> survives
    assert {r[0] for r in read_keyed_table(spark, target).collect()} == {"k1", "k2"}


def test_delete_no_match_is_noop_no_version_churn(spark, tmp_path):
    target = _mk(spark, tmp_path)
    v0 = table_version(target)
    assert keyed_delete_where(spark, target, "v > 100") == 0
    assert table_version(target) == v0
    assert table_delta_depth(target) == 0


def test_delete_writes_are_delta_only(spark, tmp_path):
    """DELETE must not rewrite base files — O(affected keys) writes."""
    target = _mk(spark, tmp_path)
    base = set(glob.glob(os.path.join(target, "data", "*", "*", "*.parquet")))
    keyed_delete_where(spark, target, "oid__id = 'k2'")
    after = set(glob.glob(os.path.join(target, "data", "*", "*", "*.parquet")))
    assert base <= after  # every base file still present, untouched
    assert table_delta_depth(target) == 1


def test_delete_then_compact_folds_tombstones(spark, tmp_path):
    target = _mk(spark, tmp_path)
    keyed_delete_where(spark, target, "tag = 'a'")  # kills k1 entirely
    before = _read_set(spark, target)
    assert compact_keyed_table(spark, target) >= 1
    assert _read_set(spark, target) == before
    assert table_delta_depth(target) == 0
    # tombstone marker never leaks into the logical schema
    assert "__tombstone" not in read_keyed_table(spark, target).columns


def test_delete_then_merge_resurrects_key(spark, tmp_path):
    """A later merge of a deleted key wins (higher seq than tombstone)."""
    target = _mk(spark, tmp_path)
    keyed_delete_where(spark, target, "oid__id = 'k2'")
    assert "k2" not in {r[0] for r in read_keyed_table(spark, target).collect()}
    batch = spark.createDataFrame([("k2", 99, "z")], ["oid__id", "v", "tag"])
    keyed_merge_mor(spark, batch, target, num_buckets=4)
    got = _read_set(spark, target)
    assert ("k2", "z", 99) in got


def test_delete_over_pending_mor_deltas(spark, tmp_path):
    """DELETE sees MOR-precedence-resolved rows, not stale base rows."""
    target = _mk(spark, tmp_path)
    batch = spark.createDataFrame([("k2", 30, "b")], ["oid__id", "v", "tag"])
    keyed_merge_mor(spark, batch, target, num_buckets=4)  # k2: 3 -> 30
    n = keyed_delete_where(spark, target, "v = 3")
    assert n == 0  # the old v=3 row is superseded, must not match
    n = keyed_delete_where(spark, target, "v = 30")
    assert n == 1
    assert "k2" not in {r[0] for r in read_keyed_table(spark, target).collect()}


def test_delete_visible_in_cdf_and_time_travel(spark, tmp_path):
    target = _mk(spark, tmp_path)
    v0 = table_version(target)
    keyed_delete_where(spark, target, "oid__id = 'k3'")
    ch = {
        (r.oid__id, r.change_type)
        for r in table_changes(spark, target, v0).collect()
    }
    assert ch == {("k3", "delete")}
    old = read_keyed_table(spark, target, version=v0)
    assert "k3" in {r[0] for r in old.collect()}  # snapshot still has it


def test_lookup_keys_respects_tombstones(spark, tmp_path):
    target = _mk(spark, tmp_path)
    keyed_delete_where(spark, target, "oid__id = 'k2'")
    got = lookup_keys(spark, target, ["k2", "k4"]).collect()
    assert {r.oid__id for r in got} == {"k4"}


def test_delete_with_skip_hints_matches_unhinted(spark, tmp_path):
    """where=/where_eq= hints prune the probe scan but never change the
    result (pruning is an optimization, not a semantic)."""
    rows = [(f"k{i}", i, "a" if i % 2 else "b") for i in range(40)]
    t1 = _mk(spark, tmp_path, "h1", rows)
    t2 = _mk(spark, tmp_path, "h2", rows)
    n1 = keyed_delete_where(spark, t1, "v BETWEEN 10 AND 19")
    n2 = keyed_delete_where(
        spark, t2, "v BETWEEN 10 AND 19", where=("v", 10, 19)
    )
    assert n1 == n2 == 10
    assert _read_set(spark, t1) == _read_set(spark, t2)


def test_update_where_basic(spark, tmp_path):
    target = _mk(spark, tmp_path)
    n = keyed_update_where(spark, target, {"v": "v * 10"}, "tag = 'b'")
    assert n == 2
    assert _read_set(spark, target) == {
        ("k1", "a", 1),
        ("k1", "a", 2),
        ("k2", "b", 30),
        ("k3", "b", 40),
        ("k4", "c", 5),
    }


def test_update_reads_old_row_in_all_assignments(spark, tmp_path):
    """Standard UPDATE semantics: every assignment sees the PRE-update
    row, so a swap is expressible."""
    target = _mk(
        spark, tmp_path, rows=[("k1", 1, "x"), ("k2", 2, "y")]
    )
    keyed_update_where(
        spark, target, {"v": "length(tag) + v", "tag": "concat(tag, v)"}, "v = 1"
    )
    got = _read_set(spark, target)
    assert ("k1", "x1", 2) in got  # tag used old v, v used old tag


def test_update_casts_back_to_column_type(spark, tmp_path):
    """An assignment whose natural type differs (int*1.5 -> double) is
    cast back so the table schema cannot drift."""
    target = _mk(spark, tmp_path)
    keyed_update_where(spark, target, {"v": "v * 2.5"}, "oid__id = 'k2'")
    df = read_keyed_table(spark, target)
    assert dict(df.dtypes)["v"] == "bigint"
    assert {r.v for r in df.filter("oid__id = 'k2'").collect()} == {7}


def test_update_rejects_key_and_unknown_columns(spark, tmp_path):
    """Assignment targets are validated whether or not any row matches
    the predicate."""
    target = _mk(spark, tmp_path)
    v0 = table_version(target)
    for pred in ("v = 1", "v = 99"):
        with pytest.raises(ValueError, match="key/internal"):
            keyed_update_where(spark, target, {"oid__id": "'z'"}, pred)
        with pytest.raises(ValueError, match="unknown column"):
            keyed_update_where(spark, target, {"nope": "1"}, pred)
    assert table_version(target) == v0


def test_update_enforces_constraints(spark, tmp_path):
    target = _mk(spark, tmp_path)
    add_table_constraint(spark, target, "v_pos", "v > 0")
    v0 = table_version(target)
    with pytest.raises(ConstraintViolation):
        keyed_update_where(spark, target, {"v": "-v"}, "tag = 'b'")
    assert table_version(target) == v0  # rejected before any commit
    # a delete whose survivors are fine passes (tombstones are exempt)
    assert keyed_delete_where(spark, target, "oid__id = 'k4'") == 1


def test_dml_differential_random_sequence(spark, tmp_path):
    """Randomized merge/delete/update/MERGE INTO sequence vs an
    in-memory model."""
    import random

    rng = random.Random(7)
    target = str(tmp_path / "rnd")
    model: dict[str, list[tuple[str, int, str]]] = {}

    def apply_merge(batch):
        keys = {b[0] for b in batch}
        for k in keys:
            model[k] = []
        for b in batch:
            model[b[0]].append(b)
        df = spark.createDataFrame(batch, ["oid__id", "v", "tag"])
        if model_initialized[0]:
            keyed_merge_mor(spark, df, target, num_buckets=4)
        else:
            keyed_overwrite_parquet(spark, df, target, num_buckets=4)
            model_initialized[0] = True

    def src(keys):
        return spark.createDataFrame(
            [(f"k{k}", rng.randrange(100), "abc"[k % 3]) for k in keys],
            ["oid__id", "v", "tag"],
        )

    model_initialized = [False]
    apply_merge([(f"k{i}", i, "abc"[i % 3]) for i in range(12)])
    ops = ["merge", "delete", "update", "compact", "merge_into", "by_source"]
    for step in range(12):
        op = rng.choice(ops)
        if op == "merge_into":
            # matched rows with v < s_v delete, the rest update; new
            # keys insert
            batch = src(rng.sample(range(16), 4)).collect()
            merge_into(
                spark,
                target,
                spark.createDataFrame(batch),
                when_matched_update={"v": "v + s_v", "tag": "s_tag"},
                when_matched_delete="v < s_v",
            )
            for k, sv, st in batch:
                if k not in model:
                    model[k] = [(k, sv, st)]
                    continue
                model[k] = [(k, v + sv, st) for _, v, _t in model[k] if v >= sv]
                if not model[k]:
                    del model[k]
        elif op == "by_source":
            # keys absent from the source lose their rows with v >= lim
            keep = sorted(rng.sample(range(16), 5))
            lim = rng.randrange(100)
            merge_into(
                spark,
                target,
                src(keep),
                when_not_matched_insert=False,
                when_not_matched_by_source_delete=f"v >= {lim}",
            )
            for k in [k for k in model if int(k[1:]) not in keep]:
                model[k] = [r for r in model[k] if r[1] < lim]
                if not model[k]:
                    del model[k]
        elif op == "merge":
            ks = rng.sample(range(16), 3)
            apply_merge([(f"k{k}", rng.randrange(100), "abc"[k % 3]) for k in ks])
        elif op == "delete":
            lim = rng.randrange(100)
            keyed_delete_where(spark, target, f"v >= {lim}")
            for k in list(model):
                model[k] = [r for r in model[k] if r[1] < lim]
                if not model[k]:
                    del model[k]
        elif op == "update":
            tag = rng.choice("abc")
            keyed_update_where(spark, target, {"v": "v + 1000"}, f"tag = '{tag}'")
            for k in model:
                model[k] = [
                    (r[0], r[1] + 1000 if r[2] == tag else r[1], r[2])
                    for r in model[k]
                ]
        else:
            compact_keyed_table(spark, target)
        expect = {(r[0], r[2], r[1]) for rows in model.values() for r in rows}
        assert _read_set(spark, target) == expect, f"diverged at step {step} ({op})"


# ---------------------------------------------------------------------------
# MERGE INTO (sink.merge_into): the three clauses in one commit.
# ---------------------------------------------------------------------------


def _mi_table(spark, tmp_path):
    from airflow_postgres_etl_spark.api import Engine

    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame(
            [("a", 1, "x"), ("b", 2, "x"), ("c", 3, "y")],
            "oid__id string, v long, tag string",
        ),
        num_buckets=4,
    )
    return t


def test_merge_into_update_delete_insert(spark, tmp_path):
    t = _mi_table(spark, tmp_path)
    src = spark.createDataFrame(
        [("a", 10, "U"), ("b", 0, "D"), ("d", 40, "I")],
        "oid__id string, v long, op string",
    )
    res = t.merge_into(
        src,
        when_matched_update={"v": "v + s_v", "tag": "'merged'"},
        when_matched_delete="s_op = 'D'",
    )
    assert res == {"updated": 1, "deleted": 1, "inserted": 1}
    got = {(r.oid__id, r.v, r.tag) for r in t.read().collect()}
    assert got == {
        ("a", 11, "merged"),   # updated: v + s_v
        ("c", 3, "y"),         # untouched
        ("d", 40, None),       # inserted (no tag in source -> NULL)
    }
    # one MOR delta commit, folded cleanly
    assert t.delta_depth() == 1
    t.compact()
    assert {(r.oid__id, r.v, r.tag) for r in t.read().collect()} == got


def test_merge_into_multi_row_keys_and_tombstone(spark, tmp_path):
    """A key's whole row SET is the merge unit: updates restate every
    row; a full delete leaves a tombstone that later merges resurrect
    past."""
    from airflow_postgres_etl_spark.api import Engine

    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 9)], "oid__id string, v long"
        ),
        num_buckets=4,
    )
    res = t.merge_into(
        spark.createDataFrame([("a", 100)], "oid__id string, bump long"),
        when_matched_update={"v": "v + s_bump"},
    )
    assert res["updated"] == 2  # both of a's rows
    assert {(r.oid__id, r.v) for r in t.read().collect()} == {
        ("a", 101), ("a", 102), ("b", 9),
    }
    res = t.merge_into(
        spark.createDataFrame([("a", 0)], "oid__id string, bump long"),
        when_matched_delete="TRUE",
        when_not_matched_insert=False,
    )
    assert res == {"updated": 0, "deleted": 2, "inserted": 0}
    assert {(r.oid__id, r.v) for r in t.read().collect()} == {("b", 9)}
    # resurrect via plain keyed merge
    t.merge(spark.createDataFrame([("a", 7)], "oid__id string, v long"))
    assert {(r.oid__id, r.v) for r in t.read().collect()} == {("a", 7), ("b", 9)}


def test_merge_into_delete_only_does_not_churn_untouched_keys(spark, tmp_path):
    """Delete-only merge: matched keys whose rows all survive are NOT
    restated — no phantom CDF updates, no delta churn."""
    from airflow_postgres_etl_spark import sink

    t = _mi_table(spark, tmp_path)
    v0 = t.version()
    res = t.merge_into(
        spark.createDataFrame(
            [("a", "keep"), ("b", "kill")], "oid__id string, op string"
        ),
        when_matched_delete="s_op = 'kill'",
        when_not_matched_insert=False,
    )
    assert res == {"updated": 0, "deleted": 1, "inserted": 0}
    changes = sink.table_changes(spark, t.path, v0, store=t.store)
    keys = {(r.oid__id, r.change_type) for r in changes.collect()}
    assert keys == {("b", "delete")}


def test_merge_into_rejects_duplicate_source_keys(spark, tmp_path):
    import pytest as _pytest

    t = _mi_table(spark, tmp_path)
    src = spark.createDataFrame(
        [("a", 1), ("a", 2)], "oid__id string, v long"
    )
    with _pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(src, when_matched_update={"v": "s_v"})


def test_merge_into_rejects_duplicate_unmatched_source_key(spark, tmp_path):
    """The at-most-one-match rule is checked on the whole source, not
    only on the keys that match: a duplicated key that would insert is
    ambiguous too, and nothing commits."""
    import pytest as _pytest

    t = _mi_table(spark, tmp_path)
    v0 = t.version()
    src = spark.createDataFrame(
        [("a", 1), ("z", 2), ("z", 3)], "oid__id string, v long"
    )
    with _pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(src, when_matched_update={"v": "s_v"})
    assert t.version() == v0


def test_merge_into_validates_assignments_before_matching(spark, tmp_path):
    """Assignment targets are checked whether or not any target row
    matches — here the only source key hashes to an empty bucket — and
    nothing commits."""
    from airflow_postgres_etl_spark import sink

    t = _mi_table(spark, tmp_path)  # a, b, c in 4 buckets
    live = set(sink._load_manifest(t.path)["buckets"])
    keys = spark.createDataFrame([(k,) for k in "defghijk"], "oid__id string")
    lone = next(
        r[0]
        for r in keys.select("oid__id", sink._bucket_expr("oid__id", 4)).collect()
        if str(r[1]) not in live
    )
    source = spark.createDataFrame([(lone, 1)], "oid__id string, v long")
    v0 = t.version()
    for kw, err in (
        ({"when_matched_update": {"nope": "s_v"}}, "unknown column"),
        ({"when_matched_update": {"oid__id": "s_oid__id"}}, "key/internal"),
        ({"when_not_matched_by_source_update": {"nope": "1"}}, "unknown column"),
        ({"when_not_matched_by_source_update": {"oid__id": "'z'"}}, "key/internal"),
    ):
        with pytest.raises(ValueError, match=err):
            t.merge_into(source, **kw)
    assert t.version() == v0
    assert lone not in {r.oid__id for r in t.read().collect()}


def test_merge_into_noop_when_nothing_matches(spark, tmp_path):
    t = _mi_table(spark, tmp_path)
    v0 = t.version()
    res = t.merge_into(
        spark.createDataFrame([("zz", 1)], "oid__id string, v long"),
        when_matched_delete="TRUE",
        when_not_matched_insert=False,
    )
    assert res == {"updated": 0, "deleted": 0, "inserted": 0}
    assert t.version() == v0  # no commit, no version churn


def test_merge_into_not_matched_by_source_delete(spark, tmp_path):
    """Full-sync: source is the complete truth; target keys absent from
    it delete (True = all), matched keys update, new keys insert — one
    commit, and untouched-by-absence rows surviving a predicate aren't
    restated."""
    from airflow_postgres_etl_spark import sink

    t = _mi_table(spark, tmp_path)  # a, b, c
    res = t.merge_into(
        spark.createDataFrame(
            [("a", 10), ("d", 40)], "oid__id string, v long"
        ),
        when_matched_update={"v": "s_v"},
        when_not_matched_by_source_delete=True,
    )
    # b and c vanish (absent from source), a updates, d inserts
    assert res == {"updated": 1, "deleted": 2, "inserted": 1}
    assert {(r.oid__id, r.v) for r in t.read().collect()} == {
        ("a", 10), ("d", 40),
    }


def test_merge_into_not_matched_by_source_delete_predicate(spark, tmp_path):
    """Predicated by-source delete: only unmatched rows hitting the
    predicate go; other unmatched keys are not restated (no CDF churn)."""
    from airflow_postgres_etl_spark import sink

    t = _mi_table(spark, tmp_path)  # a(v=1,x) b(v=2,x) c(v=3,y)
    v0 = t.version()
    res = t.merge_into(
        spark.createDataFrame([("a", 10)], "oid__id string, v long"),
        when_matched_update=None,
        when_not_matched_insert=False,
        when_not_matched_by_source_delete="tag = 'y'",
    )
    assert res == {"updated": 0, "deleted": 1, "inserted": 0}
    assert {r.oid__id for r in t.read().collect()} == {"a", "b"}
    changes = sink.table_changes(spark, t.path, v0, store=t.store)
    assert {(r.oid__id, r.change_type) for r in changes.collect()} == {
        ("c", "delete")
    }


def test_merge_into_not_matched_by_source_update(spark, tmp_path):
    """By-source update flags every unmatched row (soft-delete shape:
    the classic 'mark stale' sync)."""
    t = _mi_table(spark, tmp_path)
    res = t.merge_into(
        spark.createDataFrame([("a", 10)], "oid__id string, v long"),
        when_matched_update={"v": "s_v"},
        when_not_matched_insert=False,
        when_not_matched_by_source_update={"tag": "'stale'"},
    )
    assert res == {"updated": 3, "deleted": 0, "inserted": 0}
    assert {(r.oid__id, r.v, r.tag) for r in t.read().collect()} == {
        ("a", 10, "x"),
        ("b", 2, "stale"),
        ("c", 3, "stale"),
    }


def test_merge_into_by_source_update_and_delete_precedence(spark, tmp_path):
    """Both by-source clauses: delete predicate wins, the rest update —
    mirroring the matched-clause precedence."""
    t = _mi_table(spark, tmp_path)  # a(1,x) b(2,x) c(3,y)
    res = t.merge_into(
        spark.createDataFrame([("a", 10)], "oid__id string, v long"),
        when_not_matched_insert=False,
        when_not_matched_by_source_update={"tag": "'stale'"},
        when_not_matched_by_source_delete="tag = 'y'",
    )
    assert res == {"updated": 1, "deleted": 1, "inserted": 0}
    assert {(r.oid__id, r.v, r.tag) for r in t.read().collect()} == {
        ("a", 1, "x"),
        ("b", 2, "stale"),
    }


def test_merge_into_by_source_empty_source_full_sync(spark, tmp_path):
    """Empty source + by-source delete True = truncate via MERGE (the
    degenerate full sync) — every key tombstones in one commit."""
    t = _mi_table(spark, tmp_path)
    res = t.merge_into(
        spark.createDataFrame([], "oid__id string, v long"),
        when_not_matched_insert=False,
        when_not_matched_by_source_delete=True,
    )
    assert res == {"updated": 0, "deleted": 3, "inserted": 0}
    assert t.read().count() == 0
