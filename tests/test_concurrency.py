"""Optimistic concurrency (`sink._commit_optimistic`): a CAS loser whose
commit is provably disjoint from the winner's REBASES (rebuilds its
manifest on the winner's snapshot and retries) instead of failing —
Delta Lake's conflict-detection contract.  True conflicts (same bucket
rewritten, layout changed) still raise ConcurrentWriteError.

The interloper pattern: monkeypatch `_write_bucketed` so a second
writer lands a full commit between the victim's data write and its CAS.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

import airflow_postgres_etl_spark.sink as sink
from airflow_postgres_etl_spark.sink import (
    keyed_append,
    keyed_delete_where,
    keyed_merge_mor,
    keyed_overwrite_parquet,
    read_keyed_table,
    table_history_detail,
    table_version,
)
from airflow_postgres_etl_spark.storage import (
    ConcurrentWriteError,
    FakeConditionalStore,
)


def _bucket_of(spark, key: str, num_buckets: int = 4) -> int:
    from pyspark.sql import functions as F  # noqa: F401

    return (
        spark.createDataFrame([(key,)], ["oid__id"])
        .select(sink._bucket_expr("oid__id", num_buckets).alias("b"))
        .first()["b"]
    )


def _keys_in_distinct_buckets(spark, n=3, num_buckets=4) -> list[str]:
    """n short keys that land in n different buckets."""
    seen: dict[int, str] = {}
    i = 0
    while len(seen) < n:
        k = f"k{i}"
        seen.setdefault(_bucket_of(spark, k, num_buckets), k)
        i += 1
    return list(seen.values())[:n]


def _interlope_once(monkeypatch, action):
    """Run `action()` right after the victim's data-file write, once."""
    real_write = sink._write_bucketed
    state = {"fired": False}

    def write_then_interlope(df, path, n):
        real_write(df, path, n)
        if not state["fired"]:
            state["fired"] = True
            action()

    monkeypatch.setattr(sink, "_write_bucketed", write_then_interlope)


def _on_own_thread(fn):
    """``fn()`` run to completion on another thread; its result, or its
    exception re-raised here."""
    with ThreadPoolExecutor(1) as pool:
        return pool.submit(fn).result()


def _state(spark, target) -> dict:
    return {
        r["oid__id"]: r["v"]
        for r in read_keyed_table(spark, target).collect()
    }


def test_disjoint_bucket_merges_both_land(spark, tmp_path, monkeypatch):
    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1), (kb, 2)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    _interlope_once(
        monkeypatch,
        lambda: keyed_overwrite_parquet(
            spark,
            spark.createDataFrame([(kb, 20)], ["oid__id", "v"]),
            target, num_buckets=4,
        ),
    )
    # victim merges a DIFFERENT bucket -> rebases, both commits visible
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(kc, 3)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    assert _state(spark, target) == {ka: 1, kb: 20, kc: 3}
    assert table_version(target) == 3  # base + interloper + rebased victim


def test_mor_upsert_rebases_with_last_writer_wins(spark, tmp_path, monkeypatch):
    """A blind MOR upsert layers a restamped higher seq over ANY
    row-preserving winner — even on the same bucket/key."""
    ka = "a"
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    _interlope_once(
        monkeypatch,
        lambda: keyed_overwrite_parquet(
            spark,
            spark.createDataFrame([(ka, 50)], ["oid__id", "v"]),
            target, num_buckets=4,
        ),
    )
    keyed_merge_mor(
        spark,
        spark.createDataFrame([(ka, 9)], ["oid__id", "v"]),
        target,
    )
    # the rebased delta's seq outranks the interloper's rewrite
    assert _state(spark, target) == {ka: 9}
    m = sink._load_manifest(target)
    seqs = [e["seq"] for es in m["deltas"].values() for e in es]
    assert seqs == [m["version"]]


def test_append_disjoint_rebases_same_bucket_conflicts(
    spark, tmp_path, monkeypatch
):
    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    # disjoint: interloper appends kb's bucket, victim appends kc's
    _interlope_once(
        monkeypatch,
        lambda: keyed_append(
            spark,
            spark.createDataFrame([(kb, 2)], ["oid__id", "v"]),
            target,
        ),
    )
    keyed_append(
        spark,
        spark.createDataFrame([(kc, 3)], ["oid__id", "v"]),
        target,
    )
    assert _state(spark, target) == {ka: 1, kb: 2, kc: 3}

    # same bucket: the victim's new-key verification is stale -> conflict
    kb2 = next(
        f"x{i}"
        for i in range(1000)
        if _bucket_of(spark, f"x{i}") == _bucket_of(spark, kb)
    )
    _interlope_once(
        monkeypatch,
        lambda: keyed_append(
            spark,
            spark.createDataFrame([(kb2, 4)], ["oid__id", "v"]),
            target,
        ),
    )
    kb3 = next(
        f"y{i}"
        for i in range(1000)
        if _bucket_of(spark, f"y{i}") == _bucket_of(spark, kb)
    )
    with pytest.raises(ConcurrentWriteError, match="bucket"):
        keyed_append(
            spark,
            spark.createDataFrame([(kb3, 5)], ["oid__id", "v"]),
            target,
        )
    assert _state(spark, target)[kb2] == 4 and kb3 not in _state(spark, target)


def test_delete_where_conflicts_on_touched_bucket(spark, tmp_path, monkeypatch):
    """DML decisions were computed from the base snapshot: a concurrent
    rewrite of a predicate-hit bucket must hard-conflict."""
    ka = "a"
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    _interlope_once(
        monkeypatch,
        lambda: keyed_overwrite_parquet(
            spark,
            spark.createDataFrame([(ka, 99)], ["oid__id", "v"]),
            target, num_buckets=4,
        ),
    )
    with pytest.raises(ConcurrentWriteError):
        keyed_delete_where(spark, target, "v = 1")
    assert _state(spark, target) == {ka: 99}


def test_retry_budget_exhausts(spark, tmp_path, monkeypatch):
    """An interloper on EVERY attempt exhausts OPTIMISTIC_RETRIES and the
    original ConcurrentWriteError propagates."""
    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    real_commit = sink._commit_manifest
    calls = {"n": 0}

    def always_lose(tgt, manifest, expected_version, store=sink.LOCAL_STORE):
        calls["n"] += 1
        # someone else always lands first on the real store
        cur = sink._load_manifest(tgt)
        real_commit(
            tgt,
            {**cur, "version": cur["version"] + 1},
            expected_version=cur["version"],
        )
        return real_commit(tgt, manifest, expected_version, store=store)

    monkeypatch.setattr(sink, "_commit_manifest", always_lose)
    with pytest.raises(ConcurrentWriteError):
        keyed_overwrite_parquet(
            spark,
            spark.createDataFrame([(kc, 3)], ["oid__id", "v"]),
            target, num_buckets=4,
        )
    assert calls["n"] == sink.OPTIMISTIC_RETRIES + 1


def test_threaded_writers_converge(spark, tmp_path):
    """REAL concurrent writers (threads, no monkeypatching): every
    commit lands exactly once, disjoint-bucket losers rebase, and the
    final state is the union of all writes."""
    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 0)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    errors: list[Exception] = []

    def writer(key: str, rounds: int):
        try:
            for i in range(1, rounds + 1):
                keyed_overwrite_parquet(
                    spark,
                    spark.createDataFrame([(key, i)], ["oid__id", "v"]),
                    target, num_buckets=4, vacuum=False,
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(k, 3)) for k in (kb, kc)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert _state(spark, target) == {ka: 0, kb: 3, kc: 3}
    # 1 bootstrap + 6 writer commits, serialized by the CAS
    assert table_version(target) == 7


def test_intermediate_unsafe_commit_blocks_rebase(spark, tmp_path, monkeypatch):
    """Delta-protocol parity (r7 advisor, medium): the rebase check must
    validate EVERY commit between the loser's base and the winner.  A
    widen_column at v+1 (re-types columns, re-routes buckets by the new
    key hash) followed by a rebase-SAFE merge at v+2 used to pass the
    tip-only check, silently layering the loser's stale-typed delta
    files over the widened table."""
    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1), (kb, 2)], ["oid__id", "v"]),
        target, num_buckets=4,
    )

    def widen_then_safe_merge():
        sink.widen_keyed_table(spark, target, {"v": "bigint"})  # v2: unsafe
        keyed_overwrite_parquet(                                 # v3: safe
            spark,
            spark.createDataFrame([(kb, 20)], ["oid__id", "v"]),
            target, num_buckets=4,
        )

    # a REAL concurrent writer has its own op stack: on the victim's
    # thread, the victim's outermost @_records_op frame would stamp
    # these commits
    _interlope_once(monkeypatch, lambda: _on_own_thread(widen_then_safe_merge))
    with pytest.raises(ConcurrentWriteError, match="widen"):
        keyed_merge_mor(
            spark,
            spark.createDataFrame([(kc, 9)], ["oid__id", "v"]),
            target, num_buckets=4,
        )
    # the blocked loser published nothing: state is the interloper's
    assert _state(spark, target) == {ka: 1, kb: 20}


def test_two_safe_intermediate_commits_still_rebase(spark, tmp_path, monkeypatch):
    """Control for the intermediate-commit walk: N row-preserving
    winners in a row are each validated and the loser still rebases."""
    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1)], ["oid__id", "v"]),
        target, num_buckets=4,
    )

    def two_safe_commits():
        for k, v in [(kb, 2), (kb, 20)]:
            keyed_overwrite_parquet(
                spark,
                spark.createDataFrame([(k, v)], ["oid__id", "v"]),
                target, num_buckets=4,
            )

    _interlope_once(monkeypatch, two_safe_commits)
    keyed_merge_mor(
        spark,
        spark.createDataFrame([(kc, 9)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    assert _state(spark, target) == {ka: 1, kb: 20, kc: 9}
    assert table_version(target) == 4


def test_cow_merge_conflicts_on_concurrent_rebucket(spark, tmp_path, monkeypatch):
    """r7 advisor (low): the CoW merge path needs the num_buckets guard
    the MOR paths have — a concurrent rebucket must conflict even when
    the merge's affected buckets happen to be empty in BOTH snapshots
    (files written under the old modulus must never rebase into a table
    specced with the new one)."""
    ka, kb = _keys_in_distinct_buckets(spark, n=2)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1), (kb, 2)], ["oid__id", "v"]),
        target, num_buckets=4,
    )
    # a key whose bucket-4 id holds no base rows AND whose bucket id is
    # also unoccupied under the rebucketed 8-bucket layout: the disjoint
    # check alone cannot see the rebucket, only the num_buckets guard can
    occupied4 = {_bucket_of(spark, k, 4) for k in (ka, kb)}
    occupied8 = {_bucket_of(spark, k, 8) for k in (ka, kb)}
    kv = None
    for i in range(200):
        cand = f"c{i}"
        b4 = _bucket_of(spark, cand, 4)
        if b4 not in occupied4 and b4 not in occupied8:
            kv = cand
            break
    assert kv is not None

    _interlope_once(
        monkeypatch, lambda: sink.rebucket_keyed_table(spark, target, 8)
    )
    with pytest.raises(ConcurrentWriteError, match="bucket count"):
        keyed_overwrite_parquet(
            spark,
            spark.createDataFrame([(kv, 7)], ["oid__id", "v"]),
            target, num_buckets=4,
        )


def test_missing_intermediate_version_manifest_is_hard_conflict(
    spark, tmp_path, monkeypatch
):
    """A vacuumed/crash-lost intermediate version manifest means the
    commit's safety can't be proven — the rebase must refuse, never
    guess."""
    import os

    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1)], ["oid__id", "v"]),
        target, num_buckets=4,
    )

    def commit_twice_and_lose_v2():
        for v in (2, 20):
            keyed_overwrite_parquet(
                spark,
                spark.createDataFrame([(kb, v)], ["oid__id", "v"]),
                target, num_buckets=4,
            )
        os.remove(sink._version_manifest_path(target, 2))

    _interlope_once(monkeypatch, commit_twice_and_lose_v2)
    with pytest.raises(ConcurrentWriteError, match="version manifest"):
        keyed_merge_mor(
            spark,
            spark.createDataFrame([(kc, 9)], ["oid__id", "v"]),
            target, num_buckets=4,
        )


def test_rebase_never_regresses_same_app_txn_watermark(
    spark, tmp_path, monkeypatch
):
    """r10 (r9 advisor finding): Delta's ConcurrentTransaction check —
    an intervening commit that advanced the SAME txn_app to >= the
    victim's seq means the victim's batch is already applied or stale;
    the rebase must hard-fail instead of regressing the watermark."""
    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1)], ["oid__id", "v"]),
        target, num_buckets=4, vacuum=False, txn_app="w", txn_seq=1,
    )
    # zombie writer replays seq 2; the live writer lands seq 3 on a
    # DIFFERENT bucket between the zombie's write and its CAS
    _interlope_once(
        monkeypatch,
        lambda: keyed_append(
            spark,
            spark.createDataFrame([(kb, 30)], ["oid__id", "v"]),
            target, verify_new=False, txn_app="w", txn_seq=3,
        ),
    )
    with pytest.raises(ConcurrentWriteError, match="advanced"):
        keyed_append(
            spark,
            spark.createDataFrame([(kc, 2)], ["oid__id", "v"]),
            target, verify_new=False, txn_app="w", txn_seq=2,
        )
    m = sink._load_manifest(target)
    assert m["txns"]["w"] == 3  # never regressed
    assert _state(spark, target) == {ka: 1, kb: 30}


def test_rebase_merges_lower_intervening_txn_watermark(
    spark, tmp_path, monkeypatch
):
    """The benign side: an intervening LOWER seq from the same app (an
    out-of-order but disjoint writer) rebases fine and the merged
    watermark is the max of the two — monotone either way.  The COW
    merge path is exercised here (the append path above)."""
    ka, kb, kc = _keys_in_distinct_buckets(spark)
    target = str(tmp_path / "t")
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(ka, 1)], ["oid__id", "v"]),
        target, num_buckets=4, vacuum=False, txn_app="w", txn_seq=1,
    )
    _interlope_once(
        monkeypatch,
        lambda: keyed_overwrite_parquet(
            spark,
            spark.createDataFrame([(kb, 2)], ["oid__id", "v"]),
            target, num_buckets=4, vacuum=False, txn_app="w", txn_seq=2,
        ),
    )
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([(kc, 5)], ["oid__id", "v"]),
        target, num_buckets=4, vacuum=False, txn_app="w", txn_seq=5,
    )
    m = sink._load_manifest(target)
    assert m["txns"]["w"] == 5
    assert _state(spark, target) == {ka: 1, kb: 2, kc: 5}


def test_each_thread_stamps_its_own_op(spark, tmp_path):
    """The op stack that stamps each commit's ``operation`` is per
    thread: while thread A's MOR merge into one table waits at its CAS,
    the main thread appends to another table, and each table's history
    row names its own op."""
    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    s1 = FakeConditionalStore()

    def rows(data):
        return spark.createDataFrame(data, ["oid__id", "v"])

    keyed_overwrite_parquet(spark, rows([("a", 1)]), t1, num_buckets=2, store=s1)
    keyed_overwrite_parquet(spark, rows([("a", 1)]), t2, num_buckets=2)
    entered, release = threading.Event(), threading.Event()

    def block():
        entered.set()
        assert release.wait(120)

    s1.on_replace = block
    a = ThreadPoolExecutor(1)
    merge = a.submit(keyed_merge_mor, spark, rows([("b", 2)]), t1, store=s1)
    try:
        assert entered.wait(120), "thread A never reached its CAS"
        keyed_append(spark, rows([("c", 3)]), t2)
    finally:
        release.set()
        a.shutdown(wait=True)
    merge.result()
    assert table_history_detail(t2)[-1]["operation"] == "append"
    assert table_history_detail(t1, s1)[-1]["operation"] == "merge_mor"
