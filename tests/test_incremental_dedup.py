"""Incremental dedup against a persisted MinHash index: new batches dedup
against the historical corpus without recomputing it."""

from __future__ import annotations

from airflow_postgres_etl_spark.operators.dedup import (
    build_minhash_index,
    dedup_against_index,
    lsh_verified_pairs,
)


def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog by the river bank today"
    rows = [(i, base + f" extra token{i}") for i in range(10)]
    rows += [(100 + i, f"totally different document number {i} about spark engines and parquet files galore") for i in range(5)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_against_index_filters_near_dups(spark, tmp_path):
    idx = str(tmp_path / "minhash_index")
    hist = corpus(spark)
    build_minhash_index(hist, idx)

    batch = spark.createDataFrame(
        [
            # near-dup of the historical base docs -> must be dropped
            (500, "the quick brown fox jumps over the lazy dog by the river bank today extra token1"),
            # genuinely new -> must survive
            (501, "completely unrelated text describing a postgres airflow pipeline with celery workers"),
        ],
        ["doc_id", "text"],
    )
    out = dedup_against_index(batch, idx)
    got = {r.doc_id for r in out.collect()}
    assert got == {501}

    # consistency: the dropped doc IS lsh-verified similar to the corpus
    both = hist.unionByName(batch)
    pairs = lsh_verified_pairs(both)
    flagged = {
        r.doc_b for r in pairs.collect() if r.doc_b >= 500
    } | {r.doc_a for r in pairs.collect() if r.doc_a >= 500}
    assert 500 in flagged and 501 not in flagged


def test_dedup_against_index_idempotent_for_clean_batch(spark, tmp_path):
    idx = str(tmp_path / "minhash_index")
    hist = corpus(spark)
    build_minhash_index(hist, idx)
    batch = spark.createDataFrame(
        [(600, "some fresh unseen sentence with enough tokens to form shingles here")],
        ["doc_id", "text"],
    )
    assert dedup_against_index(batch, idx).count() == 1


def test_index_build_cap_drops_hot_bands(spark, tmp_path):
    """max_band_size at index BUILD time: a boilerplate group's oversized
    bands never enter the index, so incremental batches matching that
    boilerplate generate no candidates against it — while normal docs
    still dedup exactly."""
    from pyspark.sql import functions as F

    boiler = "subscribe to the newsletter all rights reserved terms apply here"
    hist = spark.createDataFrame(
        [(i, boiler) for i in range(10)]
        + [(50, "a unique historical document about spark shuffle tuning details")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "capped_index")
    build_minhash_index(hist, idx, max_band_size=5)

    # the boilerplate bands (occupancy 10) are absent from the index
    from airflow_postgres_etl_spark.operators.dedup import read_minhash_index

    index = read_minhash_index(spark, idx)
    max_band = (
        index.groupBy("band_idx", "band_hi", "band_lo")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_band <= 5

    batch = spark.createDataFrame(
        [
            (600, boiler),  # matches only capped-away bands -> SURVIVES (by design)
            (601, "a unique historical document about spark shuffle tuning details"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id for r in dedup_against_index(batch, idx).collect()}
    # 601 deduped against the (uncapped) unique doc; 600 passes because its
    # only matches were dropped as boilerplate-skew bands — the documented
    # recall trade of the cap
    assert got == {600}


def test_compact_minhash_index_swaps_and_retires(spark, tmp_path):
    """Compaction rebuilds the band table from the accepted corpus behind
    the manifest swap: dedup decisions are unchanged for normal docs, a
    band grown hot by appends is re-capped globally, the superseded data
    directory is retired (still on disk) and reclaimed only by vacuum."""
    import os

    from airflow_postgres_etl_spark.operators.dedup import (
        append_to_minhash_index,
        compact_minhash_index,
        minhash_index_exists,
        read_minhash_index,
        vacuum_minhash_index,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    idx = str(tmp_path / "idx")
    corpus_path = str(tmp_path / "corpus")
    boiler = "subscribe to the newsletter all rights reserved terms apply here"
    unique = "a unique historical document about spark shuffle tuning details"

    assert not minhash_index_exists(idx)
    # batch 1: 4 boilerplate + 1 unique doc; batch 2 appends 4 more
    # boilerplate — each batch is under the cap (so the per-batch cap
    # keeps them), the UNION is not: the append-regrowth hazard
    # compaction exists to fix
    b1 = spark.createDataFrame(
        [(i, boiler) for i in range(4)] + [(50, unique)], ["doc_id", "text"]
    )
    b2 = spark.createDataFrame(
        [(10 + i, boiler) for i in range(4)], ["doc_id", "text"]
    )
    build_minhash_index(b1, idx, max_band_size=5)
    assert minhash_index_exists(idx)
    append_to_minhash_index(b2, idx, max_band_size=5)
    b1.unionByName(b2).write.mode("overwrite").parquet(corpus_path)

    # pre-compaction: the boilerplate band has regrown to occupancy 8
    from pyspark.sql import functions as F  # noqa: F811

    occ = (
        read_minhash_index(spark, idx)
        .groupBy("band_idx", "band_hi", "band_lo")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert occ == 8

    probe = spark.createDataFrame(
        [(600, boiler), (601, unique), (602, "fresh novel text about manifest swaps here")],
        ["doc_id", "text"],
    )
    before = {r.doc_id for r in dedup_against_index(probe, idx).collect()}

    old_manifest = LOCAL_STORE.read_json(os.path.join(idx, "_index_manifest.json"))
    old_dir = os.path.join(idx, old_manifest["data_dir"])
    compact_minhash_index(spark, idx, corpus_path, max_band_size=5)

    # the hot band is re-capped globally; decisions for normal docs are
    # unchanged (601 dedups against the unique doc, 602 survives as
    # genuinely new, before and after), while 600 — whose only matches
    # were the regrown boilerplate band — flips to accepted: the
    # documented recall trade of the cap, now re-applied globally
    occ2 = (
        read_minhash_index(spark, idx)
        .groupBy("band_idx", "band_hi", "band_lo")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert occ2 <= 5
    after = {r.doc_id for r in dedup_against_index(probe, idx).collect()}
    assert before == {602}
    assert after == {600, 602}

    # superseded dir is retired, not deleted: readers on the old snapshot
    # can finish; version bumped; vacuum under retention keeps it, past
    # retention reclaims it
    new_manifest = LOCAL_STORE.read_json(os.path.join(idx, "_index_manifest.json"))
    assert new_manifest["version"] == old_manifest["version"] + 1
    assert [e["dir"] for e in new_manifest["retired"]] == [old_manifest["data_dir"]]
    assert os.path.isdir(old_dir)
    assert vacuum_minhash_index(idx) == 0  # default 1 h retention: kept
    assert os.path.isdir(old_dir)
    assert vacuum_minhash_index(idx, retention_s=0) == 1
    assert not os.path.isdir(old_dir)
    # manifest pruned; the live index still reads
    m3 = LOCAL_STORE.read_json(os.path.join(idx, "_index_manifest.json"))
    assert m3["retired"] == []
    assert read_minhash_index(spark, idx).count() > 0


def test_compact_detects_concurrent_compactor(spark, tmp_path):
    """Two compactors racing: the loser's conditional manifest PUT fails
    with ConcurrentWriteError instead of clobbering the winner."""
    import pytest

    from airflow_postgres_etl_spark.operators import dedup as D
    from airflow_postgres_etl_spark.storage import (
        ConcurrentWriteError,
        LocalManifestStore,
    )

    idx = str(tmp_path / "idx")
    corpus_path = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(1, "one unique document about adaptive query execution in spark")],
        ["doc_id", "text"],
    )
    build_minhash_index(docs, idx)
    docs.write.mode("overwrite").parquet(corpus_path)

    class RacingStore(LocalManifestStore):
        def __init__(self):
            self.fired = False

        def replace_if_version(self, path, manifest, expected_version):
            if not self.fired and expected_version is not None:
                self.fired = True
                # a competing compactor lands first
                current = self.read_json(path)
                current["version"] += 1
                super().replace_if_version(path, current, None)
            super().replace_if_version(path, manifest, expected_version)

    with pytest.raises(ConcurrentWriteError):
        D.compact_minhash_index(spark, idx, corpus_path, store=RacingStore())


def test_legacy_band_key_index_reads_and_appends_compatibly(
    spark, tmp_path
):
    """r12 format change (band_key hex -> band_hi/band_lo longs): an
    index persisted in the PRE-r12 format must keep working unchanged —
    read_minhash_index derives the longs on read (exact bijection), a
    post-upgrade append CONFORMS to the committed directory's legacy
    format (one schema per data dir), and dedup_against_index returns
    the same survivors as a fresh new-format index of the same corpus."""
    import json
    import os

    from pyspark.sql import functions as F

    import airflow_postgres_etl_spark.operators.dedup as D

    hist = corpus(spark)
    new_idx = str(tmp_path / "new_format")
    build_minhash_index(hist, new_idx)

    # forge the legacy layout: same rows, band hash as the 32-char hex
    # string, no "format" field in the manifest (pre-r12 manifests)
    old_idx = str(tmp_path / "old_format")
    legacy = D._index_frame(hist, "text", "doc_id", 3, None, fmt=1)
    assert "band_key" in legacy.columns and "band_hi" not in legacy.columns
    legacy.write.partitionBy("band_idx").parquet(f"{old_idx}/data-legacy")
    os.makedirs(old_idx, exist_ok=True)
    with open(f"{old_idx}/_index_manifest.json", "w") as fh:
        json.dump(
            {
                "version": 1,
                "data_dir": "data-legacy",
                "retired": [],
                "n_base": hist.count(),
                "n_appended": 0,
            },
            fh,
        )

    # read path: legacy index presents the BAND_COLS longs
    idx_df = D.read_minhash_index(spark, old_idx)
    assert {"band_hi", "band_lo"} <= set(idx_df.columns)
    assert "band_key" not in idx_df.columns

    batch = spark.createDataFrame(
        [
            (500, "the quick brown fox jumps over the lazy dog by the river bank today extra token1"),
            (501, "completely unrelated text describing a postgres airflow pipeline with celery workers"),
        ],
        ["doc_id", "text"],
    )
    got_old = {r.doc_id for r in dedup_against_index(batch, old_idx).collect()}
    got_new = {r.doc_id for r in dedup_against_index(batch, new_idx).collect()}
    assert got_old == got_new == {501}

    # append into the legacy index conforms to its string format...
    from airflow_postgres_etl_spark.operators.dedup import (
        append_to_minhash_index,
    )

    extra = spark.createDataFrame(
        [(900, "completely unrelated text describing a postgres airflow pipeline with celery workers")],
        ["doc_id", "text"],
    )
    append_to_minhash_index(extra, old_idx)
    raw = spark.read.parquet(f"{old_idx}/data-legacy")
    assert "band_key" in raw.columns and "band_hi" not in raw.columns
    # ...and the appended doc now catches its near-dups
    got2 = {r.doc_id for r in dedup_against_index(batch, old_idx).collect()}
    assert got2 == set()


def test_band_hi_lo_bijection_roundtrips_md5(spark):
    """The (hi, lo) signed-long decomposition must be an exact bijection
    with the 32-char md5 hex — equality on the longs IS equality on the
    string, which is what keeps every candidate set unchanged.  Both
    production expressions run through Spark over md5 digests and the
    boundary patterns (min/max long, all-zero, all-one halves), and are
    compared with a Python model of the decomposition."""
    import hashlib

    from pyspark.sql import functions as F

    import airflow_postgres_etl_spark.operators.dedup as D

    def py_hi_lo(h: str) -> tuple[int, int]:
        def signed(x: int) -> int:
            return x - (1 << 64) if x >= (1 << 63) else x

        return signed(int(h[:16], 16)), signed(int(h[16:], 16))

    hexes = [
        hashlib.md5(s).hexdigest()
        for s in [b"", b"a", b"band|0|1", b"\xff" * 33, b"edge"]
    ] + [
        "0" * 32,
        "f" * 32,
        "8000000000000000" + "7fffffffffffffff",
        "7fffffffffffffff" + "8000000000000000",
        "0000000000000001" + "ffffffffffffffff",
    ]
    hi, lo = D._band_hi_lo(F.col("h"))
    rows = (
        spark.createDataFrame([(h,) for h in hexes], "h string")
        .select("h", hi.alias("hi"), lo.alias("lo"))
        .select("h", "hi", "lo", D._legacy_band_key(F.col("hi"), F.col("lo")).alias("back"))
        .collect()
    )
    assert len(rows) == len(hexes)
    for r in rows:
        assert (r.hi, r.lo) == py_hi_lo(r.h), r.h
        assert r.back == r.h
