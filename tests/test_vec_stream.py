"""Streaming semantic-dedup ingest (streaming/vec_stream.py): the
persisted IVF index is the cross-batch dedup state; in-batch greedy
dedup drops higher-id near-dups; restart with no new files is a no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_postgres_etl_spark.operators.similarity import (
    ivf_appended_fraction,
    ivf_index_exists,
    ivf_paths,
)
from airflow_postgres_etl_spark.sink import read_keyed_table
from airflow_postgres_etl_spark.streaming.vec_stream import (
    semantic_self_dedup,
    stream_semantic_ingest,
)


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )


def test_semantic_self_dedup_greedy_by_id(spark):
    # 1 and 3 are near-identical (cos ~0.9999); 2 is orthogonal; chain
    # rule: 3 drops against 1. Batch ids start far from 0, so the seeds
    # must come from the batch itself, not the id<n_cells rule.
    batch = _vecs(
        spark,
        [
            (101, [1.0, 0.0, 0.0, 0.0], 0),
            (102, [0.0, 1.0, 0.0, 0.0], 0),
            (103, [0.99, 0.01, 0.0, 0.0], 0),
        ],
    )
    kept = {r.vec_id for r in semantic_self_dedup(batch, 0.9, n_cells=2).collect()}
    assert kept == {101, 102}


def test_stream_semantic_ingest_cross_batch(spark, tmp_path):
    from airflow_postgres_etl_spark import caching

    n_caches_before = len(caching._ACTIVE)
    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    b1 = _vecs(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.0, 1.0, 0.0, 0.0], 0),
            (3, [0.99, 0.01, 0.0, 0.0], 0),  # in-batch near-dup of 1
        ],
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    q = stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got1 = {r.vec_id for r in read_keyed_table(spark, out).collect()}
    assert got1 == {1, 2}
    assert ivf_index_exists(idx)

    b2 = _vecs(
        spark,
        [
            (10, [0.98, 0.02, 0.0, 0.0], 1),  # near-dup of accepted 1
            (11, [0.0, 0.0, 1.0, 0.0], 1),    # novel direction
        ],
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None,
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    got2 = {r.vec_id for r in read_keyed_table(spark, out).collect()}
    assert got2 == {1, 2, 11}

    # the index covers exactly the accepted corpus, and the drift
    # counter saw the append
    indexed = {
        r.vec_id
        for r in spark.read.parquet(ivf_paths(idx)["vectors"]).select("vec_id").collect()
    }
    assert indexed == {1, 2, 11}
    assert ivf_appended_fraction(idx) == pytest.approx(1 / 3)

    # restart with no new files: nothing appended anywhere
    q3 = stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None,
    )
    q3.awaitTermination(120)
    assert q3.exception() is None
    assert {r.vec_id for r in read_keyed_table(spark, out).collect()} == {1, 2, 11}
    assert ivf_appended_fraction(idx) == pytest.approx(1 / 3)

    # per-batch cache lifecycle: the quantizer-assignment caches each
    # micro-batch registers are released with the batch — a long-running
    # stream must not accumulate them
    assert len(caching._ACTIVE) == n_caches_before


def test_stream_first_batch_ids_above_n_cells(spark, tmp_path):
    """ADVICE r5 (high): a FIRST batch whose ids all exceed n_cells must
    still build a working index — the base-table `id < n_cells` centroid
    rule would seed an EMPTY quantizer here, committing an empty
    centroids store that crashes (or silently de-dedups) every later
    batch.  Seeds must come from the batch's n_cells lowest ids."""
    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    # first batch: ids 1000+ (>> n_cells=2), with an in-batch near-dup
    b1 = _vecs(
        spark,
        [
            (1001, [1.0, 0.0, 0.0, 0.0], 0),
            (1002, [0.0, 1.0, 0.0, 0.0], 0),
            (1003, [0.99, 0.01, 0.0, 0.0], 0),  # drops vs 1001
        ],
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    q = stream_semantic_ingest(spark, src, idx, out, ck, threshold=0.9, n_cells=2)
    q.awaitTermination(120)
    assert q.exception() is None
    assert {r.vec_id for r in read_keyed_table(spark, out).collect()} == {1001, 1002}
    # the committed centroid table is NON-empty and batch-seeded
    cents = spark.read.parquet(ivf_paths(idx)["centroids"]).collect()
    assert {r.c_id for r in cents} == {1001, 1002}

    # second batch probes the index without crashing and cross-batch
    # dedup still works; the in-band refresh (1/3 appended > 0.2) must
    # also rebuild with corpus-seeded centroids, not `id < n_cells`
    b2 = _vecs(
        spark,
        [
            (2001, [0.98, 0.02, 0.0, 0.0], 1),  # near-dup of accepted 1001
            (2002, [0.0, 0.0, 1.0, 0.0], 1),    # novel
        ],
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = stream_semantic_ingest(spark, src, idx, out, ck, threshold=0.9, n_cells=2)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert {r.vec_id for r in read_keyed_table(spark, out).collect()} == {
        1001, 1002, 2002,
    }
    # refresh fired (counter reset) and the rebuilt quantizer is corpus-seeded
    from airflow_postgres_etl_spark.operators.similarity import (
        ivf_appended_fraction as _frac,
    )

    assert _frac(idx) == 0.0
    cents2 = spark.read.parquet(ivf_paths(idx)["centroids"]).collect()
    assert {r.c_id for r in cents2} == {1001, 1002}


def test_stream_semantic_matches_batch_decisions(spark, tmp_path):
    """Two micro-batches admit exactly what the greedy-by-id batch rule
    over the union admits (ids ordered across batches): streaming
    composition introduces no extra accepts or drops."""
    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    rows1 = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 0),
    ]
    rows2 = [
        (3, [0.99, 0.01, 0.0, 0.0], 0),   # drops vs 1
        (4, [0.0, 0.99, 0.01, 0.0], 0),   # drops vs 2
        (5, [0.0, 0.0, 0.0, 1.0], 0),     # novel
    ]
    _vecs(spark, rows1).coalesce(1).write.mode("append").parquet(src)
    q = stream_semantic_ingest(spark, src, idx, out, ck, threshold=0.9, n_cells=2)
    q.awaitTermination(120)
    assert q.exception() is None
    _vecs(spark, rows2).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_semantic_ingest(spark, src, idx, out, ck, threshold=0.9, n_cells=2)
    q2.awaitTermination(120)
    assert q2.exception() is None

    union = _vecs(spark, rows1 + rows2)
    batch_kept = {
        r.vec_id for r in semantic_self_dedup(union, 0.9, n_cells=2).collect()
    }
    stream_kept = {r.vec_id for r in read_keyed_table(spark, out).collect()}
    assert stream_kept == batch_kept == {1, 2, 5}


def test_stream_semantic_auto_refresh(spark, tmp_path):
    """In-band drift guard: once appended mass crosses the threshold the
    quantizer is re-trained from the accepted corpus — the appended
    counter resets to 0 and dedup decisions are unchanged (the rebuilt
    index holds exactly the corpus)."""
    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    _vecs(
        spark,
        [(1, [1.0, 0.0, 0.0, 0.0], 0), (2, [0.0, 1.0, 0.0, 0.0], 0)],
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_semantic_ingest(spark, src, idx, out, ck, threshold=0.9, n_cells=2)
    q.awaitTermination(120)
    assert q.exception() is None

    # batch 2 appends 1 of 3 vectors (fraction 1/3 > default 0.2) →
    # in-band rebuild fires and resets the counter
    _vecs(spark, [(10, [0.0, 0.0, 1.0, 0.0], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = stream_semantic_ingest(spark, src, idx, out, ck, threshold=0.9, n_cells=2)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert ivf_appended_fraction(idx) == 0.0

    # dedup behavior unchanged after the rebuild: near-dup of vec 1
    # still rejected, novel direction admitted
    _vecs(
        spark,
        [(20, [0.99, 0.01, 0.0, 0.0], 1), (21, [0.0, 0.0, 0.0, 1.0], 1)],
    ).coalesce(1).write.mode("append").parquet(src)
    q3 = stream_semantic_ingest(spark, src, idx, out, ck, threshold=0.9, n_cells=2)
    q3.awaitTermination(120)
    assert q3.exception() is None
    kept = {r.vec_id for r in read_keyed_table(spark, out).collect()}
    assert kept == {1, 2, 10, 21}


def test_stream_semantic_maintains_distinct_view_across_crash(
    spark, tmp_path, monkeypatch
):
    """VERDICT r8 task 5: the vector-ingest path composes with IVM —
    a semantic-dedup stream maintains a per-label distinct-count view
    in-band, and a crash BETWEEN the corpus commit and the view refresh
    heals on replay: foreachBatch re-delivers the epoch, the index drops
    every already-admitted survivor (no double corpus commit), and the
    replay's refresh folds the missed commit into the view exactly once
    (the view pins the last table version it saw)."""
    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.streaming import vec_stream as VS
    from airflow_postgres_etl_spark.views import read_distinct_view

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    mv = str(tmp_path / "mv")
    spec = [{"kind": "distinct", "mv_path": mv, "group_cols": ["label"],
             "item_col": "vec_id"}]
    b1 = _vecs(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.0, 1.0, 0.0, 0.0], 0),
            (3, [0.99, 0.01, 0.0, 0.0], 1),  # in-batch near-dup of 1
            (4, [0.0, 0.0, 1.0, 0.0], 1),
        ],
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    real_refresh = VS._refresh_view
    state = {"crash": True}

    def refresh_or_crash(*a, **kw):
        if state["crash"]:
            state["crash"] = False
            raise RuntimeError("injected crash between commit and refresh")
        return real_refresh(*a, **kw)

    monkeypatch.setattr(VS, "_refresh_view", refresh_or_crash)
    q = VS.stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None, maintain_views=spec, corpus_num_buckets=2,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    assert q.exception() is not None
    # the corpus commit LANDED before the crash; the view never did
    v_crashed = sink.table_version(out)
    assert v_crashed is not None
    import os

    assert not os.path.isdir(mv)

    # restart: epoch replays, survivors drop against the index (no new
    # corpus version), and the refresh catches the view up exactly once
    q2 = VS.stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None, maintain_views=spec, corpus_num_buckets=2,
    )
    q2.awaitTermination(300)
    assert q2.exception() is None
    assert sink.table_version(out) == v_crashed  # no double admission
    corpus = sink.read_keyed_table(spark, out)
    got_ids = {r.vec_id for r in corpus.collect()}
    assert got_ids == {1, 2, 4}  # 3 deduped in-batch against 1

    def view_counts():
        return {
            r.label: r.est_distinct
            for r in read_distinct_view(spark, mv).collect()
        }

    # below the k fill line KMV is EXACT — the view equals the corpus
    assert view_counts() == {0: 2, 1: 1}

    # a later batch increments the view in-band (novel + near-dup mix)
    b2 = _vecs(
        spark,
        [
            (10, [0.98, 0.02, 0.0, 0.0], 1),  # near-dup of accepted 1
            (11, [0.0, 0.0, 0.0, 1.0], 1),    # novel
        ],
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    q3 = VS.stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None, maintain_views=spec, corpus_num_buckets=2,
    )
    q3.awaitTermination(300)
    assert q3.exception() is None
    assert view_counts() == {0: 2, 1: 2}
    # and a crash-free end-to-end control produces the same view rows
    src2, idx2, out2, ck2, mv2 = (
        str(tmp_path / d)
        for d in ("src2", "idx2", "corpus2", "ck2", "mv2")
    )
    spec2 = [{"kind": "distinct", "mv_path": mv2, "group_cols": ["label"],
              "item_col": "vec_id"}]
    b1.coalesce(1).write.mode("append").parquet(src2)
    b2.coalesce(1).write.mode("append").parquet(src2)
    qc = VS.stream_semantic_ingest(
        spark, src2, idx2, out2, ck2, threshold=0.9, n_cells=2,
        refresh_fraction=None, maintain_views=spec2, corpus_num_buckets=2,
    )
    qc.awaitTermination(300)
    assert qc.exception() is None
    from airflow_postgres_etl_spark.views import read_distinct_view as rdv

    control = {
        (r.label, r.est_distinct) for r in rdv(spark, mv2).collect()
    }
    assert {(k, v) for k, v in view_counts().items()} == control


def test_stream_keyed_corpus_exactly_once_across_index_crash(
    spark, tmp_path, monkeypatch
):
    """r9 review finding (severe): with the contains-guard alone, a
    crash BETWEEN the index append and the corpus write lost admitted
    vectors from the corpus forever.  Keyed mode now commits the corpus
    FIRST under an epoch txn watermark, then appends the index — so a
    crash at EITHER position replays into exactly-once corpus + index.
    This test crashes between the two: corpus committed, index not."""
    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.operators.similarity import (
        ivf_index_exists,
    )
    from airflow_postgres_etl_spark.streaming import vec_stream as VS
    from airflow_postgres_etl_spark.views import read_distinct_view

    src, idx, out, ck, mv = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck", "mv")
    )
    spec = [{"kind": "distinct", "mv_path": mv, "group_cols": ["label"],
             "item_col": "vec_id"}]
    b1 = _vecs(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.0, 1.0, 0.0, 0.0], 1),
        ],
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    real_build = VS.build_ivf_index
    state = {"crash": True}

    def build_or_crash(*a, **kw):
        if state["crash"]:
            state["crash"] = False
            raise RuntimeError("injected crash before index build")
        return real_build(*a, **kw)

    monkeypatch.setattr(VS, "build_ivf_index", build_or_crash)
    q = VS.stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None, maintain_views=spec, corpus_num_buckets=2,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    # the corpus commit LANDED (txn watermark inside it); no index yet
    v1 = sink.table_version(out)
    assert v1 is not None and not ivf_index_exists(idx)

    q2 = VS.stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None, maintain_views=spec, corpus_num_buckets=2,
    )
    q2.awaitTermination(300)
    assert q2.exception() is None
    # exactly-once: replay was a txn no-op on the corpus (same version),
    # the index now holds the admitted vectors, the view is caught up
    assert sink.table_version(out) == v1
    corpus = sink.read_keyed_table(spark, out)
    assert sorted(r.vec_id for r in corpus.collect()) == [1, 2]
    assert ivf_index_exists(idx)
    in_idx = spark.read.parquet(ivf_paths(idx)["vectors"])
    assert sorted(r.vec_id for r in in_idx.collect()) == [1, 2]
    got = {r.label: r.est_distinct for r in read_distinct_view(spark, mv).collect()}
    assert got == {0: 1, 1: 1}

    # a later epoch still flows normally end-to-end
    b2 = _vecs(spark, [(9, [0.0, 0.0, 1.0, 0.0], 1)])
    b2.coalesce(1).write.mode("append").parquet(src)
    q3 = VS.stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None, maintain_views=spec, corpus_num_buckets=2,
    )
    q3.awaitTermination(300)
    assert q3.exception() is None
    assert sorted(
        r.vec_id for r in sink.read_keyed_table(spark, out).collect()
    ) == [1, 2, 9]
    got = {r.label: r.est_distinct for r in read_distinct_view(spark, mv).collect()}
    assert got == {0: 1, 1: 2}


def test_stream_delivery_validation(spark, tmp_path):
    """r10: delivery is validated, and maintain_views (manifest-diff
    IVM) is incompatible with the plain-parquet opt-in."""
    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    with pytest.raises(ValueError, match="delivery must be"):
        stream_semantic_ingest(
            spark, src, idx, out, ck, delivery="exactly-once-ish"
        )
    with pytest.raises(ValueError, match="maintain_views requires"):
        stream_semantic_ingest(
            spark, src, idx, out, ck, delivery="at_most_once",
            maintain_views=[{"kind": "distinct", "mv_path": str(tmp_path / "mv"),
                             "group_cols": ["label"], "item_col": "vec_id"}],
        )


def test_stream_at_most_once_opt_in_plain_parquet(spark, tmp_path):
    """The explicit opt-in keeps the r8-era contract: plain-parquet
    corpus directory (no manifest), index appended FIRST, cross-batch
    dedup unchanged."""
    from airflow_postgres_etl_spark.sink import table_version

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    _vecs(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.0, 1.0, 0.0, 0.0], 0),
            (3, [0.99, 0.01, 0.0, 0.0], 0),
        ],
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None, delivery="at_most_once",
    )
    q.awaitTermination(120)
    assert q.exception() is None
    # plain directory: readable by bare spark.read.parquet, NO manifest
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == {1, 2}
    assert table_version(out) is None
    _vecs(spark, [(10, [0.98, 0.02, 0.0, 0.0], 1),
                  (11, [0.0, 0.0, 1.0, 0.0], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None, delivery="at_most_once",
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == {1, 2, 11}


def test_stream_default_path_crash_matrix_exactly_once(
    spark, tmp_path, monkeypatch
):
    """r10 (VERDICT r9 task 3): the DEFAULT path — no maintain_views —
    is now exactly-once.  Crash positions: (a) between the corpus
    commit and the index build → replay is a corpus txn no-op and the
    index catches up; (b) full epoch done but checkpoint lost (fresh
    checkpoint dir, same source) → the contains-guard drops everything,
    corpus version unchanged."""
    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.streaming import vec_stream as VS

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    b1 = _vecs(
        spark,
        [(1, [1.0, 0.0, 0.0, 0.0], 0), (2, [0.0, 1.0, 0.0, 0.0], 1)],
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    real_build = VS.build_ivf_index
    state = {"crash": True}

    def build_or_crash(*a, **kw):
        if state["crash"]:
            state["crash"] = False
            raise RuntimeError("injected crash before index build")
        return real_build(*a, **kw)

    monkeypatch.setattr(VS, "build_ivf_index", build_or_crash)
    q = VS.stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    v1 = sink.table_version(out)
    assert v1 is not None and not ivf_index_exists(idx)

    # (a) replay: corpus txn no-op, index catches up
    q2 = VS.stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None,
    )
    q2.awaitTermination(300)
    assert q2.exception() is None
    assert sink.table_version(out) == v1
    assert sorted(r.vec_id for r in read_keyed_table(spark, out).collect()) == [1, 2]
    assert sorted(
        r.vec_id for r in spark.read.parquet(ivf_paths(idx)["vectors"]).collect()
    ) == [1, 2]

    # (b) lost checkpoint: full redelivery under a NEW txn_app — the
    # contains-guard (not the watermark) is what drops everything
    ck2 = str(tmp_path / "ck2")
    q3 = VS.stream_semantic_ingest(
        spark, src, idx, out, ck2, threshold=0.9, n_cells=2,
        refresh_fraction=None,
    )
    q3.awaitTermination(300)
    assert q3.exception() is None
    assert sink.table_version(out) == v1  # no commit, no duplicate
    assert sorted(r.vec_id for r in read_keyed_table(spark, out).collect()) == [1, 2]


def test_stream_semantic_ingest_releases_its_batch_checkpoint(spark, tmp_path):
    """A micro-batch's survivors checkpoint is released when the batch
    ends: ``unpersist()`` does not drop a local checkpoint's blocks."""
    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    _vecs(
        spark,
        [(1, [1.0, 0.0, 0.0, 0.0], 0), (2, [0.0, 1.0, 0.0, 0.0], 0)],
    ).coalesce(1).write.parquet(src)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    held = set(persisted().keySet())
    q = stream_semantic_ingest(
        spark, src, idx, out, ck, threshold=0.9, n_cells=2,
        refresh_fraction=None,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert read_keyed_table(spark, out).count() == 2
    assert set(persisted().keySet()) <= held
