"""Incrementally-maintained aggregate views: the manifest-diff refresh
must equal a from-scratch recompute after every kind of commit (CoW
merge, MOR delta, compaction), read only changed files on the
incremental path, and fall back to full recompute whenever the
file-multiset shortcut would be unsound."""

from __future__ import annotations

import pytest

from airflow_postgres_etl_spark.sink import (
    compact_keyed_table,
    keyed_merge_mor,
    keyed_overwrite_parquet,
    read_keyed_table,
)
from airflow_postgres_etl_spark.views import (
    read_aggregate_view,
    refresh_aggregate_view,
)


def _rows(spark, data):
    return spark.createDataFrame(data, ["oid__id", "grp", "v"])


def _expect(spark, target):
    """Ground truth: full recompute from the table."""
    from pyspark.sql import functions as F

    df = read_keyed_table(spark, target)
    got = (
        df.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("double")).alias("sum_v"),
        )
        .collect()
    )
    return {r.grp: (r.n, r.sum_v) for r in got}


def _view(spark, mv):
    return {
        r.grp: (r.n, r.sum_v) for r in read_aggregate_view(spark, mv).collect()
    }


def _check(spark, target, mv):
    exp, got = _expect(spark, target), _view(spark, mv)
    assert set(exp) == set(got)
    for g in exp:
        assert exp[g][0] == got[g][0], f"count mismatch for {g}"
        assert abs(exp[g][1] - got[g][1]) < 1e-6, f"sum mismatch for {g}"


def test_incremental_refresh_matches_recompute(spark, tmp_path):
    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", f"g{i % 3}", float(i)) for i in range(60)]),
        target,
        num_buckets=8,
        vacuum=False,
    )
    r = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    assert r["mode"] == "full"
    _check(spark, target, mv)

    # replace a few keys + insert new ones -> only touched buckets' files
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [("k1", "g0", 100.0), ("k99", "g2", 7.5)]),
        target,
        num_buckets=8,
        vacuum=False,
    )
    r = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    assert r["mode"] == "incremental"
    total_files = len(read_keyed_table(spark, target).inputFiles())
    assert 0 < r["files_read"] < total_files  # did NOT rescan the table
    _check(spark, target, mv)

    # refresh with nothing new is a no-op
    assert refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])["mode"] == "noop"


def test_group_disappears_when_count_hits_zero(spark, tmp_path):
    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [("a", "solo", 1.0), ("b", "big", 2.0), ("c", "big", 3.0)]),
        target,
        vacuum=False,
    )
    refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    # key "a" (the only 'solo' row) moves to group 'big'
    keyed_overwrite_parquet(
        spark, _rows(spark, [("a", "big", 1.0)]), target, vacuum=False
    )
    r = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    assert r["mode"] == "incremental"
    got = _view(spark, mv)
    assert "solo" not in got
    assert got["big"][0] == 3
    _check(spark, target, mv)


def test_mor_deltas_force_full_fallback_until_compacted(spark, tmp_path):
    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", f"g{i % 2}", 1.0) for i in range(20)]),
        target,
        vacuum=False,
    )
    refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    # MOR delta: the file multiset no longer equals the snapshot — the
    # refresh MUST NOT use the manifest diff (it would double-count k0)
    keyed_merge_mor(spark, _rows(spark, [("k0", "g0", 50.0)]), target)
    r = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    assert r["mode"] == "full"
    _check(spark, target, mv)
    # compaction cleans the table, but the view's recorded OLD endpoint
    # is still the unclean MOR version -> one more full refresh...
    compact_keyed_table(spark, target)
    keyed_overwrite_parquet(
        spark, _rows(spark, [("k1", "g1", 9.0)]), target, vacuum=False
    )
    r = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    assert r["mode"] == "full"
    _check(spark, target, mv)
    # ...and once BOTH endpoints are clean, incremental resumes
    keyed_overwrite_parquet(
        spark, _rows(spark, [("k2", "g0", 4.0)]), target, vacuum=False
    )
    r = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    assert r["mode"] == "incremental"
    _check(spark, target, mv)


# ---------------------------------------------------------------------------
# The endpoint matrix: every view kind through every endpoint rule of the
# shared refresh skeleton, the view equal to a full recompute after each
# ---------------------------------------------------------------------------

_KINDS = ["aggregate", "star", "minmax", "distinct", "quantile", "cms"]

_BASE_META = {"source_version", "data", "group_cols", "sum_cols"}
_META_KEYS = {
    "aggregate": _BASE_META,
    "star": _BASE_META | {"kind", "ons", "versions"},
    "minmax": _BASE_META | {"kind", "agg_cols"},
    "distinct": _BASE_META | {"kind", "item_col", "k"},
    "quantile": _BASE_META | {"kind", "value_col", "key_col", "k"},
    "cms": _BASE_META | {"kind", "item_col", "depth", "width"},
}


def _refresh_kind(kind, spark, target, dim, mv, group=None):
    from airflow_postgres_etl_spark import views as V

    if kind == "aggregate":
        return V.refresh_aggregate_view(spark, target, mv, group or ["grp"], ["v"])
    if kind == "star":
        return V.refresh_star_view(
            spark, target, [(dim, "grp")], mv, group or ["seg"], ["v"]
        )
    if kind == "minmax":
        return V.refresh_minmax_view(spark, target, mv, group or ["grp"], ["v"])
    if kind == "distinct":
        return V.refresh_distinct_view(
            spark, target, mv, group or ["grp"], "item", k=4
        )
    if kind == "quantile":
        return V.refresh_quantile_view(
            spark, target, mv, group or ["grp"], "v", "oid__id", k=4
        )
    return V.refresh_cms_view(
        spark, target, mv, group or ["grp"], "item", depth=2, width=8
    )


#: one output column per kind, used as a group column it must collide
_CLASH = {"aggregate": "n", "star": "sum_v", "minmax": "max_v",
          "distinct": "kth", "quantile": "smp", "cms": "cnt"}


def _recompute_rows(kind, spark, target, dim):
    """The view each kind must hold, computed directly from the table."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators import sketch as S

    t = read_keyed_table(spark, target)
    if kind == "star":
        t = t.join(read_keyed_table(spark, dim), "grp")
    g = "seg" if kind == "star" else "grp"
    if kind in ("aggregate", "star", "minmax"):
        aggs = [F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v")]
        if kind == "minmax":
            aggs += [F.min("v").alias("min_v"), F.max("v").alias("max_v")]
        df = t.groupBy(g).agg(*aggs)
    elif kind == "distinct":
        df = S.kmv_sketch(t, ["grp"], F.col("item"), k=4)
    elif kind == "cms":
        df = S.cms_sketch(t, ["grp"], F.col("item"), depth=2, width=8)
    else:
        smp = S.bottomk_sample(
            t.select("grp", F.col("v").alias("__v"), "oid__id"),
            ["grp"], F.col("oid__id"), k=4,
        )
        df = smp.groupBy("grp").agg(
            F.sort_array(F.collect_list(
                F.struct(F.col("__h").alias("h"), F.col("__v").alias("v"))
            )).alias("smp"),
            F.count("*").cast("long").alias("n_smp"),
        )
    return _sorted_rows(df)


def _sorted_rows(df):
    return sorted(str(r) for r in df.select(*sorted(df.columns)).collect())


def _mv_files(mv):
    import os

    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(mv, "data"))
        for f in fs
    )


@pytest.mark.parametrize("kind", _KINDS)
def test_refresh_endpoint_matrix(spark, tmp_path, kind):
    """Each view kind through the shared endpoint rules, in order: first
    refresh -> full; same version -> noop; CoW merge -> incremental; a
    metadata-only commit -> incremental reading nothing and writing only
    the meta; a pending MOR delta -> full; compaction while the recorded
    endpoint is still the unclean one -> full; a zero-retention vacuum
    of a removed file -> full.  After every step the view equals a full
    recompute of the kind's aggregate straight from the table, and the
    meta carries exactly the kind's key set.  Each kind also rejects a
    group column named like one of its output columns."""
    from airflow_postgres_etl_spark.operators.expectations import (
        expect_distribution,
    )
    from airflow_postgres_etl_spark.sink import (
        set_drift_policy,
        vacuum_keyed_table,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE
    from airflow_postgres_etl_spark.views import _meta_path, _read_view_frame

    target, dim, mv = (str(tmp_path / d) for d in ("t", "d", "mv"))
    schema = "oid__id string, grp string, v double, item string"

    def rows(data):
        return spark.createDataFrame(data, schema)

    with pytest.raises(ValueError, match="collide"):
        _refresh_kind(kind, spark, target, dim, mv, group=[_CLASH[kind]])
    keyed_overwrite_parquet(
        spark,
        rows([(f"k{i}", f"g{i % 3}", float(i + 1), f"it{i % 7}")
              for i in range(30)]),
        target, num_buckets=2, vacuum=False,
    )
    if kind == "star":
        keyed_overwrite_parquet(
            spark,
            spark.createDataFrame(
                [("g0", "east"), ("g1", "west"), ("g2", "east")], ["grp", "seg"]
            ),
            dim, key="grp", num_buckets=1, vacuum=False,
        )

    def step(expected_mode):
        r = _refresh_kind(kind, spark, target, dim, mv)
        assert r["mode"] == expected_mode, r
        meta = LOCAL_STORE.read_json(_meta_path(mv))
        assert set(meta) == _META_KEYS[kind]
        view = _read_view_frame(spark, mv, LOCAL_STORE)
        assert _sorted_rows(view) == _recompute_rows(kind, spark, target, dim)
        return r, meta

    step("full")
    step("noop")
    keyed_overwrite_parquet(
        spark, rows([("k1", "g0", 100.0, "it1"), ("k99", "g2", 7.0, "new")]),
        target, vacuum=False,
    )
    step("incremental")

    # a metadata-only commit moves the version but no base file: the
    # refresh reads nothing and rewrites only the meta
    before_meta = LOCAL_STORE.read_json(_meta_path(mv))
    before_files = _mv_files(mv)
    set_drift_policy(
        spark, target, [expect_distribution("d", "grp", {"g0": 0.5, "g1": 0.5})]
    )
    r, meta = step("incremental")
    reads = (
        r["fact_files_read"] + r["dim_files_read"] if kind == "star"
        else r["files_read"]
    )
    assert reads == 0
    assert meta["data"] == before_meta["data"]
    assert _mv_files(mv) == before_files
    if kind == "star":
        assert meta["versions"][0] == before_meta["versions"][0] + 1
    else:
        assert meta["source_version"] == before_meta["source_version"] + 1

    # MOR delta pending: the file multiset is unsound -> full ...
    keyed_merge_mor(spark, rows([("k0", "g1", 50.0, "it3")]), target)
    step("full")
    # ... and stays full while the recorded endpoint is the unclean one
    compact_keyed_table(spark, target)
    step("full")
    # both endpoints clean, but the superseded files (the delta's minus
    # side) are vacuumed -> full
    keyed_overwrite_parquet(
        spark, rows([("k6", "g2", -1.0, "it6")]), target, vacuum=False
    )
    vacuum_keyed_table(target, retention_s=0)
    step("full")


def test_mismatched_view_definition_rejected(spark, tmp_path):
    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _rows(spark, [("a", "g", 1.0)]), target, vacuum=False
    )
    refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    with pytest.raises(ValueError, match="different shape"):
        refresh_aggregate_view(spark, target, mv, ["oid__id"], ["v"])


def test_multi_column_groups_and_null_groups(spark, tmp_path):
    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    rows = spark.createDataFrame(
        [("a", "g1", None, 1.0), ("b", "g1", "x", 2.0), ("c", None, "x", 3.0)],
        ["oid__id", "grp", "sub", "v"],
    )
    keyed_overwrite_parquet(spark, rows, target, vacuum=False)
    refresh_aggregate_view(spark, target, mv, ["grp", "sub"], ["v"])
    up = spark.createDataFrame(
        [("c", None, "x", 30.0)],
        "oid__id string, grp string, sub string, v double",
    )
    keyed_overwrite_parquet(spark, up, target, vacuum=False)
    r = refresh_aggregate_view(spark, target, mv, ["grp", "sub"], ["v"])
    assert r["mode"] == "incremental"
    got = {
        (r.grp, r.sub): (r.n, r.sum_v)
        for r in read_aggregate_view(spark, mv).collect()
    }
    assert got[(None, "x")] == (1, 30.0)  # null group matched via eqNullSafe
    assert got[("g1", None)][0] == 1


def test_streaming_ingest_composes_with_incremental_view(spark, tmp_path):
    """The continuous-aggregate shape: checkpointed stream ingest (CoW
    merges) followed by view refreshes — the second refresh after an
    incremental stream advance must take the manifest-diff path and
    agree with a full recompute."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.streaming import stream_ingest

    from .fixtures.gen_raw import generate

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir)
    import os

    files = sorted(os.listdir(csv_dir))
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[: len(files) // 2]:
        os.link(os.path.join(csv_dir, f), os.path.join(half, f))

    tr, ev, ck, mv = (str(tmp_path / d) for d in ("tr", "ev", "ck", "mv"))
    q = stream_ingest(spark, half, tr, ev, ck)
    q.awaitTermination(120)
    assert q.exception() is None
    r = refresh_aggregate_view(spark, ev, mv, ["status"], [])
    assert r["mode"] == "full"

    # the stream advances over the remaining files; the view refresh
    # reads only what the new merges touched
    for f in files[len(files) // 2 :]:
        os.link(os.path.join(csv_dir, f), os.path.join(half, f))
    q2 = stream_ingest(spark, half, tr, ev, ck)
    q2.awaitTermination(120)
    assert q2.exception() is None
    r2 = refresh_aggregate_view(spark, ev, mv, ["status"], [])
    assert r2["mode"] in ("incremental", "full")

    exp = {
        (r2_.status, r2_.n)
        for r2_ in read_keyed_table(spark, ev)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from airflow_postgres_etl_spark.views import read_aggregate_view

    got = {(r_.status, r_.n) for r_ in read_aggregate_view(spark, mv).collect()}
    assert got == exp


def test_colliding_group_column_names_rejected(spark, tmp_path):
    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    rows = spark.createDataFrame([("a", "g", 1.0)], ["oid__id", "n", "v"])
    keyed_overwrite_parquet(spark, rows, target, vacuum=False)
    with pytest.raises(ValueError, match="collide"):
        refresh_aggregate_view(spark, target, mv, ["n"], ["v"])


# ---------------------------------------------------------------------------
# join views: Δ(R⋈S) = ΔR⋈S_new + R_old⋈ΔS
# ---------------------------------------------------------------------------


def _fact_rows(spark, data):
    return spark.createDataFrame(data, ["oid__id", "cust", "amt"])


def _dim_rows(spark, data):
    return spark.createDataFrame(data, ["cust", "segment"])


def _join_expect(spark, fact, dim):
    """Ground truth: full recompute of the joined rollup."""
    from pyspark.sql import functions as F

    r = read_keyed_table(spark, fact)
    s = read_keyed_table(spark, dim)
    got = (
        r.join(s, on="cust", how="inner")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amt").cast("double")).alias("sum_amt"),
        )
        .collect()
    )
    return {x.segment: (x.n, x.sum_amt) for x in got}


def _join_view(spark, mv):
    return {
        x.segment: (x.n, x.sum_amt)
        for x in read_aggregate_view(spark, mv).collect()
    }


def _join_check(spark, fact, dim, mv):
    exp, got = _join_expect(spark, fact, dim), _join_view(spark, mv)
    assert set(exp) == set(got)
    for g in exp:
        assert exp[g][0] == got[g][0], f"count mismatch for {g}"
        assert abs(exp[g][1] - got[g][1]) < 1e-6, f"sum mismatch for {g}"


def test_join_view_fact_only_churn_reads_only_fact_delta(spark, tmp_path):
    """The production case: facts churn, dim untouched — the refresh
    reads only the changed fact files and never rescans the fact."""
    from airflow_postgres_etl_spark.views import refresh_join_view

    fact, dim, mv = str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _fact_rows(spark, [(f"o{i}", f"c{i % 5}", float(i)) for i in range(60)]),
        fact, num_buckets=8, vacuum=False,
    )
    keyed_overwrite_parquet(
        spark,
        _dim_rows(spark, [(f"c{i}", "gold" if i < 2 else "base") for i in range(5)]),
        dim, key="cust", num_buckets=2, vacuum=False,
    )
    r = refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])
    assert r["mode"] == "full"
    _join_check(spark, fact, dim, mv)

    # replace two orders, add one -> only the touched buckets re-read
    keyed_overwrite_parquet(
        spark,
        _fact_rows(spark, [("o1", "c3", 500.0), ("o99", "c0", 7.5)]),
        fact, num_buckets=8, vacuum=False,
    )
    r = refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])
    assert r["mode"] == "incremental" and r["fact_rescan"] is False
    assert r["dim_files_read"] == 0
    total = len(read_keyed_table(spark, fact).inputFiles())
    assert 0 < r["fact_files_read"] < total
    _join_check(spark, fact, dim, mv)

    # both unchanged -> noop
    assert refresh_join_view(
        spark, fact, dim, mv, "cust", ["segment"], ["amt"]
    )["mode"] == "noop"


def test_join_view_dim_change_moves_groups(spark, tmp_path):
    """The hard IVM case: a dim attribute changes, so existing fact rows
    MOVE between groups — handled by the R_old⋈ΔS term (old rows leave
    via the removed dim file's -1 weight, re-enter under the new value)."""
    from airflow_postgres_etl_spark.views import refresh_join_view

    fact, dim, mv = str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _fact_rows(spark, [(f"o{i}", f"c{i % 4}", float(i)) for i in range(40)]),
        fact, num_buckets=4, vacuum=False,
    )
    keyed_overwrite_parquet(
        spark,
        _dim_rows(spark, [("c0", "a"), ("c1", "a"), ("c2", "b"), ("c3", "b")]),
        dim, key="cust", num_buckets=2, vacuum=False,
    )
    refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])

    # c1 moves a -> b; c9 appears (no facts yet -> no view effect)
    keyed_overwrite_parquet(
        spark, _dim_rows(spark, [("c1", "b"), ("c9", "z")]),
        dim, key="cust", num_buckets=2, vacuum=False,
    )
    r = refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])
    assert r["mode"] == "incremental" and r["fact_rescan"] is True
    assert r["dim_files_read"] > 0
    got = _join_view(spark, mv)
    assert "z" not in got  # dim row with no facts contributes nothing
    _join_check(spark, fact, dim, mv)

    # then facts arrive for the new dim row; dim untouched this time
    keyed_overwrite_parquet(
        spark, _fact_rows(spark, [("oz", "c9", 9.0)]),
        fact, num_buckets=4, vacuum=False,
    )
    r = refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])
    assert r["mode"] == "incremental" and r["fact_rescan"] is False
    assert _join_view(spark, mv)["z"] == (1, 9.0)
    _join_check(spark, fact, dim, mv)


def test_join_view_group_vanishes_and_deletes(spark, tmp_path):
    """Fact deletions flow through as -1 weights; a group whose count
    hits zero disappears from the view."""
    from airflow_postgres_etl_spark.sink import keyed_delete_where
    from airflow_postgres_etl_spark.views import refresh_join_view

    fact, dim, mv = str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _fact_rows(spark, [("o1", "c0", 1.0), ("o2", "c1", 2.0), ("o3", "c1", 3.0)]),
        fact, num_buckets=2, vacuum=False,
    )
    keyed_overwrite_parquet(
        spark, _dim_rows(spark, [("c0", "solo"), ("c1", "big")]),
        dim, key="cust", num_buckets=1, vacuum=False,
    )
    refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])
    keyed_delete_where(spark, fact, "cust = 'c0'")
    # the DML lands as a MOR tombstone delta: compaction restores the
    # clean-snapshot invariant the incremental path requires
    compact_keyed_table(spark, fact)
    r = refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])
    assert r["mode"] == "incremental"
    got = _join_view(spark, mv)
    assert "solo" not in got and got["big"] == (2, 5.0)
    _join_check(spark, fact, dim, mv)


def test_join_view_shape_mismatch_and_kind_fencing(spark, tmp_path):
    """A join view's mv_path refuses aggregate-view refreshes and
    reshaped join definitions; MOR deltas on either side fall back to
    a full recompute (the file-multiset shortcut would be unsound)."""
    from airflow_postgres_etl_spark.views import refresh_join_view

    fact, dim, mv = str(tmp_path / "f"), str(tmp_path / "d"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _fact_rows(spark, [("o1", "c0", 1.0)]), fact,
        num_buckets=2, vacuum=False,
    )
    keyed_overwrite_parquet(
        spark, _dim_rows(spark, [("c0", "a")]), dim,
        key="cust", num_buckets=1, vacuum=False,
    )
    refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])
    with pytest.raises(ValueError, match="different shape"):
        refresh_aggregate_view(spark, fact, mv, ["segment"], ["amt"])
    with pytest.raises(ValueError, match="different shape"):
        refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], [])

    # MOR delta pending on the fact -> unclean endpoint -> full fallback
    keyed_merge_mor(
        spark, _fact_rows(spark, [("o1", "c0", 10.0)]), fact, num_buckets=2
    )
    r = refresh_join_view(spark, fact, dim, mv, "cust", ["segment"], ["amt"])
    assert r["mode"] == "full"
    _join_check(spark, fact, dim, mv)


def test_star_view_three_tables_multi_delta(spark, tmp_path):
    """The k-dim telescoping identity: fact ⋈ part-dim ⋈ supp-dim with
    (a) fact-only churn = fast path, (b) BOTH dims changing between two
    refreshes — term i must read tables j<i at their OLD versions, the
    convention a naive all-current implementation gets wrong (it would
    double-count rows whose two dim attributes both moved)."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.views import (
        read_aggregate_view,
        refresh_star_view,
    )

    fact = str(tmp_path / "f")
    d1, d2, mv = str(tmp_path / "d1"), str(tmp_path / "d2"), str(tmp_path / "mv")
    # every fact row references part p{i%3} and supplier s{i%2}
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [(f"o{i}", f"p{i % 3}", f"s{i % 2}", float(i)) for i in range(30)],
            ["oid__id", "pk", "sk", "amt"],
        ),
        fact, num_buckets=4, vacuum=False,
    )
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [("p0", "brandA"), ("p1", "brandA"), ("p2", "brandB")],
            ["pk", "brand"],
        ),
        d1, key="pk", num_buckets=1, vacuum=False,
    )
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [("s0", "east"), ("s1", "west")], ["sk", "region"]
        ),
        d2, key="sk", num_buckets=1, vacuum=False,
    )

    def recompute():
        r = read_keyed_table(spark, fact)
        j = (
            r.join(read_keyed_table(spark, d1), "pk")
            .join(read_keyed_table(spark, d2), "sk")
            .groupBy("brand", "region")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("amt").cast("double")).alias("sum_amt"))
        )
        return {(x.brand, x.region): (x.n, x.sum_amt) for x in j.collect()}

    def view():
        return {
            (x.brand, x.region): (x.n, x.sum_amt)
            for x in read_aggregate_view(spark, mv).collect()
        }

    def check():
        exp, got = recompute(), view()
        assert set(exp) == set(got)
        for g in exp:
            assert exp[g][0] == got[g][0], f"count mismatch for {g}"
            assert abs(exp[g][1] - got[g][1]) < 1e-6, f"sum mismatch for {g}"

    args = (spark, fact, [(d1, "pk"), (d2, "sk")], mv,
            ["brand", "region"], ["amt"])
    assert refresh_star_view(*args)["mode"] == "full"
    check()

    # (a) fact-only churn: fast path, no dim reads, no fact rescan
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [("o1", "p2", "s1", 999.0), ("o77", "p0", "s0", 7.0)],
            ["oid__id", "pk", "sk", "amt"],
        ),
        fact, num_buckets=4, vacuum=False,
    )
    r = refresh_star_view(*args)
    assert r["mode"] == "incremental" and not r["fact_rescan"]
    assert r["dim_files_read"] == 0
    assert 0 < r["fact_files_read"] < len(read_keyed_table(spark, fact).inputFiles())
    check()

    # (b) BOTH dims move between refreshes: p1 brandA->brandB AND
    # s0 east->north — rows with (p1, s0) change both attributes at
    # once; only the old-versions-for-j<i convention counts them once
    keyed_overwrite_parquet(
        spark, spark.createDataFrame([("p1", "brandB")], ["pk", "brand"]),
        d1, key="pk", vacuum=False,
    )
    keyed_overwrite_parquet(
        spark, spark.createDataFrame([("s0", "north")], ["sk", "region"]),
        d2, key="sk", vacuum=False,
    )
    r = refresh_star_view(*args)
    assert r["mode"] == "incremental" and r["fact_rescan"]
    assert r["dim_files_read"] > 0
    check()

    # noop when everything is current
    assert refresh_star_view(*args)["mode"] == "noop"

    # duplicate join columns rejected
    with pytest.raises(ValueError, match="duplicate join columns"):
        refresh_star_view(spark, fact, [(d1, "pk"), (d2, "pk")], mv,
                          ["brand"], ["amt"])


def test_streaming_fact_composes_with_star_view(spark, tmp_path):
    """Continuous star rollup: the fact table advances via checkpointed
    stream ingest while the dim holds still — each refresh takes the
    fast path (changed fact files only, zero dim reads) and equals a
    from-scratch recompute of the join."""
    import os

    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.streaming import stream_ingest
    from airflow_postgres_etl_spark.views import (
        read_aggregate_view,
        refresh_star_view,
    )

    from .fixtures.gen_raw import generate

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir)
    files = sorted(os.listdir(csv_dir))
    half = str(tmp_path / "half")
    os.makedirs(half)
    for f in files[: len(files) // 2]:
        os.link(os.path.join(csv_dir, f), os.path.join(half, f))

    tr, ev, ck, dim, mv = (
        str(tmp_path / d) for d in ("tr", "ev", "ck", "dim", "mv")
    )
    q = stream_ingest(spark, half, tr, ev, ck)
    q.awaitTermination(120)
    assert q.exception() is None

    statuses = [
        r.status
        for r in read_keyed_table(spark, ev).select("status").distinct().collect()
    ]
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [(s, "odd" if i % 2 else "even") for i, s in enumerate(sorted(statuses, key=str))],
            "status string, tier string",
        ),
        dim, key="status", num_buckets=1, vacuum=False,
    )
    args = (spark, ev, [(dim, "status")], mv, ["tier"], [])
    assert refresh_star_view(*args)["mode"] == "full"

    for f in files[len(files) // 2 :]:
        os.link(os.path.join(csv_dir, f), os.path.join(half, f))
    q2 = stream_ingest(spark, half, tr, ev, ck)
    q2.awaitTermination(120)
    assert q2.exception() is None
    r = refresh_star_view(*args)
    assert r["mode"] == "incremental" and not r["fact_rescan"]
    assert r["dim_files_read"] == 0

    exp = {
        (x.tier, x.n)
        for x in read_keyed_table(spark, ev)
        .join(read_keyed_table(spark, dim), "status")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {(x.tier, x.n) for x in read_aggregate_view(spark, mv).collect()}
    assert got == exp


def test_minmax_view_partial_recompute(spark, tmp_path):
    """min/max view: removing a group's extremum is the case signed
    deltas cannot express — the touched-group recompute must find the
    NEW max; untouched groups' view rows pass through without their
    files being re-read, and a vanished group leaves the view."""
    from airflow_postgres_etl_spark.views import (
        read_aggregate_view,
        refresh_minmax_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    # groups g0..g9; key k{i}; value i — max of group g falls on its
    # largest key. stats on grp enable the pruned recompute scan.
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", f"g{i % 10}", float(i)) for i in range(100)]),
        target, num_buckets=8, stats_cols=["grp"], vacuum=False,
    )
    args = (spark, target, mv, ["grp"], ["v"])
    assert refresh_minmax_view(*args)["mode"] == "full"

    def view():
        return {
            r.grp: (r.n, r.sum_v, r.min_v, r.max_v)
            for r in read_aggregate_view(spark, mv).collect()
        }

    assert view()["g3"] == (10, sum(range(3, 100, 10)), 3.0, 93.0)

    # replace g3's extremum row with a tiny value: max must DROP 93->83
    keyed_overwrite_parquet(
        spark, _rows(spark, [("k93", "g3", 0.5)]), target, vacuum=False
    )
    r = refresh_minmax_view(*args)
    assert r["mode"] == "incremental"
    # only g3 (and any groups sharing the rewritten buckets) recomputed
    assert 0 < r["groups_recomputed"] <= 10
    got = view()
    assert got["g3"] == (10, sum(range(3, 100, 10)) - 93 + 0.5, 0.5, 83.0)
    assert got["g7"] == (10, sum(range(7, 100, 10)), 7.0, 97.0)

    # delete an entire group: its row leaves the view
    from airflow_postgres_etl_spark.sink import keyed_delete_where

    keyed_delete_where(spark, target, "grp = 'g5'")
    compact_keyed_table(spark, target)
    r = refresh_minmax_view(*args)
    assert r["mode"] == "incremental"
    got = view()
    assert "g5" not in got and len(got) == 9

    # ground truth: every surviving group equals a full recompute
    from pyspark.sql import functions as F

    exp = {
        x.grp: (x.n, x.sum_v, x.min_v, x.max_v)
        for x in read_keyed_table(spark, target)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("v").cast("double")).alias("sum_v"),
             F.min("v").alias("min_v"), F.max("v").alias("max_v"))
        .collect()
    }
    assert got == exp

    # noop + shape fencing
    assert refresh_minmax_view(*args)["mode"] == "noop"
    with pytest.raises(ValueError, match="different shape"):
        refresh_minmax_view(spark, target, mv, ["grp"], [])
    with pytest.raises(ValueError, match="different shape"):
        refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])


def test_minmax_view_touched_group_cap_forces_full(spark, tmp_path):
    """A refresh touching more groups than MINMAX_TOUCHED_GROUP_CAP
    falls back to a full recompute — the driver-side group collect is
    bounded by construction, not by hope."""
    import airflow_postgres_etl_spark.views as views

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", f"g{i}", float(i)) for i in range(40)]),
        target, num_buckets=2, vacuum=False,
    )
    views.refresh_minmax_view(spark, target, mv, ["grp"], ["v"])
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", f"g{i}", float(i + 1)) for i in range(40)]),
        target, vacuum=False,
    )
    import pytest as _pytest

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(views, "MINMAX_TOUCHED_GROUP_CAP", 5)
        r = views.refresh_minmax_view(spark, target, mv, ["grp"], ["v"])
    assert r["mode"] == "full"
    got = {
        x.grp: x.max_v
        for x in views.read_aggregate_view(spark, mv).collect()
    }
    assert got["g7"] == 8.0


def _nan_group_table(spark, target):
    """30 rows over float groups {1.0, 2.0, NaN}, ``g`` stats-tracked so
    the touched-group recompute range-prunes, then a 2-row CoW merge
    touching 1.0 and NaN."""
    schema = "oid__id string, g double, v double, item string"
    groups = [1.0, 2.0, float("nan")]
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [(f"k{i}", groups[i % 3], float(i), f"it{i % 4}") for i in range(30)],
            schema,
        ),
        target, num_buckets=4, stats_cols=["g"], vacuum=False,
    )
    return spark.createDataFrame(
        [("k0", 1.0, 100.0, "new"), ("k2", float("nan"), 200.0, "it9")], schema
    )


def test_minmax_view_nan_group_keeps_every_touched_group(spark, tmp_path):
    """A NaN group among the touched groups must not narrow the
    stats-pruned recompute scan: a min/max range over NaN is input-order
    dependent in Python and matches only NaN in Spark, so the prune is
    skipped, as for a NULL group."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.views import (
        read_aggregate_view,
        refresh_minmax_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    batch = _nan_group_table(spark, target)
    refresh_minmax_view(spark, target, mv, ["g"], ["v"])
    keyed_overwrite_parquet(spark, batch, target, vacuum=False)
    r = refresh_minmax_view(spark, target, mv, ["g"], ["v"])
    assert r["mode"] == "incremental" and r["groups_recomputed"] > 0

    def keyed(rows):
        return {str(x.g): (x.n, x.sum_v, x.min_v, x.max_v) for x in rows}

    exp = keyed(
        read_keyed_table(spark, target)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("v").cast("double")).alias("sum_v"),
             F.min("v").alias("min_v"), F.max("v").alias("max_v"))
        .collect()
    )
    assert set(exp) == {"1.0", "2.0", "nan"}
    assert keyed(read_aggregate_view(spark, mv).collect()) == exp


def test_distinct_view_nan_group_removal(spark, tmp_path):
    """The same NaN prune hazard on a sketch view: a CoW merge removes
    files, so the refresh takes the touched-group recompute, and every
    group must equal the sketch built over the final table directly."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators.sketch import kmv_sketch
    from airflow_postgres_etl_spark.views import (
        read_distinct_view,
        refresh_distinct_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    batch = _nan_group_table(spark, target)
    refresh_distinct_view(spark, target, mv, ["g"], "item", k=3)
    keyed_overwrite_parquet(spark, batch, target, vacuum=False)
    r = refresh_distinct_view(spark, target, mv, ["g"], "item", k=3)
    assert r["mode"] == "incremental" and r["groups_recomputed"] > 0
    exp = {
        str(x.g): (x.n_k, x.kth)
        for x in kmv_sketch(
            read_keyed_table(spark, target), ["g"],
            F.col("item").cast("string"), k=3,
        ).collect()
    }
    assert set(exp) == {"1.0", "2.0", "nan"}
    got = {
        str(x.g): (x.n_k, x.kth) for x in read_distinct_view(spark, mv).collect()
    }
    assert got == exp


def test_view_lifecycle_goes_through_store_seam(spark, tmp_path, monkeypatch):
    """VERDICT r7 residual 3: view-snapshot retirement walked
    `os.listdir` + `shutil.rmtree` directly and `_read_view_frame` read
    by raw directory path, so a refresh against a non-local
    ManifestStore would corrupt its own retention.  Spy on both: a
    create + two refreshes (the second retires the oldest snapshot) +
    a read through a FakeConditionalStore must never touch the view
    path via os/shutil outside a store frame, and every listing /
    deletion must route through the seam."""
    import os as _os
    import shutil as _shutil

    import airflow_postgres_etl_spark.views as views_mod
    from airflow_postgres_etl_spark.storage import FakeConditionalStore

    store = FakeConditionalStore()
    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")

    # the fake store's own list_dir/delete_tree delegate to os/shutil
    # (local stand-ins for prefix listing / prefix DELETE), so direct
    # hits are offenders only when no store frame is active
    in_store = {"depth": 0}
    offenders: list[str] = []
    real_listdir, real_rmtree = _os.listdir, _shutil.rmtree

    def spy_listdir(path="."):
        if in_store["depth"] == 0:
            offenders.append(f"listdir:{path}")
        return real_listdir(path)

    def spy_rmtree(path, *a, **k):
        if in_store["depth"] == 0:
            offenders.append(f"rmtree:{path}")
        return real_rmtree(path, *a, **k)

    store_calls: list[str] = []
    real_store_list, real_store_delete = store.list_dir, store.delete_tree

    def spy_store_list(path):
        store_calls.append(f"list:{path}")
        in_store["depth"] += 1
        try:
            return real_store_list(path)
        finally:
            in_store["depth"] -= 1

    def spy_store_delete(path):
        store_calls.append(f"delete:{path}")
        in_store["depth"] += 1
        try:
            return real_store_delete(path)
        finally:
            in_store["depth"] -= 1

    store.list_dir = spy_store_list
    store.delete_tree = spy_store_delete

    # retirement is age-guarded (racing-refresher defense): zero the
    # grace so this single-writer test retires deterministically
    monkeypatch.setattr(views_mod, "VIEW_RETIRE_GRACE_S", 0.0)

    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", f"g{i % 3}", float(i)) for i in range(30)]),
        target, num_buckets=4, store=store, vacuum=False,
    )
    refresh_aggregate_view(spark, target, mv, ["grp"], ["v"], store=store)

    monkeypatch.setattr(_os, "listdir", spy_listdir)
    monkeypatch.setattr(_shutil, "rmtree", spy_rmtree)
    try:
        # two more commits + refreshes: the second refresh retires the
        # oldest view snapshot (grace window keeps only prev + current)
        keyed_overwrite_parquet(
            spark, _rows(spark, [("k1", "g0", 100.0)]), target,
            num_buckets=4, store=store, vacuum=False,
        )
        r1 = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"], store=store)
        keyed_overwrite_parquet(
            spark, _rows(spark, [("k2", "g1", 200.0)]), target,
            num_buckets=4, store=store, vacuum=False,
        )
        r2 = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"], store=store)
        got = _view_through(spark, mv, store)
    finally:
        monkeypatch.setattr(_os, "listdir", real_listdir)
        monkeypatch.setattr(_shutil, "rmtree", real_rmtree)

    assert r1["mode"] == "incremental" and r2["mode"] == "incremental"
    view_offenders = [o for o in offenders if str(tmp_path / "mv") in o]
    assert view_offenders == [], f"direct os/shutil on the view path: {view_offenders}"
    assert any(c.startswith("delete:") and "mv" in c for c in store_calls), (
        "retirement never routed a deletion through the store seam"
    )
    assert any(c.startswith("list:") and "mv" in c for c in store_calls)

    # exactly two snapshots survive retirement (current + grace window)
    snaps = real_store_list(str(tmp_path / "mv" / "data"))
    assert len(snaps) == 2, snaps

    # and the view equals a quiet recompute
    from pyspark.sql import functions as F

    df = read_keyed_table(spark, target, store=store)
    exp = {
        r.grp: (r.n, r.sum_v)
        for r in df.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("double")).alias("sum_v"),
        ).collect()
    }
    assert got == exp


def _view_through(spark, mv, store):
    return {
        r.grp: (r.n, r.sum_v)
        for r in read_aggregate_view(spark, mv, store=store).collect()
    }


def _agg_at_version(spark, target, v):
    from pyspark.sql import functions as F

    df = read_keyed_table(spark, target, version=v)
    return {
        r.grp: (r.n, r.sum_v)
        for r in df.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("double")).alias("sum_v"),
        ).collect()
    }


def _views_equal(got, exp):
    if set(got) != set(exp):
        return False
    return all(
        got[g][0] == exp[g][0] and abs(got[g][1] - exp[g][1]) < 1e-6
        for g in exp
    )


def test_refresh_pins_snapshot_under_racing_commit(spark, tmp_path, monkeypatch):
    """VERDICT r7 task 5 (deterministic leg): a writer committing
    between the refresher's manifest read and its table scan must not
    leak into the view — every scan comes from the snapshot the view
    meta records, or the next incremental refresh double-applies that
    commit's delta forever (signed-delta views never self-heal)."""
    import airflow_postgres_etl_spark.views as views_mod

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", f"g{i % 3}", float(i)) for i in range(30)]),
        target, num_buckets=4, vacuum=False,
    )  # v1

    real_rkt = views_mod.read_keyed_table
    fired = {"done": False}

    def rkt_with_interloper(*a, **k):
        if not fired["done"]:
            fired["done"] = True
            keyed_overwrite_parquet(  # v2 lands mid-refresh
                spark, _rows(spark, [("kX", "g0", 1000.0)]), target,
                num_buckets=4, vacuum=False,
            )
        return real_rkt(*a, **k)

    monkeypatch.setattr(views_mod, "read_keyed_table", rkt_with_interloper)
    r = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    monkeypatch.setattr(views_mod, "read_keyed_table", real_rkt)

    assert r["mode"] == "full" and r["source_version"] == 1
    # the view reflects EXACTLY v1 — the racing commit is absent
    assert _views_equal(_view(spark, mv), _agg_at_version(spark, target, 1))

    # the next refresh applies the v1->v2 delta exactly once
    r2 = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    assert r2["mode"] == "incremental" and r2["source_version"] == 2
    _check(spark, target, mv)


def test_refresh_races_threaded_writer(spark, tmp_path):
    """VERDICT r7 task 5 (stochastic leg): refreshes racing REAL
    concurrent merges (threads, no monkeypatching) must each land on a
    self-consistent (content, recorded-version) pair, and the settled
    view must equal a quiet recompute."""
    import threading

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark,
        _rows(spark, [(f"k{i}", f"g{i % 3}", float(i)) for i in range(30)]),
        target, num_buckets=4, vacuum=False,
    )
    errors: list[Exception] = []

    def writer():
        try:
            for i in range(8):
                keyed_overwrite_parquet(
                    spark,
                    _rows(spark, [(f"k{i % 5}", f"g{i % 3}", float(100 + i))]),
                    target, num_buckets=4, vacuum=False,
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    t = threading.Thread(target=writer)
    t.start()
    try:
        for _ in range(5):
            r = refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
            v = r["source_version"]
            got = _view(spark, mv)
            assert _views_equal(got, _agg_at_version(spark, target, v)), (
                f"view at recorded v{v} mixes snapshot versions"
            )
    finally:
        t.join()
    assert not errors, errors

    # settle: refresh until noop, then the view equals a quiet recompute
    while refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])["mode"] != "noop":
        pass
    _check(spark, target, mv)


def test_stream_ingest_maintains_views_in_band(spark, tmp_path, monkeypatch):
    """DLT-style continuous materialized view: stream_ingest refreshes
    the listed aggregate views inside each trigger, and a crash AFTER
    the refresh but BEFORE the checkpoint commit converges on replay —
    the re-delivered merge re-commits content-identical rows, so the
    replayed refresh's signed delta cancels."""
    import os

    import airflow_postgres_etl_spark.views as views_mod
    from airflow_postgres_etl_spark.sink import table_version
    from airflow_postgres_etl_spark.streaming import stream_ingest

    from .fixtures.gen_raw import generate

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir)
    files = sorted(os.listdir(csv_dir))
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for f in files[:3]:
        os.link(os.path.join(csv_dir, f), os.path.join(feed, f))

    tr, ev, ck, mv = (str(tmp_path / d) for d in ("tr", "ev", "ck", "mv"))
    spec = [{"target": "events", "mv_path": mv,
             "group_cols": ["status"], "sum_cols": []}]

    q = stream_ingest(spark, feed, tr, ev, ck, maintain_views=spec)
    q.awaitTermination(180)
    assert q.exception() is None
    meta = views_mod.LOCAL_STORE.read_json(views_mod._meta_path(mv))
    assert meta["source_version"] == table_version(ev)

    def check():
        exp = {
            (r.status, r.n)
            for r in read_keyed_table(spark, ev)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {
            (r.status, r.n)
            for r in views_mod.read_aggregate_view(spark, mv).collect()
        }
        assert got == exp and len(got) > 0

    from pyspark.sql import functions as F

    check()

    # wave 2 with an injected crash AFTER refresh, BEFORE checkpoint
    for f in files[3:]:
        os.link(os.path.join(csv_dir, f), os.path.join(feed, f))
    real_refresh = views_mod.refresh_aggregate_view
    state = {"fired": False}

    def refresh_then_crash(*a, **kw):
        r = real_refresh(*a, **kw)
        if not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash after view refresh")
        return r

    monkeypatch.setattr(views_mod, "refresh_aggregate_view", refresh_then_crash)
    q2 = stream_ingest(spark, feed, tr, ev, ck, maintain_views=spec,
                       max_files_per_trigger=10)
    import pytest as _pytest

    with _pytest.raises(Exception, match="injected crash"):
        q2.awaitTermination(180)
    assert q2.exception() is not None

    # restart: the epoch re-delivers, the merge re-commits identical
    # rows, the replayed refresh's signed delta cancels -> converged
    monkeypatch.setattr(views_mod, "refresh_aggregate_view", real_refresh)
    q3 = stream_ingest(spark, feed, tr, ev, ck, maintain_views=spec)
    q3.awaitTermination(180)
    assert q3.exception() is None
    meta = views_mod.LOCAL_STORE.read_json(views_mod._meta_path(mv))
    assert meta["source_version"] == table_version(ev)
    check()


def test_engine_facade_hosts_cross_table_views(spark, tmp_path):
    """Join/star views span tables, so the Engine hosts their refresh;
    the facade must delegate to the tested refreshers verbatim."""
    from airflow_postgres_etl_spark.api import Engine

    eng = Engine(spark)
    fact, dim, mv = (str(tmp_path / d) for d in ("f", "d", "mv"))
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [(f"k{i}", f"d{i % 2}", float(i)) for i in range(20)],
            ["oid__id", "dkey", "v"],
        ),
        fact, num_buckets=4, vacuum=False,
    )
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [("d0", "east"), ("d1", "west")], ["dkey", "region"]
        ),
        dim, key="dkey", num_buckets=2, vacuum=False,
    )
    r = eng.refresh_join_view(fact, dim, mv, "dkey", ["region"], ["v"])
    assert r["mode"] == "full"
    got = {
        (x.region, x.n, x.sum_v) for x in eng.read_view(mv).collect()
    }
    assert {g[0] for g in got} == {"east", "west"}
    assert sum(g[1] for g in got) == 20

    # fact churn -> incremental through the facade
    keyed_overwrite_parquet(
        spark,
        spark.createDataFrame([("k1", "d0", 100.0)], ["oid__id", "dkey", "v"]),
        fact, num_buckets=4, vacuum=False,
    )
    r2 = eng.refresh_join_view(fact, dim, mv, "dkey", ["region"], ["v"])
    assert r2["mode"] == "incremental" and not r2["fact_rescan"]


def test_view_retirement_age_guard(spark, tmp_path, monkeypatch):
    """Snapshots younger than the grace window never retire — a racing
    refresher (contract violation) degrades to stray garbage, never to
    a meta pointing at a deleted directory."""
    import os

    import airflow_postgres_etl_spark.views as views_mod

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _rows(spark, [("a", "g", 1.0)]), target,
        num_buckets=2, vacuum=False,
    )
    refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    for i in range(2):
        keyed_overwrite_parquet(
            spark, _rows(spark, [("a", "g", float(i))]), target,
            num_buckets=2, vacuum=False,
        )
        refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    data_root = os.path.join(mv, "data")
    # default grace: all three snapshots are young -> none retired
    assert len(os.listdir(data_root)) == 3
    # zero grace: the next refresh retires down to current + previous
    monkeypatch.setattr(views_mod, "VIEW_RETIRE_GRACE_S", 0.0)
    keyed_overwrite_parquet(
        spark, _rows(spark, [("a", "g", 9.0)]), target,
        num_buckets=2, vacuum=False,
    )
    refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
    assert len(os.listdir(data_root)) == 2
    _check(spark, target, mv)


# ---------------------------------------------------------------------------
# Sketch-backed views: approx-distinct (KMV) and quantile (bottom-k
# sample).  The contract is bit-exactness against the sketch built over
# the final table DIRECTLY, whatever sequence of refresh modes produced
# the view — append merges must equal the union sketch (the KMV merge
# property), removals must partially recompute, unclean endpoints must
# fall back full, and none of it may change a single hash.
# ---------------------------------------------------------------------------


def _sketch_rows(spark, n, start=0):
    return spark.createDataFrame(
        [
            (f"k{i}", i % 5, f"item{i % 23}", float((i * 7) % 101))
            for i in range(start, start + n)
        ],
        ["oid__id", "grp", "item", "val"],
    )


def _direct_distinct(spark, target, k):
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators.sketch import (
        kmv_estimate_expr,
        kmv_sketch,
    )

    final = read_keyed_table(spark, target)
    d = kmv_sketch(
        final.filter(F.col("item").isNotNull()),
        ["grp"],
        F.col("item").cast("string"),
        k=k,
    ).select("grp", "n_k", "kth", kmv_estimate_expr(k).alias("est"))
    return {r.grp: (r.n_k, r.kth, r.est) for r in d.collect()}


def test_distinct_view_append_merge_equals_direct(spark, tmp_path):
    from airflow_postgres_etl_spark.sink import keyed_append
    from airflow_postgres_etl_spark.views import (
        read_distinct_view,
        refresh_distinct_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _sketch_rows(spark, 80), target, num_buckets=4, vacuum=False
    )
    r = refresh_distinct_view(spark, target, mv, ["grp"], "item", k=8)
    assert r["mode"] == "full"

    keyed_append(spark, _sketch_rows(spark, 120, start=80), target)
    r = refresh_distinct_view(spark, target, mv, ["grp"], "item", k=8)
    # the append fast path: only the added files were sketched
    assert r["mode"] == "incremental" and r["groups_recomputed"] == 0
    total = len(read_keyed_table(spark, target).inputFiles())
    assert 0 < r["files_read"] < total

    got = {
        x.grp: (x.n_k, x.kth, x.est_distinct)
        for x in read_distinct_view(spark, mv).collect()
    }
    assert got == _direct_distinct(spark, target, 8)
    assert (
        refresh_distinct_view(spark, target, mv, ["grp"], "item", k=8)["mode"]
        == "noop"
    )


def test_distinct_view_removal_partial_recompute(spark, tmp_path):
    from airflow_postgres_etl_spark.sink import keyed_delete_where
    from airflow_postgres_etl_spark.views import (
        read_distinct_view,
        refresh_distinct_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _sketch_rows(spark, 150), target, num_buckets=4, vacuum=False
    )
    refresh_distinct_view(spark, target, mv, ["grp"], "item", k=8)
    # deleting a whole group evicts sketch members -> recompute, and the
    # group must VANISH from the view (a stale KMV row would linger)
    keyed_delete_where(spark, target, "grp = 2")
    compact_keyed_table(spark, target)
    r = refresh_distinct_view(spark, target, mv, ["grp"], "item", k=8)
    assert r["mode"] == "incremental" and r["groups_recomputed"] > 0
    got = {
        x.grp: (x.n_k, x.kth, x.est_distinct)
        for x in read_distinct_view(spark, mv).collect()
    }
    assert 2 not in got
    assert got == _direct_distinct(spark, target, 8)


def test_quantile_view_lifecycle_bit_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators.sketch import (
        bottomk_sample,
        sample_quantiles,
    )
    from airflow_postgres_etl_spark.sink import keyed_append, keyed_delete_where
    from airflow_postgres_etl_spark.views import (
        read_quantile_view,
        refresh_quantile_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _sketch_rows(spark, 100), target, num_buckets=4, vacuum=False
    )
    args = (spark, target, mv, ["grp"], "val", "oid__id")
    assert refresh_quantile_view(*args, k=16)["mode"] == "full"

    keyed_append(spark, _sketch_rows(spark, 100, start=100), target)
    r = refresh_quantile_view(*args, k=16)
    assert r["mode"] == "incremental" and r["groups_recomputed"] == 0

    keyed_delete_where(spark, target, "val > 90")
    compact_keyed_table(spark, target)
    r = refresh_quantile_view(*args, k=16)
    assert r["mode"] == "incremental" and r["groups_recomputed"] > 0

    qs = [("p50", 0.5), ("p90", 0.9)]
    final = read_keyed_table(spark, target)
    ds = bottomk_sample(
        final.filter(F.col("val").isNotNull()).select(
            "grp",
            F.col("val").cast("double").alias("__v"),
            F.col("oid__id").cast("string").alias("__rk"),
        ),
        ["grp"],
        F.col("__rk"),
        k=16,
    )
    want = {
        r.grp: (r.n_sample, r.p50, r.p90)
        for r in sample_quantiles(ds, ["grp"], "__v", qs, "__h").collect()
    }
    got = {
        r.grp: (r.n_sample, r.p50, r.p90)
        for r in read_quantile_view(spark, mv, qs).collect()
    }
    assert got == want


def test_sketch_view_shape_and_kind_fencing(spark, tmp_path):
    from airflow_postgres_etl_spark.views import (
        read_distinct_view,
        read_quantile_view,
        refresh_distinct_view,
        refresh_quantile_view,
    )

    target = str(tmp_path / "t")
    mvd, mvq = str(tmp_path / "mvd"), str(tmp_path / "mvq")
    keyed_overwrite_parquet(
        spark, _sketch_rows(spark, 30), target, vacuum=False
    )
    refresh_distinct_view(spark, target, mvd, ["grp"], "item", k=8)
    refresh_quantile_view(spark, target, mvq, ["grp"], "val", "oid__id", k=8)
    # different k / item / kind on an existing mv_path must refuse
    with pytest.raises(ValueError):
        refresh_distinct_view(spark, target, mvd, ["grp"], "item", k=16)
    with pytest.raises(ValueError):
        refresh_distinct_view(spark, target, mvd, ["grp"], "val", k=8)
    with pytest.raises(ValueError):
        refresh_quantile_view(spark, target, mvd, ["grp"], "val", "oid__id", k=8)
    with pytest.raises(FileNotFoundError):
        read_distinct_view(spark, mvq)
    with pytest.raises(FileNotFoundError):
        read_quantile_view(spark, mvd, [("p50", 0.5)])


def test_sketch_view_unclean_endpoint_falls_back_full(spark, tmp_path):
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.views import (
        read_distinct_view,
        refresh_distinct_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _sketch_rows(spark, 60), target, num_buckets=2, vacuum=False
    )
    refresh_distinct_view(spark, target, mv, ["grp"], "item", k=8)
    # MOR merge leaves pending deltas -> the file-multiset shortcut is
    # unsound; refresh must go FULL (correctness over incrementality)
    keyed_merge_mor(
        spark,
        _sketch_rows(spark, 10).withColumn("item", F.lit("novel")),
        target,
    )
    r = refresh_distinct_view(spark, target, mv, ["grp"], "item", k=8)
    assert r["mode"] == "full"
    got = {
        x.grp: (x.n_k, x.kth, x.est_distinct)
        for x in read_distinct_view(spark, mv).collect()
    }
    assert got == _direct_distinct(spark, target, 8)


def test_stream_ingest_maintains_sketch_views_in_band(spark, tmp_path, monkeypatch):
    """Sketch-backed views (KMV distinct / bottom-k quantile) maintained
    in-band by stream_ingest: after every trigger each view equals the
    sketch built over the final table directly, and a crash between
    refresh and checkpoint commit converges on replay — the replayed
    CoW merge re-commits content-identical rows, so the touched-group
    recompute rebuilds identical sketches."""
    import os

    from pyspark.sql import functions as F

    import airflow_postgres_etl_spark.views as views_mod
    from airflow_postgres_etl_spark.operators.sketch import (
        bottomk_sample,
        kmv_sketch,
        sample_quantiles,
    )
    from airflow_postgres_etl_spark.streaming import stream_ingest

    from .fixtures.gen_raw import generate

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir)
    files = sorted(os.listdir(csv_dir))
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for f in files[:3]:
        os.link(os.path.join(csv_dir, f), os.path.join(feed, f))

    tr, ev, ck = (str(tmp_path / d) for d in ("tr", "ev", "ck"))
    mvd, mvq = str(tmp_path / "mvd"), str(tmp_path / "mvq")
    mvc = str(tmp_path / "mvc")
    spec = [
        {"target": "events", "mv_path": mvd, "kind": "distinct",
         "group_cols": ["status"], "item_col": "trackingCode", "k": 16},
        {"target": "tracking", "mv_path": mvq, "kind": "quantile",
         "group_cols": ["Op"], "value_col": "updatedAt",
         "key_col": "oid__id", "k": 16},
        {"target": "events", "mv_path": mvc, "kind": "cms",
         "group_cols": ["status"], "item_col": "trackingCode",
         "depth": 3, "width": 32},
    ]

    def check():
        final_ev = read_keyed_table(spark, ev)
        want = {
            (r.status, r.n_k, r.kth)
            for r in kmv_sketch(
                final_ev.filter(F.col("trackingCode").isNotNull()),
                ["status"], F.col("trackingCode").cast("string"), k=16
            ).collect()
        }
        got = {
            (r.status, r.n_k, r.kth)
            for r in views_mod.read_distinct_view(spark, mvd).collect()
        }
        assert got == want and len(got) > 0

        from airflow_postgres_etl_spark.operators.sketch import cms_sketch

        want_c = {
            (r.status, r.r, r.c, r.cnt)
            for r in cms_sketch(
                final_ev.filter(F.col("trackingCode").isNotNull()),
                ["status"], F.col("trackingCode").cast("string"),
                depth=3, width=32,
            ).collect()
        }
        got_c = {
            (r.status, r.r, r.c, r.cnt)
            for r in views_mod._read_view_frame(
                spark, mvc, views_mod.LOCAL_STORE
            ).collect()
        }
        assert got_c == want_c and len(got_c) > 0

        final_tr = read_keyed_table(spark, tr)
        smp = bottomk_sample(
            final_tr.filter(F.col("updatedAt").isNotNull()).select(
                "Op",
                F.col("updatedAt").cast("double").alias("__v"),
                F.col("oid__id").cast("string").alias("__rk"),
            ),
            ["Op"], F.col("__rk"), k=16,
        )
        wq = {
            (r.Op, r.n_sample, r.p50)
            for r in sample_quantiles(
                smp, ["Op"], "__v", [("p50", 0.5)], "__h"
            ).collect()
        }
        gq = {
            (r.Op, r.n_sample, r.p50)
            for r in views_mod.read_quantile_view(
                spark, mvq, [("p50", 0.5)]
            ).collect()
        }
        assert gq == wq and len(gq) > 0

    q = stream_ingest(spark, feed, tr, ev, ck, maintain_views=spec)
    q.awaitTermination(180)
    assert q.exception() is None
    check()

    # wave 2 with an injected crash AFTER the distinct refresh, BEFORE
    # the checkpoint commit — replay must converge
    for f in files[3:]:
        os.link(os.path.join(csv_dir, f), os.path.join(feed, f))
    real_refresh = views_mod.refresh_distinct_view
    state = {"fired": False}

    def refresh_then_crash(*a, **kw):
        r = real_refresh(*a, **kw)
        if not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash after sketch-view refresh")
        return r

    monkeypatch.setattr(views_mod, "refresh_distinct_view", refresh_then_crash)
    q2 = stream_ingest(spark, feed, tr, ev, ck, maintain_views=spec,
                       max_files_per_trigger=10)
    with pytest.raises(Exception, match="injected crash"):
        q2.awaitTermination(180)
    assert q2.exception() is not None

    monkeypatch.setattr(views_mod, "refresh_distinct_view", real_refresh)
    q3 = stream_ingest(spark, feed, tr, ev, ck, maintain_views=spec)
    q3.awaitTermination(180)
    assert q3.exception() is None
    check()

    # unknown kind is rejected loudly inside the batch fn
    bad = [{"target": "events", "mv_path": mvd, "kind": "nope",
            "group_cols": ["status"]}]
    q4 = stream_ingest(spark, feed, tr, ev, str(tmp_path / "ck4"),
                       maintain_views=bad)
    with pytest.raises(Exception, match="maintain_views kind"):
        q4.awaitTermination(180)


def test_cms_view_linear_delta_under_append_and_delete(spark, tmp_path):
    """The CMS view is a LINEAR sketch: appends add cell counts and a
    delete+compact SUBTRACTS them through the same signed delta — both
    refreshes incremental, final cells bit-equal to the direct sketch
    over the final table."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators.sketch import cms_lookup, cms_sketch
    from airflow_postgres_etl_spark.sink import (
        keyed_append,
        keyed_delete_where,
    )
    from airflow_postgres_etl_spark.views import read_cms_view, refresh_cms_view

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _sketch_rows(spark, 100), target, num_buckets=4, vacuum=False
    )
    args = (spark, target, mv, ["grp"], "item")
    assert refresh_cms_view(*args, depth=3, width=32)["mode"] == "full"

    keyed_append(spark, _sketch_rows(spark, 80, start=100), target)
    r = refresh_cms_view(*args, depth=3, width=32)
    assert r["mode"] == "incremental"

    keyed_delete_where(spark, target, "grp = 1")
    compact_keyed_table(spark, target)
    r = refresh_cms_view(*args, depth=3, width=32)
    assert r["mode"] == "incremental"  # removals subtract — no recompute

    final = read_keyed_table(spark, target)
    want = {
        (x.grp, x.r, x.c, x.cnt)
        for x in cms_sketch(
            final.filter(F.col("item").isNotNull()), ["grp"],
            F.col("item").cast("string"), depth=3, width=32,
        ).collect()
    }
    from airflow_postgres_etl_spark.views import _read_view_frame
    from airflow_postgres_etl_spark.storage import LOCAL_STORE

    got = {
        (x.grp, x.r, x.c, x.cnt)
        for x in _read_view_frame(spark, mv, LOCAL_STORE).collect()
    }
    assert got == want
    assert not any(g == 1 for g, _r, _c, _n in got)  # deleted group's cells gone

    probes = final.select("grp", "item").distinct()
    want_est = {
        (x.grp, x.item, x.est_cnt)
        for x in cms_lookup(
            cms_sketch(final, ["grp"], F.col("item").cast("string"), 3, 32),
            probes, "item", 3, 32, ["grp"],
        ).collect()
    }
    got_est = {
        (x.grp, x.item, x.est_cnt)
        for x in read_cms_view(spark, mv, probes).collect()
    }
    assert got_est == want_est


def test_cms_view_unclean_endpoint_and_fencing(spark, tmp_path):
    from airflow_postgres_etl_spark.views import (
        read_cms_view,
        read_distinct_view,
        refresh_cms_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    keyed_overwrite_parquet(
        spark, _sketch_rows(spark, 40), target, num_buckets=2, vacuum=False
    )
    refresh_cms_view(spark, target, mv, ["grp"], "item", depth=3, width=32)
    keyed_merge_mor(spark, _sketch_rows(spark, 5, start=40), target)
    r = refresh_cms_view(spark, target, mv, ["grp"], "item", depth=3, width=32)
    assert r["mode"] == "full"  # pending deltas: file multiset unsound
    with pytest.raises(ValueError):
        refresh_cms_view(spark, target, mv, ["grp"], "item", depth=4, width=32)
    with pytest.raises(FileNotFoundError):
        read_distinct_view(spark, mv)
    probes = _sketch_rows(spark, 3).select("grp", "item")
    assert read_cms_view(spark, mv, probes).count() > 0


def test_views_survive_unrelated_column_rename(spark, tmp_path):
    """Column mapping × IVM: a metadata-only rename of a column the
    view does NOT use must leave every refresh family on its
    incremental path (files store physical names; the views translate
    through the table's current mapping).  Renaming a column the view
    DOES use fails loudly at the next refresh — never a silently
    re-labeled aggregate."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from airflow_postgres_etl_spark.sink import rename_column
    from airflow_postgres_etl_spark.views import (
        read_aggregate_view,
        read_distinct_view,
        refresh_aggregate_view,
        refresh_distinct_view,
    )

    target = str(tmp_path / "t")
    mva, mvd = str(tmp_path / "mva"), str(tmp_path / "mvd")
    rows = spark.createDataFrame(
        [(f"k{i}", f"g{i % 3}", float(i), f"it{i % 7}") for i in range(40)],
        ["oid__id", "grp", "v", "item"],
    )
    keyed_overwrite_parquet(spark, rows, target, num_buckets=4, vacuum=False)
    refresh_aggregate_view(spark, target, mva, ["grp"], ["v"])
    refresh_distinct_view(spark, target, mvd, ["grp"], "item", k=8)

    # rename a column NEITHER view uses (the key is fenced; 'item' is
    # the distinct view's item -> rename 'v'?? the aggregate uses v) —
    # so add an unused column scenario: rename 'item' breaks mvd only.
    rename_column(spark, target, "item", "token")

    # the aggregate view (grp, v) keeps refreshing incrementally
    up = spark.createDataFrame(
        [("k1", "g0", 100.0, "it1")], ["oid__id", "grp", "v", "token"]
    )
    keyed_overwrite_parquet(spark, up, target, vacuum=False)
    r = refresh_aggregate_view(spark, target, mva, ["grp"], ["v"])
    assert r["mode"] == "incremental"
    got = {x.grp: x.sum_v for x in read_aggregate_view(spark, mva).collect()}
    exp = {
        x.grp: x.s
        for x in read_keyed_table(spark, target)
        .groupBy("grp")
        .agg(F.sum("v").alias("s"))
        .collect()
    }
    assert set(got) == set(exp)
    for g in got:
        assert abs(got[g] - exp[g]) < 1e-6

    # the distinct view's own item column was renamed: the next refresh
    # must fail LOUDLY, not silently aggregate a re-labeled column
    with pytest.raises(Exception) as ei:
        refresh_distinct_view(spark, target, mvd, ["grp"], "item", k=8)
    assert "item" in str(ei.value)
    # recreate under the new name: clean slate works
    mvd2 = str(tmp_path / "mvd2")
    r = refresh_distinct_view(spark, target, mvd2, ["grp"], "token", k=8)
    assert r["mode"] == "full"
    assert len(read_distinct_view(spark, mvd2).collect()) == 3
