"""KMV sketch: estimator accuracy vs exact, merge losslessness, and
Jaccard accuracy — the guarantees the oracle differential (determinism)
cannot express."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_postgres_etl_spark.operators import sketch as K
from airflow_postgres_etl_spark.operators.dedup import shingles_from_tokens
from airflow_postgres_etl_spark.operators.text import tokens_expr
from airflow_postgres_etl_spark.sources.parquet_source import load_table

from .conftest import SF_CORRECT

KK = 128


def _toks(spark):
    # 3-token shingles: ~1.1-1.6k distinct per source, so k=128 sketches
    # SATURATE and the estimator branch is actually exercised (the raw
    # token vocabulary is only 31 words — never fills a sketch)
    docs = load_table(spark, SF_CORRECT, "documents")
    return docs.select("source", tokens_expr().alias("w")).select(
        "source", F.explode(shingles_from_tokens(F.col("w"))).alias("tok")
    )


def test_kmv_estimate_accuracy(spark):
    """Relative error of the saturated estimator is ~1/sqrt(k); gate at
    3.5x that (k=128 -> ~31%, typical ~9%), per source."""
    toks = _toks(spark)
    sk = K.kmv_sketch(toks, ["source"], F.col("tok"), k=KK)
    exact = (
        toks.distinct().groupBy("source").agg(F.count("*").alias("exact"))
    )
    rows = (
        sk.join(exact, "source")
        .select("source", "exact", "n_k", K.kmv_estimate_expr(KK).alias("est"))
        .collect()
    )
    assert rows
    saturated = 0
    for r in rows:
        if r.n_k < KK:
            assert r.est == float(r.exact)  # below fill line: exact
        else:
            saturated += 1
            assert abs(r.est - r.exact) / r.exact < 3.5 / (KK**0.5), (
                r.source,
                r.exact,
                r.est,
            )
    assert saturated > 0  # the estimator branch must actually run


def test_kmv_merge_is_lossless_for_kmin(spark):
    """k-min of per-part sketches == k-min of the full set, exactly —
    the property that makes the sketch distributable."""
    toks = _toks(spark)
    direct = K.kmv_sketch(
        toks.withColumn("g", F.lit("all")), ["g"], F.col("tok"), k=KK
    ).collect()[0]
    per_source = K.kmv_sketch(toks, ["source"], F.col("tok"), k=KK)
    merged = K.kmv_merge_sketches(
        per_source.withColumn("g", F.lit("all")), ["g"], k=KK
    ).collect()[0]
    assert list(direct.ks) == list(merged.ks)
    assert (direct.n_k, direct.kth) == (merged.n_k, merged.kth)


def test_kmv_salting_does_not_change_result(spark):
    """The salted two-level top-k is a pure execution-shape choice."""
    toks = _toks(spark)
    a = K.kmv_sketch(toks, ["source"], F.col("tok"), k=KK, n_salts=1)
    b = K.kmv_sketch(toks, ["source"], F.col("tok"), k=KK, n_salts=32)
    ra = {r.source: list(r.ks) for r in a.collect()}
    rb = {r.source: list(r.ks) for r in b.collect()}
    assert ra == rb


def test_kmv_group_columns_named_like_internals(spark):
    """A group column may carry any name: one called ``salt``, ``rn``
    or ``h`` must not shadow the sketch's internal columns, in the
    sketch or in its merge — each equals the same data grouped under
    ``grp``."""
    rows = [("a", f"i{i}") for i in range(10)] + [("b", f"i{i}") for i in range(3)]
    base = spark.createDataFrame(rows, ["grp", "item"])

    def sketches(df, g):
        return {
            (r[g], tuple(r.ks), r.n_k, r.kth) for r in df.collect()
        }

    want = sketches(K.kmv_sketch(base, ["grp"], F.col("item"), k=8), "grp")
    assert {w[0]: w[2] for w in want} == {"a": 8, "b": 3}
    for name in ("salt", "rn", "h"):
        df = base.withColumnRenamed("grp", name)
        sk = K.kmv_sketch(df, [name], F.col("item"), k=8)
        assert sketches(sk, name) == want, name
        halves = K.kmv_sketch(
            df.filter(F.col("item") < "i5"), [name], F.col("item"), k=8
        ).unionByName(
            K.kmv_sketch(df.filter(F.col("item") >= "i5"), [name], F.col("item"), k=8)
        )
        merged = K.kmv_merge_sketches(halves, [name], k=8)
        assert sketches(merged, name) == want, name


def test_kmv_jaccard_accuracy(spark):
    """Sketch Jaccard vs exact token-set Jaccard per source pair."""
    toks = _toks(spark).distinct()
    sk = K.kmv_sketch(toks, ["source"], F.col("tok"), k=KK)
    a = sk.select(F.col("source").alias("sa"), F.col("ks").alias("ka"))
    b = sk.select(F.col("source").alias("sb"), F.col("ks").alias("kb"))
    cols = K.kmv_jaccard_cols(F.col("ka"), F.col("kb"), KK)
    est = {
        (r.sa, r.sb): r.j
        for r in a.join(b, F.col("sa") < F.col("sb"))
        .select("sa", "sb", cols["j_est"].alias("j"))
        .collect()
    }
    ta = toks.select(F.col("source").alias("sa"), "tok")
    tb = toks.select(F.col("source").alias("sb"), "tok")
    inter = (
        ta.join(tb, "tok")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.countDistinct("tok").alias("ni"))
    )
    sizes = toks.groupBy("source").agg(F.countDistinct("tok").alias("n"))
    exact = {
        (r.sa, r.sb): r.ni / (r.na + r.nb - r.ni)
        for r in inter.join(
            sizes.select(F.col("source").alias("sa"), F.col("n").alias("na")), "sa"
        )
        .join(sizes.select(F.col("source").alias("sb"), F.col("n").alias("nb")), "sb")
        .collect()
    }
    assert est
    for pair, j_est in est.items():
        j_true = exact.get(pair, 0.0)
        assert abs(j_est - j_true) < 0.15, (pair, j_true, j_est)


def test_kmv_plan_stays_jvm_side(spark):
    """No Python eval anywhere in the sketch plan; windows bounded."""
    toks = _toks(spark)
    plan = K.kmv_sketch(toks, ["source"], F.col("tok"), k=KK)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- Count-min sketch -------------------------------------------------------


def test_cms_never_underestimates_and_error_bound(spark):
    """The one-sided guarantee (est >= exact, always) plus the epsilon
    bound: est <= exact + (e/w)*N holds in expectation; gate every probe
    at exact + 4*N/w (loose multiple of the Markov bound so the test is
    stable while still catching a broken min/row-salt)."""
    toks = _toks(spark)
    sk = K.cms_sketch(toks, [], F.col("tok"), depth=4, width=256)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), "tok").limit(50)
    n_total = toks.count()
    rows = (
        K.cms_lookup(sk, probes, "tok", depth=4, width=256)
        .join(probes, "tok")
        .collect()
    )
    assert len(rows) == 50
    for r in rows:
        assert r.est_cnt >= r.exact_cnt, (r.tok, r.est_cnt, r.exact_cnt)
        assert r.est_cnt <= r.exact_cnt + 4 * n_total / 256, (
            r.tok, r.est_cnt, r.exact_cnt, n_total,
        )


def test_cms_merge_equals_direct(spark):
    """Shard-and-merge == direct build, cell-for-cell (the mergeability
    contract a 1000-executor build relies on)."""
    toks = _toks(spark)
    direct = K.cms_sketch(toks, [], F.col("tok"), depth=4, width=128)
    per_src = K.cms_sketch(toks, ["source"], F.col("tok"), depth=4, width=128)
    merged = K.cms_merge(per_src.drop("source"), [])
    diff = (
        merged.withColumnRenamed("cnt", "m")
        .join(direct.withColumnRenamed("cnt", "d"), ["r", "c"], "full")
        .filter(
            (F.col("m").isNull()) | (F.col("d").isNull())
            | (F.col("m") != F.col("d"))
        )
    )
    assert diff.count() == 0


def test_cms_absent_probe_estimates_zero(spark):
    """An item never inserted must estimate 0 when any of its cells is
    untouched — and must SURVIVE into the output (outer-restore path)."""
    df = spark.createDataFrame([("a",), ("b",), ("a",)], ["tok"])
    sk = K.cms_sketch(df, [], F.col("tok"), depth=4, width=1024)
    probes = spark.createDataFrame(
        [("a",), ("zz-never-seen",)], ["tok"]
    )
    got = {
        r.tok: r.est_cnt
        for r in K.cms_lookup(sk, probes, "tok", depth=4, width=1024).collect()
    }
    assert got["a"] == 2
    assert got["zz-never-seen"] == 0


def test_cms_weighted(spark):
    """Weight column counts each occurrence w times."""
    df = spark.createDataFrame([("a", 3), ("a", 2), ("b", 5)], ["tok", "w"])
    sk = K.cms_sketch(df, [], F.col("tok"), weight=F.col("w"), width=1024)
    probes = spark.createDataFrame([("a",), ("b",)], ["tok"])
    got = {
        r.tok: r.est_cnt
        for r in K.cms_lookup(sk, probes, "tok", width=1024).collect()
    }
    assert got == {"a": 5, "b": 5}


# --- Bottom-k sample quantiles ----------------------------------------------


def test_sample_quantile_rank_error(spark):
    """Sampled type-1 quantiles land within ~2.5/sqrt(k) RANK distance
    of the population quantile (DKW-ish bound; k=256 -> 15.6% rank
    slack, typical ~3%), per event_type."""
    ev = load_table(spark, SF_CORRECT, "events").select(
        "event_type", "value", "event_id"
    )
    k = 256
    sample = K.bottomk_sample(
        ev, ["event_type"], F.col("event_id").cast("string"), k=k
    )
    got = K.sample_quantiles(
        sample, ["event_type"], "value",
        [("p50", 0.5), ("p90", 0.9)], tie_break="event_id",
    ).collect()
    assert got
    import math

    slack = 2.5 / math.sqrt(k)
    pop = {
        r.event_type: sorted(x.value for x in ev.filter(
            F.col("event_type") == r.event_type).collect())
        for r in got
    }
    for r in got:
        vals = pop[r.event_type]
        n = len(vals)
        for name, q in (("p50", 0.5), ("p90", 0.9)):
            v = getattr(r, name)
            # rank of the sampled quantile within the population
            import bisect

            lo = bisect.bisect_left(vals, v) / n
            hi = bisect.bisect_right(vals, v) / n
            assert lo - slack <= q <= hi + slack, (
                r.event_type, name, v, lo, hi,
            )


def test_bottomk_sample_is_mergeable(spark):
    """k smallest of the union == merge of per-shard k smallest — the
    property that lets every executor sample independently."""
    ev = load_table(spark, SF_CORRECT, "events").select(
        "event_type", "value", "event_id"
    )
    k = 64
    whole = K.bottomk_sample(
        ev, [], F.col("event_id").cast("string"), k=k
    )
    shard_a = ev.filter(F.col("event_id") % 2 == 0)
    shard_b = ev.filter(F.col("event_id") % 2 == 1)
    merged = K.bottomk_sample(
        K.bottomk_sample(shard_a, [], F.col("event_id").cast("string"), k=k)
        .unionByName(
            K.bottomk_sample(shard_b, [], F.col("event_id").cast("string"), k=k)
        ),
        [],
        F.col("event_id").cast("string"),
        k=k,
    )
    a = sorted(r.event_id for r in whole.collect())
    b = sorted(r.event_id for r in merged.collect())
    assert a == b


def test_join_cardinality_estimate_within_bound(spark):
    """The composed join-cardinality estimator (sketch_join_cardinality)
    lands within the KMV error envelope of the exact overlap — k=128
    gives ~1/sqrt(k) ≈ 9% relative error; assert a generous 3-sigma."""
    from airflow_postgres_etl_spark.plans.extensions import (
        sketch_join_cardinality,
    )

    from .conftest import SF_SMOKE

    row = sketch_join_cardinality(spark, SF_SMOKE).collect()[0]
    assert row["exact_inter"] > 0
    rel = abs(row["inter_est"] - row["exact_inter"]) / row["exact_inter"]
    assert rel < 0.30, row.asDict()
    rel_a = abs(row["a_est"] - row["exact_a"]) / row["exact_a"]
    assert rel_a < 0.30, row.asDict()
