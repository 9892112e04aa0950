"""Edge-case units for text expressions and vector math."""

from __future__ import annotations

from airflow_postgres_etl_spark.functions.vectors import (
    cosine_similarity_expr,
    dot_expr,
    l2_norm_expr,
)
from airflow_postgres_etl_spark.operators.text import (
    lang_id_expr,
    quality_score_expr,
    token_count_expr,
    tokens_expr,
    tokenset_fingerprint_expr,
)


def test_tokens_edge_cases(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("Hello, WORLD!",), ("ação café 123",), ("a--b__c",)],
        ["text"],
    )
    out = df.select(
        tokens_expr().alias("t"), token_count_expr().alias("n")
    ).collect()
    assert out[0]["t"] == [] and out[0]["n"] == 0
    assert out[1]["t"] == [] and out[1]["n"] == 0
    assert out[2]["t"] == ["hello", "world"]
    # non-ascii letters act as separators under the [a-z0-9] token alphabet
    assert out[3]["t"] == ["a", "o", "caf", "123"]
    assert out[4]["t"] == ["a", "b", "c"]


def test_lang_id_und_for_no_stopwords(spark):
    df = spark.createDataFrame([("xyzzy plugh",), ("the cat and the hat",)], ["text"])
    out = [r[0] for r in df.select(lang_id_expr()).collect()]
    assert out[0] == "und"
    assert out[1] == "en"


def test_quality_score_bounds(spark):
    df = spark.createDataFrame([("",), ("the " * 60,)], ["text"])
    out = [r[0] for r in df.select(quality_score_expr()).collect()]
    assert all(0.0 <= s <= 1.0 for s in out)
    assert out[1] > out[0]


def test_tokenset_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [("alpha beta gamma",), ("gamma alpha beta beta",), ("alpha beta delta",)],
        ["text"],
    )
    fps = [r[0] for r in df.select(tokenset_fingerprint_expr()).collect()]
    assert fps[0] == fps[1]  # same token set, different order/multiplicity
    assert fps[0] != fps[2]


def test_vector_math(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [1.0, 2.0, 2.0]), ([1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
         ([0.0, 0.0, 0.0], [1.0, 1.0, 1.0])],
        ["a", "b"],
    )
    out = df.select(
        dot_expr("a", "b").alias("dot"),
        l2_norm_expr("a").alias("na"),
        cosine_similarity_expr("a", "b").alias("cos"),
    ).collect()
    assert out[0]["dot"] == 9.0 and out[0]["na"] == 3.0 and out[0]["cos"] == 1.0
    assert out[1]["cos"] == 0.0
    # zero vector: cosine undefined -> NULL (guarded; ANSI mode would raise)
    assert out[2]["cos"] is None


def test_simhash_blocks_partition_the_signature():
    from airflow_postgres_etl_spark.operators.dedup import SIMHASH_BITS, simhash_blocks

    for radius in (1, 2, 4, 7):
        blocks = simhash_blocks(radius)
        assert len(blocks) == radius + 1
        covered = []
        for pos, ln in blocks:
            covered.extend(range(pos, pos + ln))
        # contiguous, disjoint, complete cover of the 60 positions
        assert covered == list(range(1, SIMHASH_BITS + 1))


def test_simhash_near_pairs_complete_vs_brute_force(spark):
    """Pigeonhole completeness: the block equi-join must find EVERY pair
    within the radius — checked against an in-Python all-pairs popcount."""
    from airflow_postgres_etl_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [(i, base + f" variant {i % 7} token{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    sigs = {
        r.doc_id: int(r.simhash, 2)
        for r in simhash_signatures(df).collect()
    }
    radius = 4
    expected = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= radius
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(df, radius=radius).collect()
    }
    assert got == expected and len(expected) > 0


def test_hot_band_cap_drops_oversized_groups_only(spark):
    """max_band_size / max_block_size: a boilerplate group whose bands
    exceed the cap stops emitting candidates; small true near-dup groups
    are untouched.  The cap only ever REMOVES pairs (capped ⊆ uncapped)."""
    from airflow_postgres_etl_spark.operators.dedup import (
        lsh_band_stats,
        lsh_candidate_pairs,
        simhash_near_pairs,
    )

    boiler = "subscribe to our newsletter terms of service all rights reserved"
    pair = "the quiet mountain valley held a hidden waterfall beyond the pines"
    rows = (
        # 10 identical boilerplate docs: every band has occupancy 10
        [(i, boiler) for i in range(10)]
        # one true near-dup pair (identical): bands have occupancy 2
        + [(100, pair), (101, pair)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    stats = lsh_band_stats(df).collect()[0]
    assert stats.max_band_docs == 10

    uncapped = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(df).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(df, max_band_size=5).collect()
    }
    assert capped <= uncapped
    assert (100, 101) in capped          # small group survives
    assert (0, 1) in uncapped and (0, 1) not in capped  # hot group dropped
    assert capped == {(100, 101)}

    sim_uncapped = {
        (r.doc_a, r.doc_b) for r in simhash_near_pairs(df, radius=2).collect()
    }
    sim_capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(df, radius=2, max_block_size=5).collect()
    }
    assert sim_capped <= sim_uncapped
    assert (100, 101) in sim_capped
    assert (0, 1) not in sim_capped


def test_verified_pairs_cap_threads_to_candidate_stage(spark):
    """max_band_size on the top-level verified-pairs cleaner reaches the
    candidate join's hot-band guard: a forced hot band stops emitting
    verified pairs while the small true near-dup group still verifies."""
    from airflow_postgres_etl_spark.operators.dedup import lsh_verified_pairs

    boiler = "subscribe to our newsletter terms of service all rights reserved"
    pair = "the quiet mountain valley held a hidden waterfall beyond the pines"
    rows = [(i, boiler) for i in range(10)] + [(100, pair), (101, pair)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {(r.doc_a, r.doc_b) for r in lsh_verified_pairs(df).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_verified_pairs(df, max_band_size=5).collect()
    }
    assert capped <= uncapped
    assert (0, 1) in uncapped
    assert capped == {(100, 101)}


def test_pii_redaction_order_and_placeholders(spark):
    """URL redacts before email (URLs may embed '@'); phone runs last so
    digit spans inside already-redacted matches can't re-match; output is
    idempotent (re-redacting a redacted text is a no-op)."""
    from airflow_postgres_etl_spark.operators.text import (
        pii_count_exprs,
        redact_pii_expr,
    )

    df = spark.createDataFrame(
        [
            (1, "write to bob.smith+tag@corp.example.org today"),
            (2, "see https://u:p@host.example.com/a?b=1 for details"),
            (3, "server at 192.168.001.042 port open"),
            (4, "call +44 (0) 20 7946-0958 now"),
            (5, "clean text with the year 2024 only"),
        ],
        ["doc_id", "text"],
    )
    red = {r.doc_id: r.red for r in df.select("doc_id", redact_pii_expr().alias("red")).collect()}
    assert red[1] == "write to <EMAIL> today"
    # the URL (including its embedded '@') went as ONE url, not an email
    assert red[2] == "see <URL> for details"
    assert red[3] == "server at <IP> port open"
    assert red[4] == "call <PHONE> now"
    assert red[5] == "clean text with the year 2024 only"

    # idempotent: placeholders contain no PII-shaped substrings
    twice = {
        r.doc_id: r.red2
        for r in df.select(
            "doc_id", redact_pii_expr(redact_pii_expr()).alias("red2")
        ).collect()
    }
    assert twice == red

    counts = df.select("doc_id", *pii_count_exprs()).collect()
    by_id = {r.doc_id: (r.n_url, r.n_email, r.n_ip, r.n_phone) for r in counts}
    assert by_id[5] == (0, 0, 0, 0)
    assert by_id[1][1] == 1 and by_id[3][2] == 1


def test_pack_sequences_exact_on_sparse_clustered_ids(spark):
    """The two-level prefix sum must stay EXACT when doc_ids are sparse
    and clustered (many ids landing in one doc_id//64 block, with huge
    gaps between blocks) — blocking only affects parallelism, never the
    offsets.  Compared against an independently computed running sum."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.plans.extensions import pack_sequences_frame

    # 3 dense clusters far apart + stragglers; deterministic texts
    ids = [5, 6, 7, 8, 9, 10_000, 10_001, 10_002, 999_999_937, 999_999_998]
    rows = [(i, "tok " * (i % 7 + 1)) for i in ids]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset)
        for r in pack_sequences_frame(docs, budget=5).collect()
    }
    s = 0
    for i in sorted(ids):
        n = i % 7 + 1  # "tok " * n -> n BPE tokens
        assert got[i] == (n, s // 5, s % 5), i
        s += n


def test_training_corpus_observation_metrics_exact(spark):
    """Observation metrics on the composed pipeline: per-stage counts are
    collected DURING the single job (accumulator-backed, no extra corpus
    passes) and must equal independently recomputed stage counts."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.caching import release_caches
    from airflow_postgres_etl_spark.plans.extensions import (
        decontaminate_hits_frame,
        training_corpus_frame,
    )
    from airflow_postgres_etl_spark.operators import text as X
    from airflow_postgres_etl_spark.sources.parquet_source import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    metrics: dict = {}
    try:
        out = training_corpus_frame(docs, observations=metrics)
        n_final = out.count()
        got = {k: o.get["rows"] for k, o in metrics.items()}
    finally:
        release_caches()

    t = docs.select("doc_id", X.tokens_expr().alias("w"))
    expect_quality = t.filter(
        (F.size("w") >= 20) & (F.col("doc_id") % 10 != 0)
    ).count()
    expect_bad = decontaminate_hits_frame(docs).count()
    assert got["quality_pass"] == expect_quality
    assert got["contaminated"] == expect_bad
    assert got["mixed_keep"] == n_final  # packing is 1:1 with mixed docs
    assert 0 < got["mixed_keep"] <= got["quality_pass"]


def test_jl_projection_preserves_distances_in_expectation(spark):
    """The JL property the reduction exists for: squared distances in the
    8-dim ±1 projection, scaled by 1/k, estimate original squared
    distances (quantized).  Checked on the first 40 vectors: the mean
    ratio over pairs is near 1 (the guarantee is in expectation; single
    pairs vary)."""
    import numpy as np

    from airflow_postgres_etl_spark.plans.extensions import (
        _JL_OUT_DIMS,
        _jl_signs,
        EMB_DIM,
        sim_jl_projection,
    )
    from airflow_postgres_etl_spark.sources.parquet_source import load_table

    from .conftest import SF_SMOKE

    proj = (
        sim_jl_projection(spark, SF_SMOKE).limit(40).toPandas().set_index("vec_id")
    )
    emb = {
        r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * 1e6)
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .filter("vec_id < 40")
        .collect()
    }
    # sanity: the projection really is the signed sum it claims
    s0 = np.array(_jl_signs(0, EMB_DIM))
    vid = proj.index[0]
    assert proj.loc[vid, "p0"] == int(emb[vid] @ s0)

    ratios = []
    ids = sorted(emb)
    for a, b in zip(ids[:-1], ids[1:]):
        d_orig = float(((emb[a] - emb[b]) ** 2).sum())
        pa = proj.loc[a].to_numpy(dtype=np.float64)
        pb = proj.loc[b].to_numpy(dtype=np.float64)
        d_proj = float(((pa - pb) ** 2).sum()) / _JL_OUT_DIMS
        if d_orig > 0:
            ratios.append(d_proj / d_orig)
    mean = sum(ratios) / len(ratios)
    assert 0.6 < mean < 1.4, mean  # E[ratio]=1; k=8 gives wide but bounded spread


def test_chunk_documents_count_coverage_overlap(spark):
    """Chunk rule pinned: k*48 starts, 64-token windows, count
    1 + ceil((n-64)/48) (no fully-redundant tail), full token coverage."""
    import pytest as _pytest

    from airflow_postgres_etl_spark.operators.text import chunk_documents

    sizes = [0, 1, 63, 64, 65, 100, 112, 113, 200]
    rows = [(n, " ".join(f"t{i}" for i in range(n))) for n in sizes]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in chunk_documents(df).collect():
        got.setdefault(r.doc_id, []).append(r)
    for n in sizes:
        chunks = sorted(got.get(n, []), key=lambda r: r.chunk_idx)
        if n == 0:
            assert chunks == []
            continue
        want_nch = 1 if n <= 64 else 1 + -((n - 64) // -48)  # ceil div
        assert len(chunks) == want_nch, f"n={n}"
        for k, c in enumerate(chunks):
            assert c.chunk_idx == k and c.chunk_start == 48 * k
            assert c.n_chunk_tokens == min(64, n - 48 * k)
        # full coverage: last chunk reaches the final token
        assert chunks[-1].chunk_start + chunks[-1].n_chunk_tokens == n
        # every chunk past the first contributes new tokens
        for prev, cur in zip(chunks, chunks[1:]):
            assert (
                cur.chunk_start + cur.n_chunk_tokens
                > prev.chunk_start + prev.n_chunk_tokens
            )
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_size=8, stride=16)


def test_sq8_codes_bounded_and_exact(spark):
    """SQ8 codes: the max-|x| element maps to ±127, all codes in
    [-127, 127], the zero vector to all-zero codes."""
    from airflow_postgres_etl_spark.operators.similarity import sq8_expr

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-0.3,]),
        ],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r.q for r in df.select("vec_id", sq8_expr("embedding").alias("q")).collect()}
    assert out[1] == [64, -127, 32, 0]  # round(127*1/2)=63.5->64 half-away
    assert out[2] == [0, 0, 0, 0]
    assert out[3] == [-127]
    assert all(-127 <= v <= 127 for q in out.values() for v in q)


def test_sq8_cosine_tracks_float_cosine(spark):
    """Quantization error bound: over real sf0.001 embedding pairs the
    SQ8 cosine stays within 0.02 of the float cosine, and the SQ8 top-10
    overlaps the float IVF top-10 by >= 0.8 (same candidates, compressed
    scoring)."""
    from airflow_postgres_etl_spark.operators import similarity as S
    from airflow_postgres_etl_spark.sources.parquet_source import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [0, 1, 2, 3, 4]
    flt = S.knn_ivf_centroids(emb, qids, k=10)
    sq8 = S.knn_ivf_sq8(emb, qids, k=10)
    f_pairs = {(r.query_id, r.neighbor_id): r.cosine_sim for r in flt.collect()}
    q_rows = sq8.collect()
    q_pairs = {(r.query_id, r.neighbor_id): r.sq8_sim for r in q_rows}
    both = set(f_pairs) & set(q_pairs)
    assert both, "no common pairs"
    assert max(abs(f_pairs[p] - q_pairs[p]) for p in both) < 0.02
    overlap = len(both) / len(f_pairs)
    assert overlap >= 0.8, f"sq8 top-10 overlap {overlap:.2f}"


def test_misra_gries_candidates_superset_under_any_partitioning(spark):
    """The MG superset guarantee is what makes heavy_hitters exact: for
    every partitioning tried, all words with global count > n/T must be
    in the candidate set, and the verified result must equal the exact
    answer."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators.text import (
        heavy_hitters,
        misra_gries_candidates,
    )

    # skewed corpus: 'alpha' 300x, 'beta' 150x, 120 singletons
    words = (
        ["alpha"] * 300 + ["beta"] * 150 + [f"rare{i}" for i in range(120)]
    )
    docs = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    T = 10  # threshold: count > 570/10 = 57 -> {alpha, beta}
    exact = {("alpha", 300), ("beta", 150)}
    for parts in (1, 3, 13):
        w = (
            docs.select(F.explode(F.split("text", " ")).alias("word"))
            .repartition(parts)
        )
        cand = {
            r.word for r in misra_gries_candidates(w, capacity=T + 1).collect()
        }
        assert {"alpha", "beta"} <= cand
        assert len(cand) <= (T + 1) * parts  # bounded candidate set
    got = {(r.word, r.n) for r in heavy_hitters(docs, threshold_frac=T).collect()}
    assert got == exact


def test_bm25_index_equals_corpus_scan(spark, tmp_path):
    """The persisted inverted index (built INCREMENTALLY in two
    batches) must reproduce bm25_topk's scores and ranking bit-for-bit;
    a re-add of an indexed doc_id is refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators.text import (
        add_documents,
        bm25_from_index,
        bm25_topk,
    )
    from airflow_postgres_etl_spark.sources.parquet_source import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "idx")
    add_documents(spark, docs.filter(F.col("doc_id") % 2 == 1), idx)
    add_documents(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)

    terms = ["join", "hash", "vector", "scan"]
    got = [
        (r.doc_id, r.bm25_micro)
        for r in bm25_from_index(spark, idx, terms, n=20).collect()
    ]
    want = [
        (r.doc_id, r.bm25_micro)
        for r in bm25_topk(docs, terms, n=20).collect()
    ]
    assert got == want

    with _pytest.raises(ValueError, match="already indexed"):
        add_documents(spark, docs.filter(F.col("doc_id") == 0), idx)


def test_add_documents_releases_its_checkpoint(spark, tmp_path):
    """An add_documents call leaves no persisted RDD behind: its
    postings checkpoint is released whether the call lands or raises."""
    import pytest as _pytest

    from airflow_postgres_etl_spark.operators.text import add_documents

    docs = spark.createDataFrame(
        [(1, "hash join scan"), (2, "vector scan")], "doc_id long, text string"
    )
    idx = str(tmp_path / "idx")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    held = set(persisted().keySet())
    add_documents(spark, docs.filter("doc_id = 1"), idx)
    add_documents(spark, docs.filter("doc_id = 2"), idx)
    with _pytest.raises(ValueError, match="already indexed"):
        add_documents(spark, docs.filter("doc_id = 1"), idx)
    assert set(persisted().keySet()) <= held


def test_hybrid_rrf_fusion_semantics(spark):
    """RRF closed-form on crafted legs: both-leg docs sum their
    contributions, single-leg docs carry a NULL rank for the missing
    leg and contribute 0 there, and the fused tie-break is doc_id."""
    from airflow_postgres_etl_spark.operators.text import hybrid_rrf

    lex = spark.createDataFrame(
        [(1, 900), (2, 800), (3, 700)], "doc_id long, bm25_micro long"
    )
    sem = spark.createDataFrame(
        [(2, 0.9), (4, 0.8), (1, 0.7)], "doc_id long, cosine_sim double"
    )
    rows = {r.doc_id: r for r in hybrid_rrf(lex, sem, n=10).collect()}
    c = lambda r: 1_000_000_000 // (60 + r)
    # doc1: lex rank 1, sem rank 3; doc2: lex 2, sem 1; doc3: lex 3 only;
    # doc4: sem 2 only
    assert (rows[1].lex_rank, rows[1].sem_rank) == (1, 3)
    assert rows[1].rrf_micro == c(1) + c(3)
    assert rows[2].rrf_micro == c(2) + c(1)
    assert rows[3].sem_rank is None and rows[3].rrf_micro == c(3)
    assert rows[4].lex_rank is None and rows[4].rrf_micro == c(2)
    # fused order: doc2 (two high ranks) first; doc3 vs doc4 differ by rank
    ordered = [r.doc_id for r in hybrid_rrf(lex, sem, n=10).collect()]
    assert ordered == [2, 1, 4, 3]

    # tie-break: identical contributions -> lower doc_id first
    lex2 = spark.createDataFrame([(7, 100), (5, 200)], "doc_id long, bm25_micro long")
    sem2 = spark.createDataFrame([(5, 0.1), (7, 0.2)], "doc_id long, cosine_sim double")
    # doc5: lex 1 + sem 2; doc7: lex 2 + sem 1 -> equal sums, 5 before 7
    assert [r.doc_id for r in hybrid_rrf(lex2, sem2, n=10).collect()] == [5, 7]


def test_mmr_select_closed_form(spark):
    """Greedy MMR on crafted 2-D vectors, λ=0.5: the duplicate of the
    first pick scores negative, the ANTI-similar candidate's negative
    sim is a bonus (regression: a zero-seeded running max hid it), and
    every mmr_micro matches hand arithmetic."""
    from airflow_postgres_etl_spark.operators.similarity import mmr_select

    cand = spark.createDataFrame(
        [
            (1, 1000000, [1.0, 0.0]),   # top relevance
            (2, 990000, [1.0, 0.0]),    # duplicate of 1
            (3, 500000, [0.0, 1.0]),    # orthogonal
            (4, 400000, [-1.0, 0.0]),   # anti-similar to 1
        ],
        "doc_id long, rel_micro long, embedding array<double>",
    )
    rows = mmr_select(cand, k=4, lambda_ppm=500_000).collect()
    assert [(r.mmr_rank, r.doc_id) for r in rows] == [
        (1, 1), (2, 4), (3, 3), (4, 2)
    ]
    by_rank = {r.mmr_rank: r.mmr_micro for r in rows}
    assert by_rank[1] == 500_000 * 1_000_000           # λ·rel, no penalty
    assert by_rank[2] == 500_000 * 400_000 + 500_000 * 1_000_000  # −(−1) bonus
    assert by_rank[3] == 500_000 * 500_000             # max(sim to 1,4) = 0
    assert by_rank[4] == 500_000 * 990_000 - 500_000 * 1_000_000  # dup penalty


def test_mmr_select_groups_and_exhaustion(spark):
    """group_col partitions the greedy independently; a group with fewer
    candidates than k just stops (ragged output, no padding)."""
    from airflow_postgres_etl_spark.operators.similarity import mmr_select

    cand = spark.createDataFrame(
        [
            ("qa", 1, 900000, [1.0, 0.0]),
            ("qa", 2, 800000, [0.0, 1.0]),
            ("qa", 3, 700000, [1.0, 1.0]),
            ("qb", 7, 600000, [1.0, 0.0]),
            ("qb", 8, 650000, [0.0, 1.0]),
        ],
        "q string, doc_id long, rel_micro long, embedding array<double>",
    )
    rows = mmr_select(cand, k=3, group_col="q").collect()
    got = {(r.q, r.mmr_rank): r.doc_id for r in rows}
    assert got[("qa", 1)] == 1 and got[("qb", 1)] == 8
    assert sum(1 for (g, _) in got if g == "qb") == 2  # exhausted at 2
    assert sum(1 for (g, _) in got if g == "qa") == 3


def test_mmr_select_tie_breaks_on_id(spark):
    from airflow_postgres_etl_spark.operators.similarity import mmr_select

    cand = spark.createDataFrame(
        [(9, 500000, [1.0, 0.0]), (3, 500000, [0.0, 1.0])],
        "doc_id long, rel_micro long, embedding array<double>",
    )
    rows = mmr_select(cand, k=1).collect()
    assert [(r.mmr_rank, r.doc_id) for r in rows] == [(1, 3)]


def test_bm25_index_large_batch_branches(spark, tmp_path):
    """Past the adaptive thresholds (>512 ids, >2048 terms) the index
    add probes via broadcast semi-joins instead of literal-key lookups:
    the incremental build still equals a fresh one-shot build term for
    term, and a re-add is still refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators.text import (
        add_documents,
        bm25_from_index,
    )

    # 1200 docs x 3 unique terms each = 3600 distinct terms, plus a
    # shared query term so BM25 has something to rank
    rows = [
        (i, f"shared u{i}a u{i}b u{i}c") for i in range(1200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inc = str(tmp_path / "inc")
    add_documents(spark, docs.filter(F.col("doc_id") < 600), inc)
    add_documents(spark, docs.filter(F.col("doc_id") >= 600), inc)
    fresh = str(tmp_path / "fresh")
    add_documents(spark, docs, fresh)
    q = ["shared", "u7a", "u900b"]
    a = [(r.doc_id, r.bm25_micro) for r in bm25_from_index(spark, inc, q, n=10).collect()]
    b = [(r.doc_id, r.bm25_micro) for r in bm25_from_index(spark, fresh, q, n=10).collect()]
    assert a == b and len(a) == 10

    with _pytest.raises(ValueError, match="already indexed"):
        add_documents(spark, docs.filter(F.col("doc_id") == 3), inc)
