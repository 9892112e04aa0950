"""Deduplication operators over the ``documents`` table — exact,
fingerprint, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design
------------
- **Exact / fingerprint dedup** is one hash-aggregate: shuffles once on the
  hash, map-side partial aggregation does most of the work.  At 100 TB this
  is the canonical groupBy and AQE handles the (rare) hot hash.
- **n-gram Jaccard** is the *exact* pairwise baseline: explode distinct
  3-gram shingles → self-equi-join on shingle → count shared.  Shingles are
  selective (unlike unigrams), but all-pairs remains quadratic in the worst
  case — it is the correctness oracle for the approximate paths, not the
  scale path.
- **MinHash + LSH banding** is the scale path: k=12 signatures from
  ``min(md5(seed:shingle))`` (a string-min is a valid min-hash: fixed-width
  hex compares lexicographically = numerically), banded 4×3 so candidate
  generation is an equi-join on (band_idx, band_hi, band_lo) — the two
  signed-long halves of the md5 band hash — linear shuffle, no
  quadratic blowup.  Collision probability follows the standard
  ``1-(1-s^r)^b`` S-curve.
- **SimHash** packs a 60-bit signature from per-bit majority votes of
  token hashes; equal-signature (or small-hamming) grouping is again an
  equi-join.

Everything is hash-based on ``md5`` so the DuckDB oracles can reproduce
values bit-for-bit (md5 is identical everywhere; no engine-specific
``hash()``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import register_cache
from .text import tokens_expr

N_MINHASH = 12
LSH_BANDS = 4
LSH_ROWS = 3  # N_MINHASH = LSH_BANDS * LSH_ROWS
SIMHASH_BITS = 60  # 15 hex chars of md5 → fits signed 64-bit exactly


def shingles_from_tokens(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an already-bound token-array
    column.

    ``w`` MUST be a plain column reference (an attribute), not an inline
    expression tree: every reference to ``w`` inside the ``transform``
    lambda re-evaluates whatever expression ``w`` is — with the tokenizer
    inlined that is one full regexp split PER SHINGLE POSITION, i.e.
    O(tokens²) per document (measured: 125 s vs 2.9 s for 64 × 10k-token
    docs — the long-document cliff, see SCALE.md).  Binding the tokens to
    a column first makes the lambda body O(n) total.
    """
    count = F.size(w) - (n - 1)
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty
    return F.when(
        count >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.array_join(F.slice(w, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup_groups(df: DataFrame, col: str = "text", key: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash; ``keep_id`` = min key per group."""
    return (
        df.groupBy(F.md5(F.col(col)).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min(key).alias("keep_id"))
    )


def exact_dedup(df: DataFrame, col: str = "text", key: str = "doc_id") -> DataFrame:
    """Keep one row per exact content: the row with the smallest key."""
    w_min = exact_dedup_groups(df, col, key).select(F.col("keep_id").alias(key))
    return df.join(w_min, key, "left_semi")


def _doc_shingles(df: DataFrame, col: str, key: str, n: int) -> DataFrame:
    """Per-doc shingle arrays, fanned out across cores and **cached**.

    Two deliberate physical choices, both measured:

    - ``repartition``: document corpora arrive in few large files; the
      shingle expression is CPU-heavy per row, so spread it over all cores
      instead of one input split.
    - ``cache``: every consumer explodes this frame under a Generate, whose
      input expression Spark evaluates in interpreted mode (outside
      whole-stage codegen) — ~25× slower than the same expression in a
      codegen'd projection (measured 10 s vs 0.4 s at sf0.1).  Caching the
      compact per-doc arrays keeps the expensive expression codegen'd and
      single-evaluated; the LSH/Jaccard self-joins then reuse one copy for
      both sides.  Spark's CacheManager dedups by canonicalized plan, so
      repeated query calls share the entry.  At real scale this frame is
      corpus-sized: materialize it to storage once (``build_minhash_index``
      is that shape) instead of memory-caching.  The cache is registered
      with :mod:`..caching` so callers can release it
      (``release_caches()`` / ``cache_scope()``) instead of leaking it for
      the session's lifetime.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # two-step select: tokens bound to an attribute BEFORE the shingle
    # transform references them — the lambda then reads a materialized
    # array instead of re-running the tokenizer per shingle position
    # (O(n) vs O(n²); 43× at 10k tokens/doc, see shingles_from_tokens).
    return register_cache(
        df.repartition(parallelism)
        .select(F.col(key), tokens_expr(col).alias("__w"))
        .select(F.col(key), shingles_from_tokens(F.col("__w"), n).alias("__sh"))
    )


def _exploded_shingles(df: DataFrame, col: str, key: str, n: int) -> DataFrame:
    # size computed BEFORE the explode — one pass over the shingle array,
    # no count-aggregate + join-back (which would re-execute the tokenize/
    # shingle subtree and add a shuffle)
    sh = _doc_shingles(df, col, key, n)
    return sh.select(
        F.col(key),
        F.size("__sh").alias("n_shingles"),
        F.explode("__sh").alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold (key_a < key_b).

    Columns: ``doc_a, doc_b, jaccard`` (rounded 6).
    """
    ex = _exploded_shingles(df, col, key, n)
    a = ex.select(
        F.col(key).alias("doc_a"),
        F.col("shingle"),
        F.col("n_shingles").alias("na"),
    )
    b = ex.select(
        F.col(key).alias("doc_b"),
        F.col("shingle"),
        F.col("n_shingles").alias("nb"),
    )
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"), F.first("na").alias("na"), F.first("nb").alias("nb"))
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def span_coverage(
    df: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Duplicated-span coverage: for each document, the fraction of its
    distinct ``n``-token spans that also occur in at least one OTHER
    document — the exact-substring duplication signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), as a
    per-document score instead of their suffix-array span removal.  High
    coverage = boilerplate / template / near-copy; the score feeds the
    same keep-filter as the quality signals in ``pipeline_clean_corpus``.

    Columns: ``doc_id, n_spans, n_shared, shared_frac`` (rounded 6).
    Documents with fewer than ``n`` tokens have no spans and are absent.

    Scale shape: spans are distinct PER DOC (``_doc_shingles``), so the
    per-span ``count(*)`` IS the containing-doc count — one hash-agg
    shuffle over exploded spans, one equi-join back (each exploded row
    matches exactly one count row — linear fan-out even for stop-phrase
    spans present in millions of docs; only the >1 flag travels), one
    per-doc re-aggregate.  No pairwise expansion anywhere: cost is
    O(total spans), unlike the all-pairs Jaccard baseline.

    The aggregate/join key is the 60-bit md5 span hash, not the span
    string: spans are ~n·word-length bytes and mostly unique, so hashing
    cuts the two shuffles' sort keys to fixed 8-byte ints (measured
    ~2.3× end-to-end at 320k docs / 16M spans, SCALE.md).  A 60-bit
    collision (≈n²/2⁶¹ — odds ~1e-4 at 100M distinct spans) merges two
    spans' counts and can only OVER-mark sharing, the conservative
    direction for a dedup signal; both engines hash identically so the
    oracle differential is unaffected.
    """
    ex = _exploded_shingles(df, col, key, n).select(
        F.col(key),
        F.col("n_shingles"),
        _token_hash60(F.col("shingle")).alias("__span_h"),
    )
    counts = ex.groupBy("__span_h").agg(F.count("*").alias("__n_docs"))
    shared_flag = (F.col("__n_docs") > 1).cast("long")
    return (
        ex.join(counts, "__span_h")
        .groupBy(key, "n_shingles")
        .agg(F.sum(shared_flag).alias("n_shared"))
        .select(
            key,
            F.col("n_shingles").cast("long").alias("n_spans"),
            F.col("n_shared"),
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias(
                "shared_frac"
            ),
        )
    )


def cdc_chunk_stats(
    df: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    mod: int = 16,
) -> DataFrame:
    """Content-defined chunking dedup signal: split each document into
    variable-length chunks at content-determined boundaries (a token is
    a boundary iff its 60-bit hash ≡ 0 mod ``mod`` — expected chunk
    length ``mod`` tokens), fingerprint each chunk, and report per doc
    how many of its distinct chunks occur in at least one other doc.

    The storage-dedup construction (LBFS/rsync family) applied to text:
    boundaries depend only on LOCAL content, so an edit disturbs only
    the one or two chunks around it while every other chunk keeps its
    exact identity.  Versus :func:`span_coverage` (overlapping n-grams,
    one span per token position) the trade is granularity for cost:
    chunks are NON-overlapping, so the sharing join carries ~tokens/mod
    rows instead of ~tokens rows — a ``mod``× cheaper corpus signal at
    coarser (expected ``mod``-token) resolution.

    Columns: ``doc_id, n_chunks, n_shared, shared_frac`` (rounded 6);
    ``n_chunks`` counts DISTINCT chunk fingerprints per doc.  Docs with
    zero tokens are absent.

    Scale shape: one posexplode (O(total tokens)), one KEYED window
    (chunk ids = running boundary count per doc — partitioned by doc,
    never global), two hash aggregates and a linear join back on the
    chunk fingerprint.  No pairwise stage.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    w = df.repartition(parallelism).select(
        F.col(key), tokens_expr(col).alias("__w")
    )
    p = w.select(F.col(key), F.posexplode("__w").alias("pos0", "tok"))
    b = p.select(
        F.col(key),
        (F.col("pos0") + 1).alias("pos"),
        F.col("tok"),
        ((_token_hash60(F.col("tok")) % mod) == 0).cast("int").alias("__is_b"),
    )
    wv = (
        Window.partitionBy(key)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = b.withColumn("__chunk_id", F.sum("__is_b").over(wv))
    # ordered rebuild inside the aggregate: collect (pos, tok) structs,
    # sort by pos, join — deterministic regardless of partitioning
    chunk_fp = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        )
    )
    chunks = c.groupBy(key, "__chunk_id").agg(chunk_fp.alias("chunk_fp"))
    dc = chunks.select(F.col(key), "chunk_fp").distinct()
    cf = dc.groupBy("chunk_fp").agg(F.count("*").alias("__n_docs"))
    shared_flag = (F.col("__n_docs") > 1).cast("long")
    return (
        dc.join(cf, "chunk_fp")
        .groupBy(key)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(shared_flag).alias("n_shared"),
        )
        .select(
            key,
            F.col("n_chunks"),
            F.col("n_shared"),
            F.round(F.col("n_shared") / F.col("n_chunks"), 6).alias(
                "shared_frac"
            ),
        )
    )


def remove_shared_spans(
    df: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Exact-substring dedup REMOVAL (the apply step Lee et al. 2022
    actually perform, vs :func:`span_coverage`'s score): every ``n``-token
    span that occurs in more than one document is removed from every
    document EXCEPT the lowest-id one containing it (one canonical copy
    survives, the repo-wide keep-min-id convention); overlapping shared
    spans remove the union of their token positions.

    Columns: ``doc_id, n_tokens, n_removed, cleaned_fp`` — ``cleaned_fp``
    is the md5 of the surviving tokens rejoined by single spaces (the
    canonical form; differential-pinned against the oracle), ``n_removed``
    the count of removed token positions.  Docs with no shared spans pass
    through with ``n_removed = 0``.

    Scale shape: positional spans explode to O(total tokens) rows keyed
    by the 60-bit span hash (same collision trade as
    :func:`span_coverage` — a collision can only over-remove); one
    hash-agg for (containing-doc count, keep id), one linear join back,
    one position-explode + distinct, one per-doc rebuild.  No pairwise
    stage, no suffix array — the distributed approximation of the
    suffix-automaton pass, exact for span granularity ``n``.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    w = register_cache(
        df.repartition(parallelism).select(
            F.col(key), tokens_expr(col).alias("__w")
        )
    )
    count = F.size("__w") - (n - 1)
    posed = w.select(
        F.col(key),
        F.col("__w"),
        F.explode(
            F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("pos"),
    ).select(
        F.col(key),
        F.col("pos"),
        _token_hash60(
            F.array_join(F.slice(F.col("__w"), F.col("pos"), n), " ")
        ).alias("__span_h"),
    )
    shared = (
        posed.groupBy("__span_h")
        .agg(
            F.countDistinct(key).alias("__n_docs"),
            F.min(key).alias("__keep_id"),
        )
        .filter(F.col("__n_docs") > 1)
    )
    cov = (
        posed.join(shared, "__span_h")
        .filter(F.col(key) != F.col("__keep_id"))
        .select(
            F.col(key),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("__i"),
        )
        .distinct()
    )
    ca = cov.groupBy(key).agg(
        F.count("*").alias("__n_removed"), F.collect_set("__i").alias("__cov")
    )
    empty_cov = F.array().cast("array<int>")
    kept = F.filter(
        F.col("__w"),
        lambda x, i: ~F.array_contains(
            F.coalesce(F.col("__cov"), empty_cov), i + F.lit(1)
        ),
    )
    return w.join(ca, key, "left").select(
        F.col(key),
        F.size("__w").cast("long").alias("n_tokens"),
        F.coalesce(F.col("__n_removed"), F.lit(0)).cast("long").alias(
            "n_removed"
        ),
        F.md5(F.array_join(kept, " ")).alias("cleaned_fp"),
    )


def minhash_signatures(
    df: DataFrame, col: str = "text", key: str = "doc_id", n: int = 3
) -> DataFrame:
    """k=N_MINHASH min-hashes per document: ``m0..m11`` hex strings.

    One explode + one hash-aggregate; fully JVM-side.
    """
    sh = _doc_shingles(df, col, key, n).select(
        F.col(key), F.explode("__sh").alias("shingle")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"m{i}")
        for i in range(N_MINHASH)
    ]
    return sh.groupBy(key).agg(*aggs)


#: the band join/group key columns: band_hi/band_lo are the two signed
#: longs of the 128-bit md5 band hash (r12, guide §2.3 "narrower
#: types") — 16+2·8 = ~20 bytes of key per shuffle row instead of the
#: previous 32-char hex string's ~40.  ``conv(hex16, 16, -10)`` is an
#: exact bijection between each 16-hex-char half and one signed long
#: (verified down to the 8000…/7fff… boundary values), so equality on
#: (band_hi, band_lo) is IDENTICAL to equality on the md5 string and
#: every candidate set is unchanged.
BAND_COLS = ["band_idx", "band_hi", "band_lo"]


def _band_hi_lo(md5_hex: Column) -> tuple[Column, Column]:
    """The (hi, lo) signed-long decomposition of a 32-char md5 hex."""
    return (
        F.conv(F.substring(md5_hex, 1, 16), 16, -10).cast("long"),
        F.conv(F.substring(md5_hex, 17, 16), 16, -10).cast("long"),
    )


def _legacy_band_key(hi: Column, lo: Column) -> Column:
    """Reconstruct the md5 hex string from its (hi, lo) longs — exact
    inverse of :func:`_band_hi_lo` (two's-complement hex, zero-padded,
    lowercased).  Only used to conform appends into a pre-r12 index."""
    return F.lower(
        F.concat(
            F.lpad(F.hex(hi), 16, "0"), F.lpad(F.hex(lo), 16, "0")
        )
    )


def _bands_expr() -> Column:
    """Array of (band_idx, band_hi, band_lo) structs from the m0..m11
    signature columns; (band_hi, band_lo) = the two signed-long halves
    of md5(concatenated row signatures) — see :data:`BAND_COLS`."""
    structs = []
    for bi in range(LSH_BANDS):
        h = F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"m{bi * LSH_ROWS + r}") for r in range(LSH_ROWS)],
            )
        )
        hi, lo = _band_hi_lo(h)
        structs.append(
            F.struct(
                F.lit(bi).alias("band_idx"),
                hi.alias("band_hi"),
                lo.alias("band_lo"),
            )
        )
    return F.array(*structs)


def _band_table(sig: DataFrame, key: str) -> DataFrame:
    """(key, band_idx, band_hi, band_lo) — one row per doc per band."""
    return sig.select(F.col(key), F.explode(_bands_expr()).alias("b")).select(
        F.col(key), F.col("b.band_idx"), F.col("b.band_hi"), F.col("b.band_lo")
    )


def _drop_hot_groups(
    table: DataFrame, group_cols: list[str], max_size: int
) -> DataFrame:
    """Remove every row of groups with more than ``max_size`` members.

    THE hot-band mitigation: a band (or simhash block) shared by m
    documents emits m(m-1)/2 candidates — one boilerplate-heavy band with
    m=10⁶ is a 5·10¹¹-pair straggler that stalls the join at corpus
    scale.  Oversized groups are overwhelmingly boilerplate (banner
    pages, templated spam) whose members collide on *many* bands, so
    dropping the hot ones costs little recall while bounding the
    candidate join at groups × max_size².  The oversized-group set is
    tiny by construction (≤ |rows| / max_size groups), so the exclusion
    is a broadcast anti-join — no extra shuffle on the big side beyond
    the occupancy count's, which shares the join's own key partitioning.
    Measure first with :func:`lsh_band_stats` / :func:`simhash_block_stats`.
    """
    counts = table.groupBy(*group_cols).agg(F.count("*").alias("__n"))
    hot = counts.filter(F.col("__n") > max_size).select(*group_cols)
    return table.join(F.broadcast(hot), group_cols, "left_anti")


def lsh_band_stats(
    df: DataFrame, col: str = "text", key: str = "doc_id", n: int = 3
) -> DataFrame:
    """One-row occupancy summary of the LSH band table — the measurement
    that decides whether a corpus needs ``max_band_size``.

    Columns: ``n_bands`` (distinct (band_idx, band_hi, band_lo) groups),
    ``max_band_docs`` (hottest band's occupancy), ``n_colliding_bands``
    (occupancy ≥ 2), ``candidate_pairs_upper`` (Σ m(m-1)/2 — the exact
    pre-distinct candidate join output, i.e. the cost the cap bounds).
    """
    occ = (
        _band_table(minhash_signatures(df, col, key, n), key)
        .groupBy(*BAND_COLS)
        .agg(F.count("*").alias("__m"))
    )
    pairs = F.col("__m") * (F.col("__m") - F.lit(1)) / F.lit(2)
    return occ.agg(
        F.count("*").alias("n_bands"),
        F.max("__m").alias("max_band_docs"),
        F.sum(F.when(F.col("__m") > 1, 1).otherwise(0)).alias("n_colliding_bands"),
        F.sum(pairs).cast("long").alias("candidate_pairs_upper"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    n: int = 3,
    max_band_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs (key_a < key_b), via band equi-join.

    Bands: LSH_BANDS bands of LSH_ROWS rows; band key = md5 of the
    concatenated row signatures, carried as the two signed longs of
    :data:`BAND_COLS` (bijective with the hex string — identical
    candidate sets, ~half the shuffled key bytes on BOTH join sides).
    ``max_band_size`` drops bands with more
    members (boilerplate skew guard — see :func:`_drop_hot_groups`);
    ``None`` keeps every band (the exact-recall default).
    """
    exploded = _band_table(minhash_signatures(df, col, key, n), key)
    if max_band_size is not None:
        # the capped plan reads the band table four times (occupancy
        # count, anti-join probe, both join sides) — cache the narrow
        # (key, band_idx, band_key) rows so the signature aggregate runs
        # once.  At corpus scale this is the materialized band INDEX
        # (build_minhash_index); registered for release via ..caching.
        #
        # Measured NON-optimization (r11): caching UNCONDITIONALLY (the
        # uncapped 2-read join recomputes the signature aggregate per
        # side — ReuseExchange can't dedupe the doc_a/doc_b-aliased
        # exchanges) read consistently SLOWER in an interleaved A/B
        # (best-of-3 2.44 s cached vs 1.89 s uncached at sf0.1): the
        # materialization job + columnar encode/decode costs more than
        # the duplicated-but-parallel aggregate, and the cache breaks
        # codegen pipelining into the join.  Two reads: recompute; four
        # reads: cache.
        exploded = register_cache(exploded)
        exploded = _drop_hot_groups(exploded, BAND_COLS, max_band_size)
    a = exploded.select(F.col(key).alias("doc_a"), *BAND_COLS)
    b = exploded.select(F.col(key).alias("doc_b"), *BAND_COLS)
    # merge hint: the band self-join must NEVER broadcast.  Both sides are
    # corpus-sized; when the table is cached (the capped path), its
    # columnar-cache size estimate undercounts the row-format broadcast
    # footprint ~20×, so mid-size corpora sneak under the auto-broadcast
    # threshold and the materialized HashedRelation is a ~GiB driver
    # allocation (measured: 64×-sf0.1, 1.28M band rows — killed an 8g
    # driver; sort-merge runs it in seconds).  At 100 TB broadcast is
    # equally wrong; SMJ shuffles both sides once on the band key.
    return (
        a.join(b.hint("merge"), BAND_COLS)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_verified_pairs(
    df: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_band_size: int | None = None,
) -> DataFrame:
    """The production near-dup pipeline: LSH candidate generation (linear,
    equi-join) followed by **exact** Jaccard verification on candidates
    only.  Combines the scale path with the exactness of the all-pairs
    baseline — the pair space is |candidates|, not |docs|².

    ``max_band_size`` reaches the candidate stage's hot-band cap (see
    :func:`_drop_hot_groups`) so the top-level cleaner can run the capped
    configuration; ``None`` keeps every band.

    Columns: ``doc_a, doc_b, jaccard`` (rounded 6, ≥ threshold).
    """
    candidates = lsh_candidate_pairs(df, col, key, n, max_band_size)
    # verification joins the CANDIDATE PAIRS back to the per-doc shingle
    # arrays and intersects arrays per pair — never the exploded shingle
    # self-join, whose cost is Σ count(shingle)² over common shingles and
    # quadratic-ish on natural text.  Work here is |candidates| × O(array
    # intersect), i.e. linear in the LSH output.  (Measured at 16×-sf0.1,
    # 80k docs: self-join formulation 95 s → this 8 s.)
    sh = _doc_shingles(df, col, key, n)
    a = sh.select(F.col(key).alias("doc_a"), F.col("__sh").alias("__sha"))
    b = sh.select(F.col(key).alias("doc_b"), F.col("__sh").alias("__shb"))
    shared = F.size(F.array_intersect("__sha", "__shb"))
    jac = shared / (F.size("__sha") + F.size("__shb") - shared)
    # merge hints: the shingle frame is corpus-sized and cached — its
    # columnar size estimate undercounts the row-format broadcast
    # footprint badly enough that mid-size corpora sneak under the
    # auto-broadcast threshold and the driver materializes a GiB-scale
    # HashedRelation of shingle ARRAYS (measured at 64×-sf0.1: killed an
    # 8g driver inside the verify join).  Sort-merge on the doc key is
    # the 100 TB shape anyway: candidates and shingles both shuffle once.
    return (
        candidates.join(a.hint("merge"), "doc_a")
        .join(b.hint("merge"), "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _token_hash60(tok: Column) -> Column:
    """First 15 hex chars of md5 → unsigned 60-bit int (identical in DuckDB
    via ``CAST('0x'||substr(md5(t),1,15) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame, col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """SIMHASH_BITS-bit SimHash per document as a bit-string column
    ``simhash`` (MSB first).

    Per-bit majority vote over the distinct-token hash population — one
    explode + one aggregate with SIMHASH_BITS conditional sums.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(parallelism)
        .select(F.col(key), F.array_distinct(tokens_expr(col)).alias("__tk"))
        .select(F.col(key), F.explode("__tk").alias("tok"))
        .withColumn("h", _token_hash60(F.col("tok")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(key).agg(*votes)
    bits = F.concat(
        *[
            F.when(F.col(f"b{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in reversed(range(SIMHASH_BITS))
        ]
    )
    return agg.select(F.col(key), bits.alias("simhash"))


def simhash_blocks(radius: int, bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """(start_pos_1based, length) of the ``radius + 1`` pigeonhole blocks.

    If two signatures differ in ≤ radius bits, at most radius blocks can
    contain a differing bit — so the pair agrees *exactly* on at least one
    of the radius+1 blocks.  Equality on any block is an equi-join key,
    which is what turns hamming-radius search into a linear shuffle.
    """
    if not 0 <= radius < bits:
        # radius >= bits would make zero-length blocks, whose empty
        # bit-substrings F.conv maps to NULL join keys in _block_table —
        # every candidate pair would silently drop (ADVICE r11).  The
        # old string key degraded harmlessly; the packed long key must
        # refuse instead of returning a silently incomplete result.
        raise ValueError(
            f"radius must be in [0, {bits}) for {bits}-bit signatures "
            f"(got {radius})"
        )
    nblocks = radius + 1
    base, rem = divmod(bits, nblocks)
    out, pos = [], 1
    for i in range(nblocks):
        ln = base + (1 if i < rem else 0)
        out.append((pos, ln))
        pos += ln
    return out


def _block_table(sig: DataFrame, key: str, radius: int) -> DataFrame:
    """(key, h, block_key) — one row per doc per pigeonhole block, from a
    cached signature frame carrying ``simhash`` + ``h``.

    ``block_key`` packs (block_idx, block_bits) into ONE long —
    ``block_idx << s | int(block_bits, 2)`` with ``s`` sized to the
    longest block — instead of the previous (int, 12-char bit-string)
    pair (r11, guide §2.3 "narrower types"): the self-join's shuffle
    rows shrink by the string's ~20 bytes and the sort/hash compares one
    long instead of a string.  Bijective by construction (every block's
    value < 2^s), so join equality is IDENTICAL to equality on the
    (idx, bits) pair; max key < (radius+1) · 2^(60/(radius+1)+1) < 2^62
    for every radius ≥ 0."""
    nblocks = radius + 1
    s = SIMHASH_BITS // nblocks + 1
    blocks = F.array(
        *[
            (
                F.lit(i << s)
                + F.conv(F.substring("simhash", pos, ln), 2, 10).cast("long")
            ).alias(f"k{i}")
            for i, (pos, ln) in enumerate(simhash_blocks(radius))
        ]
    )
    return sig.select(
        F.col(key), F.col("h"), F.explode(blocks).alias("block_key")
    )


def simhash_block_stats(
    df: DataFrame, col: str = "text", key: str = "doc_id", radius: int = 4
) -> DataFrame:
    """One-row occupancy summary of the SimHash pigeonhole block table
    (same columns/semantics as :func:`lsh_band_stats`, for the
    ``simhash_near_pairs`` candidate join)."""
    sig = simhash_signatures(df, col, key).withColumn(
        "h", F.conv("simhash", 2, 10).cast("long")
    )
    occ = (
        _block_table(sig, key, radius)
        .groupBy("block_key")  # bijective with (block_idx, block_bits)
        .agg(F.count("*").alias("__m"))
    )
    pairs = F.col("__m") * (F.col("__m") - F.lit(1)) / F.lit(2)
    return occ.agg(
        F.count("*").alias("n_bands"),
        F.max("__m").alias("max_band_docs"),
        F.sum(F.when(F.col("__m") > 1, 1).otherwise(0)).alias("n_colliding_bands"),
        F.sum(pairs).cast("long").alias("candidate_pairs_upper"),
    )


def simhash_near_pairs(
    df: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    radius: int = 4,
    max_block_size: int | None = None,
) -> DataFrame:
    """All pairs within hamming distance ≤ radius of each other's SimHash.

    The scale path for near-dup grouping beyond radius 0: pigeonhole block
    equi-join for candidate generation (complete by construction — see
    :func:`simhash_blocks`), then **exact** verification via XOR popcount
    on the 60-bit signatures.  Pair space = block-collision candidates, not
    docs²; block width ``bits/(radius+1)`` controls the candidate rate.
    ``max_block_size`` drops blocks with more members (boilerplate skew
    guard — see :func:`_drop_hot_groups`); ``None`` keeps every block
    (complete by construction).

    Columns: ``doc_a, doc_b, hamming`` (key_a < key_b).
    """
    # cache: both sides of the block self-join read this frame; without it
    # the 60-sum signature aggregate executes twice (measured 5.3 s → 3.0 s
    # at sf0.1).  One narrow row per doc — negligible memory.  Registered
    # for release via ..caching (no session-lifetime leak).
    sig = register_cache(
        simhash_signatures(df, col, key)
        .withColumn("h", F.conv("simhash", 2, 10).cast("long"))
    )
    return bitsig_near_pairs(sig, key, radius, max_block_size)


def bitsig_near_pairs(
    sig: DataFrame,
    key: str = "doc_id",
    radius: int = 4,
    max_block_size: int | None = None,
) -> DataFrame:
    """Hamming-radius all-pairs over ANY SIMHASH_BITS-bit signature frame
    — the pigeonhole-block join body shared by text SimHash and image
    perceptual hashing (operators.multimodal.image_ahash): signatures
    in, verified pairs out, signature CONSTRUCTION is the caller's.

    ``sig`` must carry ``(key, simhash: 60-char bitstring, h: long)``
    and should already be cached if building it is expensive (both
    sides of the self-join read it).  Columns: ``doc_a, doc_b,
    hamming`` (key_a < key_b).
    """
    ex = _block_table(sig, key, radius)
    if max_block_size is not None:
        ex = _drop_hot_groups(ex, ["block_key"], max_block_size)
    a = ex.select(
        F.col(key).alias("doc_a"), F.col("h").alias("ha"), "block_key"
    )
    b = ex.select(
        F.col(key).alias("doc_b"), F.col("h").alias("hb"), "block_key"
    )
    # hamming verification BEFORE the dedup shuffle: the popcount is a
    # codegen'd projection on the join output, so non-qualifying candidates
    # are dropped map-side and never shuffle into the distinct.  merge
    # hint: same never-broadcast rule as the LSH band self-join — the
    # cached signature frame's size estimate undercounts its broadcast
    # footprint, and both sides are corpus-sized.
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b.hint("merge"), ["block_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= radius)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted MinHash index — the ingestion-time
# shape: new batches dedup against the full historical corpus WITHOUT
# recomputing or rescanning it.
#
# The index is committed through the same single-object-manifest protocol
# as the keyed sink (storage.py): `_index_manifest.json` names the one
# live data directory; rebuild/compaction writes a NEW directory and
# atomically swaps the manifest (conditional PUT on object stores), so
# readers never see a half-written index and a crash mid-compaction
# leaves the old index live.  Superseded directories are retired with a
# timestamp and reclaimed by vacuum_minhash_index after a retention
# window.  Existence probes go through the manifest (store seam), never
# os.path — correct on s3://-style paths where a directory listing is not
# a thing (an injected object-store ManifestStore serves the probe).
# ---------------------------------------------------------------------------

INDEX_MANIFEST_NAME = "_index_manifest.json"


def _index_manifest_path(path: str) -> str:
    return f"{path.rstrip('/')}/{INDEX_MANIFEST_NAME}"


def minhash_index_exists(path: str, store=None) -> bool:
    """Whether a committed index lives at ``path`` — a manifest probe
    through the storage seam, NOT a filesystem listing (os.path.isdir is
    always False on non-local URIs, which would silently turn every
    streaming micro-batch into a full index rebuild)."""
    from ..storage import LOCAL_STORE

    return (store or LOCAL_STORE).read_json(_index_manifest_path(path)) is not None


def _index_data_dir(path: str, store) -> str:
    manifest = store.read_json(_index_manifest_path(path))
    if manifest is None:
        raise FileNotFoundError(f"no MinHash index committed at {path}")
    return f"{path.rstrip('/')}/{manifest['data_dir']}"


def read_minhash_index(spark, path: str, store=None):
    """The committed index snapshot (band table + shingles), resolved
    through the manifest — the only supported read path.

    Always presents the r12 band columns (:data:`BAND_COLS`): an index
    built before r12 stores the 32-char ``band_key`` hex instead, and
    its (band_hi, band_lo) longs are derived on read (an exact
    bijection — see :func:`_band_hi_lo`), so every consumer joins on
    the narrow longs whichever format is on disk."""
    from ..storage import LOCAL_STORE

    df = spark.read.parquet(_index_data_dir(path, store or LOCAL_STORE))
    if "band_hi" not in df.columns and "band_key" in df.columns:
        hi, lo = _band_hi_lo(F.col("band_key"))
        df = df.withColumn("band_hi", hi).withColumn("band_lo", lo).drop(
            "band_key"
        )
    return df


def _commit_index_dir(
    path: str, new_dir: str, store, *, expected_manifest: dict | None,
    n_base: int = 0,
) -> None:
    """Swap the manifest to ``new_dir``, retiring the previous data dir
    (if any) with a retirement timestamp.  Retirement times are the
    committing writer's clock — with multiple writers on shared storage,
    skew can shorten the effective retention window (same caveat as the
    keyed sink's retired list).  ``n_base`` seeds the append-staleness
    counters (see :func:`minhash_appended_fraction`); a (re)build always
    resets ``n_appended`` to 0."""
    import time

    if expected_manifest is None:
        manifest = {
            "version": 1,
            "data_dir": new_dir,
            "retired": [],
            "n_base": n_base,
            "n_appended": 0,
            # band-hash storage format: 2 = (band_hi, band_lo) longs
            # (r12); absent/1 = legacy 32-char band_key hex.  Appends
            # conform their batch to the committed format.
            "format": 2,
        }
        store.replace_if_version(
            _index_manifest_path(path), manifest, expected_version=None
        )
        return
    retired = list(expected_manifest.get("retired", [])) + [
        {"dir": expected_manifest["data_dir"], "ts": time.time()}
    ]
    manifest = {
        "version": expected_manifest["version"] + 1,
        "data_dir": new_dir,
        "retired": retired,
        "n_base": n_base,
        "n_appended": 0,
        "format": 2,
    }
    store.replace_if_version(
        _index_manifest_path(path),
        manifest,
        expected_version=expected_manifest["version"],
    )


def build_minhash_index(
    df: DataFrame,
    path: str,
    col: str = "text",
    key: str = "doc_id",
    n: int = 3,
    max_band_size: int | None = None,
    store=None,
) -> None:
    """Materialize the LSH band table for a corpus: one row per
    (band_idx, band_hi, band_lo, doc) plus the doc's shingle array for
    exact verification.  At 100 TB this table is the dedup INDEX — computed once
    per corpus, partitioned by band for pruned candidate joins.

    The data lands in a fresh uniquely-named directory and becomes
    visible only when the manifest swap commits it; rebuilding over an
    existing index retires the old directory (reclaimed by
    :func:`vacuum_minhash_index` after retention) instead of overwriting
    it in place.

    ``max_band_size`` applies the hot-band cap at BUILD time (see
    :func:`_drop_hot_groups`): an oversized boilerplate band in the index
    would otherwise blow up *every* incremental batch that touches it —
    capping once here bounds every future :func:`dedup_against_index`
    join, with no per-batch cost."""
    import uuid

    from ..storage import LOCAL_STORE

    store = store or LOCAL_STORE
    current = store.read_json(_index_manifest_path(path))
    new_dir = f"data-{uuid.uuid4().hex[:12]}"
    _index_frame(df, col, key, n, max_band_size).write.mode(
        "overwrite"
    ).partitionBy("band_idx").parquet(f"{path.rstrip('/')}/{new_dir}")
    _commit_index_dir(
        path, new_dir, store, expected_manifest=current, n_base=df.count()
    )


def append_to_minhash_index(
    df: DataFrame,
    path: str,
    col: str = "text",
    key: str = "doc_id",
    n: int = 3,
    max_band_size: int | None = None,
    store=None,
) -> None:
    """Append a batch's band rows into the committed data directory — the
    accepted-documents side of streaming ingest.  Append DATA is visible
    on the next directory listing without a manifest swap (the swap
    protects REPLACEMENT, which appends never do), but the append does
    CAS-bump the manifest's ``n_appended`` staleness counter so
    :func:`minhash_appended_fraction` can drive in-band compaction.
    ``max_band_size`` caps within THIS batch only; cumulative growth of
    a band across appends is bounded by :func:`compact_minhash_index`,
    the same rhythm as vacuum."""
    from ..storage import ConcurrentWriteError, LOCAL_STORE

    store = store or LOCAL_STORE
    committed = store.read_json(_index_manifest_path(path))
    if committed is None:
        raise FileNotFoundError(f"no MinHash index committed at {path}")
    data_dir = f"{path.rstrip('/')}/{committed['data_dir']}"
    # conform the batch to the COMMITTED directory's band format: a
    # pre-r12 index stores band_key hex, and mixing schemas inside one
    # data dir would make its parquet reads format-dependent
    _index_frame(
        df, col, key, n, max_band_size, fmt=committed.get("format", 1)
    ).write.mode("append").partitionBy("band_idx").parquet(data_dir)
    n_new = df.count()
    # CAS loop: a concurrent compactor may swap the manifest between our
    # read and write; retry against the fresh state (the counter rides
    # the manifest, so losing the race must not clobber the swap — and a
    # post-swap retry re-adds this batch's count to the RESET counter,
    # which over-counts staleness at worst, never corrupts data_dir)
    for _ in range(5):
        manifest = store.read_json(_index_manifest_path(path))
        try:
            store.replace_if_version(
                _index_manifest_path(path),
                {
                    **manifest,
                    "version": manifest["version"] + 1,
                    "n_appended": manifest.get("n_appended", 0) + n_new,
                },
                expected_version=manifest["version"],
            )
            return
        except ConcurrentWriteError:
            continue
    raise ConcurrentWriteError(
        f"could not bump n_appended at {path} after 5 attempts"
    )


#: default in-band compaction trigger for streaming ingest: once appended
#: docs exceed this fraction of the index, per-batch appends have grown
#: the band table (and possibly re-grown capped hot bands) enough to be
#: worth one corpus-wide rebuild — the same staleness rhythm as the IVF
#: quantizer's IVF_MAX_APPENDED_FRACTION drift guard.
MINHASH_MAX_APPENDED_FRACTION = 0.2


def minhash_appended_fraction(path: str, store=None) -> float:
    """Fraction of the index's docs that arrived by append since the last
    (re)build — the staleness signal that schedules
    :func:`compact_minhash_index` (per-batch appends cap hot bands only
    within themselves, so cumulative band growth tracks this number)."""
    from ..storage import LOCAL_STORE

    manifest = (store or LOCAL_STORE).read_json(_index_manifest_path(path))
    if manifest is None:
        raise FileNotFoundError(f"no MinHash index committed at {path}")
    total = manifest.get("n_base", 0) + manifest.get("n_appended", 0)
    return manifest.get("n_appended", 0) / total if total else 0.0


def compact_minhash_index(
    spark,
    index_path: str,
    corpus_path: str,
    col: str = "text",
    key: str = "doc_id",
    n: int = 3,
    max_band_size: int | None = None,
    store=None,
    corpus_df=None,
) -> None:
    """Rebuild the index from the ACCEPTED corpus and atomically swap it
    in — the compaction the streaming ingest docstring promises.

    Appends grow a band's row set monotonically: a band capped away at
    build time can re-grow past the cap batch-by-batch (each append caps
    only within itself), and tombstoned/rewritten corpus docs linger in
    the band table forever.  Compacting re-derives the whole band table
    from the current accepted corpus with ``max_band_size`` re-applied
    globally, writes it to a fresh directory, and commits via the
    manifest swap — concurrent readers keep the old snapshot (retired
    under retention), a concurrent compactor loses the conditional PUT
    and raises ConcurrentWriteError instead of clobbering.

    ``corpus_df`` overrides the plain-parquet corpus read — the keyed
    exactly-once streaming mode passes ``read_keyed_table`` output here
    (a raw recursive read over a keyed table would resurrect retired
    files)."""
    corpus = (
        corpus_df
        if corpus_df is not None
        else spark.read.parquet(corpus_path)
    )
    build_minhash_index(
        corpus, index_path, col, key, n, max_band_size, store=store
    )


def maintain_minhash_policy(spark, corpus, policy: dict, store=None) -> dict:
    """Ambient MinHash-index health (r11) — the stored-policy maintain
    pattern applied to the dedup index, symmetric with the vector
    surface's ``similarity.maintain_index_policy``: ``policy`` is the
    dict ``sink.set_minhash_policy`` stores in the TABLE manifest (it
    rides the commit carry like the drift rules and the IVF policy);
    ``corpus`` is the table's live rows, a DataFrame or a zero-arg
    CALLABLE returning one (pass the callable from a scheduled maintain
    so the below-threshold path stays a single JSON read).

    Below ``max_appended_fraction`` this is a meta-only probe.  Above
    it: :func:`compact_minhash_index` — re-derive the band table from
    the accepted corpus with the hot-band cap re-applied GLOBALLY and
    swap the manifest (appends cap only within themselves, so
    boilerplate bands re-grow across batches; tombstoned corpus docs
    linger until a compact).  No quality gate, deliberately: unlike the
    IVF quantizer (a TRAINED artifact that can come out worse), the
    band table is a deterministic function of the corpus and the stored
    parameters — there is nothing to certify beyond the oracle-pinned
    operator tests.

    Returns ``{"index_path", "appended_fraction", "compacted"}``."""
    path = policy["index_path"]
    frac = minhash_appended_fraction(path, store)
    out = {
        "index_path": path,
        "appended_fraction": round(frac, 6),
        "compacted": False,
    }
    if frac <= policy["max_appended_fraction"]:
        return out
    if callable(corpus):
        corpus = corpus()
    compact_minhash_index(
        spark,
        path,
        corpus_path="",  # unused: corpus_df is authoritative
        col=policy["text_col"],
        key=policy["id_col"],
        n=policy["shingle_n"],
        max_band_size=policy["max_band_size"],
        store=store,
        corpus_df=corpus,
    )
    out["compacted"] = True
    return out


def vacuum_minhash_index(
    path: str, retention_s: float | None = None, store=None
) -> int:
    """Delete retired index directories older than ``retention_s``
    (default: the sink's DEFAULT_RETENTION_S reader-safety window) and
    prune them from the manifest.  Returns the number of directories
    removed.  Pass ``retention_s=0`` only where no concurrent readers
    exist (tests, single-process pipelines)."""
    import time

    from ..sink import DEFAULT_RETENTION_S
    from ..storage import LOCAL_STORE

    store = store or LOCAL_STORE
    if retention_s is None:
        retention_s = DEFAULT_RETENTION_S
    manifest = store.read_json(_index_manifest_path(path))
    if manifest is None:
        return 0
    now = time.time()
    keep, removed = [], 0
    for entry in manifest.get("retired", []):
        if now - entry["ts"] >= retention_s:
            # through the storage seam: prefix DELETE on an object store
            # (a local-only rmtree would silently leak retired dirs there)
            store.delete_tree(f"{path.rstrip('/')}/{entry['dir']}")
            removed += 1
        else:
            keep.append(entry)
    if removed:
        store.replace_if_version(
            _index_manifest_path(path),
            {**manifest, "version": manifest["version"] + 1, "retired": keep},
            expected_version=manifest["version"],
        )
    return removed


def _index_frame(
    df: DataFrame,
    col: str,
    key: str,
    n: int,
    max_band_size: int | None,
    fmt: int = 2,
) -> DataFrame:
    """The persisted band-table rows.  ``fmt=2`` (since r12) stores the
    band hash as the two signed longs of :data:`BAND_COLS`; ``fmt=1``
    reconstructs the legacy 32-char ``band_key`` hex column — used only
    to conform appends into an index built before r12 (mixing schemas
    inside one data directory would corrupt its reads)."""
    exploded = _band_table(minhash_signatures(df, col, key, n), key)
    if max_band_size is not None:
        exploded = _drop_hot_groups(exploded, BAND_COLS, max_band_size)
    if fmt == 1:
        exploded = exploded.select(
            F.col(key),
            "band_idx",
            _legacy_band_key(F.col("band_hi"), F.col("band_lo")).alias(
                "band_key"
            ),
        )
    sh = _doc_shingles(df, col, key, n)
    return exploded.join(sh, key).withColumnRenamed("__sh", "shingles")


def dedup_against_index(
    batch: DataFrame,
    index_path: str,
    col: str = "text",
    key: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Rows of ``batch`` that are NOT near-duplicates of the indexed
    corpus (jaccard ≥ threshold against any indexed doc).

    Cost scales with the BATCH: the batch's bands equi-join the index's
    band table (partition-pruned by band_idx), exact verification runs on
    candidates only via array intersect — the historical corpus is never
    re-shingled or re-scanned beyond the matched bands.
    """
    spark = batch.sparkSession
    index = read_minhash_index(spark, index_path)
    new_bands = _band_table(minhash_signatures(batch, col, key, n), key)
    sh = _doc_shingles(batch, col, key, n)
    candidates = (
        new_bands.join(
            index.select(
                *BAND_COLS,
                F.col(key).alias("__idx_id"), F.col("shingles").alias("__idx_sh"),
            ),
            BAND_COLS,
        )
        .select(key, "__idx_id", "__idx_sh")
        .distinct()
        .join(sh, key)
    )
    shared = F.size(F.array_intersect("__sh", "__idx_sh"))
    jac = shared / (F.size("__sh") + F.size("__idx_sh") - shared)
    dup_ids = (
        candidates.withColumn("__j", F.round(jac, 6))
        .filter(F.col("__j") >= threshold)
        .select(key)
        .distinct()
    )
    return batch.join(dup_ids, key, "left_anti")


# ---------------------------------------------------------------------------
# Line-level (paragraph) boilerplate removal — the CCNet / RefinedWeb
# pass that runs BEFORE document-level near-dedup: headers, footers,
# cookie banners and navigation chrome repeat verbatim across thousands
# of pages, so any line whose exact text recurs >= min_dup times
# corpus-wide is dropped from EVERY document (no survivor copy — unlike
# exact_dedup, which keeps one representative of a duplicated document,
# a boilerplate line is noise in all of its hosts).
#
# 100 TB shape: ONE shuffle — count lines by their 60-bit md5 hash
# (partial aggregation collapses the repeats map-side, so the shuffle
# carries ~|distinct lines| rows, not |corpus lines|).  The heavy set
# (count >= min_dup) is the boilerplate dictionary.  When it is small
# it BROADCASTS into the tagging join and the corpus lines never
# shuffle a second time for the filter; but the dictionary is
# corpus-DERIVED (at min_dup=2 on web text it can be a large fraction
# of distinct lines), so the broadcast is size-gated — above the
# threshold a sort-merge join on the line hash pays one extra linear
# corpus-lines shuffle instead of an unbounded driver broadcast.  The
# only other shuffle is the per-document reassembly groupBy,
# partitioned by doc id — the same key the corpus arrived on.
# ---------------------------------------------------------------------------


def _line_table(
    docs: DataFrame, col: str, key: str, sep: str
) -> DataFrame:
    """(key, pos, line, __lh) — one row per line, ``__lh`` the 60-bit md5
    hash of the TRIMMED line (NULL for blank lines, which are layout,
    not boilerplate: they never count and are never removed).

    "Trimmed"/"blank" means ALL leading/trailing whitespace (``\\s`` —
    tabs and unicode spaces included), via regexp, not ``F.trim`` (which
    strips 0x20 only): a tab-only line is layout exactly like a
    space-only one — the r8 hypothesis differential caught the
    implementation dropping recurring tab-only lines as boilerplate
    while the docstring promised otherwise."""
    t = F.regexp_replace(F.col("line"), r"^\s+|\s+$", "")
    return docs.select(
        key, F.posexplode(F.split(F.col(col), sep)).alias("pos", "line")
    ).withColumn(
        "__lh", F.when(t != "", _token_hash60(t))
    )


def duplicate_line_stats(
    docs: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    min_dup: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """The boilerplate dictionary: ``(__lh, n_occurrences)`` for every
    non-blank line recurring >= min_dup times corpus-wide."""
    return (
        _line_table(docs, col, key, sep)
        .filter(F.col("__lh").isNotNull())
        .groupBy("__lh")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_dup)
    )


def remove_duplicate_lines(
    docs: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    min_dup: int = 2,
    sep: str = "\n",
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Drop every occurrence of every line that appears >= ``min_dup``
    times corpus-wide; surviving lines rejoin by ``sep`` in original
    order.  Returns one row per input document:
    ``(key, n_lines, n_kept, clean_fp)`` where ``clean_fp`` is the md5
    of the cleaned text (compact, differential-friendly — the same
    fingerprint convention as :func:`remove_shared_spans`).

    Blank (all-whitespace) lines are layout, not boilerplate: they are
    kept verbatim and never counted.  A document whose every line is
    boilerplate survives as the empty string (fingerprint of ``""``) —
    downstream length filters decide its fate, not this pass.

    The heavy dictionary is corpus-derived and, at the default
    ``min_dup=2`` on a web-scale corpus, can be a large fraction of all
    distinct lines — a corpus-sized frame, which must NEVER broadcast
    (the LSH band join OOM'd the driver on exactly this mistake; the
    measurement lives in SCALE.md "corpus-sized frames must never
    broadcast").  So the dictionary is materialised once
    (``localCheckpoint`` — the count and the join share one
    computation), counted, and the join strategy picked by size:
    ``<= broadcast_threshold`` heavy lines (~8 B hash + bool each, so
    the default 1M rows is tens of MB in an executor) broadcasts as
    before; above it, a sort-merge left join on ``__lh`` — one extra
    corpus-lines shuffle, linear, same output (unit-tested
    differential-equal and plan-gated both ways).
    """
    lines = _line_table(docs, col, key, sep)
    heavy = (
        duplicate_line_stats(docs, col, key, min_dup, sep)
        .select("__lh", F.lit(True).alias("__heavy"))
        .localCheckpoint(eager=True)
    )
    # tag-then-aggregate: ONE dictionary join + ONE doc-id shuffle total
    # (an anti-join plus a separate n_lines aggregate costs a second
    # corpus-lines shuffle and a doc-id join — measured slower at sf0.1).
    # collect_list skips NULLs, so the heavy lines drop out of the
    # rebuild inside the same aggregate that counts them.
    if heavy.count() <= broadcast_threshold:
        tagged = lines.join(F.broadcast(heavy), "__lh", "left")
    else:
        tagged = lines.join(heavy.hint("merge"), "__lh", "left")
    keep = F.col("__heavy").isNull()
    return tagged.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            )
        ).alias("clean_fp"),
    )
