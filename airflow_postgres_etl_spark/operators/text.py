"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (language ID, quality scoring, token
counting, fingerprinting).

All pure JVM expressions (split/filter/transform/regexp — whole-stage
codegen'd); no Python in the hot path, so each operator is a single
scan + narrow transforms and scales linearly with executors.  The token
definition is shared by every operator (and mirrored verbatim in the SQL
oracles): lowercase, split on non-alphanumeric runs, drop empties.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"
# BPE-ish tokenizer: letter runs | digit runs | punctuation runs (no spaces)
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

# Small per-language stopword sets for the n-gram/stopword-hit language ID
# heuristic.  Order matters: ties resolve to the first language listed.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "nicht"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "est"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em"],
}


def tokens_expr(col: str | Column = "text") -> Column:
    """``array<string>`` of normalized tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != "")


def distinct_tokens_expr(col: str | Column = "text") -> Column:
    return F.array_distinct(tokens_expr(col))


def token_count_expr(col: str | Column = "text") -> Column:
    """Whitespace/punct token count."""
    return F.size(tokens_expr(col))


def bpe_token_count_expr(col: str | Column = "text") -> Column:
    """Token count under a BPE-ish regex (letter/digit/punct runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_RE), F.lit(0)))


def stopword_hits_expr(lang: str, col: str | Column = "text") -> Column:
    """Number of tokens that are stopwords of ``lang`` (with multiplicity)."""
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens_expr(col), lambda x: x.isin(*words)))


def lang_id_expr(col: str | Column = "text") -> Column:
    """Argmax of per-language stopword hits; ties → first language in
    ``LANG_STOPWORDS`` order; all-zero → 'und'."""
    hits = {lang: stopword_hits_expr(lang, col) for lang in LANG_STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # build CASE in reverse so the first language wins ties
    for lang in reversed(list(LANG_STOPWORDS)):
        expr = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def punct_ratio_expr(col: str | Column = "text") -> Column:
    """Fraction of characters that are neither alphanumeric nor space."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    n_punct = F.length(F.regexp_replace(low, "[a-z0-9 ]", ""))
    return n_punct / F.greatest(F.length(low), F.lit(1))


def quality_score_expr(col: str | Column = "text") -> Column:
    """Composite quality score in [0,1]:

    0.35·min(1, n_tokens/50) + 0.25·(1 − punct_ratio)
    + 0.2·stopword_ratio(en) + 0.2·min(1, avg_token_len/8)
    """
    toks = tokens_expr(col)
    n = F.size(toks)
    n_safe = F.greatest(n, F.lit(1))
    avg_len = F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)
    ) / n_safe
    stop_ratio = stopword_hits_expr("en", col) / n_safe
    return (
        F.lit(0.35) * F.least(F.lit(1.0), n / F.lit(50.0))
        + F.lit(0.25) * (F.lit(1.0) - punct_ratio_expr(col))
        + F.lit(0.2) * stop_ratio
        + F.lit(0.2) * F.least(F.lit(1.0), avg_len / F.lit(8.0))
    )


def fingerprint_expr(col: str | Column = "text") -> Column:
    """Content fingerprint: md5 of whitespace-canonicalized lowercase text
    (near-identity normalization — catches formatting-only dups)."""
    c = F.col(col) if isinstance(col, str) else col
    canon = F.trim(F.regexp_replace(F.lower(c), TOKEN_SPLIT_RE, " "))
    return F.md5(canon)


def tokenset_fingerprint_expr(col: str | Column = "text") -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token
    set — catches shuffled/bag-of-words duplicates."""
    sorted_toks = F.array_sort(distinct_tokens_expr(col))
    return F.md5(F.array_join(sorted_toks, " "))


# ---------------------------------------------------------------------------
# PII detection / redaction — the compliance pass every training-data
# pipeline runs before release.  Pattern-based (regex), deliberately
# conservative, and dialect-portable: every pattern below parses
# identically under Java regex (Spark) and RE2 (DuckDB) so the oracle
# twin is exact — no lookaround, no backreferences.
# ---------------------------------------------------------------------------

#: detection patterns, applied (and redacted) in this order.  URL before
#: email (a URL may embed '@'); phone last (digit runs appear inside the
#: other patterns' matches).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9 ()./-]{7,}[0-9]", "<PHONE>"),
]


def pii_count_exprs(col: str | Column = "text") -> list[Column]:
    """One count column per PII class (``n_<kind>``), JVM-side regexp."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]


def redact_pii_expr(col: str | Column = "text") -> Column:
    """All PII classes replaced by typed placeholders, in the fixed
    :data:`PII_PATTERNS` order (order matters: phone-like digit runs
    inside URLs must already be gone when the phone pass runs)."""
    out = F.col(col) if isinstance(col, str) else col
    for _kind, pat, placeholder in PII_PATTERNS:
        out = F.regexp_replace(out, pat, placeholder)
    return out


# ---------------------------------------------------------------------------
# Context-window chunking — the dual of sequence packing: split each
# document into fixed-size token windows with overlap (stride < chunk) so
# no span longer than the model context is lost at a chunk boundary.
# ---------------------------------------------------------------------------

#: default window: 64 tokens per chunk, new chunk every 48 -> 16-token
#: overlap between consecutive chunks (sized for the synthetic docs;
#: production would use the model context, e.g. 8192/6144).
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_documents(
    docs,
    chunk_size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sliding-window token chunks per document, one output row per chunk.

    Chunk ``k`` covers tokens ``[k*stride, k*stride + chunk_size)``; the
    chunk count is ``1 + ceil((n - chunk_size) / stride)`` for ``n >
    chunk_size`` (every token covered, and every chunk past the first
    contributes at least one NEW token — no fully-redundant tail chunk),
    ``1`` for ``0 < n <= chunk_size``, ``0`` for empty documents.

    Pure JVM: tokenize -> ``sequence`` over chunk indices -> ``slice`` ->
    ``posexplode``.  Narrow per-document work after the scan — no
    shuffle, no Python; at 100 TB this is a map-only pass whose output
    row count is ~``n_tokens / stride``.

    Columns: ``doc_id, chunk_idx, chunk_start, n_chunk_tokens,
    chunk_md5`` (md5 of the space-joined chunk tokens — the compact
    content witness; downstream packing consumes the tokens themselves).
    """
    if stride <= 0 or chunk_size < stride:
        raise ValueError("need 0 < stride <= chunk_size")
    d = (
        docs.select(id_col, tokens_expr(text_col).alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    # integer ceil via DIV — no float in the chunk count
    n_chunks = F.when(F.col("__n") <= chunk_size, F.lit(1)).otherwise(
        F.expr(f"1 + (__n - {chunk_size} + {stride} - 1) DIV {stride}")
    )
    ks = F.sequence(F.lit(0).cast("long"), n_chunks.cast("long") - 1)
    exploded = d.select(
        id_col, "__toks", F.explode(ks).alias("chunk_idx")
    )
    chunk = F.slice(
        "__toks", (F.col("chunk_idx") * stride + 1).cast("int"), chunk_size
    )
    return exploded.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidates + exact verification.
# Exact "words with frequency > n/T" normally shuffles the ENTIRE
# vocabulary; at corpus scale the vocab is billions of rare tokens and
# the shuffle is the cost.  Misra-Gries (capacity T) per partition keeps
# at most T counters and guarantees every item with partition count
# > n_p/T survives; since a global count > n/T forces count > n_p/T in
# at least ONE partition (else summing contradicts), the UNION of
# per-partition candidate sets is a SUPERSET of the global heavy
# hitters for ANY partitioning.  An exact count restricted to those
# ≤ T·partitions candidates (broadcast semi-join) then yields the EXACT
# answer — the sketch only prunes the shuffle, it never touches the
# result.  (Misra & Gries 1982; the SpaceSaving/FREQUENT family.)
# ---------------------------------------------------------------------------


def misra_gries_candidates(words, capacity: int, word_col: str = "word"):
    """Distinct candidate words: per-partition Misra-Gries survivors.

    ``words`` is a one-string-column DataFrame (one row per token
    occurrence).  Python boundary is Arrow-batched ``mapInPandas`` with
    one bounded dict (≤ ``capacity`` counters) per PARTITION — linear
    work, constant memory, no shuffle."""
    import pandas as pd

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf[word_col]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < capacity:
                    counters[w] = 1
                else:
                    # decrement-all: drop zeros (amortized O(1) via dict
                    # rebuild only when full)
                    counters = {k: c - 1 for k, c in counters.items() if c > 1}
        yield pd.DataFrame({word_col: list(counters.keys())})

    return words.mapInPandas(mg, schema=f"{word_col} string").distinct()


def heavy_hitters(docs, threshold_frac: int = 200, text_col: str = "text"):
    """Words appearing more than ``n_tokens / threshold_frac`` times,
    with EXACT counts — candidates from Misra-Gries, counts verified.

    Columns: ``word, n`` (count DESC, word ASC)."""
    words = docs.select(F.explode(tokens_expr(text_col)).alias("word"))
    cand = misra_gries_candidates(words, capacity=threshold_frac + 1)
    counted = (
        words.join(F.broadcast(cand), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = words.select(F.count(F.lit(1)).alias("t"))
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("n") * threshold_frac > F.col("t"))
        .select("word", "n")
        .orderBy(F.desc("n"), F.asc("word"))
    )


def bm25_topk(
    docs,
    query_terms: list[str],
    n: int = 20,
    k1_tenths: int = 12,
    b_hundredths: int = 75,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Okapi BM25 retrieval scores for a query, top-n docs — the lexical
    ranking half of a retrieval / hard-negative-mining pipeline
    (Robertson et al., TREC-3), as exact cross-engine arithmetic.

    Exactness scheme (same idiom as ``text_source_classifier``'s
    micro-nat argmax): with k1 = K/10, b = B/100 and integer corpus
    stats tf, dl (doc length), df, T (total tokens), D (docs), each
    term's score

        idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),  avgdl = T/D

    is rescaled by 1000·T into ONE integer ratio:

        num = 100·T·tf·(K+10)
        den = 1000·T·tf + K·((100−B)·T + B·dl·D)

    and idf is floored to integer micro-nats.  The per-term score is
    ``floor(idf_micro · (num/den))`` — one double divide and multiply,
    both IEEE-correctly-rounded, identical in Spark and DuckDB — and
    per-doc scores are integer SUMS, so ranking plus the doc-id
    tie-break is exact: no accumulation-order drift can reorder the
    top-n.

    Plan shape at 100 TB: one corpus scan → explode, one dl aggregate,
    one tf aggregate pre-filtered to the query's terms (the explode's
    filter pushes down, so the tf shuffle carries only matching rows),
    df/T/D are scalar-class broadcasts; the final is a
    TakeOrderedAndProject.
    """
    K, B = k1_tenths, b_hundredths
    toks = docs.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("term"))
    # ONE corpus scan: per-doc length AND a pivoted tf column per query
    # term in a single aggregate (query terms are literals, so the tf
    # columns stay inside codegen).  The naive dl/tf/df/T/D formulation
    # planned FIVE corpus scans (Catalyst doesn't reuse uncached
    # subtrees — seen in .explain, r7); this one scans once and
    # checkpoints the doc-count-sized stats so the totals row and the
    # scoring pass share it instead of recomputing.
    per_doc = (
        toks.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("dl"),
            *[
                F.sum((F.col("term") == t).cast("long")).alias(f"tf_{i}")
                for i, t in enumerate(query_terms)
            ],
        )
        .localCheckpoint(eager=True)
    )
    g = per_doc.agg(
        F.sum("dl").cast("long").alias("T"),
        F.count("*").cast("long").alias("D"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(g))

    def term_micro(i: int):
        tf = F.col(f"tf_{i}")
        idf_micro = F.floor(
            F.lit(1_000_000.0)
            * F.log(
                (F.col("D") - F.col(f"df_{i}") + 0.5)
                / (F.col(f"df_{i}") + 0.5)
                + 1.0
            )
        )
        num = (F.lit(100) * F.col("T") * tf * F.lit(K + 10)).cast("double")
        den = (
            F.lit(1000) * F.col("T") * tf
            + F.lit(K)
            * (F.lit(100 - B) * F.col("T") + F.lit(B) * F.col("dl") * F.col("D"))
        ).cast("double")
        return F.when(
            tf > 0,
            F.floor(idf_micro.cast("double") * (num / den)).cast("long"),
        ).otherwise(F.lit(0))

    total = sum(
        (term_micro(i) for i in range(1, len(query_terms))), term_micro(0)
    )
    tf_cols = [F.col(f"tf_{i}") for i in range(len(query_terms))]
    # same doc set as a tf inner join would give: ≥1 query-term hit
    matched = (F.greatest(*tf_cols) if len(tf_cols) > 1 else tf_cols[0]) > 0
    return (
        scored.filter(matched)
        .select(id_col, total.alias("bm25_micro"))
        .orderBy(F.desc("bm25_micro"), id_col)
        .limit(n)
    )


# ---------------------------------------------------------------------------
# Persisted inverted index + BM25 over it — the lexical twin of the
# persisted IVF index (similarity.py): build once, then answer queries
# by reading ~the query terms' buckets, never the corpus.
#
# Layout under <path>:
#   postings/  keyed table, key=term, rows (term, doc_id, tf)
#   doclen/    keyed table, key=<id_col>, rows (doc_id, dl)
#   _meta.json {"T": total tokens, "D": doc count} via the storage seam
#
# Query cost at 100 TB: lookup_keys prunes the postings read to the
# query terms' hash buckets (q/N of the files); df comes from the
# fetched postings themselves; dl joins a doc-count-sized 2-column
# table.  The corpus is never re-read.  Scores use bm25_topk's exact
# integer-micro scheme, so indexed results are bit-identical to the
# in-memory operator (test-pinned) and to the SQL oracle.
#
# Maintenance: add_documents() merges a NEW batch incrementally — the
# batch's terms' existing postings are fetched (bucket-pruned), unioned
# with the new rows, and re-merged per term; dl rows merge by doc; T/D
# accumulate in the meta object.  Re-adding a doc_id is refused (the
# per-term union would double its postings); deletions require a
# rebuild — document-level updates are a compact-style maintenance
# operation, not a hot-path one.
# ---------------------------------------------------------------------------


def _index_meta_path(path: str):
    import os

    return os.path.join(path, "_meta.json")


def add_documents(
    spark,
    docs,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 32,
    store=None,
):
    """Incrementally index a batch of documents (see module section)."""
    import os

    from .. import sink
    from ..storage import LOCAL_STORE

    store = store or LOCAL_STORE
    postings_path = os.path.join(path, "postings")
    doclen_path = os.path.join(path, "doclen")

    toks = docs.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    )
    new_postings = (
        toks.groupBy("term", id_col)
        .agg(F.count("*").cast("long").alias("tf"))
        .localCheckpoint(eager=True)  # the term collect + the merge write
    )
    try:
        # doc length == sum of its term frequencies, so derive it from the
        # CHECKPOINTED postings instead of re-tokenizing the batch corpus —
        # every downstream consumer (dup probe, doclen merge, batch stats)
        # then reuses the one materialized tokenize (measured: the doclen
        # leg re-ran the regex explode+agg over the whole batch before this)
        new_dl = new_postings.groupBy(id_col).agg(
            F.sum("tf").cast("long").alias("dl")
        )

        meta = store.read_json(_index_meta_path(path))
        if meta is not None:
            # refuse re-adds: a doc_id already in doclen would double its
            # term postings in the per-term union below.  Trickle batches
            # bucket-prune via lookup_keys; batches past the threshold probe
            # with ONE broadcast semi-join scan instead — lookup_keys with
            # thousands of literal keys pays plan-compile, not IO (measured
            # 2.3 s for 2,500 ids at sf0.1 vs 0.6 s for the semi-join)
            # bounded single-job probe (r11): limit(cap+1).collect() both
            # counts and fetches — total rows ≤ cap means we got them ALL,
            # one more means take the semi-join branch.  Replaces the
            # checkpoint + count + collect triple (3 Spark jobs → 1); the
            # frames derive from the already-checkpointed postings, so the
            # semi-join branch recomputes only a cheap aggregate.
            new_ids = new_dl.select(id_col)
            id_probe = new_ids.limit(513).collect()
            if len(id_probe) <= 512:
                existing = sink.lookup_keys(
                    spark, doclen_path, [r[0] for r in id_probe], store
                )
            else:
                existing = sink.read_keyed_table(spark, doclen_path, store).join(
                    F.broadcast(new_ids), id_col, "left_semi"
                )
            dup = existing.limit(1).collect()
            if dup:
                raise ValueError(
                    f"doc_id {dup[0][0]!r} is already indexed; deletions and "
                    "re-adds need a rebuild"
                )
            new_terms = new_postings.select("term").distinct()
            term_probe = new_terms.limit(2049).collect()
            if len(term_probe) <= 2048:
                # trickle batch: bucket-pruned point lookup — reads only the
                # batch terms' postings buckets
                terms = [r[0] for r in term_probe]
                stored = sink.lookup_keys(
                    spark, postings_path, terms, store
                ).select("term", id_col, "tf")
            else:
                # vocabulary-scale batch (its terms span every bucket anyway):
                # ONE semi-join scan with the batch vocab broadcast — never a
                # vocab-sized driver collect nor a thousands-of-literal-keys
                # lookup plan (the dup-check above measured that cost class
                # directly; the test corpus' 31-term vocab never trips this
                # branch, so it is exercised by unit test, not the bench)
                stored = (
                    sink.read_keyed_table(spark, postings_path, store)
                    .join(F.broadcast(new_terms), "term", "left_semi")
                    .select("term", id_col, "tf")
                )
            merged = stored.unionByName(new_postings)
        else:
            meta = {"T": 0, "D": 0}
            merged = new_postings
        sink.keyed_overwrite_parquet(
            spark, merged, postings_path, key="term", num_buckets=num_buckets,
            store=store,
        )
        sink.keyed_overwrite_parquet(
            spark, new_dl, doclen_path, key=id_col, num_buckets=num_buckets,
            store=store,
        )
        batch_stats = new_dl.agg(
            F.sum("dl").alias("t"), F.count("*").alias("d")
        ).collect()[0]
        meta["T"] = int(meta["T"]) + int(batch_stats.t or 0)
        meta["D"] = int(meta["D"]) + int(batch_stats.d or 0)
        store.write_json(_index_meta_path(path), meta)
    finally:
        # nothing this call returns reads the checkpoint
        sink._release([new_postings])


def bm25_from_index(
    spark,
    path: str,
    query_terms: list[str],
    n: int = 20,
    k1_tenths: int = 12,
    b_hundredths: int = 75,
    id_col: str = "doc_id",
    store=None,
):
    """BM25 top-n from the persisted index — bit-identical to
    :func:`bm25_topk` over the indexed corpus (same integer-micro
    arithmetic), reading only the query terms' postings buckets."""
    import os

    from .. import sink
    from ..storage import LOCAL_STORE

    store = store or LOCAL_STORE
    meta = store.read_json(_index_meta_path(path))
    if meta is None:
        raise FileNotFoundError(f"no term index at {path}")
    T, D = int(meta["T"]), int(meta["D"])
    K, B = k1_tenths, b_hundredths
    tf = sink.lookup_keys(
        spark, os.path.join(path, "postings"), query_terms, store
    ).select("term", id_col, "tf")
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    dl = sink.read_keyed_table(
        spark, os.path.join(path, "doclen"), store
    )
    scored = tf.join(dl, id_col).join(F.broadcast(df), "term")
    idf_micro = F.floor(
        F.lit(1_000_000.0)
        * F.log((F.lit(D) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    )
    num = (F.lit(100 * T) * F.col("tf") * F.lit(K + 10)).cast("double")
    den = (
        F.lit(1000 * T) * F.col("tf")
        + F.lit(K) * (F.lit((100 - B) * T) + F.lit(B * D) * F.col("dl"))
    ).cast("double")
    term_micro = F.floor(idf_micro.cast("double") * (num / den)).cast("long")
    return (
        scored.select(id_col, term_micro.alias("m"))
        .groupBy(id_col)
        .agg(F.sum("m").cast("long").alias("bm25_micro"))
        .orderBy(F.desc("bm25_micro"), id_col)
        .limit(n)
    )


def hybrid_rrf(
    lexical,
    semantic,
    n: int = 20,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    lex_score: str = "bm25_micro",
    sem_score: str = "cosine_sim",
):
    """Reciprocal Rank Fusion of a lexical and a semantic ranked list
    (Cormack/Clarke/Buettcher, SIGIR'09) — the standard hybrid-retrieval
    combiner in RAG pipelines: each leg contributes 1/(k + rank), docs
    missing from a leg contribute 0, fused top-n wins.

    Exactness scheme: the contribution is integerized as
    ``floor(1e9 / (k + rank))`` — ranks come from ``row_number`` over
    (score DESC, id ASC), the divide is one IEEE-correctly-rounded
    double op on exact small integers, and the fused score is a SUM of
    two BIGINTs — so the fused ranking (and its doc-id tie-break) is
    bit-identical cross-engine, never accumulation-order dependent.

    Inputs are each leg's already-truncated top-L frame (L rows, tiny):
    ``lexical`` with (id_col, lex_score), ``semantic`` with (id_col,
    sem_score).  Output: (id_col, lex_rank, sem_rank, rrf_micro), ranks
    NULL where a doc missed that leg.

    100 TB shape: the legs carry the cost (one corpus scan for BM25,
    one index probe or query-broadcast scan for ANN); fusion itself is
    a UNION of the two L-row rank lists collapsed by ONE hash aggregate
    — no join at all (a full-outer join can't broadcast, and would plan
    a pointless sort-merge even for tiny legs).  The single-partition
    rank windows are over L rows by construction.
    """
    from pyspark.sql.window import Window

    one = F.lit(1)

    def ranked(leg, score, tag):
        return leg.select(
            F.col(id_col),
            F.row_number()
            .over(
                Window.partitionBy(one).orderBy(F.desc(score), F.asc(id_col))
            )
            .cast("long")
            .alias("__rank"),
            F.lit(tag).alias("__leg"),
        )

    u = ranked(lexical, lex_score, "lex").unionByName(
        ranked(semantic, sem_score, "sem")
    )
    contrib = F.floor(
        F.lit(1_000_000_000.0) / (F.lit(k_rrf) + F.col("__rank"))
    ).cast("long")
    return (
        u.groupBy(id_col)
        .agg(
            # at most one row per leg per doc: max() IS that leg's rank
            F.max(F.when(F.col("__leg") == "lex", F.col("__rank"))).alias(
                "lex_rank"
            ),
            F.max(F.when(F.col("__leg") == "sem", F.col("__rank"))).alias(
                "sem_rank"
            ),
            F.sum(contrib).alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), id_col)
        .limit(n)
    )


# ---------------------------------------------------------------------------
# HTML/markup stripping — the extraction step in front of every web
# corpus (the trafilatura/jusText niche, reduced to its deterministic
# regex core so it stays a JVM expression chain, no Python in the hot
# path).  Order matters and is part of the contract:
#   1. drop <script>/<style>/<!-- --> blocks WITH their content
#      (payload is code/comments, not text),
#   2. block-level closing tags become newlines (paragraph structure
#      survives for the line-level dedup pass),
#   3. every remaining tag is dropped,
#   4. the five XML core entities + &nbsp; + the &#39; apostrophe
#      escape decode — &amp; strictly LAST (standard entity-decoding
#      order: decoding it earlier would double-decode '&amp;lt;' into
#      '<' instead of the literal '&lt;' — r7 advisor finding),
#   5. horizontal whitespace collapses per line; blank runs collapse.
# ---------------------------------------------------------------------------

# no backreferences anywhere: the DuckDB oracle twin runs RE2
_MARKUP_BLOCK_RES = [
    r"(?is)<script\b[^>]*>.*?</script>",
    r"(?is)<style\b[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
]
_MARKUP_BREAK_RE = r"(?i)</(p|div|li|ul|ol|h[1-6]|tr|table|blockquote)>|<br\s*/?>"
_MARKUP_TAG_RE = r"(?s)<[^>]+>"


def strip_markup_expr(col: str | Column = "text") -> Column:
    """Plain text from HTML-ish markup (see module note for the exact
    pass order).  Pure `regexp_replace`/`translate` chain — vectorizes
    in whole-stage codegen, mirrors 1:1 into the DuckDB oracle (which
    needs the explicit 'g' flag)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat in _MARKUP_BLOCK_RES:
        c = F.regexp_replace(c, pat, "")
    c = F.regexp_replace(c, _MARKUP_BREAK_RE, "\n")
    c = F.regexp_replace(c, _MARKUP_TAG_RE, " ")
    for ent, ch in [
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&apos;", "'"),
        ("&amp;", "&"),  # LAST — see pass-order note above
    ]:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    # horizontal runs -> one space; strip spaces hugging line breaks;
    # 3+ newlines -> paragraph break
    c = F.regexp_replace(c, r"[ \t\r]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    # trim() strips spaces only — newlines at the edges go explicitly
    c = F.regexp_replace(c, r"^\n+|\n+$", "")
    return F.trim(c)
