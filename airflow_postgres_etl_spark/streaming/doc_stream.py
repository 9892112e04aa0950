"""Streaming corpus ingest with cross-batch near-dup filtering — the
training-data acquisition flow: documents arrive continuously, and a
document is accepted only if it near-duplicates NOTHING accepted before
it (in any earlier micro-batch or earlier in its own batch).

Composition of existing pieces, no new state machinery: the file-source
checkpoint tracks which files were processed (the reference's high-water
mark, S8/T1), the persisted MinHash index IS the dedup state
(``operators.dedup.build_minhash_index``), and each micro-batch runs
in-batch dedup → index dedup → append survivors to the index + corpus.

Delivery semantics — chosen by ``delivery=`` (r10, symmetric with
``vec_stream``; the strong contract is the default):

- ``delivery="exactly_once"`` (default): KEYED corpus, committed FIRST
  under an epoch txn watermark (``sink.keyed_append`` — replays are
  manifest no-ops), index appended after.  A crash between the two
  replays into a corpus txn no-op + index catch-up; a lost checkpoint
  replays into ``dedup_against_index`` dropping every survivor against
  its own indexed copy (identical text → jaccard 1 — no self-id
  exemption exists, by design).  Exactly-once into the corpus always;
  into the index with one documented residual window under
  ``max_band_size``: a replayed survivor whose EVERY band was capped
  away in the index escapes the dedup probe and re-appends its
  (already-capped) bands — duplicate index rows, benign for dedup
  decisions and re-collapsed by the next ``compact_minhash_index``
  (the corpus side stays protected by the txn watermark).  Read the
  corpus with ``sink.read_keyed_table``.
- ``delivery="at_most_once"`` (explicit opt-in): plain-parquet corpus,
  index appended BEFORE the blind corpus write.  A crash between the
  two appends means a replayed batch finds its survivors already
  indexed and drops them — at-most-once (under ``max_band_size`` the
  same all-bands-capped residual above can duplicate a corpus row on
  replay), and the corpus stays a bare parquet directory.  The trade:
  a lost document costs a little coverage; a duplicated one would bias
  the distribution every epoch.

At 100 TB: per-batch cost is the batch's own shingling plus a
band-partition-pruned join against the index (see
``dedup_against_index``); the accepted corpus is never re-scanned.
Index bands grow monotonically across appends — the stream bounds its
own regrowth IN-BAND: each append CAS-bumps the manifest's staleness
counter, and once ``minhash_appended_fraction`` crosses
``compact_fraction`` the micro-batch runs ``compact_minhash_index``
(over the accepted corpus), re-applying the hot-band cap globally.
``vacuum_minhash_index`` reclaims the retired directories; both commit
through the same manifest swap the readers resolve, so compaction is
safe under concurrent micro-batches' readers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..caching import cache_scope
from ..sink import _release
from .delivery import (
    guard_keyed_bootstrap,
    keyed_corpus_commit,
    validate_delivery,
)
from ..operators.dedup import (
    MINHASH_MAX_APPENDED_FRACTION,
    append_to_minhash_index,
    build_minhash_index,
    compact_minhash_index,
    dedup_against_index,
    exact_dedup,
    lsh_verified_pairs,
    minhash_appended_fraction,
    minhash_index_exists,
)

DOC_SCHEMA = "doc_id long, text string"


def self_dedup(
    batch: DataFrame,
    threshold: float = 0.5,
    max_band_size: int | None = None,
) -> DataFrame:
    """In-batch dedup: exact content dedup (keep min id), then drop every
    doc that LSH-verified-near-dups a LOWER id in the same batch.

    Greedy by id: in a similarity chain a<b<c with pairs (a,b),(b,c),
    both b and c are dropped even if (a,c) alone wouldn't qualify —
    conservative over-dropping, never under-dropping, and deterministic
    without an iterative clustering pass per micro-batch.
    ``max_band_size`` reaches the LSH candidate join's hot-band guard."""
    b = exact_dedup(batch)
    drop = (
        lsh_verified_pairs(b, threshold=threshold, max_band_size=max_band_size)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return b.join(drop, "doc_id", "left_anti")


def stream_dedup_ingest(
    spark: SparkSession,
    docs_dir: str,
    index_path: str,
    corpus_out: str,
    checkpoint_dir: str,
    *,
    threshold: float = 0.5,
    max_files_per_trigger: int = 10,
    max_band_size: int | None = None,
    compact_fraction: float | None = MINHASH_MAX_APPENDED_FRACTION,
    delivery: str = "exactly_once",
    corpus_num_buckets: int | None = None,
) -> StreamingQuery:
    """Continuous dedup ingest: parquet file stream of (doc_id, text) →
    in-batch dedup → dedup against the persisted index → admission.
    ``delivery`` picks the corpus contract (module doc): the default
    commits a KEYED corpus first under an epoch txn watermark
    (exactly-once; read it with ``sink.read_keyed_table``);
    ``"at_most_once"`` opts back into a plain-parquet corpus appended
    after the index.

    The build-vs-append decision probes the index MANIFEST through the
    storage seam (``minhash_index_exists``), never the filesystem: an
    ``os.path.isdir`` probe is always False on s3://-style paths, which
    would rebuild (mode=overwrite) the index every micro-batch and
    silently re-admit near-duplicates across batches.

    ``compact_fraction``: after each append, if the index's appended
    mass (``minhash_appended_fraction``) exceeds this fraction the index
    is compacted in-band from the accepted corpus — re-applying the
    hot-band cap GLOBALLY (per-batch appends cap only within
    themselves, so boilerplate bands re-grow across batches) and
    resetting the staleness counter via the manifest swap.  The same
    in-band maintenance rhythm as ``stream_semantic_ingest``'s quantizer
    refresh and ``stream_ingest(merge_mode="mor")``'s auto-compaction;
    pass None to run ``compact_minhash_index`` out-of-band instead.
    """
    keyed = validate_delivery(delivery, ("exactly_once", "at_most_once"))
    if keyed:
        guard_keyed_bootstrap(corpus_out, "stream_dedup_ingest")
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        # operator caches (the shingle frames under the LSH self-join)
        # are intra-batch reuse buffers: release them with the batch, or
        # a long-running stream accumulates one cached corpus per
        # micro-batch until eviction pressure (caching.py)
        with cache_scope():
            _process_batch(batch, epoch_id)

    def _process_batch(batch: DataFrame, epoch_id: int) -> None:
        survivors = self_dedup(batch, threshold, max_band_size)
        had_index = minhash_index_exists(index_path)
        if had_index:
            survivors = dedup_against_index(
                survivors, index_path, threshold=threshold
            )
        # EAGER lineage truncation, not persist(): survivors' plan READS
        # index_path, and the index append below triggers Spark's
        # refreshByPath(index_path), which invalidates any cache built
        # over it — a lazy/persisted frame would then be RECOMPUTED
        # against the just-updated index for the corpus write, where each
        # survivor matches its own freshly-appended bands and anti-joins
        # itself away (observed: index gained the doc, corpus stayed
        # empty).  localCheckpoint materializes the rows NOW and cuts the
        # plan back to the stored partitions, immune to the refresh.
        survivors = survivors.localCheckpoint(eager=True)
        try:
            if survivors.take(1):
                # ORDERING is the delivery contract (module doc):
                # keyed → corpus first under the epoch txn watermark;
                # plain → index first (the blind append's only guard is
                # the index itself).
                if keyed:
                    keyed_corpus_commit(
                        survivors, corpus_out, "doc_id",
                        checkpoint_dir, epoch_id,
                        num_buckets=corpus_num_buckets,
                    )
                if had_index:
                    append_to_minhash_index(
                        survivors, index_path, max_band_size=max_band_size
                    )
                else:
                    build_minhash_index(
                        survivors, index_path, max_band_size=max_band_size
                    )
                if not keyed:
                    survivors.write.mode("append").parquet(corpus_out)
                if (
                    had_index
                    and compact_fraction is not None
                    and minhash_appended_fraction(index_path)
                    > compact_fraction
                ):
                    # corpus written first, so the rebuild source ⊇ the
                    # index contents — never narrower than the state it
                    # replaces; the manifest swap resets the counter
                    if keyed:
                        from .. import sink

                        corpus_df = sink.read_keyed_table(
                            batch.sparkSession, corpus_out
                        )
                    else:
                        corpus_df = None
                    compact_minhash_index(
                        batch.sparkSession,
                        index_path,
                        corpus_out,
                        max_band_size=max_band_size,
                        corpus_df=corpus_df,
                    )
        finally:
            _release([survivors])

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def build_benchmark_grams(
    bench_docs: DataFrame, out_path: str, n: int = 13
) -> None:
    """Materialize the benchmark's distinct n-grams once (eval suites are
    tiny and static — this is a setup step, not a per-batch cost)."""
    from ..operators.dedup import shingles_from_tokens
    from ..operators.text import tokens_expr

    toks = bench_docs.select(tokens_expr().alias("w"))
    grams = toks.select(
        F.explode(shingles_from_tokens(F.col("w"), n)).alias("ng")
    ).distinct()
    grams.write.mode("overwrite").parquet(out_path)


def stream_training_ingest(
    spark: SparkSession,
    docs_dir: str,
    bench_grams_path: str,
    rates_ppm: dict[str, int],
    corpus_out: str,
    checkpoint_dir: str,
    *,
    min_tokens: int = 20,
    max_files_per_trigger: int = 10,
    delivery: str = "exactly_once",
) -> StreamingQuery:
    """Streaming twin of ``pipeline_training_corpus``: documents arrive
    continuously and each micro-batch runs quality gate → 13-gram
    benchmark decontamination → temperature-mixing keep-filter before
    appending to the training corpus.

    ``delivery`` (r10, same contract shape as the dedup ingests):
    ``"exactly_once"`` (default) commits each epoch's kept docs into a
    KEYED corpus under an epoch txn watermark — a replayed epoch is a
    manifest no-op, so a crash between the corpus write and the
    checkpoint commit cannot duplicate rows (the blind-append mode
    WOULD: for a training corpus a duplicated document biases every
    epoch, the exact failure the mixing weights exist to prevent).
    Read the corpus with ``sink.read_keyed_table``.
    ``"at_least_once"`` opts back into the plain-parquet blind append
    (bare directory, duplicate rows possible on replay).

    Every per-document decision here is DOC-LOCAL given two static
    inputs, so batch-wise application equals a batch job over the union
    (unit-pinned): the benchmark gram set (eval suites are fixed —
    ``build_benchmark_grams`` materializes them once; each batch
    broadcast-joins against it) and the per-source keep rates
    (``rates_ppm``, integer ppm per source).  Rates come from a
    profiling pass over a corpus sample — exactly how production
    mixing weights are set — because a stream cannot know final source
    masses mid-flight; re-profile and restart to re-weight.  Unknown
    sources keep everything (rate defaults to 1,000,000): dropping data
    because the profile predates a new source is the wrong failure mode.

    Unlike ``stream_dedup_ingest`` there is no cross-batch state at all
    — no index, no ordering sensitivity — so batches commute and the
    only replay hazard is the corpus write itself (handled by
    ``delivery`` above)."""
    from ..operators.dedup import shingles_from_tokens
    from ..operators.text import tokens_expr

    keyed = validate_delivery(delivery, ("exactly_once", "at_least_once"))
    if keyed:
        guard_keyed_bootstrap(corpus_out, "stream_training_ingest")
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    rate_rows = [(s, int(r)) for s, r in sorted(rates_ppm.items())]

    def process(batch: DataFrame, epoch_id: int) -> None:
        grams_ref = batch.sparkSession.read.parquet(bench_grams_path)
        rates = batch.sparkSession.createDataFrame(
            rate_rows, "source string, rate_ppm long"
        )
        t = batch.withColumn("w", tokens_expr())
        q = t.filter(F.size("w") >= min_tokens)
        doc_grams = q.select(
            "doc_id", F.explode(shingles_from_tokens(F.col("w"), 13)).alias("ng")
        )
        bad = (
            doc_grams.join(F.broadcast(grams_ref), "ng")
            .select("doc_id")
            .distinct()
        )
        clean = q.join(F.broadcast(bad), "doc_id", "left_anti")
        bucket = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 1000000
        )
        kept = (
            clean.join(F.broadcast(rates), "source", "left")
            .filter(bucket < F.coalesce(F.col("rate_ppm"), F.lit(1000000)))
            .select("doc_id", "text", "source")
        )
        if keyed:
            keyed_corpus_commit(
                kept, corpus_out, "doc_id", checkpoint_dir, epoch_id
            )
        else:
            kept.write.mode("append").parquet(corpus_out)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
