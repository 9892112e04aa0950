"""Streaming sketch maintenance (VERDICT r6 prescription 5): a
``foreachBatch`` ingest that keeps per-group KMV and count-min sketches
CURRENT as data arrives — each micro-batch's sketch merges into a stored
keyed sketch table, so "distinct items / frequency per group" is
answerable at any moment without scanning what already streamed past.

Composition, no new machinery: the file-source checkpoint is the
high-water mark (which files), ``operators.sketch`` provides the batch
sketches and their exact merge laws, and the keyed sink stores the
result (replace-by-key per group — the bucket-pruned ``lookup_keys``
read means a micro-batch touches only ITS groups' sketch rows, never
the whole sketch table).

Delivery semantics under replay (a crash after a merge and before the
epoch's checkpoint commit, or a restarted query re-delivering the last
batch):

- KMV merge is IDEMPOTENT by algebra — re-merging the same batch's
  hashes is a set union with itself — so the KMV path needs no guard.
- CMS cells SUM, so a double-merge would double-count.  The CMS merge
  commits under the epoch's writer-transaction watermark, the one every
  stream's exactly-once leg uses (``delivery.keyed_corpus_commit``):
  ``txn_app`` is the checkpoint's salted identity, ``txn_seq`` the epoch
  id, recorded in the CMS table's manifest by the same commit as the
  cells.  A re-delivered epoch is a manifest no-op, so the stored cells
  count every batch exactly once.

N streamed batches equal one batch build over the union bit-for-bit —
including across a checkpointed restart — test-pinned in
tests/test_streaming.py.

At 100 TB/day: per batch, one batch-sized sketch build + a merge whose
other side is ``lookup_keys``-pruned to the touched groups' rows (~k
longs per group).  The corpus is never re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import sketch as SK
from ..storage import LOCAL_STORE
from .delivery import stream_txn_app

ITEM_SCHEMA = "group string, item string"

_CMS_KEY = "cms_key"


def merge_kmv_batch(
    spark: SparkSession,
    batch: DataFrame,
    target: str,
    *,
    group_col: str = "group",
    item_col: str = "item",
    k: int = SK.DEFAULT_K,
    store=LOCAL_STORE,
) -> None:
    """Merge one batch's per-group KMV sketches into the stored keyed
    sketch table (rows: ``group, ks, n_k, kth``; key = group)."""
    from .. import sink

    # checkpoint the batch sketch: the group collect below and the
    # merge write would otherwise each recompute the full batch scan
    # (measured ~2x the merge cost at 64x before this)
    batch_sk = SK.kmv_sketch(batch, [group_col], F.col(item_col), k=k).localCheckpoint(
        eager=True
    )
    try:
        groups = [r[0] for r in batch_sk.select(group_col).collect()]
        if not groups:
            return
        try:
            stored = sink.lookup_keys(spark, target, groups, store).select(
                group_col, "ks"
            )
            pool = stored.unionByName(batch_sk.select(group_col, "ks"))
        except FileNotFoundError:
            pool = batch_sk.select(group_col, "ks")
        merged = SK.kmv_merge_sketches(pool, [group_col], k=k)
        sink.keyed_overwrite_parquet(
            spark, merged, target, key=group_col, num_buckets=4, store=store
        )
    finally:
        sink._release([batch_sk])


def merge_cms_batch(
    spark: SparkSession,
    batch: DataFrame,
    target: str,
    *,
    group_col: str = "group",
    item_col: str = "item",
    depth: int = SK.CMS_DEPTH,
    width: int = SK.CMS_WIDTH,
    store=LOCAL_STORE,
    txn_app: str | None = None,
    txn_seq: int | None = None,
) -> None:
    """Merge one batch's CMS cells into the stored keyed cell table
    (rows: ``cms_key, group, r, c, cnt``; key = "group:r:c").  Cells
    sum, so a replayed batch must not merge twice: ``txn_app``/``txn_seq``
    commit the merge under that writer watermark (see module doc)."""
    from .. import sink

    cells = SK.cms_sketch(
        batch, [group_col], F.col(item_col), depth=depth, width=width
    ).withColumn(
        _CMS_KEY,
        F.concat_ws(":", F.col(group_col), F.col("r"), F.col("c")),
    ).localCheckpoint(eager=True)  # one batch scan, not one per action
    try:
        keys = [r[0] for r in cells.select(_CMS_KEY).collect()]
        if not keys:
            return
        try:
            stored = sink.lookup_keys(spark, target, keys, store).select(
                _CMS_KEY, group_col, "r", "c", "cnt"
            )
            pool = stored.unionByName(
                cells.select(_CMS_KEY, group_col, "r", "c", "cnt")
            )
        except FileNotFoundError:
            pool = cells.select(_CMS_KEY, group_col, "r", "c", "cnt")
        merged = (
            pool.groupBy(_CMS_KEY, group_col, "r", "c")
            .agg(F.sum("cnt").alias("cnt"))
        )
        sink.keyed_overwrite_parquet(
            spark, merged, target, key=_CMS_KEY, num_buckets=4, store=store,
            txn_app=txn_app, txn_seq=txn_seq,
        )
    finally:
        sink._release([cells])


def stream_sketch_ingest(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    group_col: str = "group",
    item_col: str = "item",
    k: int = SK.DEFAULT_K,
    depth: int = SK.CMS_DEPTH,
    width: int = SK.CMS_WIDTH,
    max_files_per_trigger: int = 10,
    store=LOCAL_STORE,
) -> StreamingQuery:
    """Continuous sketch maintenance over a parquet file stream of
    ``(group, item)`` rows: per micro-batch, the KMV sketch table at
    ``<out_dir>/kmv`` and the CMS cell table at ``<out_dir>/cms`` absorb
    the batch (see the merge functions above for the plan shapes and
    the replay contract)."""
    kmv_target = os.path.join(out_dir, "kmv")
    cms_target = os.path.join(out_dir, "cms")

    stream = (
        spark.readStream.schema(ITEM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        spark_b = batch.sparkSession
        merge_cms_batch(
            spark_b, batch, cms_target,
            group_col=group_col, item_col=item_col,
            depth=depth, width=width, store=store,
            txn_app=stream_txn_app(checkpoint_dir, spark_b, require_salted=True),
            txn_seq=int(epoch_id),
        )
        merge_kmv_batch(
            spark_b, batch, kmv_target,
            group_col=group_col, item_col=item_col, k=k, store=store,
        )

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_kmv_estimates(
    spark: SparkSession, out_dir: str, k: int = SK.DEFAULT_K, store=LOCAL_STORE
) -> DataFrame:
    """Current per-group distinct estimates from the stored sketches."""
    from .. import sink

    t = sink.read_keyed_table(spark, os.path.join(out_dir, "kmv"), store)
    return t.select("group", SK.kmv_estimate_expr(k).alias("distinct_est"))
