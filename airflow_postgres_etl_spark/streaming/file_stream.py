"""Structured Streaming variants of the pipeline.

The reference's incremental design — high-water mark (S8), strictly
ordered file names (S2), micro-batch flush (T2), idempotent keyed
overwrite (S9) — is exactly Structured Streaming's file-source contract:
the checkpoint IS the high-water mark, ``maxFilesPerTrigger`` IS the batch
bound, and ``foreachBatch`` + replace-by-key IS the idempotent sink.  So
the streaming pipeline reuses the same ingest operators and the same merge
sink, and S2/S8/T1/T2 disappear into Spark (SURVEY §7.6).

``windowed_event_counts`` is the streaming analog of Q1 (per-minute
counts): a 1-minute tumbling window with a watermark for late data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import _dedup_once, merge_relational_batch
from ..schemas import TRACKING_RAW
from ..sink import (
    compact_keyed_table,
    keyed_merge_mor,
    keyed_overwrite_parquet,
    table_delta_depth,
)
from ..sources.csv_source import with_file_name


def _raw_tracking_stream(
    spark: SparkSession, csv_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """The one streaming reader both ingest wirings share: pinned
    schema, RFC-4180 quoting, rate bound, executor-side lineage —
    changes to the CSV source contract land HERE once."""
    raw = (
        spark.readStream.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(TRACKING_RAW)
        .csv(csv_dir)
    )
    return with_file_name(raw)


def _with_batch_pos(batch: DataFrame) -> DataFrame:
    """Scan-order position for the T3 keep-last tiebreak: the STREAMING
    plan can't carry ``monotonically_increasing_id``, but foreachBatch
    hands over a BATCH plan, so the id is added here — without it,
    intra-file duplicate keys tie on fileName alone and the surviving
    row is nondeterministic (r11: diverged from the batch loader's
    "last row in file order" under a live differential)."""
    return batch.withColumn("__file_pos", F.monotonically_increasing_id())


def stream_ingest(
    spark: SparkSession,
    csv_dir: str,
    tracking_target: str,
    events_target: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 3,
    merge_mode: str = "cow",
    compact_at_depth: int = 8,
    expectations=None,
    fail_thresholds=None,
    maintain_views=None,
) -> StreamingQuery:
    """Continuous ingest: file source → ingest chain → keyed merge.

    ``maxFilesPerTrigger=3`` mirrors the reference's events n_batch=3
    (``events_table.py:103``) as a rate bound, not a memory crutch.
    Exactly-once: file-source checkpoint (which files) + replace-by-key
    merge (idempotent batch replay) compose to effective exactly-once.

    ``merge_mode="mor"`` is the trickle-upsert shape: each micro-batch
    commits O(batch) delta files (``keyed_merge_mor``) instead of
    rewriting every affected bucket — at scale a small frequent stream
    under copy-on-write rewrites ~the whole table per trigger (measured
    23× write amplification, SCALE.md §Sinks).  Pending deltas are
    folded automatically whenever ``table_delta_depth`` reaches
    ``compact_at_depth``, bounding the reader-side precedence cost; the
    compaction commits through the same manifest CAS, so a crash between
    merge and compaction just leaves the deltas for the next trigger.
    Idempotence under batch replay holds in both modes (a replayed MOR
    batch re-commits the same keys at a higher seq — converges).

    ``fail_thresholds={"rule": max_violations}`` adds the DLT
    ``expect_or_fail`` mode to the gate: the report is computed before
    any write, so a breach raises inside ``foreachBatch`` and FAILS the
    stream with zero side effects for that trigger — the file-source
    checkpoint hasn't advanced, so a restart retries the same batch
    (fail-stop, not skip).  Like ``expectations`` it accepts a flat dict
    for both targets or ``{"events": {...}, "tracking": {...}}``.

    ``maintain_views=[{"target": "events"|"tracking", "mv_path": str,
    "group_cols": [...], "sum_cols": [...]}, ...]`` maintains aggregate
    views IN-BAND: after each trigger's merges, every listed view
    refreshes through the manifest-diff path (``views.
    refresh_aggregate_view``) — the DLT continuous-materialized-view
    shape, reading only the files that trigger's commits touched.
    Replay-safe BY ALGEBRA, not bookkeeping: a re-delivered epoch's
    merge re-commits content-identical rows, so the replayed refresh's
    signed delta (+1 new files, −1 retired files) cancels inside the
    count/sum aggregate and the view converges to the crash-free state
    (test-pinned, incl. a crash between refresh and checkpoint commit).
    A view refresh failure fails the stream (fail-stop) — the
    checkpoint hasn't advanced, so the restart retries merge+refresh.

    A spec may also carry ``"kind": "distinct"`` (``item_col``,
    optional ``k``), ``"kind": "quantile"`` (``value_col``,
    ``key_col``, optional ``k``) or ``"kind": "cms"`` (``item_col``,
    optional ``depth``/``width``) to maintain the sketch-backed views
    in-band.  Their replay story is recompute-exactness rather than
    delta cancellation: a CoW merge's bucket rewrites put files on the
    REMOVED side, so the refresh partially recomputes touched groups
    from the pinned snapshot — identical rows give identical sketches,
    and a replayed epoch converges the same way the aggregates do
    (under MOR the unclean endpoint falls back to a full recompute
    until in-band compaction restores clean snapshots — correct, just
    not incremental).
    """
    if merge_mode not in ("cow", "mor"):
        raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
    raw = _raw_tracking_stream(spark, csv_dir, max_files_per_trigger)

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        spark_b = batch.sparkSession
        # per-target rules: {"events": [...], "tracking": [...]} — the two
        # targets have different schemas; a flat list applies to both
        if isinstance(expectations, dict):
            ev_rules = expectations.get("events")
            tr_rules = expectations.get("tracking")
        else:
            ev_rules = tr_rules = expectations
        # flat = {rule: limit}; per-target = {"events": {...}, "tracking":
        # {...}} — distinguished by value type, so a rule named "events"
        # in a flat dict can't be misread as a target
        per_target = bool(fail_thresholds) and all(
            isinstance(v, dict) for v in fail_thresholds.values()
        )
        ev_limits = fail_thresholds.get("events") if per_target else fail_thresholds
        tr_limits = fail_thresholds.get("tracking") if per_target else fail_thresholds
        merge = keyed_merge_mor if merge_mode == "mor" else keyed_overwrite_parquet

        def gated(frame, tgt, rules, limits):
            if not rules:
                merge(spark_b, frame, tgt)
                return
            # DQ gate per micro-batch: clean rows merge, violating rows
            # quarantine under each target, the per-rule report persists.
            # Replay-idempotent like the merge itself: the quarantine is
            # a keyed table, so a re-delivered bad row replaces its own
            # previous quarantine row.
            from ..operators.expectations import gate_and_merge

            gate_and_merge(
                spark_b, frame, tgt, rules,
                mor=(merge_mode == "mor"),
                fail_thresholds=limits,
            )

        # the epoch's files are scanned and deduped once for both targets
        with _dedup_once(_with_batch_pos(batch)) as (tracking, events, _):
            # events first; tracking (HWM-bearing in the batch analog) last
            gated(events, events_target, ev_rules, ev_limits)
            gated(tracking, tracking_target, tr_rules, tr_limits)
        if merge_mode == "mor":
            for tgt in (events_target, tracking_target):
                if table_delta_depth(tgt) >= compact_at_depth:
                    compact_keyed_table(spark_b, tgt)
        if maintain_views:
            # import inside the batch fn (same pattern as gate_and_merge)
            # so tests can seam-inject; refresh AFTER compaction so MOR
            # runs take the incremental path on clean snapshots
            from .. import views as _views

            targets = {"events": events_target, "tracking": tracking_target}
            for spec in maintain_views:
                # per-target resolution stays here; the kind dispatch is
                # the shared vocabulary (views.refresh_view_spec)
                _views.refresh_view_spec(
                    spark_b, targets[spec["target"]], spec
                )

    return (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming Q1: tumbling-window counts with late-data watermark.

    Works on a streaming OR batch DataFrame (same plan either way).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("minute"), "n_events")
    )


def dedup_event_stream(
    events: DataFrame,
    *,
    id_cols: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exactly-once event dedup: keep the first occurrence of
    each key, with state bounded by the watermark
    (``dropDuplicatesWithinWatermark``).

    The batch analog is T3's keyed keep-last / T13's distinct; in a
    stream, unbounded `dropDuplicates` state grows forever — the
    watermark bound makes dedup state O(events within the delay window),
    the only formulation that survives an unbounded stream.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        id_cols or ["event_id"]
    )


def interval_join_streams(
    views: DataFrame,
    clicks: DataFrame,
    *,
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM interval join: each click pairs with the same user's
    view that happened at most ``max_lag`` before it — the attribution
    join, continuously.

    The two pieces Spark needs to keep state BOUNDED (without them a
    stream-stream join would buffer both streams forever):

    - a **watermark on both sides** — how late either stream's events
      may arrive; state older than the watermark is evicted;
    - the **time-range predicate** in the join condition — tells the
      engine how long a view can possibly still match (``max_lag``), so
      each side's buffered rows expire deterministically.

    State per key is therefore O(events within watermark + lag), not
    O(stream) — the property that makes this runnable forever at
    100 TB/day.  ``how="inner"``: unmatched rows simply age out.
    ``how="leftOuter"`` preserves the CLICK side for unattributed-click
    analysis: a click with no matching view is emitted with NULL
    ``view_id``/``v_ts`` — but only once the watermark proves no view
    can still arrive (the null row appears when state expires, not when
    the click does; same state bounds).

    Both inputs must be STREAMING DataFrames with ``user_id``, ``ts``,
    ``event_id`` columns (e.g. two filtered readers of an events
    stream).

    Operational hazard, measured: the join's effective watermark is the
    MIN over both branches' watermarks
    (``spark.sql.streaming.multipleWatermarkPolicy=min``), so a branch
    that stops receiving events pins the global watermark and the outer
    join emits no more null rows (and evicts no more state).  If one
    side can legitimately go idle, feed it heartbeat events or switch
    the policy to ``max`` accepting its late-data trade-off.
    """
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    cond = (
        (v.v_user == c.c_user)
        & (c.c_ts >= v.v_ts)
        & (c.c_ts <= v.v_ts + F.expr(f"INTERVAL {max_lag}"))
    )
    if how == "inner":
        return v.join(c, cond, "inner").select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "click_id",
            "v_ts",
            "c_ts",
        )
    if how != "leftOuter":
        raise ValueError(f"how must be 'inner' or 'leftOuter', got {how!r}")
    # clicks preserved: the left side of an outer stream-stream join is
    # the one whose unmatched rows are emitted at state expiry
    return c.join(v, cond, "leftOuter").select(
        F.col("c_user").alias("user_id"),
        "view_id",
        "click_id",
        "v_ts",
        "c_ts",
    )


def stream_append(
    spark: SparkSession,
    src_dir: str,
    target: str,
    checkpoint_dir: str,
    *,
    schema: str,
    key: str,
    num_buckets: int | None = None,
    max_files_per_trigger: int = 10,
    optimize_at_files: int = 8,
) -> StreamingQuery:
    """Append-mode fact ingest — the third merge mode, for streams whose
    keys are NEW by construction (event ids, log offsets): each
    micro-batch lands as one O(batch) blind append
    (``sink.keyed_append`` with ``verify_new=False`` — no read of the
    table at all, where CoW rewrites buckets and MOR taxes reads), made
    replay-safe by the writer-txn watermark: ``txn_app`` is this
    checkpoint's identity and ``txn_seq`` the epoch id, so a
    re-delivered micro-batch (foreachBatch's at-least-once contract)
    is a manifest no-op instead of duplicate rows.

    The file-count debt auto-pays like MOR's auto-compaction: once any
    bucket holds ``optimize_at_files`` files the batch runs
    ``optimize_keyed_table``, which packs over-threshold buckets and
    recomputes their skipping stats.  A crash between append and
    optimize just leaves the files for the next trigger.
    """
    from ..sink import describe_keyed_table, keyed_append, optimize_keyed_table

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    txn_app = f"stream_append:{os.path.abspath(checkpoint_dir)}"

    def append_batch(batch: DataFrame, epoch_id: int) -> None:
        spark_b = batch.sparkSession
        keyed_append(
            spark_b,
            batch,
            target,
            key=key,
            num_buckets=num_buckets,
            verify_new=False,
            txn_app=txn_app,
            txn_seq=int(epoch_id),
        )
        try:
            fpb = describe_keyed_table(target)["max_files_per_bucket"]
        except FileNotFoundError:
            return  # empty first batch: nothing committed yet
        if fpb >= optimize_at_files:
            optimize_keyed_table(spark_b, target)

    return (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_relational(
    spark: SparkSession,
    csv_dir: str,
    tracking_table: str,
    events_table: str,
    checkpoint_dir: str,
    *,
    connection_factory,
    stage_writer_factory=None,
    url: str = "",
    key: str = "oid__id",
    max_files_per_trigger: int = 3,
) -> StreamingQuery:
    """Continuous ingest into a RELATIONAL target (r11): the same file
    source + ingest chain as :func:`stream_ingest`, with each
    micro-batch committed by the S9 wire merge
    (``sink.keyed_overwrite_jdbc``) instead of the parquet mirror —
    the reference's Airflow-scheduled Postgres pipeline recast as one
    streaming query, runnable against a live server through the
    engine's own wire client (``connection_factory=pgwire.connect``,
    ``stage_writer_factory=sink.pgwire_stage_writer``).

    Delivery: the file-source checkpoint decides WHICH files each epoch
    carries (exactly-once file accounting), foreachBatch re-delivers an
    epoch after a crash (at-least-once execution), and the delete+insert
    merge makes the replay converge (replace-by-key) — the composition
    is effective exactly-once on the relational table, the same
    argument the reference's ``delete_and_insert`` makes for Airflow
    task retries (postgres.py:18-38).  Events merge before tracking in
    each epoch, mirroring the batch loaders' ordering contract.

    Scale: the merge transaction is a few driver-side statements per
    epoch; the stage leg is whatever ``stage_writer_factory`` provides
    (COPY at ~400k rows/s here; executor-parallel ``write.jdbc`` when a
    driver jar exists).  The relational table holds no watermark state —
    a deleted checkpoint reprocesses everything and the replace-by-key
    merge converges to the same rows."""
    raw = _raw_tracking_stream(spark, csv_dir, max_files_per_trigger)

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        with _dedup_once(_with_batch_pos(batch)) as (tracking, events, _):
            for df, table in ((events, events_table), (tracking, tracking_table)):
                merge_relational_batch(
                    df,
                    table,
                    connection_factory=connection_factory,
                    stage_writer_factory=stage_writer_factory,
                    url=url,
                    key=key,
                )

    return (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
