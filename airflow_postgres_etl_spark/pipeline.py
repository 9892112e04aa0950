"""Incremental batch pipeline — the reference's two DAGs as one lazy plan.

Reference flow (SURVEY §3.1): list files → read high-water mark → filter
``file > hwm`` → per-3-files pandas loop → delete+insert.  Here the same
list-then-read order: the landing directory is listed on the driver
(``csv_source.list_landed``), only the files named past the high-water
mark are handed to one multi-file scan, and nothing is read — no Spark
job at all — when none is new.  The new rows are scanned and deduped
keep-last (T3) ONCE, into one local checkpoint that both targets read
(:func:`_dedup_once`, shared with the streaming loaders), and each
target lands in one keyed-overwrite merge, which materializes its batch
once (the literal parse included, for events) in the same pass that
counts the rows it merges.  The micro-batch accumulate/flush loop (T2)
disappears — partitioned execution is Spark's native memory bounding.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sink
from .operators.ingest import (
    _event_rows,
    _tracking_rows,
    dedup_keep_last,
    filter_after_high_water_mark,
)
from .sink import keyed_overwrite_parquet, read_keyed_table
from .sources.csv_source import list_landed, read_tracking_csv


def parquet_high_water_mark(
    spark: SparkSession, target: str, column: str = "fileName"
) -> str | None:
    """S8 against the parquet mirror: max(fileName) already loaded.

    Stats first: :func:`incremental_load` keeps footer min/max stats for
    ``fileName`` on the tracking table, so the answer is the ``max`` that
    :func:`sink.table_stats` reports: O(manifest) driver work and no
    Spark job, however large the table.  It scans (``max`` over
    :func:`sink.read_keyed_table`) whenever the manifest cannot answer
    exactly: the snapshot has pending merge-on-read deltas (they shadow
    base rows), or ``table_stats`` leaves the column out (a live file
    without a recorded range, e.g. a table written before the stats were
    kept, or a renamed or dropped column).  An all-null column answers
    None either way."""
    if not os.path.isdir(target):
        return None
    try:
        meta = sink.table_stats(target)
    except FileNotFoundError:
        # directory exists but nothing was ever committed (e.g. a crash
        # before the first manifest swap) — same as no table.
        return None
    stat = meta["columns"].get(column) if meta["clean"] else None
    if stat is not None:
        return stat["max"]
    return read_keyed_table(spark, target).agg(F.max(column)).collect()[0][0]


def _landed_rows(
    spark: SparkSession, csv_dir: str, hwm: str | None
) -> DataFrame | None:
    """The lazy scan of the files in ``csv_dir`` named past ``hwm`` — or
    None, before any Spark job, when no file is new.

    The cut happens on the listing, so the scan opens only the new
    files; the row-level ``fileName > hwm`` filter stays on the read as
    the guarantee, and costs nothing once the list is pruned."""
    paths = [
        p for name, p in list_landed(spark, csv_dir) if hwm is None or name > hwm
    ]
    if not paths:
        return None
    return filter_after_high_water_mark(read_tracking_csv(spark, paths), hwm)


@contextmanager
def _dedup_once(raw: DataFrame) -> Iterator[tuple[DataFrame, DataFrame, int]]:
    """``(tracking, events, tracking row count)`` of one landed batch,
    both targets read off ONE keep-last dedup of ``raw``.

    The dedup is materialized by one eager local checkpoint
    (``sink._checkpoint``), released when the block exits, so the scan,
    the dedup's shuffle and the scan-order tiebreak (the streaming
    path's ``monotonically_increasing_id``) run once and both targets
    agree on the surviving row.  Unlike a persisted frame, whose final
    shuffle Spark never coalesces, the checkpoint keeps the partitions
    AQE coalesced the shuffle to — one on a trickle batch — so the
    literal parse over it still runs in one task instead of paying the
    Python worker's fixed cost (~0.3 s) once per shuffle partition.  The
    same pass observes the row count: keep-last leaves one tracking row
    per deduped row.  ``tracking`` and ``events`` stay lazy; each keyed
    merge materializes its own batch once (``sink._admit_batch``)."""
    cp, seen = sink._checkpoint(dedup_keep_last(raw), n=F.count(F.lit(1)))
    try:
        yield _tracking_rows(cp), _event_rows(cp), seen["n"]
    finally:
        sink._release([cp])


def _fetch_one(con, sql: str):
    """One scalar row from a DB-API-ish connection (DuckDB puts
    ``execute`` on the connection, strict DB-API drivers on a cursor —
    same duck-typing as ``sink._exec_sql``)."""
    if hasattr(con, "execute"):
        return con.execute(sql).fetchone()
    cur = con.cursor()
    try:
        cur.execute(sql)
        return cur.fetchone()
    finally:
        cur.close()


def relational_high_water_mark(
    con, table: str, column: str = "fileName"
) -> str | None:
    """S8 on the wire — the reference's actual HWM read
    (``get_max_file_name``, reference dags/datahelper/postgres.py): S6's
    catalog existence probe first, then ``max(column)`` from the target.
    Returns None for a missing or empty table (first load)."""
    from .sink import high_water_mark_sql, table_exists_sql

    if _fetch_one(con, table_exists_sql(table)) is None:
        return None
    row = _fetch_one(con, high_water_mark_sql(table, column))
    return row[0] if row else None


def relational_columns_dict(df: DataFrame) -> dict[str, str]:
    """3-type classification from the Spark schema (the reference pins
    the dict by hand, postgres.py:41-60; here the batch schema is
    already typed).  ``long`` stays String rather than risking an int4
    overflow in the INTEGER DDL — same lossless-by-default posture as
    the sentinel rules."""
    from .schemas import create_columns_dict

    return create_columns_dict(
        df.columns,
        datetime_columns=[
            f.name
            for f in df.schema.fields
            if f.dataType.typeName().startswith("timestamp")
        ],
        int_columns=[
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() == "integer"
        ],
    )


def merge_relational_batch(
    df: DataFrame,
    table: str,
    *,
    connection_factory,
    stage_writer_factory=None,
    url: str = "",
    key: str = "oid__id",
) -> None:
    """ONE table's S9 wire merge — the classification + stage-writer
    wiring both relational loaders share (batch
    :func:`incremental_load_relational` and the streaming
    ``stream_ingest_relational``), so a change to the merge seam lands
    once."""
    from .sink import keyed_overwrite_jdbc

    cols = relational_columns_dict(df)
    keyed_overwrite_jdbc(
        df,
        url,
        table,
        key,
        cols,
        connection_factory=connection_factory,
        stage_writer=(
            stage_writer_factory(cols) if stage_writer_factory else None
        ),
    )


def incremental_load_relational(
    spark: SparkSession,
    csv_dir: str,
    tracking_table: str,
    events_table: str,
    *,
    connection_factory,
    stage_writer_factory=None,
    url: str = "",
    key: str = "oid__id",
) -> dict[str, int]:
    """One incremental cycle against a RELATIONAL target — the
    reference's literal production loop (scan → HWM filter → transform →
    staged delete+insert merge), every leg on the wire: S6 existence
    probe + S8 high-water mark read from the DATABASE (not the parquet
    mirror), S9 ``keyed_overwrite_jdbc`` merge per table.  With
    ``pgwire`` + ``sink.pgwire_stage_writer`` this runs against a live
    PostgreSQL with zero external dependencies; any DB-API connection
    factory (DuckDB in tests) works identically.

    Same idempotence story as :func:`incremental_load`: events merge
    first, the tracking table (the HWM carrier) advances LAST, so a
    failure between the merges replays both — harmless under
    replace-by-key.  Returns rows merged per table; the relational merge
    has no probe to count in.  The tracking count is the shared dedup's
    own (one tracking row per deduped row, :func:`_dedup_once`); the
    events count costs a job, and events are persisted here so the
    count and the merge share one execution."""
    con = connection_factory()
    try:
        hwm = relational_high_water_mark(con, tracking_table)
    finally:
        con.close()
    raw = _landed_rows(spark, csv_dir, hwm)
    if raw is None:
        return {"tracking": 0, "events": 0}
    with _dedup_once(raw) as (tracking, events, n_tracking):
        events = events.persist()
        try:
            counts = {"tracking": n_tracking, "events": events.count()}
            for df, table in ((events, events_table), (tracking, tracking_table)):
                merge_relational_batch(
                    df,
                    table,
                    connection_factory=connection_factory,
                    stage_writer_factory=stage_writer_factory,
                    url=url,
                    key=key,
                )
        finally:
            events.unpersist()
    return counts


def incremental_load(
    spark: SparkSession,
    csv_dir: str,
    tracking_target: str,
    events_target: str,
    *,
    key: str = "oid__id",
) -> dict[str, int]:
    """Run one incremental cycle: new files only → tracking + events →
    keyed-overwrite merge.  Returns rows merged per table, as counted by
    the pass in which each merge materializes its batch.

    Idempotent: re-running with no new files merges nothing and runs no
    Spark job; re-running after a partial failure lists and replays the
    same files (replace-by-key makes the replay harmless).
    """
    hwm = parquet_high_water_mark(spark, tracking_target)
    raw = _landed_rows(spark, csv_dir, hwm)
    if raw is None:
        return {"tracking": 0, "events": 0}
    with _dedup_once(raw) as (tracking, events, _):
        # events first: the HWM is read from the tracking mirror, so it must
        # advance LAST — a failure between the two merges then replays both
        # (harmless under replace-by-key) instead of silently skipping events.
        n_events = keyed_overwrite_parquet(spark, events, events_target, key)
        # fileName stats let the next cycle read its high-water mark from
        # the manifest (parquet_high_water_mark); footers the commit's
        # row-count fill opens anyway, so no extra Spark job
        n_tracking = keyed_overwrite_parquet(
            spark, tracking, tracking_target, key, stats_cols=["fileName"]
        )
    return {"tracking": n_tracking, "events": n_events}


def load_outputs(
    spark: SparkSession, tracking_target: str, events_target: str
) -> tuple[DataFrame, DataFrame]:
    return (
        read_keyed_table(spark, tracking_target),
        read_keyed_table(spark, events_target),
    )
