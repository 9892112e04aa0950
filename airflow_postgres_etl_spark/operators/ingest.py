"""Ingest transform chain — the reference's ``process_data``
(``dags/datahelper/postgres.py:117-155``) re-expressed as lazy, composable
``DataFrame → DataFrame`` operators (SURVEY §2.2, T1–T13).

Every operator is declarative: Catalyst pushes the T11 projection *through*
the explode down to the scan, folds the sentinel maps, and plans the whole
chain into one whole-stage-codegen'd pipeline — the reference applies the
same steps eagerly, materializing a full pandas frame between each.

Fidelity notes (SURVEY §7.7):
- T3 implements the *intended* keep-last dedup.  The reference's
  ``drop_duplicates`` discards its return value (``postgres.py:132``) and is
  a shipped no-op; we implement the documented semantics (latest CDC row per
  ``oid__id`` wins, ordered by file name) via a window — ``dropDuplicates``
  alone would not guarantee *last*.
- T10 stamps a single job-level ``uploadDate`` (reference stamps per
  3-file micro-batch — an artifact of its memory-bounded loop, not a
  semantic requirement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.literal_parse import parse_events
from ..schemas import (
    AUDIT_COLUMNS,
    EVENTS_COLUMNS,
    TRACKING_COLUMNS,
    TRACKING_DATETIME_COLUMNS,
)

SENTINELS = ["NaN", "NaT", "None", ""]


def filter_after_high_water_mark(df: DataFrame, hwm: str | None) -> DataFrame:
    """T1: strictly-greater lexical predicate on ``fileName``
    (reference ``events_table.py:90-91``), row by row.  It prunes no file:
    ``fileName`` derives from ``input_file_name()``, which Spark cannot
    push into the scan, so every file handed to the read is still opened.
    The batch pipeline therefore cuts its file LIST at the high-water
    mark first (``pipeline._landed_rows``) and keeps this filter as the
    row-level guarantee; the streaming variant replaces it with source
    checkpointing.
    """
    if hwm is None:
        return df
    return df.filter(F.col("fileName") > F.lit(hwm))


def dedup_keep_last(
    df: DataFrame,
    key: str = "oid__id",
    order_col: str = "fileName",
    pos_col: str = "__file_pos",
    strategy: str = "window",
) -> DataFrame:
    """T3 (intended semantics): latest row per key wins.

    Two equivalent plans, pinned differential-equal (incl. intra-file
    ties and a single-key redelivery storm) in tests:

    - ``strategy="window"`` (default — kept after the r9 A/B, SCALE.md
      "keep-last dedup"): ``row_number`` over
      ``partitionBy(key).orderBy(order desc, pos desc)`` — one shuffle
      of every duplicate row to its key's partition, then a sort.
      Measured ~1.1× FASTER end-to-end in the real ingest (the payload
      here is the ~KB ``array_trackingEvents`` string; the aggregate
      pays per-row struct wrap/copy on every partial-combine update,
      the window just sorts rows).
    - ``strategy="agg"``:
      ``groupBy(key).agg(max_by(struct(all cols), struct(order, pos)))``
      — a hash aggregate with MAP-SIDE PARTIAL COMBINE, so a CDC
      redelivery storm on one key collapses to ≤ one row per key per
      input partition BEFORE the shuffle; the hot key's reducer sees
      #partitions rows, not #redeliveries.  Measured only ~1.08× better
      than the window even at 2M-redeliveries-on-one-key (narrow rows),
      because AQE already splits the storm's sort — reach for this when
      a CDC source is known to redeliver one key pathologically AND
      rows are narrow.

    Both pin *which* duplicate survives: intra-file duplicates tie on
    ``fileName`` alone, so when the scan-order position column
    (``csv_source.with_file_name``) is present it breaks the tie —
    "last row in file order", deterministically.  ``order_col`` must be
    non-null (``input_file_name`` always is)."""
    if strategy == "agg":
        ord_cols = [F.col(order_col)]
        if pos_col in df.columns:
            ord_cols.append(F.col(pos_col))
        payload = F.struct(*[F.col(c) for c in df.columns])
        return (
            df.groupBy(key)
            .agg(F.max_by(payload, F.struct(*ord_cols)).alias("__last"))
            .select("__last.*")
        )
    if strategy != "window":
        raise ValueError(f"unknown dedup strategy {strategy!r} (agg | window)")
    order = [F.col(order_col).desc()]
    if pos_col in df.columns:
        order.append(F.col(pos_col).desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def explode_events(
    df: DataFrame, col: str = "array_trackingEvents", *, mode: str = "safe"
) -> DataFrame:
    """T4+T5: parse the Python-repr array then **outer**-explode.

    ``explode_outer`` keeps rows whose array is empty/null as a single
    NULL-struct row — verified pandas ``df.explode`` behavior the reference
    relies on (``postgres.py:186``).

    ``mode="safe"`` (default): every row through the Arrow-batched Python
    literal parser — one scan, correct for any content.

    ``mode="auto"``: DataFrame-level split on the provable-safety gate —
    gate-clean rows (no quotes/escapes, no in-string ``None``) parse on the
    pure JVM path, the rest fall back to Python.  The split costs a second
    scan of the source (a UDF inside ``when()`` would still execute for
    every row, so the split cannot be expression-level), which only pays
    off when parse cost dominates scan cost — long event arrays, remote
    storage.  Measured a wash at local fixture scale; property-tested equal
    to ``"safe"``.
    """
    if mode == "auto":
        from ..functions.literal_parse import fast_path_gate

        gate = fast_path_gate(col)
        fast = df.filter(gate).withColumn(
            "__parsed", parse_events(col, mode="fast_unsafe")
        )
        slow = df.filter(~gate).withColumn(
            "__parsed", parse_events(col, mode="safe")
        )
        tagged = fast.unionByName(slow)
    else:
        tagged = df.withColumn("__parsed", parse_events(col, mode=mode))
    return (
        tagged.withColumn("__event", F.explode_outer("__parsed"))
        .drop(col, "__parsed")
    )


def flatten_event_struct(df: DataFrame, struct_col: str = "__event") -> DataFrame:
    """T6+T8+T9: struct field access replaces the reference's
    ``json_normalize`` + positional join (``postgres.py:188-190``).

    The nested Mongo ``{'$date': millis}`` becomes ``eventCreatedAt`` via
    ``timestamp_millis`` (T8); ``$date`` needs backtick escaping.  Rename to
    ``eventCreatedAt`` follows code over README (``postgres.py:141``).
    """
    ev = F.col(struct_col)
    return df.select(
        *[c for c in df.columns if c != struct_col],
        ev["trackingCode"].alias("trackingCode"),
        ev["status"].alias("status"),
        ev["description"].alias("description"),
        ev["trackerType"].alias("trackerType"),
        ev["from"].alias("from"),
        ev["to"].alias("to"),
        F.timestamp_millis(ev["createdAt"]["$date"]).alias("eventCreatedAt"),
    )


def cast_epoch_seconds(df: DataFrame, columns: list[str]) -> DataFrame:
    """T7: int64 epoch seconds → timestamp for each configured column present
    (the reference intersects with ``df.columns``, ``postgres.py:137``)."""
    out = df
    for c in set(columns) & set(df.columns):
        out = out.withColumn(c, F.timestamp_seconds(F.col(c).cast("long")))
    return out


def add_audit_columns(df: DataFrame) -> DataFrame:
    """T10: job-stable ``uploadDate`` (``current_timestamp()`` is fixed per
    query execution, so every row in a run agrees — unlike the reference's
    per-batch wall clock)."""
    if "uploadDate" in df.columns:
        return df
    return df.withColumn("uploadDate", F.current_timestamp())


def project(df: DataFrame, columns: list[str]) -> DataFrame:
    """T11: final projection; Catalyst prunes everything upstream of it."""
    return df.select(*[F.col(f"`{c}`") for c in columns])


def sentinels_to_null(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """T12: map pandas' string sentinels to real NULLs
    (reference ``postgres.py:152-153``).  With a typed schema these mostly
    never arise; kept for parity on string columns."""
    out = df
    targets = columns or [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    for c in targets:
        col: Column = F.col(f"`{c}`")
        out = out.withColumn(c, F.when(col.isin(SENTINELS), F.lit(None)).otherwise(col))
    return out


# ---------------------------------------------------------------------------
# Full chains (reference entry points A and B, SURVEY §3.1/§3.2)
# ---------------------------------------------------------------------------


def build_tracking(raw: DataFrame, *, keep_last: bool = True) -> DataFrame:
    """Raw CSV scan → ``tracking`` table (1 row per ``oid__id``).

    Chain: T3 → T7 → T10 → T11(+audit) → T12 → T13.  With ``keep_last``
    T13's ``distinct`` is skipped: after the keep-last dedup the frame
    holds one row per raw ``oid__id``, so the distinct could only merge
    rows whose keys T12 maps to NULL (``''``, ``'None'``, ``'NaN'``,
    ``'NaT'``) and that agree on every other column.  Those rows stay
    apart — one NULL-key row per raw sentinel key — and the plan saves
    a shuffle.
    """
    if keep_last:
        return _tracking_rows(dedup_keep_last(raw))
    return _tracking_rows(raw).distinct()


def _tracking_rows(deduped: DataFrame) -> DataFrame:
    """T7 → T10 → T11(+audit) → T12: row by row, so the result holds
    exactly one row per input row."""
    df = cast_epoch_seconds(deduped, TRACKING_DATETIME_COLUMNS)
    df = add_audit_columns(df)
    df = project(df, TRACKING_COLUMNS + AUDIT_COLUMNS)
    return sentinels_to_null(df, ["oid__id", "Op"])


def build_events(
    raw: DataFrame, *, keep_last: bool = True, parse_mode: str = "safe"
) -> DataFrame:
    """Raw CSV scan → ``events`` table (1 row per exploded event).

    Chain: T3 → T4 → T5 → T6/T8/T9 → T10 → T11(+audit) → T12 → T13.
    """
    return _event_rows(
        dedup_keep_last(raw) if keep_last else raw, parse_mode=parse_mode
    )


def _event_rows(deduped: DataFrame, *, parse_mode: str = "safe") -> DataFrame:
    """T4 → T5 → T6/T8/T9 → T10 → T11(+audit) → T12 → T13."""
    df = explode_events(deduped, mode=parse_mode)
    df = flatten_event_struct(df)
    df = add_audit_columns(df)
    df = project(df, EVENTS_COLUMNS + AUDIT_COLUMNS)
    df = sentinels_to_null(
        df, ["oid__id", "trackingCode", "status", "description", "trackerType", "from", "to"]
    )
    return df.distinct()
