"""Slowly-changing-dimension type-2 merge — CDC history tracking.

The keyed-overwrite sink (`sink.py`) is SCD type 1: latest row wins, history
lost.  This operator keeps it: every key change closes the current version
(``valid_to`` stamped, ``is_current`` false) and appends the new one.
Spark has no MERGE without Delta/Iceberg, so the merge is expressed as
joins + union over the history table (the anti-join+union+window emulation;
with Delta on the classpath this becomes one ``MERGE`` statement):

- unchanged current rows (key absent from batch, or attributes equal):
  pass through;
- changed rows: current version closed, new version opened;
- new keys: opened.

One shuffle on the key; history rewritten per merge (at scale: partition
the history by ``is_current`` / date so only the current slice rewrites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCD2_COLS = ["valid_from", "valid_to", "is_current"]


def scd2_init(batch: DataFrame, ts_col: str = "uploadDate") -> DataFrame:
    """First load: every row is an open version."""
    return (
        batch.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_merge(
    history: DataFrame,
    batch: DataFrame,
    key: str,
    compare_cols: list[str],
    ts_col: str = "uploadDate",
) -> DataFrame:
    """Merge a new batch into an SCD2 history table (see module doc).

    ``compare_cols`` define "changed"; NULL-safe equality (``eqNullSafe``)
    so NULL→value and value→NULL transitions are detected.
    """
    batch_cols = [c for c in batch.columns]
    b = batch.select(
        F.col(key).alias("__bk"), *[F.col(c).alias(f"__b_{c}") for c in batch_cols]
    )
    cur = history.filter(F.col("is_current"))
    closed = history.filter(~F.col("is_current"))

    joined = cur.join(b, cur[key] == b["__bk"], "left")
    changed_cond = F.col("__bk").isNotNull() & ~_all_equal(compare_cols)

    # current rows that stay open: no batch row, or batch row identical
    still_open = joined.filter(~changed_cond).select(*history.columns)
    # current rows whose key changed: close them at the batch timestamp
    newly_closed = (
        joined.filter(changed_cond)
        .select(
            *[F.col(c) for c in history.columns if c not in ("valid_to", "is_current")],
            F.col(f"__b_{ts_col}").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
        .select(*history.columns)
    )
    # batch rows that open a new version: new key, or changed attributes
    cur_k = cur.select(F.col(key).alias("__ck"), *[F.col(c).alias(f"__c_{c}") for c in compare_cols])
    b_joined = batch.join(cur_k, batch[key] == cur_k["__ck"], "left")
    opens_cond = F.col("__ck").isNull() | ~_all_equal_batchside(compare_cols)
    opened = (
        b_joined.filter(opens_cond)
        .select(*batch_cols)
        .withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .select(*history.columns)
    )
    return closed.unionByName(still_open).unionByName(newly_closed).unionByName(opened)


def _all_equal(compare_cols: list[str]):
    cond = F.lit(True)
    for c in compare_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__b_{c}"))
    return cond


def _all_equal_batchside(compare_cols: list[str]):
    cond = F.lit(True)
    for c in compare_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__c_{c}"))
    return cond


def scd2_from_changes(
    changes: DataFrame,
    key: str,
    seq_col: str,
    track_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """Build a full SCD2 history from a CDC change feed in ONE pass —
    the batch twin of replaying :func:`scd2_merge` change-by-change
    (DLT's ``APPLY CHANGES ... STORED AS SCD TYPE 2``).

    Each key's changes are ordered by ``seq_col``; a change opens a new
    version only when it actually changes state — the first change, any
    ``track_cols`` value differing from the previous surviving version
    (NULL-safe), or a live/deleted transition in either direction.
    Redundant changes (same tracked values again, delete-after-delete)
    are suppressed exactly as a sequential SCD2 replay would suppress
    them.  A delete closes the open version at its sequence point and
    emits no row of its own, so a key deleted last has NO current
    version.  Output: ``key, *track_cols, valid_from, valid_to,
    is_current`` — ``valid_to`` is the next surviving change's sequence
    (NULL while open).

    Adjacent-``lag`` comparison is equivalent to comparing against the
    previous SURVIVING version: a suppressed change is, by definition,
    state-identical to its predecessor, so the chain collapses
    inductively.  Duplicate ``(key, seq)`` pairs are rejected — the
    replay order would be ambiguous.

    100 TB shape: ONE shuffle (window partitioned by key, ordered by
    sequence) over the feed, everything else is narrow — no join against
    the history at all, because the history IS the output.  For
    incremental maintenance of an existing history, feed the new changes
    through :func:`scd2_merge` instead; the equivalence of the two paths
    is test-pinned (tests/test_cdc.py).
    """
    if (
        changes.groupBy(key, seq_col)
        .count()
        .filter("count > 1")
        .limit(1)
        .collect()
    ):
        raise ValueError(
            f"changes contain duplicate ({key}, {seq_col}) pairs: the "
            "replay order is ambiguous"
        )
    return _scd2_intervals(
        changes, key, seq_col, track_cols, op_col, delete_op
    )


def _scd2_intervals(
    changes: DataFrame,
    key: str,
    seq_col: str,
    track_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """:func:`scd2_from_changes` without its duplicate check, for a
    caller that has already proved ``(key, seq_col)`` unique (the
    maintained table, ``sink.apply_changes_scd2``)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(seq_col)
    cur_del = (
        F.col(op_col) == F.lit(delete_op) if op_col else F.lit(False)
    )
    df = changes.withColumn("__del", cur_del)
    prev_del = F.lag("__del").over(w)
    track_changed = F.lit(False)
    for c in track_cols:
        track_changed = track_changed | ~F.col(c).eqNullSafe(
            F.lag(c).over(w)
        )
    keep = (
        prev_del.isNull()  # first change of the key
        | (F.col("__del") != prev_del)  # live<->deleted transition
        | (~F.col("__del") & ~prev_del & track_changed)
    )
    kept = df.withColumn("__keep", keep).filter(F.col("__keep"))
    w2 = Window.partitionBy(key).orderBy(seq_col)
    valid_to = F.lead(seq_col).over(w2)
    return (
        kept.withColumn("valid_to", valid_to)
        .filter(~F.col("__del"))
        .select(
            key,
            *track_cols,
            F.col(seq_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
