"""Sinks — including the one piece Spark has no primitive for: the
reference's keyed delete+insert (idempotent replace-by-key) sink
(``dags/datahelper/postgres.py:18-38``, S9 in SURVEY §2.1).

Two implementations:

- **Parquet mirror** (local analytics store, used by the incremental
  pipeline and tests): the target is a *key-bucketed* table
  (``bucket = pmod(xxhash64(key), N)``) committed through a **manifest**.
  Data files are immutable, written once under unique per-commit
  directories (``data/<commit>/__bucket=N/part-*.parquet``); the single
  ``_manifest.json`` maps each bucket to its live files, and every reader
  resolves through it.  A merge touches only the buckets that appear in
  the incoming batch: read those buckets' live files (file-level pruning
  — stricter than directory partition pruning), anti-join away rows whose
  key appears in the batch, union the batch, write the rewritten buckets
  as new files, then **commit by atomically replacing the manifest**.
  Equivalent to ``MERGE WHEN MATCHED DELETE-ALL-THEN-INSERT`` — i.e. the
  child-set replace the reference needs post-explode (all old child rows
  of a key go away, not just matching ones).

  Why a manifest and not directory renames: on S3/GCS — the 100 TB
  reality — there is no atomic directory rename; "rename" is a
  copy+delete per object and a crash mid-way corrupts the target.  A
  single-object manifest swap IS atomic there (one PUT; on POSIX,
  ``os.replace``), so a crash at any point before the swap leaves readers
  on the old snapshot, and rerunning the same batch converges (idempotent
  under retry).  Concurrent writers are detected by an optimistic version
  check re-read immediately before the swap — the local-FS analog of a
  conditional PUT (If-Match) on object stores.  Untouched buckets' files
  are never opened or rewritten — an incremental batch touching k of N
  buckets costs O(table_size * k / N), not a full-table rewrite.
  Superseded files are removed by an explicit post-commit vacuum (with a
  retention window in a real deployment so in-flight readers finish).
  This is the no-dependency core of the Delta/Iceberg commit idea —
  and the table-format layers those add on top are here too: immutable
  per-version manifests (time travel, :func:`read_keyed_table`
  ``version=`` + :func:`table_history`), a manifest-derived change feed
  (:func:`table_changes`), additive schema evolution (``mergeSchema``
  reads; column drops rejected), bucket-count migration
  (:func:`rebucket_keyed_table`), file-level min/max data skipping
  (``stats_cols`` + ``where=``), value clustering to give the skip
  layer real granularity on hash-distributed keys
  (:func:`cluster_keyed_table`), and a **merge-on-read** write path for
  small/frequent batches (:func:`keyed_merge_mor`: O(batch) delta-file
  commits, reader-side precedence, :func:`compact_keyed_table` to fold —
  the Iceberg-MOR/Delta-DV idea; see the MOR section below).

  **Commit kernel.**  Every commit that writes data files goes through
  one private routine, :func:`_commit_files`: write the frame bucketed
  under a fresh ``data/<commit>`` directory, list what landed, build
  the next manifest from the base snapshot (stamp superseded files as
  retired, carry retirees that still exist, keep stats/blooms of
  surviving files and compute stats for new ones, record the schema),
  and publish it through :func:`_commit_optimistic`.  Each public path
  supplies only its row scope and one of three manifest edits:

  - *replace buckets* — a listed subset (:func:`keyed_overwrite_parquet`,
    :func:`compact_keyed_table`, :func:`optimize_keyed_table`) or every
    bucket (a table's first commit, :func:`rebucket_keyed_table`,
    :func:`widen_keyed_table`, :func:`purge_column_mapping`,
    :func:`cluster_keyed_table`, :func:`zorder_keyed_table`);
  - *add base files* — :func:`keyed_append`;
  - *add delta files* — :func:`keyed_merge_mor`,
    :func:`keyed_delete_where`, :func:`keyed_update_where`,
    :func:`merge_into`, :func:`apply_changes`.

  Conflict rules: the CoW merge and the append rebase over any commit
  that leaves their affected buckets, the bucket count and their txn
  watermark unchanged; delta commits rebase only over row-preserving
  commits (``_REBASE_SAFE_OPS``) that leave the buckets they write
  unchanged (the blind MOR upsert guards no bucket); the maintenance
  rewrites rebase over nothing — any intervening commit fails them.
- **JDBC (Postgres) stage-then-merge**: stage the batch with
  ``df.write.jdbc`` (parallel INSERT at COPY-like speed), then one
  driver-side transaction ``DELETE target USING stage; INSERT SELECT`` —
  the reference's own planned fix for its identified bottleneck
  (``README.md:324-326``: per-batch ``DELETE … IN (…)`` with thousands of
  parameters).  Requires a JDBC driver jar + reachable database, neither of
  which exists in this environment, so the connector raises a clear error
  at call time; the SQL it would run is generated by pure functions that
  ARE unit-tested and executed end-to-end against DuckDB as an in-process
  stand-in (tests/test_sink_pipeline.py).
"""

from __future__ import annotations

import os
import re
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .storage import LOCAL_STORE, ConcurrentWriteError  # noqa: F401  (re-export)

#: partition column holding the key-hash bucket; never exposed to readers
#: (read_keyed_table drops it).
BUCKET_COL = "__bucket"

#: internal MOR delete-marker column.  A delta row with this column TRUE
#: is a key-level tombstone: precedence resolution (``_resolve_dirty``)
#: filters the key's rows out and drops the column, so tombstones are
#: invisible to every reader and are folded away by compaction.  Only
#: delta files ever contain it — base files are always tombstone-free.
TOMBSTONE_COL = "__tombstone"

#: default bucket count.  Must stay fixed for the lifetime of a target
#: directory (recorded in _bucket_spec.json and validated on every merge).
DEFAULT_NUM_BUCKETS = 64

#: default retention for superseded files (seconds).  A reader that
#: resolved the manifest just before a merge still streams the OLD files
#: afterwards; deleting them immediately would fail that reader mid-scan.
#: One hour covers any sane scan; set 0 only where no concurrent readers
#: exist (tests, single-process pipelines).
DEFAULT_RETENTION_S = 3600.0

#: the single commit object: bucket -> live data files.  Replacing this
#: file IS the commit (atomic os.replace locally; single PUT on S3/GCS).
MANIFEST_NAME = "_manifest.json"


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def _bucket_expr(key: str, num_buckets: int):
    # xxhash64 is deterministic across sessions/executors/versions — the
    # same key always lands in the same bucket, which is what makes
    # bucket-pruned merging sound.
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(num_buckets)).cast("int")


def _spec_path(target: str) -> str:
    return os.path.join(target, "_bucket_spec.json")


def _load_or_check_spec(
    target: str, key: str, num_buckets: int | None, store=LOCAL_STORE
) -> int:
    """Validate the caller's layout against the target's pinned spec and
    return the effective bucket count.  ``num_buckets=None`` means "adopt
    the existing table's layout" (default count for a brand-new table) —
    what a table handle wants for every merge after the first."""
    spec = store.read_json(_spec_path(target))
    if spec is None:
        return DEFAULT_NUM_BUCKETS if num_buckets is None else num_buckets
    if num_buckets is None:
        num_buckets = spec["num_buckets"]
    if spec["num_buckets"] != num_buckets or spec["key"] != key:
        raise ValueError(
            f"target {target} was bucketed with {spec}, "
            f"got key={key!r} num_buckets={num_buckets}; the bucket "
            "layout must stay fixed for a target's lifetime"
        )
    return num_buckets


def _write_spec(target: str, key: str, num_buckets: int, store=LOCAL_STORE) -> None:
    store.write_json(
        _spec_path(target),
        {"key": key, "num_buckets": num_buckets, "bucket_col": BUCKET_COL},
    )


class ConstraintViolation(ValueError):
    """A merge batch (or the existing table, when adding a constraint)
    contains rows for which a CHECK predicate is not TRUE."""


def _constraints_path(target: str) -> str:
    return os.path.join(target, "_constraints.json")


def _violations(df: DataFrame, predicate: str):
    """First row (if any) where ``predicate`` is FALSE or NULL — the
    Delta CHECK semantic: a constraint must evaluate to TRUE, so a NULL
    result is a violation, not a pass."""
    return (
        df.filter(~F.expr(predicate).eqNullSafe(F.lit(True))).limit(1).collect()
    )


def add_table_constraint(
    spark: SparkSession,
    target: str,
    name: str,
    predicate: str,
    store=LOCAL_STORE,
) -> None:
    """Record a CHECK constraint (a SQL boolean expression over the
    table's columns), enforced on every subsequent merge — CoW and MOR.

    The EXISTING rows are validated first (one scan); a table that
    already violates the predicate rejects the constraint rather than
    recording a lie.  Constraints live in ``_constraints.json`` beside
    the spec, so they survive rebucket/cluster/compaction untouched."""
    # constraints bind to PHYSICAL column names at enforcement time; on
    # a renamed/dropped table a new predicate's names would be
    # ambiguous between eras — fail closed until a purge
    _require_unmapped(_load_manifest(target, store), "add_table_constraint")
    bad = _violations(read_keyed_table(spark, target, store), predicate)
    if bad:
        raise ConstraintViolation(
            f"cannot add constraint {name!r}: existing row violates "
            f"{predicate!r}: {bad[0].asDict()}"
        )
    cons = store.read_json(_constraints_path(target)) or {}
    cons[name] = predicate
    store.write_json(_constraints_path(target), cons)


def drop_table_constraint(target: str, name: str, store=LOCAL_STORE) -> None:
    cons = store.read_json(_constraints_path(target)) or {}
    cons.pop(name, None)
    store.write_json(_constraints_path(target), cons)


def table_constraints(target: str, store=LOCAL_STORE) -> dict[str, str]:
    return store.read_json(_constraints_path(target)) or {}


def _enforce_constraints(batch: DataFrame, target: str, store) -> None:
    """Reject the whole batch on the first violating row — BEFORE any
    file is written, so a rejected merge leaves no commit dir and no
    version bump (test-pinned).  Cost: one scan of the (small) batch per
    constraint; cache the batch upstream if that matters."""
    for name, pred in table_constraints(target, store).items():
        bad = _violations(batch, pred)
        if bad:
            raise ConstraintViolation(
                f"merge rejected: constraint {name!r} ({pred}) violated "
                f"by e.g. {bad[0].asDict()}"
            )


#: lossless widening lattice (Spark simpleString names): a batch column
#: of type T may be implicitly upcast to a table column of any type in
#: _WIDENS_TO[T].  Deliberately small — only conversions where every
#: value of the narrow type is exactly representable in the wide one.
_WIDENS_TO: dict[str, set[str]] = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def _align_batch_types(batch: DataFrame, current_schema, key: str) -> DataFrame:
    """Reconcile a batch's schema with the table's before any file lands.

    Three outcomes per shared column: identical type → pass through;
    batch type losslessly widenable to the table's (int→bigint,
    float→double) → implicit upcast, so a writer whose literals inferred
    narrow doesn't corrupt the parquet footer lattice (Spark's
    mergeSchema read FAILS on int-vs-bigint — without this guard the
    drift surfaces as a cryptic merge error at read time, long after the
    bad file landed); anything else → a ValueError naming the column and
    both types NOW.  A batch WIDER than the table points at
    :func:`widen_keyed_table` (table-side rewrite) instead of silently
    down-casting.  The key column aligns batch→table like any other —
    the cast happens before ``_bucket_expr``, so hashing stays on the
    table's type (xxhash64 of int and bigint differ; hashing the
    unaligned type would route keys to wrong buckets).  Missing columns
    raise (the CoW path's data-loss guard, now checked against the FULL
    live schema, not just the affected buckets')."""
    cur = {
        f.name: f.dataType
        for f in current_schema.fields
        if f.name not in (BUCKET_COL, TOMBSTONE_COL)
    }
    missing = set(cur) - set(batch.columns)
    if missing:
        raise ValueError(
            f"batch is missing existing column(s) {sorted(missing)}; "
            "keyed merges may add columns, never drop them (write "
            "explicit NULLs if that is really intended)"
        )
    casts = {}
    for f in batch.schema.fields:
        t_table = cur.get(f.name)
        if t_table is None or f.dataType == t_table:
            continue
        bs, ts = f.dataType.simpleString(), t_table.simpleString()
        if bs == ts:
            # same type up to NULLABILITY METADATA (e.g. collect_list
            # yields array<bigint> containsNull=false, a parquet
            # round-trip reads containsNull=true) — align to the
            # table's flavor; the cast is metadata-only
            casts[f.name] = t_table
        elif ts in _WIDENS_TO.get(bs, ()):  # batch narrower: upcast
            casts[f.name] = t_table
        elif bs in _WIDENS_TO.get(ts, ()):  # batch wider: table must move
            raise ValueError(
                f"column {f.name!r} is {bs} in the batch but {ts} in the "
                f"table; widen the table first: widen_keyed_table(spark, "
                f"target, {{{f.name!r}: {bs!r}}})"
            )
        else:
            raise ValueError(
                f"column {f.name!r} type mismatch: batch {bs} vs table "
                f"{ts} (no lossless conversion)"
            )
    if not casts:
        return batch
    return batch.select(
        *[
            F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
            for c in batch.columns
        ]
    )


def _manifest_path(target: str) -> str:
    return os.path.join(target, MANIFEST_NAME)


def _load_manifest(target: str, store=LOCAL_STORE) -> dict | None:
    """Current committed snapshot, or None if the target doesn't exist yet.

    The manifest object is read through the storage seam
    (:mod:`.storage`); the legacy-layout adoption below is a local-FS
    migration path only (a pre-manifest layout can't exist on a store
    that was never written without manifests).

    A pre-manifest layout (bucket directories at the target root, written
    by an older version of this sink) is adopted in place: its files are
    synthesized into a version-0 manifest so the first merge commits them
    properly — no data rewrite needed to migrate.
    """
    manifest = store.read_json(_manifest_path(target))
    if manifest is not None:
        return manifest
    # adoption listing goes through the seam too (store.list_dir returns
    # [] for a missing prefix, so no existence probe is needed): a
    # non-local store CAN hold a pre-manifest layout if an older writer
    # crashed between data write and initial commit.
    buckets: dict[str, list[str]] = {}
    for d in store.list_dir(target):
        if d.startswith(f"{BUCKET_COL}="):
            files = sorted(
                os.path.join(d, f)
                for f in store.list_dir(os.path.join(target, d))
                if f.endswith(".parquet")
            )
            if files:
                buckets[d.split("=", 1)[1]] = files
    if buckets:
        return {"version": 0, "buckets": buckets}
    return None


def _version_manifest_path(target: str, version: int) -> str:
    return os.path.join(target, f"_manifest.v{version}.json")


# ---------------------------------------------------------------------------
# Column mapping — metadata-only RENAME/DROP COLUMN (Delta's column-
# mapping "name mode" / Iceberg's field-id indirection, by physical
# name).  Files always store PHYSICAL column names, fixed at first
# write; the manifest carries ``column_mapping`` ({logical: physical},
# only renamed columns listed) and ``dropped_columns`` ([physical,
# ...]).  A rename or drop is ONE manifest CAS — zero data moves, which
# at 100 TB is the entire point (a rewrite-rename of a wide fact table
# is a full-table job).
#
# Boundary discipline: everything INSIDE the sink operates on physical
# names (merge rewrites, deltas, compaction, z-order, stats, blooms);
# translation happens at the user boundary — reads
# (:func:`read_keyed_table`, :func:`lookup_keys`) alias physical →
# logical and hide dropped physicals, writes (merge/append/MOR entry
# points) alias the incoming LOGICAL batch → physical before anything
# hashes or writes, and predicate DML evaluates its SQL on a logical
# view of the rows.  Time travel is version-exact: each snapshot
# manifest carries the mapping it was committed under, so reading
# ``version=N`` shows N's column names; RESTORE restores the old
# names (Delta restore-schema semantics).
#
# Operations that re-interpret BOTH table and user SQL/frames mid-merge
# (merge_into, apply_changes, apply_changes_scd2) are GATED on mapped
# tables — they raise, pointing at :func:`purge_column_mapping`, the
# one-rewrite escape hatch that physicalizes logical names and actually
# deletes dropped columns' bytes.  Fail-closed beats silently matching
# the wrong era's names.
# ---------------------------------------------------------------------------


def _mapping_of(manifest: dict | None) -> tuple[dict, list]:
    """(column_mapping, dropped_columns) of a snapshot — ({}, []) when
    the table has never been renamed/dropped."""
    if not manifest:
        return {}, []
    return (
        manifest.get("column_mapping") or {},
        manifest.get("dropped_columns") or [],
    )


def _to_logical_df(df: DataFrame, mapping: dict, dropped: list) -> DataFrame:
    """Physical frame → logical: hide dropped physicals, alias renamed
    ones.  One simultaneous select — sequential withColumnRenamed could
    collide when a freed name was reused."""
    if not mapping and not dropped:
        return df
    reverse = {p: l for l, p in mapping.items()}
    gone = set(dropped)
    return df.select(
        *[
            F.col(c).alias(reverse.get(c, c))
            for c in df.columns
            if c not in gone
        ]
    )


def _to_physical_df(df: DataFrame, mapping: dict) -> DataFrame:
    """Logical frame → physical (columns not in the mapping pass
    through — internal columns like the bucket id included)."""
    if not mapping:
        return df
    return df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])


def _phys_name(col: str, mapping: dict) -> str:
    return mapping.get(col, col)


def _translate_batch(batch: DataFrame, manifest: dict | None) -> DataFrame:
    """Entry-point translation for incoming user batches: reject
    resurrection of dropped names, alias logical → physical."""
    mapping, dropped = _mapping_of(manifest)
    if not mapping and not dropped:
        return batch
    gone = set(dropped)
    # a batch column equal to a dropped PHYSICAL would silently merge
    # into the tombstoned column inside old files (mergeSchema unions
    # physical schemas) — resurrection, rejected loudly
    bad = sorted({c for c in batch.columns if c in gone})
    if bad:
        raise ValueError(
            f"batch column(s) {bad} were dropped from this table; run "
            "purge_column_mapping before re-adding a column by that name"
        )
    # a batch still using a PRE-rename name would pass the alignment
    # guard (the physical column exists!) and silently land its data
    # under the renamed column — reject stale-name writers instead.
    # (A name that is some column's physical AND another's logical —
    # freed-name reuse — is a legitimate logical name and passes.)
    phys_taken = {p for l, p in mapping.items() if l != p}
    stale = sorted(
        {c for c in batch.columns if c in phys_taken and c not in mapping}
    )
    if stale:
        raise ValueError(
            f"batch column(s) {stale} use pre-rename physical names; "
            "write the current logical names (see describe_keyed_table"
            "()['column_mapping'])"
        )
    return _to_physical_df(batch, mapping)


def _strip_dropped_fields(schema, manifest: dict | None):
    """Remove DROPPED physical columns from a live-files schema before
    batch alignment: a dropped column is legitimately absent from every
    future batch, so the missing-column data-loss guard must not count
    it (old files still carry the bytes until a purge)."""
    _, dropped = _mapping_of(manifest)
    if not dropped:
        return schema
    from pyspark.sql.types import StructType

    gone = set(dropped)
    return StructType([f for f in schema.fields if f.name not in gone])


def _require_unmapped(manifest: dict | None, op: str) -> None:
    """Gate for operations not column-mapping-aware: fail closed."""
    mapping, dropped = _mapping_of(manifest)
    if mapping or dropped:
        raise ValueError(
            f"{op} is not supported on a table with renamed/dropped "
            "columns; run purge_column_mapping(spark, target) first "
            "(one rewrite that physicalizes the logical names)"
        )


# The user-level operation name for DESCRIBE HISTORY: set by the
# OUTERMOST @_records_op public entry point (so apply_changes_scd2's
# internal merge commits record "apply_changes_scd2", not "merge" —
# the Delta history convention).  Single-writer-per-table model, same
# as the commit protocol itself.
_CURRENT_OP: list[str] = []


def _records_op(name: str):
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(*a, **kw):
            _CURRENT_OP.append(name)
            try:
                return fn(*a, **kw)
            finally:
                _CURRENT_OP.pop()

        return wrapped

    return deco


def _footer_num_rows(path: str, store=LOCAL_STORE) -> int | None:
    """Row count from one parquet footer — module-level so it pickles
    by reference into the distributed leg.  The open goes through the
    storage seam (``store.open_input``): locally that's the path itself
    (pyarrow mmap fast path), on an object store a ranged-GET reader —
    the commit path performs no direct os-path parquet opens.  A file
    whose footer can't be read yields None; table_stats reports
    row_count=None rather than guessing."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(store.open_input(path)).metadata.num_rows
    except Exception:
        return None


def _num_rows_serial(
    target: str, rels: list[str], store=LOCAL_STORE
) -> dict[str, int]:
    out = {}
    for rel in rels:
        n = _footer_num_rows(os.path.join(target, rel), store)
        if n is not None:
            out[rel] = n
    return out


def _fill_row_counts(
    target: str, missing: list[str], store=LOCAL_STORE
) -> dict[str, int]:
    """Per-file row counts for the metadata-only COUNT(*) index — the
    second commit-path footer loop (after ``_file_stats``), given the
    same two legs: serial on the driver below
    ``_STATS_DISTRIBUTED_MIN_FILES``, an executor-side map above it, so
    adopting/committing thousands of files never serializes footer
    round-trips on the driver.  Uses the active session (commits always
    run inside one); falls back to the serial loop without one.

    Consumes ``_NUM_ROWS_HINT`` first: any file whose footer the stats
    pass already decoded this commit costs ZERO additional I/O here —
    with tracked stats columns the whole fill is usually hint-served."""
    if not missing:
        return {}
    out: dict[str, int] = {}
    rest: list[str] = []
    for rel in missing:
        hint = _NUM_ROWS_HINT.pop(os.path.join(target, rel), None)
        if hint is not None:
            out[rel] = hint
        else:
            rest.append(rel)
    missing = rest
    if not missing:
        return out
    spark = SparkSession.getActiveSession()
    if spark is None or len(missing) < _STATS_DISTRIBUTED_MIN_FILES:
        out.update(_num_rows_serial(target, missing, store))
        return out
    sc = spark.sparkContext
    n_slices = max(1, min(len(missing), sc.defaultParallelism))
    pairs = (
        sc.parallelize(missing, n_slices)
        .map(
            lambda rel: (
                rel,
                _footer_num_rows(os.path.join(target, rel), store),
            )
        )
        .collect()
    )
    out.update({rel: n for rel, n in pairs if n is not None})
    return out


def _commit_manifest(
    target: str, manifest: dict, expected_version: int | None, store=LOCAL_STORE
) -> None:
    """THE commit: replace ``_manifest.json`` iff it still holds
    ``expected_version`` (None = initial commit).  The atomic
    compare-and-swap itself lives behind the storage seam — ``os.replace``
    locally, a conditional PUT on an object store; a failed check raises
    :class:`ConcurrentWriteError` and this merge's data files become
    orphans the next vacuum collects.

    After a successful CAS an immutable per-version copy
    (``_manifest.v{N}.json``) lands too — the time-travel index
    (:func:`read_keyed_table` ``version=``).  Written strictly AFTER the
    CAS, so a losing writer never publishes a version file; the CAS
    serializes versions, so no two writers ever claim the same N.  A
    crash between CAS and copy loses only that version's time-travel
    entry, never current-state correctness."""
    # record the layout under which this version was written (absent on
    # pre-existing tables): restore_keyed_table refuses to resurrect a
    # snapshot across a re-bucketing, whose bucket ids would prune wrong
    # under the current spec.  Callers that change the layout (rebucket)
    # set the field explicitly; setdefault never overrides them.
    spec = store.read_json(_spec_path(target))
    if spec is not None:
        manifest.setdefault("num_buckets", spec["num_buckets"])
    # carry writer-transaction watermarks (Delta's `txn` action) across
    # commits that don't touch them: an idempotent writer's "batch N
    # already applied" fact must survive unrelated merges, compactions,
    # optimizes and restores.  Writers that SET one (keyed_append with
    # txn_app=) pass the merged dict explicitly; clone resets it to {}
    # explicitly (a clone is a new table to every streaming writer).
    carry_txns = "txns" not in manifest
    carry_map = (
        "column_mapping" not in manifest and "dropped_columns" not in manifest
    )
    # drift policy (set_drift_policy) rides the same carry: the armed
    # circuit breaker survives every ordinary commit, compaction and
    # restore; rename_column rewrites it explicitly, set_drift_policy
    # sets/clears it explicitly (None clears — key present beats carry).
    # The ambient IVF-health policy (set_ivf_policy, r10) rides
    # identically.
    carry_policy = "drift_policy" not in manifest
    carry_ivf = "ivf_policy" not in manifest
    carry_mh = "minhash_policy" not in manifest
    if carry_txns or carry_map or carry_policy or carry_ivf or carry_mh:
        cur = store.read_json(_manifest_path(target))
        if cur:
            if carry_txns and cur.get("txns"):
                manifest["txns"] = cur["txns"]
            if carry_policy and cur.get("drift_policy"):
                manifest["drift_policy"] = cur["drift_policy"]
            if carry_ivf and cur.get("ivf_policy"):
                manifest["ivf_policy"] = cur["ivf_policy"]
            if carry_mh and cur.get("minhash_policy"):
                manifest["minhash_policy"] = cur["minhash_policy"]
            # carry the column mapping (rename/drop metadata) the same
            # way as txns: every ordinary commit inherits the tip's
            # mapping unchanged.  Callers that SET or must pin it write
            # the keys explicitly — rename/drop/purge write the new
            # state; restore pins the restored snapshot's (possibly
            # empty) mapping so a pre-rename snapshot restores its old
            # names instead of inheriting the tip's; clone copies the
            # source's.
            if carry_map:
                if cur.get("column_mapping"):
                    manifest["column_mapping"] = cur["column_mapping"]
                if cur.get("dropped_columns"):
                    manifest["dropped_columns"] = cur["dropped_columns"]
    # commit wall-clock — the TIMESTAMP AS OF index (resolve_as_of).
    # Unconditionally overwritten: restore/clone re-commit an OLD
    # snapshot dict forward, and their committed_at must say when the
    # re-point happened, not when the resurrected data was first written.
    # Same rule for the operation stamp (outermost @_records_op wins).
    manifest["committed_at"] = time.time()
    manifest["operation"] = _CURRENT_OP[0] if _CURRENT_OP else "commit"
    # per-file row counts — the metadata-only COUNT(*) index
    # (table_stats): carry entries for surviving files, footer-fill the
    # commit's new ones (parquet metadata, no data scan — same
    # local-path leg as _file_stats, same caveat documented there).  A
    # file whose footer can't be read simply gets no entry; table_stats
    # reports row_count=None rather than guessing.
    live = {f for files in manifest.get("buckets", {}).values() for f in files}
    live.update(_delta_files_of(manifest))
    rows = {f: n for f, n in (manifest.get("rows") or {}).items() if f in live}
    missing = sorted(live - set(rows))
    rows.update(_fill_row_counts(target, missing, store))
    manifest["rows"] = rows
    store.replace_if_version(_manifest_path(target), manifest, expected_version)
    store.write_json(_version_manifest_path(target, manifest["version"]), manifest)


#: CAS retry budget for optimistic rebase — Delta-style conflict
#: resolution.  Each retry re-reads the manifest once; a table hot
#: enough to exhaust this needs a queue in front of it, not more spins.
OPTIMISTIC_RETRIES = 3


def _commit_optimistic(
    target: str,
    base_manifest: dict,
    build,
    conflicts_with,
    store,
) -> dict:
    """Commit with Delta-style OPTIMISTIC CONCURRENCY: try the CAS
    against ``base_manifest``; if a concurrent writer won, re-read the
    manifest, ask ``conflicts_with(current)`` whether the two commits
    actually touched the same state, and — when they are disjoint —
    REBASE: rebuild this commit's manifest on top of the winner's via
    ``build(current)`` and retry.  The commit's DATA files are reused
    verbatim across retries (they were written before any CAS attempt
    and reference only this commit's buckets), so a rebase costs one
    manifest read + one CAS, never a data rewrite.

    ``build(base) -> manifest dict`` must be a pure function of the
    base snapshot.  ``conflicts_with(snapshot) -> str | None`` returns a
    human-readable reason when rebasing over ``snapshot`` would be
    unsound (same bucket rewritten, layout changed, ...).

    The conflict check runs against EVERY commit that landed between
    this writer's base and the winner — the per-version manifests
    ``_manifest.v{base+1..current}.json`` — not just the latest, the
    same way Delta's protocol validates each intervening commit.
    Checking only the tip is a silent-corruption hole: a rebase-unsafe
    op (widen re-types columns and re-routes buckets) at v+1 followed
    by a rebase-safe merge at v+2 would look safe from v+2 alone, and
    the rebased commit would layer files with stale types/old bucket
    routing over the widened table (r7 advisor finding).  A vacuumed or
    crash-lost intermediate version manifest means the safety of that
    commit can't be proven — hard conflict, never a guess.

    This is what lets N loaders share one 100 TB table: writers landing
    in different buckets serialize through the manifest without ever
    failing each other; only true same-bucket contention (or a layout
    change) surfaces as :class:`ConcurrentWriteError`.

    Returns the manifest that finally committed.
    """
    base = base_manifest
    for attempt in range(OPTIMISTIC_RETRIES + 1):
        manifest = build(base)
        try:
            # a base without a version is the empty table: initial commit
            _commit_manifest(
                target, manifest, expected_version=base.get("version"),
                store=store,
            )
            return manifest
        except ConcurrentWriteError:
            if attempt == OPTIMISTIC_RETRIES:
                raise
            current = _load_manifest(target, store)
            if (
                current is None
                or "version" not in base
                or current["version"] <= base["version"]
            ):
                raise  # manifest went backwards/away: not a rebase case
            for v in range(base["version"] + 1, current["version"] + 1):
                inter = (
                    current
                    if v == current["version"]
                    else store.read_json(_version_manifest_path(target, v))
                )
                if inter is None:
                    raise ConcurrentWriteError(
                        f"concurrent commit v{v} on {target} has no "
                        "version manifest (vacuumed or crash-lost) — "
                        "cannot prove it was rebase-safe"
                    )
                reason = conflicts_with(inter)
                if reason:
                    raise ConcurrentWriteError(
                        f"true write conflict on {target} at v{v}: {reason}"
                    )
            base = current
    raise AssertionError("unreachable")


#: operations a MOR delta append may rebase over: they preserve the
#: bucket layout and row types, so layering a higher-seq delta on top
#: is exactly "this writer committed second".  rebucket/widen/restore
#: change layout or types out from under already-written delta files —
#: those stay hard conflicts.
_REBASE_SAFE_OPS = {
    "merge",
    "merge_mor",
    "merge_into",
    "append",
    "delete_where",
    "update_where",
    "compact",
    "optimize",
    "vacuum",
    "adopt_foreign",
    "apply_changes",
    # metadata-only, data-preserving: arming/disarming the drift or
    # ambient-IVF policy never invalidates a concurrent writer's files
    # or bucket layout
    "set_drift_policy",
    "set_ivf_policy",
    "set_minhash_policy",
    "commit",
}


def _footer_stats_one(
    path: str, wanted: frozenset, store=LOCAL_STORE
) -> tuple[dict, int]:
    """Footer decode for ONE parquet file — the shared body of both
    stats legs (serial driver loop and executor-side map), so the two
    are byte-identical by construction.  Module-level and
    self-importing so it pickles by reference into RDD tasks.

    The open goes through the storage seam (``store.open_input`` —
    r10, VERDICT r9 task 1): the local store returns the path itself
    (pyarrow's mmap fast path), an object store returns a seekable
    reader so footer decodes are ranged GETs.  With this the commit
    path performs ZERO direct os-path parquet opens in EITHER leg —
    the store pickles into the RDD map alongside this function.

    Returns ``(per_col_stats, num_rows)``: the footer is opened ONCE
    per file per commit — the row count rides along into
    ``_NUM_ROWS_HINT`` so ``_commit_manifest``'s row-count fill never
    re-opens a footer the stats pass already decoded (r9 review
    finding: the double open doubled commit footer I/O and, above the
    crossover, launched a second Spark job)."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(store.open_input(path)).metadata
    names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    per_col: dict[str, list] = {}
    for col in wanted & set(names):
        lo = hi = None
        ok_range = True
        nulls = rows_total = 0
        have_nulls = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(names[col]).statistics
            if st is not None and st.has_null_count:
                nulls += st.null_count
                rows_total += meta.row_group(rg).num_rows
            else:
                have_nulls = False
            if st is None or not st.has_min_max:
                # an ALL-NULL chunk legitimately has no min/max —
                # range pruning is off, null accounting continues
                ok_range = False
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    ok_range = False
                    continue
            if not isinstance(mn, (int, float, str, bool)):
                ok_range = False
                continue
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        have_range = ok_range and lo is not None
        # entry forms: [lo, hi] (range only — older manifests read
        # the same way), [lo, hi, null_count, row_count] (range +
        # IS [NOT] NULL skipping), [None, None, n, r] (all-null or
        # exotic-typed column: null skipping only).  Absent entry =
        # must-read, as ever.
        if have_range and have_nulls:
            per_col[col] = [lo, hi, nulls, rows_total]
        elif have_range:
            per_col[col] = [lo, hi]
        elif have_nulls and rows_total:
            per_col[col] = [None, None, nulls, rows_total]
    return per_col, meta.num_rows


#: row counts the stats pass already decoded this process, keyed by
#: absolute file path — consumed (popped) by _fill_row_counts so the
#: commit's footer I/O is one open per file, not two.  Safe as a plain
#: module dict: data files are uuid-named and never rewritten in place,
#: and entries are removed on use.  Entries can linger only when a
#: commit dies between its stats pass and its manifest fill — bounded
#: by a hard cap so a crash-looping writer can't grow it unboundedly.
_NUM_ROWS_HINT: dict[str, int] = {}
_NUM_ROWS_HINT_CAP = 100_000


def _hint_num_rows(path: str, n_rows: int) -> None:
    if len(_NUM_ROWS_HINT) >= _NUM_ROWS_HINT_CAP:
        # evict the OLDEST half (dict preserves insertion order), never
        # the whole dict: a single >cap-file commit inserts its hints
        # last, so its own in-flight entries survive to the manifest
        # fill instead of being wiped mid-stats-pass and re-doubling
        # footer I/O for exactly the commits the hint targets (r9
        # advisor finding)
        for k in list(_NUM_ROWS_HINT)[: _NUM_ROWS_HINT_CAP // 2]:
            del _NUM_ROWS_HINT[k]
    _NUM_ROWS_HINT[path] = n_rows


#: File-count crossover between the serial driver footer loop and the
#: executor-side map.  Measured locally (SCALE.md, r9): one local-disk
#: footer decode is ~80 µs (512 files = 41 ms serial) while the RDD map
#: costs a flat ~230 ms of job overhead — the same economics that made
#: the r8 driver-side thread pool 4-8× WORSE — so on LOCAL paths the
#: loop wins to ~3,000 files.  The default of 256 instead caps the
#: driver's serial stats work at ~20 ms: commits of 256+ files have
#: multi-second write jobs, so the ≤0.2 s job overhead is noise there,
#: and the cap is what protects the failure mode this leg exists for —
#: an object-store deployment where footer opens are ms-class round
#: trips and a thousands-of-files commit would serialize into MINUTES
#: on the driver (such a deployment lowers the env to ~16, its own
#: crossover).  Tests force either leg by monkeypatching the constant.
_STATS_DISTRIBUTED_MIN_FILES = int(
    os.environ.get("SPARK_GRAFT_STATS_DISTRIBUTED_MIN_FILES", "256")
)


def _file_stats_serial(
    target: str, rel_paths: list[str], stats_cols: list[str], store=LOCAL_STORE
) -> dict[str, dict[str, list]]:
    wanted = frozenset(stats_cols)
    out: dict[str, dict[str, list]] = {}
    for rel in rel_paths:
        path = os.path.join(target, rel)
        per_col, n_rows = _footer_stats_one(path, wanted, store)
        _hint_num_rows(path, n_rows)
        if per_col:
            out[rel] = per_col
    return out


def _file_stats_distributed(
    spark: SparkSession,
    target: str,
    rel_paths: list[str],
    stats_cols: list[str],
    store=LOCAL_STORE,
) -> dict[str, dict[str, list]]:
    """Executor-side stats collection: fan the per-file footer decode
    out as one RDD map (a rare legitimate RDD — per-file imperative
    metadata work, no row data moves) and collect only the tiny
    (rel_path, per_col) pairs.  Commit latency becomes
    O(files / parallelism) instead of a serial driver loop — the
    object-store fix VERDICT r8 prescribed after measuring that
    driver-side parallelism (thread pool) was the wrong tool."""
    sc = spark.sparkContext
    wanted = frozenset(stats_cols)
    n_slices = max(1, min(len(rel_paths), sc.defaultParallelism))
    pairs = (
        sc.parallelize(sorted(rel_paths), n_slices)
        .map(
            lambda rel: (
                rel,
                _footer_stats_one(os.path.join(target, rel), wanted, store),
            )
        )
        .collect()
    )
    # the hint dict lives on the DRIVER; workers return num_rows in the
    # map result (a worker-side dict write would be invisible here)
    for rel, (_per_col, n_rows) in pairs:
        _hint_num_rows(os.path.join(target, rel), n_rows)
    return {rel: per_col for rel, (per_col, _n) in pairs if per_col}


def _file_stats(
    target: str,
    rel_paths: list[str],
    stats_cols: list[str],
    spark: SparkSession | None = None,
    store=LOCAL_STORE,
) -> dict[str, dict[str, list]]:
    """Per-file min/max for ``stats_cols``, read from the parquet FOOTERS
    (already written by Spark's writer — no data scan).  This is the
    Delta/Iceberg data-skipping layer: the manifest carries the stats,
    and :func:`read_keyed_table` ``where=`` prunes files whose range
    can't match before Spark ever opens them.  Only JSON-stable scalar
    types (int/float/str/bool) are recorded; a column whose footer stat
    is absent or exotic simply yields no entry — readers treat a missing
    stat as "might match" (pruning is an optimization, never allowed to
    change results).

    Two legs, same decode (:func:`_footer_stats_one`): a serial driver
    loop below ``_STATS_DISTRIBUTED_MIN_FILES`` (a handful of local
    footer reads is far cheaper than a Spark job's fixed overhead) and
    an executor-side RDD map above it, so a thousands-of-files commit
    never serializes footer round-trips on the driver.  Footer opens go
    through the storage seam in BOTH legs (r10):
    ``pq.ParquetFile(store.open_input(...))`` inside the one shared
    helper — the local store's ``open_input`` returns the path itself
    (pyarrow mmap fast path, zero overhead), an object store returns a
    ranged-GET reader; the store pickles into the RDD tasks.  The
    manifest format is identical either way, so nothing downstream
    changes."""
    if (
        spark is not None
        and len(rel_paths) >= _STATS_DISTRIBUTED_MIN_FILES
    ):
        return _file_stats_distributed(
            spark, target, rel_paths, stats_cols, store
        )
    return _file_stats_serial(target, rel_paths, stats_cols, store)


def _carry_blooms(manifest: dict, live: set[str]) -> dict:
    """Bloom entries for files that survive this commit — same carry
    rule as stats (bloom.add_bloom_index builds them; merges must not
    silently drop the index for untouched files)."""
    return {
        f: v for f, v in manifest.get("blooms", {}).items() if f in live
    }


def _stats_cols_of(manifest: dict) -> list[str]:
    """Columns this table has been keeping stats for (union across files)."""
    cols: set[str] = set()
    for per_col in manifest.get("stats", {}).values():
        cols.update(per_col)
    return sorted(cols)


def _list_commit_buckets(
    target: str, commit_rel: str, store=LOCAL_STORE
) -> dict[str, list[str]]:
    """{bucket: [target-relative parquet paths]} written by one commit.

    Listed through the storage seam — Spark's parquet writer just wrote
    these files through its Hadoop filesystem, and on a non-local
    ``ManifestStore`` the commit protocol must see them via the store's
    prefix listing, not the driver's local ``os.listdir`` (VERDICT r6
    residual 3)."""
    out: dict[str, list[str]] = {}
    commit_dir = os.path.join(target, commit_rel)
    for d in store.list_dir(commit_dir):
        if d.startswith(f"{BUCKET_COL}="):
            files = sorted(
                os.path.join(commit_rel, d, f)
                for f in store.list_dir(os.path.join(commit_dir, d))
                if f.endswith(".parquet")
            )
            if files:
                out[d.split("=", 1)[1]] = files
    return out


def _open_table(target: str, store=LOCAL_STORE) -> tuple[dict, str, int]:
    """``(manifest, key, num_buckets)`` of a committed keyed table — the
    preamble of every operation that needs an existing table."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    spec = store.read_json(_spec_path(target))
    if spec is None:
        raise ValueError(f"{target} has a manifest but no bucket spec")
    return manifest, spec["key"], spec["num_buckets"]


def _open_or_bootstrap(target, key, num_buckets, store, op: str):
    """:func:`_open_table` for the CDC entry points, which may create the
    table: with no table yet, ``(None, key, num_buckets)`` as passed —
    ``key`` is then required to bootstrap from the batch."""
    try:
        manifest, key, num_buckets = _open_table(target, store)
    except FileNotFoundError:
        if key is None:
            raise ValueError(
                f"no table at {target}: pass key= (and num_buckets=) to "
                "bootstrap from this batch"
            ) from None
        return None, key, num_buckets
    # re-interprets user SQL/frames against the table mid-merge — not
    # column-mapping-aware
    _require_unmapped(manifest, op)
    return manifest, key, num_buckets


def _txn_of(txn_app: str | None, txn_seq: int | None) -> tuple | None:
    """The writer-transaction watermark a write records (Delta's ``txn``
    action), or None."""
    if (txn_app is None) != (txn_seq is None):
        raise ValueError("txn_app and txn_seq must be passed together")
    return None if txn_app is None else (txn_app, int(txn_seq))


def _txn_applied(manifest: dict | None, txn: tuple | None) -> bool:
    """Whether ``manifest`` already records this writer at ``txn``'s seq
    or later — a replayed epoch (return without writing) or, seen in a
    concurrent commit, a zombie writer (hard conflict)."""
    if txn is None or manifest is None:
        return False
    applied = manifest.get("txns", {}).get(txn[0])
    return applied is not None and txn[1] <= int(applied)


def _admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    target: str,
    manifest: dict | None,
    key: str,
    num_buckets: int,
    store,
    stats_cols: list[str] | None = None,
):
    """Admission of an incoming user batch, before any file lands: the
    column-mapping boundary (the batch and ``stats_cols`` speak LOGICAL
    names, everything after is physical), type reconciliation against
    the table's schema — BEFORE bucketing, so an implicit key upcast
    happens before ``_bucket_expr`` hashes it (see
    :func:`_align_batch_types`) — the ≤ num_buckets affected-bucket
    probe and the CHECK constraints.

    Returns ``(bucketed, affected buckets, physical stats_cols)``, or
    None for a zero-row batch: an empty batch must be a true no-op (no
    commit dir, no manifest version bump) — otherwise every empty
    streaming micro-batch or no-new-files rerun churns the manifest and
    leaves orphan commit dirs for vacuum to collect."""
    batch = _translate_batch(batch, manifest)
    if stats_cols:
        cmap, _ = _mapping_of(manifest)
        stats_cols = [_phys_name(c, cmap) for c in stats_cols]
    if manifest is not None:
        # the manifest-recorded schema (when present) IS the live files'
        # union schema, so the footer-inference read is skipped outright
        schema = _manifest_schema(manifest)
        if schema is None:
            live = [
                f for fs in manifest["buckets"].values() for f in fs
            ] + _delta_files_of(manifest)
            schema = _read_files(spark, target, live).schema if live else None
        if schema is not None:
            batch = _align_batch_types(
                batch, _strip_dropped_fields(schema, manifest), key
            )
    bucketed = batch.withColumn(BUCKET_COL, _bucket_expr(key, num_buckets))
    # Measured NON-optimization (r11, kept as a record — same class as
    # the _write_bucketed coalesce finding): eagerly localCheckpoint-ing
    # the merge batch here (so the affected-bucket probe and the merge
    # write share one materialization instead of re-executing the batch
    # upstream) read NEUTRAL in an interleaved same-session A/B over 4
    # lifecycle queries (best-of-3 on/off: 9.7/10.0, 6.8/7.2, 3.50/3.48,
    # 9.1/8.3) — per-commit cost at this batch size is Catalyst planning
    # + fixed job overhead, not recompute — and an unconditional
    # checkpoint would double-spill unbounded backfill batches at scale.
    # CDC/merge SOURCES (small by contract) are checkpointed instead at
    # their call sites (apply_changes/_scd2, merge_into).
    # ≤ num_buckets tiny rows — a scalar-class driver action, not data.
    affected = sorted(
        r[0] for r in bucketed.select(BUCKET_COL).distinct().collect()
    )
    if not affected:
        return None
    _enforce_constraints(bucketed, target, store)
    return bucketed, [str(b) for b in affected], stats_cols


def _commit_files(
    spark: SparkSession,
    target: str,
    frame: DataFrame,
    base: dict | None,
    key: str,
    num_buckets: int,
    edit: str,
    buckets: list[str] | None = None,
    guard: list[str] | None = None,
    txn: tuple | None = None,
    stats_cols: list[str] | None = None,
    carry_stats_cols: bool = True,
    full_schema: bool = False,
    range_by: tuple | None = None,
    extra: dict | None = None,
    store=LOCAL_STORE,
) -> tuple[dict, dict[str, list[str]]]:
    """THE data commit (module docstring, "Commit kernel"): write
    ``frame`` bucketed by ``key`` (the bucket column is derived when
    absent) as one new commit directory, then publish one manifest
    built on ``base`` (None = the table's first commit, which also pins
    the bucket spec) through :func:`_commit_optimistic`.  Returns the
    committed manifest and ``{bucket: new files}``.

    ``edit`` is the manifest edit: ``"replace"`` swaps ``buckets`` (all
    buckets when None) for the new files — their base files and pending
    deltas retire, and the recorded schema is ``frame``'s own when
    ``full_schema`` or when every bucket is rewritten (the frame then
    carries every live column), else base ∪ frame; ``"append"`` adds the
    new files to their buckets' file lists; ``"delta"`` records them as
    MOR delta files whose seq is the version the commit lands as (a
    rebase IS "this writer committed second", and highest-seq-wins
    precedence makes that exact).

    Conflict rule: ``guard`` lists the buckets whose base state the
    commit's rows were decided from — it rebases over any commit that
    leaves them (and the bucket count, and its ``txn`` watermark)
    unchanged.  A delta edit additionally rebases only over
    row-preserving operations (``_REBASE_SAFE_OPS``: a layout/type
    rewrite invalidates already-written delta files), and its ``guard``
    defaults to the buckets it writes.  A rewrite without ``guard``
    rebases over nothing: any intervening commit fails it.

    Stats are kept for surviving files and computed from the new files'
    footers for the base's tracked columns (unless
    ``carry_stats_cols=False``) plus ``stats_cols``; ``range_by=
    (files_per_bucket, [cols])`` range-partitions each bucket into
    value-contiguous files (cluster / z-order); ``txn=(app, seq)``
    records the writer watermark monotonically; ``extra`` sets further
    manifest keys explicitly (they beat :func:`_commit_manifest`'s
    carry)."""
    if BUCKET_COL not in frame.columns:
        frame = frame.withColumn(BUCKET_COL, _bucket_expr(key, num_buckets))
    commit_rel = os.path.join("data", uuid.uuid4().hex[:12])
    layout = {} if range_by is None else {"range_by": range_by}
    _write_bucketed(frame, os.path.join(target, commit_rel), num_buckets, **layout)
    if base is None:
        _write_spec(target, key, num_buckets, store)
    written = _list_commit_buckets(target, commit_rel, store)
    new_files = [f for fs in written.values() for f in fs]
    full_schema = full_schema or (edit == "replace" and buckets is None)

    def build(cur: dict) -> dict:
        version = cur.get("version", 0) + 1
        new_buckets = dict(cur["buckets"])
        deltas = {b: list(es) for b, es in cur.get("deltas", {}).items()}
        superseded: list[str] = []
        if edit == "delta":
            for b, files in written.items():
                deltas.setdefault(b, []).extend(
                    {"path": f, "seq": version} for f in files
                )
        elif edit == "append":
            for b, files in written.items():
                new_buckets[b] = new_buckets.get(b, []) + files
        elif buckets is None:
            superseded = [
                f for fs in cur["buckets"].values() for f in fs
            ] + _delta_files_of(cur)
            new_buckets, deltas = dict(written), {}
        else:
            for b in buckets:
                superseded += cur["buckets"].get(b, [])
                superseded += [e["path"] for e in deltas.pop(b, [])]
                if b in written:
                    new_buckets[b] = written[b]
                else:
                    new_buckets.pop(b, None)
        # carry forward retirees whose files still exist (vacuum hasn't
        # collected them yet; probed through the store so a non-local
        # deployment prunes correctly); stamp the files this commit
        # supersedes.  The timestamp is what makes a retention window
        # possible at all — a file's mtime says when it was WRITTEN, not
        # when it stopped being part of the snapshot.  It is the WRITER's
        # clock: with multiple writers on shared storage, skew between
        # writer clocks can shorten the effective retention window — size
        # retention_s with clock-skew headroom (NTP ≪ the 1 h default).
        now = time.time()
        retired = [
            e
            for e in cur.get("retired", [])
            if store.exists(os.path.join(target, e["path"]))
        ] + [{"path": f, "ts": now} for f in superseded]
        live = {f for fs in new_buckets.values() for f in fs}
        live.update(e["path"] for es in deltas.values() for e in es)
        stats = {f: s for f, s in cur.get("stats", {}).items() if f in live}
        tracked = set(stats_cols or ())
        if carry_stats_cols:
            tracked.update(_stats_cols_of(cur))
        if tracked and edit != "delta":
            stats.update(
                _file_stats(
                    target, new_files, sorted(tracked), spark=spark, store=store
                )
            )
        out = {
            "version": version,
            "buckets": new_buckets,
            "deltas": deltas,
            "retired": retired,
            "stats": stats,
            "blooms": _carry_blooms(cur, live),
            **(extra or {}),
        }
        schema = (
            _schema_entry(frame.schema)
            if full_schema
            else _schema_union_entry(cur, frame.schema)
        )
        if schema is not None:
            out["schema"] = schema
        if txn is not None:
            # explicit txns beat the carry; merged with the base's so an
            # unrelated writer's watermark survives, and MONOTONE across
            # a rebase (r9 advisor finding) — the conflict rule below
            # also hard-fails the zombie-writer race first
            txns = dict(cur.get("txns", {}))
            txns[txn[0]] = max(txn[1], int(txns.get(txn[0], txn[1])))
            out["txns"] = txns
        return out

    def conflict(current: dict) -> str | None:
        op = current.get("operation")
        if (edit == "delta" and op not in _REBASE_SAFE_OPS) or (
            edit != "delta" and guard is None
        ):
            return f"concurrent {op!r} commit"
        # a bucket-count change re-routes every key, even when this
        # commit's buckets happen to be empty in both snapshots
        if current.get("num_buckets", num_buckets) != num_buckets:
            return "bucket count changed concurrently"
        # Delta's ConcurrentTransaction check: an intervening commit that
        # advanced THIS txn app to >= our seq means the batch was already
        # applied (or is stale) — rebasing would re-apply old data
        if _txn_applied(current, txn):
            return (
                f"txn {txn[0]!r} advanced to seq "
                f"{current['txns'][txn[0]]} concurrently; this batch "
                f"(seq {txn[1]}) is already applied or stale"
            )
        # rebase is sound iff every guarded bucket is byte-identical
        # (same base files, same pending deltas) between the snapshot
        # this commit was computed from and the winner's
        for b in sorted(written) if guard is None else guard:
            if current["buckets"].get(b) != base["buckets"].get(b):
                return f"bucket {b} was rewritten concurrently"
            if current.get("deltas", {}).get(b) != base.get(
                "deltas", {}
            ).get(b):
                return f"bucket {b} gained concurrent MOR deltas"
        return None

    committed = _commit_optimistic(
        target, base or {"buckets": {}}, build, conflict, store
    )
    return committed, written


def _scope_rows(
    spark: SparkSession,
    target: str,
    manifest: dict,
    key: str,
    buckets=None,
) -> DataFrame | None:
    """Live rows of the given buckets (every bucket when None) with MOR
    precedence resolved and no bucket column: clean buckets' files are
    read directly (file-level pruning), delta-bearing ones through
    :func:`_resolve_dirty`.  None when no listed bucket holds data.  The
    one row-scope read behind every rewrite, bucket-pruned DML and
    point lookups — O(listed buckets), not O(table)."""
    deltas = manifest.get("deltas", {})
    want = None if buckets is None else {str(b) for b in buckets}
    clean = [
        f
        for b, fs in manifest["buckets"].items()
        if b not in deltas and (want is None or b in want)
        for f in fs
    ]
    dirty = sorted(b for b in deltas if want is None or b in want)
    frames = []
    if clean:
        frames.append(
            _read_files(spark, target, clean, schema=_manifest_schema(manifest))
        )
    if dirty:
        frames.append(_resolve_dirty(spark, target, manifest, key, dirty))
    if not frames:
        return None
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    ).drop(BUCKET_COL)


@_records_op("merge")
def keyed_overwrite_parquet(
    spark: SparkSession,
    batch: DataFrame,
    target: str,
    key: str = "oid__id",
    num_buckets: int | None = None,
    vacuum: bool = True,
    retention_s: float = DEFAULT_RETENTION_S,
    store=LOCAL_STORE,
    stats_cols: list[str] | None = None,
    txn_app: str | None = None,
    txn_seq: int | None = None,
) -> None:
    """Bucket-pruned replace-by-key merge, committed via manifest swap.

    ``txn_app``/``txn_seq`` (r9): the same idempotent-writer watermark
    as ``keyed_append`` (Delta's ``txn`` action), recorded INSIDE the
    merge's one commit — a replayed epoch whose seq is ≤ the recorded
    watermark returns without writing.  A replace-by-key merge is
    already content-idempotent under replay; the watermark saves the
    re-execution and, crucially, gives ``keyed_append``'s bootstrap a
    single ATOMIC first commit (previously the watermark landed in a
    follow-up commit, leaving a crash window where a replayed first
    epoch double-appended).

    ``stats_cols`` opts columns into file-level min/max stats (footer
    read, no data scan) recorded in the manifest — the data-skipping
    index ``read_keyed_table(where=...)`` prunes with.  Once enabled the
    columns are remembered: later merges maintain stats for them without
    re-passing the argument (pass it again to widen the set).

    The incoming batch replaces *all* existing rows sharing its keys —
    parent-row replace and child-set replace in one primitive.  Only the
    ``hash(key) % num_buckets`` buckets present in the batch are read and
    rewritten; every other bucket's files are untouched (byte-identical
    after the merge — asserted in tests).  Readers see the old snapshot
    until the single-file manifest replace lands, so a crash at any
    earlier point never corrupts the target.

    Reader-safety contract: files a commit supersedes are recorded in the
    manifest's ``retired`` list with their retirement time, and
    ``vacuum=True`` only deletes retirees older than ``retention_s``
    (default 1 h).  A reader that resolved the manifest just before this
    merge can therefore finish streaming the old snapshot.  ``retention_s=0``
    restores immediate deletion (safe only with no concurrent readers);
    ``vacuum=False`` defers cleanup entirely to an explicit
    :func:`vacuum_keyed_table` schedule.
    """
    txn = _txn_of(txn_app, txn_seq)
    os.makedirs(target, exist_ok=True)
    num_buckets = _load_or_check_spec(target, key, num_buckets, store)
    manifest = _load_manifest(target, store)
    if _txn_applied(manifest, txn):
        return
    admitted = _admit_batch(
        spark, batch, target, manifest, key, num_buckets, store, stats_cols
    )
    if admitted is None:
        return
    bucketed, affected, stats_cols = admitted
    merged = bucketed
    # file-level pruning: only the affected buckets' live files are read.
    # An affected bucket with pending MOR deltas contributes its RESOLVED
    # rows and this commit folds those deltas away; unaffected buckets'
    # deltas carry forward intact.
    current = (
        None
        if manifest is None
        else _scope_rows(spark, target, manifest, key, affected)
    )
    if current is not None:
        # anti-join on key: keep only rows NOT being replaced.  Spark
        # broadcasts the keys when small; at 100 TB this is a shuffled
        # hash anti-join over k/N of the table — same cost class as the
        # insert.  Data files don't store the bucket column (partitionBy
        # consumed it); re-derive it — xxhash64 is deterministic.
        kept = current.join(
            bucketed.select(key).distinct(), key, "left_anti"
        ).withColumn(BUCKET_COL, _bucket_expr(key, num_buckets))
        merged = kept.unionByName(bucketed, allowMissingColumns=True)
    # merged's schema IS the union live schema: the batch must carry
    # every existing column (missing ones raise in _align_batch_types),
    # so kept ∪ batch covers all buckets.  Optimistic rebase: a
    # concurrent commit to OTHER buckets re-bases this one; a concurrent
    # rewrite of one of THIS merge's buckets is a conflict.
    _commit_files(
        spark, target, merged, manifest, key, num_buckets, "replace",
        buckets=None if manifest is None else affected, guard=affected,
        txn=txn, stats_cols=stats_cols, full_schema=True, store=store,
    )
    if vacuum and manifest is not None:
        vacuum_keyed_table(target, retention_s=retention_s, store=store)


def _vacuum_candidates(
    target, live, retired_ts, retention_s, now, store, private_subtree
):
    """Yield full paths of DATA files vacuum would delete: unreferenced
    parquet past retention — retirees aged by their manifest ``retired``
    stamp, crash orphans by mtime (see :func:`vacuum_keyed_table`)."""
    for root, _dirs, files in store.walk(target):
        if private_subtree(root):
            continue
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.normpath(os.path.relpath(full, target))
            if not f.endswith(".parquet") or rel in live:
                continue
            if rel in retired_ts:
                age = now - retired_ts[rel]
            else:  # crash orphan: age by write time
                mt = store.mtime(full)
                if mt is None:
                    continue
                age = now - mt
            if age >= retention_s:
                yield full


def vacuum_dry_run(
    target: str, retention_s: float = DEFAULT_RETENTION_S, store=LOCAL_STORE
) -> list[str]:
    """``VACUUM DRY RUN``: the target-relative data files a
    :func:`vacuum_keyed_table` with the same ``retention_s`` would
    delete RIGHT NOW — nothing is touched.  The ops safety valve before
    an aggressive retention window: review the list, then vacuum.
    (Advisory under concurrency, like Delta's: a commit landing between
    the dry run and the vacuum changes the candidate set.)"""
    manifest = _load_manifest(target, store)
    if manifest is None:
        return []
    live = {
        os.path.normpath(f)
        for files in manifest["buckets"].values()
        for f in files
    }
    live |= {
        os.path.normpath(e["path"])
        for entries in manifest.get("deltas", {}).values()
        for e in entries
    }
    retired_ts = {
        os.path.normpath(e["path"]): e["ts"]
        for e in manifest.get("retired", [])
    }

    def _private_subtree(root: str) -> bool:
        rel = os.path.normpath(os.path.relpath(root, target))
        first = rel.split(os.sep)[0]
        return (
            rel != "."
            and first.startswith("_")
            and not first.startswith(f"{BUCKET_COL}=")
        )

    return sorted(
        os.path.normpath(os.path.relpath(full, target))
        for full in _vacuum_candidates(
            target, live, retired_ts, retention_s, time.time(), store,
            _private_subtree,
        )
    )


@_records_op("vacuum")
def vacuum_keyed_table(
    target: str, retention_s: float = DEFAULT_RETENTION_S, store=LOCAL_STORE
) -> int:
    """Delete data files not referenced by the current manifest (superseded
    by a later commit, or orphaned by a crash before its commit landed).
    Returns the number of files removed.

    ``retention_s`` is the reader-safety window: a retiree is only
    deleted once it has been retired (manifest ``retired`` timestamp) for
    at least that long, so readers that resolved the previous manifest
    can finish their scan.  Crash orphans — files never referenced by any
    committed manifest — are aged on their *mtime* instead: a fresh
    orphan may be a CONCURRENT writer's not-yet-committed merge data,
    which deleting would corrupt that writer's in-flight merge — which is
    why the default here is the full retention window, same as the merge
    path's.  ``retention_s=0`` (delete now) is the explicit opt-in for
    single-process callers with no concurrent writers or readers.
    """
    manifest = _load_manifest(target, store)
    if manifest is None:
        return 0
    live = {
        os.path.normpath(f)
        for files in manifest["buckets"].values()
        for f in files
    }
    # pending MOR delta files are live data — folding them is
    # compact_keyed_table's job, never vacuum's
    live |= {
        os.path.normpath(e["path"])
        for entries in manifest.get("deltas", {}).values()
        for e in entries
    }
    retired_ts = {
        os.path.normpath(e["path"]): e["ts"]
        for e in manifest.get("retired", [])
    }
    now = time.time()
    removed = 0

    def _private_subtree(root: str) -> bool:
        # `_`-prefixed top-level subdirs (`_quarantine`, `_dq`) are
        # separate namespaces — e.g. the DQ gate's quarantine KEYED TABLE
        # nested under the target.  Their parquet is live data owned by
        # their OWN manifest, invisible to this table's, so this vacuum
        # must never treat it as orphaned.  (`__bucket=` dirs are exempt:
        # a pre-manifest legacy layout keeps its data there.)
        rel = os.path.normpath(os.path.relpath(root, target))
        first = rel.split(os.sep)[0]
        return (
            rel != "."
            and first.startswith("_")
            and not first.startswith(f"{BUCKET_COL}=")
        )
    # every filesystem touch below goes through the storage seam
    # (store.walk/list_dir/mtime/delete_file/...): on an object store the
    # walk is a prefix listing and deletes are DELETE calls — a direct
    # os.* walk would silently no-op retention cleanup there (ADVICE-class
    # hazard, VERDICT r5 residual 4)
    # pass 1: unreferenced data files past their retention
    for full in _vacuum_candidates(
        target, live, retired_ts, retention_s, now, store, _private_subtree
    ):
        store.delete_file(full)
        removed += 1
    # pass 2a: root-level commit-object litter — half-written manifest
    # attempts and expired time-travel snapshots.  These are STORE
    # objects (written via write_json), so the listing must come from
    # the seam, not a filesystem walk, to see them on a non-local store.
    current_v = manifest.get("version")
    for name in store.list_dir(target):
        full = os.path.join(target, name)
        if name.startswith(MANIFEST_NAME) and name.endswith(".tmp"):
            store.delete_file(full)
        elif name.startswith("_manifest.v") and name.endswith(".json"):
            # time-travel snapshots expire with the same retention
            # window as the data files they reference (the current
            # version's copy always stays)
            try:
                v = int(name[len("_manifest.v") : -len(".json")])
            except ValueError:
                continue
            mt = store.mtime(full)
            if mt is None:
                continue
            if v != current_v and now - mt >= retention_s:
                # not counted in the return value: `removed` is
                # the number of DATA files collected (test-pinned)
                store.delete_file(full)
    # pass 2b (bottom-up): writer metadata of now-dead subtrees, dangling
    # checksum sidecars, empty dirs (object stores have no dirs — their
    # walk lists no empty prefixes and remove_dir_if_empty no-ops)
    root_norm = os.path.normpath(target)
    removed_dirs: set[str] = set()
    for root, dirs, files in store.walk(target, topdown=False):
        if os.path.normpath(root) == root_norm or _private_subtree(root):
            continue
        live_subdirs = [
            d for d in dirs if os.path.join(root, d) not in removed_dirs
        ]
        if not any(f.endswith(".parquet") for f in files) and not live_subdirs:
            # subtree holds no data anymore — only _SUCCESS/.crc remain
            for f in files:
                store.delete_file(os.path.join(root, f))
            if store.remove_dir_if_empty(root):
                removed_dirs.add(root)
        else:
            for f in files:
                if (
                    f.startswith(".")
                    and f.endswith(".crc")
                    and not store.exists(os.path.join(root, f[1:-4]))
                ):
                    store.delete_file(os.path.join(root, f))
    return removed


# ---------------------------------------------------------------------------
# Merge-on-read (MOR): bounded write amplification for small keyed batches.
#
# The copy-on-write merge above rewrites every AFFECTED BUCKET in full —
# right when batches are a meaningful fraction of the table, but at 100 TB
# a 0.1 %-of-keys batch still rewrites ~every bucket (xxhash scatters keys
# uniformly), i.e. write amplification ~ table/batch.  MOR is the
# Iceberg-merge-on-read / Delta-DV answer: a merge writes ONLY the batch
# rows as per-bucket *delta* files and records them in the manifest with
# their commit sequence; readers resolve precedence (for each key, the
# rows of the highest-seq commit win — replace-by-key needs no tombstone
# markers because every delta row IS a replacement).  Write cost becomes
# O(batch); read cost gains a per-dirty-bucket window until
# :func:`compact_keyed_table` folds the deltas back into one base file per
# bucket and re-enables file-level data skipping (disabled on dirty
# buckets: a pruned delta row must never resurrect the stale base row).
# ---------------------------------------------------------------------------


def _read_files(
    spark: SparkSession,
    target: str,
    rel_files: list[str],
    schema=None,
) -> DataFrame:
    # recursiveFileLookup: no partition-dir inference over per-commit
    # `__bucket=` fragments; mergeSchema: union schema across additive
    # column evolution (older files null-fill newer columns).
    #
    # ``schema`` (r11 optimization): the manifest-recorded union schema
    # of the live files (see :func:`_schema_entry`).  When present the
    # read is constructed with an EXPLICIT schema and no mergeSchema —
    # zero footer reads, zero eager schema-inference Spark jobs per
    # read (measured: every lifecycle query paid 4-21 such inferences).
    # Equivalent by construction: per-column types are uniform across a
    # table's live files (_align_batch_types conforms every batch before
    # any file lands), so the only cross-file variance is column
    # PRESENCE, and Spark's parquet reader null-fills requested columns
    # absent from a file — exactly what a mergeSchema read yields.
    if schema is not None:
        return (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(*[os.path.join(target, f) for f in rel_files])
        )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(target, f) for f in rel_files])
    )


#: columns internal to the sink's file layout — never part of the user-
#: visible data schema the manifest records.
_INTERNAL_COLS = frozenset({BUCKET_COL, TOMBSTONE_COL, "__seq"})


def _relax_nullability(node):
    """Parquet-read flavor of a write-side schema: Spark reads parquet
    columns as nullable (and array/map elements as containing nulls)
    regardless of the writer frame's flags, so the manifest-recorded
    schema stores that flavor — an explicit-schema read then matches a
    mergeSchema read's StructType exactly."""
    if isinstance(node, dict):
        return {
            k: (True if k in ("nullable", "containsNull", "valueContainsNull")
                else _relax_nullability(v))
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_relax_nullability(x) for x in node]
    return node


def _schema_entry(schema) -> dict:
    """Manifest ``schema`` entry (StructType.jsonValue form) for a commit
    whose written frame has ``schema`` — internal columns stripped,
    nullability relaxed to the parquet read-back flavor.  Recording the
    union schema at commit time is the Delta/Iceberg move that lets
    every subsequent read skip footer-based schema inference entirely
    (:func:`_read_files` ``schema=``); at 100 TB those footer reads are
    ranged GETs per file per query."""
    from pyspark.sql.types import StructType

    fields = [f for f in schema.fields if f.name not in _INTERNAL_COLS]
    return _relax_nullability(StructType(fields).jsonValue())


def _manifest_schema(manifest: dict | None):
    """StructType recorded by the snapshot's commit, or None (legacy
    manifests, or commits from ops that don't maintain the entry —
    readers then fall back to the mergeSchema path unchanged)."""
    if not manifest:
        return None
    sj = manifest.get("schema")
    if not sj:
        return None
    try:
        from pyspark.sql.types import StructType

        return StructType.fromJson(sj)
    except Exception:
        return None


def _schema_union_entry(base_manifest: dict, add_schema) -> dict | None:
    """``schema`` entry for a commit that ADDS files over a base snapshot
    (MOR delta, new-key append, compaction of a bucket subset): the base
    schema plus any new columns the added frame introduces.  None when
    the base has no recorded schema — the commit then drops the entry
    and readers fall back (never guess a partial schema)."""
    base = _manifest_schema(base_manifest)
    if base is None:
        return None
    from pyspark.sql.types import StructType

    names = {f.name for f in base.fields}
    extra = [
        f
        for f in add_schema.fields
        if f.name not in names and f.name not in _INTERNAL_COLS
    ]
    return _relax_nullability(
        StructType(list(base.fields) + extra).jsonValue()
    )


def _delta_files_of(manifest: dict) -> list[str]:
    return [
        e["path"]
        for entries in manifest.get("deltas", {}).values()
        for e in entries
    ]


def _resolve_dirty(
    spark: SparkSession,
    target: str,
    manifest: dict,
    key: str,
    buckets: list[str],
) -> DataFrame:
    """Rows of the given delta-bearing buckets with MOR precedence
    resolved: per key, only the rows of the highest-seq commit survive
    (base files are seq 0; a commit's delta rows replace ALL of a key's
    earlier rows, so multi-row child sets stay atomic per commit).

    One union per distinct commit seq, one window max over the key —
    partitioned by the key, so at scale this shuffles only the dirty
    buckets' rows once.  ``allowMissingColumns`` keeps additive schema
    evolution working mid-delta-chain."""
    deltas = manifest.get("deltas", {})
    groups: dict[int, list[str]] = {}
    for b in buckets:
        for f in manifest["buckets"].get(b, []):
            groups.setdefault(0, []).append(f)
        for e in deltas.get(b, []):
            groups.setdefault(int(e["seq"]), []).append(e["path"])
    # explicit-schema fast path: the recorded data schema plus the
    # tombstone marker (delta files may carry it; files without it
    # null-fill, and coalesce(NULL, false) below keeps those rows —
    # byte-identical to the mergeSchema read's semantics)
    schema = _manifest_schema(manifest)
    if schema is not None:
        from pyspark.sql.types import BooleanType, StructField, StructType

        schema = StructType(
            list(schema.fields)
            + [StructField(TOMBSTONE_COL, BooleanType(), True)]
        )
    frames = [
        _read_files(spark, target, groups[seq], schema=schema).withColumn(
            "__seq", F.lit(seq)
        )
        for seq in sorted(groups)
    ]
    rows = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )
    w = Window.partitionBy(key)
    out = (
        rows.withColumn("__maxseq", F.max("__seq").over(w))
        .filter(F.col("__seq") == F.col("__maxseq"))
        .drop("__seq", "__maxseq")
    )
    if TOMBSTONE_COL in out.columns:
        # delete markers: the winning commit for this key was a DELETE —
        # drop the key's rows and hide the marker column from readers
        out = out.filter(
            ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
        ).drop(TOMBSTONE_COL)
    return out


def table_delta_depth(target: str, store=LOCAL_STORE) -> int:
    """Max per-bucket pending delta-file count — the compaction trigger
    signal (0 = fully compacted; readers pay one window per dirty
    bucket until :func:`compact_keyed_table` runs)."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        return 0
    return max(
        (len(v) for v in manifest.get("deltas", {}).values()), default=0
    )


@_records_op("merge_mor")
def keyed_merge_mor(
    spark: SparkSession,
    batch: DataFrame,
    target: str,
    key: str = "oid__id",
    num_buckets: int | None = None,
    store=LOCAL_STORE,
) -> None:
    """Replace-by-key merge with O(batch) write cost: the batch lands as
    per-bucket DELTA files; no existing file is read or rewritten.

    Same visible semantics as :func:`keyed_overwrite_parquet` (the batch
    replaces all rows sharing its keys — test-pinned differential), same
    manifest CAS (concurrent writers conflict cleanly), same retention
    story (deltas are live files; nothing is superseded until
    compaction).  Use it for small/frequent batches — streaming
    micro-batches, trickle upserts — and run
    :func:`compact_keyed_table` when :func:`table_delta_depth` crosses
    your read-latency budget.  First write of a target falls through to
    the copy-on-write path (an initial load IS a full write).
    """
    manifest = _load_manifest(target, store)
    if manifest is None:
        keyed_overwrite_parquet(
            spark, batch, target, key=key, num_buckets=num_buckets, store=store
        )
        return
    num_buckets = _load_or_check_spec(target, key, num_buckets, store)
    admitted = _admit_batch(spark, batch, target, manifest, key, num_buckets, store)
    if admitted is None:
        return
    # a blind upsert guards no bucket: layering a higher-seq delta over
    # ANY row-preserving concurrent commit is exactly last-writer-wins
    _commit_files(
        spark, target, admitted[0], manifest, key, num_buckets, "delta",
        guard=[], store=store,
    )


def _dml_scope(
    spark: SparkSession,
    target: str,
    predicate: str,
    store,
    where,
    where_eq,
):
    """Shared front half of predicate DML: one stats/bloom-prunable scan
    finds the affected buckets and the matching-row count (a ≤num_buckets
    scalar collect), then a bucket-pruned second read returns the
    resolved rows of only those buckets."""
    manifest, key, num_buckets = _open_table(target, store)
    pred_true = F.expr(predicate).eqNullSafe(F.lit(True))
    per_bucket = (
        read_keyed_table(spark, target, store, where=where, where_eq=where_eq)
        .filter(pred_true)
        .groupBy(_bucket_expr(key, num_buckets).alias(BUCKET_COL))
        .count()
        .collect()
    )
    wanted = {r[0] for r in per_bucket}
    n_matched = sum(r[1] for r in per_bucket)
    # DML predicates and assignments speak LOGICAL names; the resolved
    # rows come back physical — translate here, and the writers
    # translate the delta back before anything lands (boundary rule)
    cmap, cdropped = _mapping_of(manifest)
    rows = (
        _to_logical_df(
            _scope_rows(spark, target, manifest, key, wanted), cmap, cdropped
        )
        if wanted
        else None
    )
    return manifest, key, num_buckets, pred_true, n_matched, rows


@_records_op("delete_where")
def keyed_delete_where(
    spark: SparkSession,
    target: str,
    predicate: str,
    store=LOCAL_STORE,
    where: tuple | list | None = None,
    where_eq: tuple | list | None = None,
) -> int:
    """``DELETE FROM <target> WHERE predicate`` with MOR write cost:
    affected KEYS are re-stated as delta rows (their surviving rows, or a
    key-level tombstone when every row matched), and no base file is
    read outside the affected buckets or rewritten at all.  Returns the
    number of rows deleted.

    SQL semantics: rows where the predicate is FALSE or NULL survive.
    Because the table is keyed replace-by-key (reference semantics,
    postgres.py:18-38's delete+insert unit is the key), a key whose rows
    only PARTLY match is re-written as its surviving rows — one delta
    commit, atomic per key.

    Scale shape: scan 1 is the match probe — stats/bloom-prunable via
    ``where=`` / ``where_eq=`` (same contract as
    :func:`read_keyed_table`) and collects ≤ num_buckets scalars; scan 2
    reads ONLY the affected buckets; the write is O(rows of affected
    keys).  Deleting 1k rows from a 100 TB table touches k buckets, not
    the table.  Tombstones resolve through the normal MOR precedence
    (``_resolve_dirty``) and are folded away by
    :func:`compact_keyed_table`; :func:`table_changes` reports the keys
    as ``delete`` rows with no extra bookkeeping."""
    manifest, key, num_buckets, pred_true, n_matched, rows = _dml_scope(
        spark, target, predicate, store, where, where_eq
    )
    if not n_matched or rows is None:
        return 0
    w = Window.partitionBy(key)
    marked = (
        rows.withColumn("__del", pred_true)
        .withColumn("__any", F.max(F.col("__del").cast("int")).over(w))
        .filter(F.col("__any") == 1)
        .withColumn("__surv", F.max((~F.col("__del")).cast("int")).over(w))
    )
    survivors = (
        marked.filter(~F.col("__del"))
        .drop("__del", "__any", "__surv")
        .withColumn(TOMBSTONE_COL, F.lit(False))
    )
    # keys with no surviving row: ONE tombstone row (key + marker; every
    # other column null via allowMissingColumns)
    dead = (
        marked.filter(F.col("__surv") == 0)
        .select(key)
        .distinct()
        .withColumn(TOMBSTONE_COL, F.lit(True))
    )
    cmap, _cd = _mapping_of(manifest)
    delta = _to_physical_df(
        survivors.unionByName(dead, allowMissingColumns=True), cmap
    )
    # constraints guard VISIBLE rows only — tombstones carry nulls by
    # construction and represent absence, not data.  Enforcement runs on
    # the PHYSICAL frame: constraint SQL binds to physical names (the
    # names current when the constraint was added).
    _enforce_constraints(
        _to_physical_df(survivors.drop(TOMBSTONE_COL), cmap), target, store
    )
    _commit_files(
        spark, target, delta, manifest, key, num_buckets, "delta", store=store
    )
    return n_matched


@_records_op("update_where")
def keyed_update_where(
    spark: SparkSession,
    target: str,
    assignments: dict[str, str],
    predicate: str,
    store=LOCAL_STORE,
    where: tuple | list | None = None,
    where_eq: tuple | list | None = None,
) -> int:
    """``UPDATE <target> SET col = expr, ... WHERE predicate`` with MOR
    write cost: every row of each affected key is re-stated as one delta
    commit (matched rows with assignments applied, the key's other rows
    verbatim — replace-by-key precedence needs the full key set).
    Returns the number of rows updated.

    Assignment expressions are SQL over the OLD row (standard UPDATE
    semantics: ``{"v": "v + 1", "w": "v"}`` reads the pre-update ``v``
    in both) and are cast back to the column's existing type so an
    update can never drift the table schema.  The key column cannot be
    assigned — moving rows between keys is a delete + insert, not an
    update (bucket routing and replace-by-key atomicity both hang off
    the key).  Scale shape identical to :func:`keyed_delete_where`:
    prunable match probe, bucket-pruned re-read, O(affected keys' rows)
    write, constraints enforced on the updated rows before any file
    lands."""
    manifest, key, num_buckets, pred_true, n_matched, rows = _dml_scope(
        spark, target, predicate, store, where, where_eq
    )
    bad = set(assignments) & {key, BUCKET_COL, TOMBSTONE_COL}
    if bad:
        raise ValueError(f"cannot assign to key/internal column(s) {sorted(bad)}")
    if not n_matched or rows is None:
        return 0
    unknown = set(assignments) - set(rows.columns)
    if unknown:
        raise ValueError(f"assignment to unknown column(s) {sorted(unknown)}")
    w = Window.partitionBy(key)
    marked = (
        rows.withColumn("__del", pred_true)
        .withColumn("__any", F.max(F.col("__del").cast("int")).over(w))
        .filter(F.col("__any") == 1)
    )
    dtypes = dict(marked.dtypes)
    updated = marked.select(
        *[
            F.when(F.col("__del"), F.expr(assignments[c]).cast(dtypes[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in assignments
            else F.col(c)
            for c in rows.columns
        ]
    )
    cmap, _cd = _mapping_of(manifest)
    updated = _to_physical_df(updated, cmap)
    _enforce_constraints(updated, target, store)
    _commit_files(
        spark, target, updated, manifest, key, num_buckets, "delta", store=store
    )
    return n_matched


@_records_op("compact")
def compact_keyed_table(
    spark: SparkSession,
    target: str,
    store=LOCAL_STORE,
) -> int:
    """Fold pending MOR deltas back into one base file per dirty bucket —
    the OPTIMIZE step that restores O(1)-file reads and re-enables
    file-level data skipping on those buckets.  Clean buckets are not
    read, not rewritten, and keep their stats entries byte-for-byte.

    Returns the number of buckets compacted (0 = nothing to do, and no
    manifest churn).  Commits through the manifest CAS; the folded base
    and delta files retire under the normal retention window so
    in-flight readers finish their snapshot."""
    manifest, key, num_buckets = _open_table(target, store)
    dirty = sorted(manifest.get("deltas", {}))
    if not dirty:
        return 0
    _commit_files(
        spark, target, _scope_rows(spark, target, manifest, key, dirty),
        manifest, key, num_buckets, "replace", buckets=dirty, store=store,
    )
    return len(dirty)


@_records_op("rebucket")
def rebucket_keyed_table(
    spark: SparkSession,
    target: str,
    new_num_buckets: int,
    store=LOCAL_STORE,
) -> None:
    """Change a keyed table's bucket count, committed through the commit
    kernel (:func:`_commit_files`) like every data write.

    Why it exists: the bucket layout is pinned for a target's lifetime
    (``_load_or_check_spec`` rejects mismatched writers), which is right
    for correctness but wrong forever — a table sized at 64 buckets when
    small becomes 64 enormous files at 100 TB, capping merge parallelism
    and making every bucket-pruned read touch GBs.  Re-bucketing is PURE
    reorganization: every live row is read back, re-hashed into the new
    layout (``xxhash64 % new_n`` — deterministic), and rewritten as one
    commit; visible content must not change (test-pinned).

    Commit order matters: the manifest CAS lands FIRST (readers only
    resolve the manifest, so they atomically flip to the new layout),
    the spec is rewritten second.  A merge racing into the gap checks
    the OLD spec but then loses the manifest CAS on version — it can
    orphan data files, never corrupt the table; conversely if WE lose
    the CAS to a racing merge, ``ConcurrentWriteError`` propagates and
    the old layout stays live (our files become vacuum orphans).
    Superseded files retire under the normal retention window so
    in-flight readers finish their snapshot.
    """
    manifest, key, num_buckets = _open_table(target, store)
    if num_buckets == new_num_buckets:
        return
    # _scope_rows resolves any pending MOR deltas — a rebucket is a full
    # rewrite, so it doubles as a compaction.  Data-skipping stats
    # survive the layout change: the kernel recomputes them from the new
    # files' footers for the columns already tracked.
    _commit_files(
        spark, target, _scope_rows(spark, target, manifest, key), manifest,
        key, new_num_buckets, "replace",
        extra={"num_buckets": new_num_buckets}, store=store,
    )
    _write_spec(target, key, new_num_buckets, store)


@_records_op("widen_column")
def widen_keyed_table(
    spark: SparkSession,
    target: str,
    types: dict[str, str],
    store=LOCAL_STORE,
) -> None:
    """Widen column types in place (``{"v": "bigint"}``) — the
    table-side move :func:`_align_batch_types` demands when a batch
    arrives WIDER than the table.

    Only lossless conversions from the ``_WIDENS_TO`` lattice are
    accepted (int→bigint, float→double, …).  Like a rebucket this is a
    full rewrite committed through the manifest CAS: every live row is
    read (pending MOR deltas resolve — it doubles as a compaction), cast,
    re-hashed into buckets AFTER the cast (widening the key changes its
    xxhash64, so bucket routing must follow the new type), and published
    as one commit; superseded files retire under the normal retention
    window.  Tracked data-skipping stats are recomputed from the new
    footers; bloom indexes are dropped (value hashes are type-dependent)
    — re-run ``add_bloom_index`` after.  Content must not change
    (test-pinned: read-back equals cast of read-before)."""
    manifest, key, num_buckets = _open_table(target, store)
    # widen rewrites PHYSICAL files; the caller names logical columns
    types = {
        _phys_name(c, _mapping_of(manifest)[0]): t for c, t in types.items()
    }
    rows = _scope_rows(spark, target, manifest, key)
    cur = {f.name: f.dataType.simpleString() for f in rows.schema.fields}
    for c, t in types.items():
        if c not in cur:
            raise ValueError(f"no column {c!r} to widen")
        if t != cur[c] and t not in _WIDENS_TO.get(cur[c], ()):
            raise ValueError(
                f"cannot widen column {c!r}: {cur[c]} -> {t} is not a "
                "lossless conversion"
            )
    # the kernel re-hashes buckets from the CAST key
    rows = rows.select(
        *[
            F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
            for c in rows.columns
        ]
    )
    _commit_files(
        spark, target, rows, manifest, key, num_buckets, "replace", store=store
    )


def _logical_columns(spark, target, manifest, store) -> list[str]:
    """The user-visible column set of the CURRENT snapshot: union of
    live files' physical schemas (footer metadata only), dropped
    physicals hidden, renames applied."""
    stored = _manifest_schema(manifest)
    if stored is not None:
        phys = stored.names
    else:
        live = [
            f for fs in manifest["buckets"].values() for f in fs
        ] + _delta_files_of(manifest)
        if not live:
            raise ValueError(
                f"{target} has no live files to resolve a schema from"
            )
        phys = _read_files(spark, target, live).schema.names
    mapping, dropped = _mapping_of(manifest)
    reverse = {p: l for l, p in mapping.items()}
    gone = set(dropped) | {BUCKET_COL, TOMBSTONE_COL}
    return [reverse.get(c, c) for c in phys if c not in gone]


def _mapping_commit(
    target, manifest, mapping, dropped, store, drift_policy_update=None,
    validate_base=None, ivf_policy_update=None, minhash_policy_update=None,
) -> int:
    """Metadata-only mapping change committed with optimistic
    concurrency: rebases freely over data commits (they never touch
    the mapping — physical names are fixed), conflicts with concurrent
    layout/schema ops exactly like a merge would.
    ``drift_policy_update`` (rename only): a col-name rewriter applied
    to the stored drift policy so the circuit breaker follows the
    rename instead of wedging on a stale name.
    ``validate_base`` (drop only): re-checked against EVERY base the
    commit is built on — content guards evaluated only against the
    caller's stale manifest are bypassed by the rebase (r9 review
    finding: a concurrent ``set_drift_policy`` landing between load and
    CAS would let a drop of the referenced column rebase through and
    wedge every later ``maintain``)."""

    def build(base: dict) -> dict:
        if validate_base is not None:
            validate_base(base)
        m = dict(base)
        m["version"] = base["version"] + 1
        m["column_mapping"] = mapping
        m["dropped_columns"] = dropped
        if drift_policy_update is not None and base.get("drift_policy"):
            m["drift_policy"] = drift_policy_update(base["drift_policy"])
        if ivf_policy_update is not None and base.get("ivf_policy"):
            m["ivf_policy"] = ivf_policy_update(base["ivf_policy"])
        if minhash_policy_update is not None and base.get("minhash_policy"):
            m["minhash_policy"] = minhash_policy_update(
                base["minhash_policy"]
            )
        return m

    def conflict(inter: dict) -> str | None:
        op = inter.get("operation", "commit")
        if op in _REBASE_SAFE_OPS:
            return None
        return f"concurrent {op} (layout/schema operation)"

    return _commit_optimistic(target, manifest, build, conflict, store)[
        "version"
    ]


@_records_op("set_drift_policy")
def set_drift_policy(
    spark: SparkSession,
    target: str,
    rules,
    fail_thresholds: dict[str, int] | None = None,
    store=LOCAL_STORE,
) -> int:
    """Arm the distribution-drift circuit breaker AT THE TABLE: store
    the reference distributions (``expect_distribution`` rules) and
    their micro-PSI thresholds in the manifest as ONE metadata commit.
    From then on the policy is ambient — it rides every commit via the
    manifest carry, follows ``rename_column``, blocks ``drop_column``
    on a referenced column, and ``Table.maintain`` re-checks it against
    the live table so a scheduled maintenance job trips on upstream
    drift without anyone re-passing the rules (VERDICT r8 task 7).

    A rule with NO entry in ``fail_thresholds`` is REPORT-ONLY: it
    always evaluates (``check_drift_policy`` returns its micro-PSI
    count with ``limit=None, ok=True``) but can never trip
    ``maintain(on_drift="raise")`` — pass a threshold for every rule
    that should gate.  ``rules=None`` (or ``[]``) disarms.  Returns
    the new version."""
    from .operators.expectations import distribution_rule_to_spec

    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    thresholds = dict(fail_thresholds or {})
    if not rules:
        policy = None
        if thresholds:
            raise ValueError("thresholds given but no rules (disarming?)")
    else:
        specs = [distribution_rule_to_spec(r) for r in rules]
        names = [s["name"] for s in specs]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate rule names in policy: {names}")
        unknown = set(thresholds) - set(names)
        if unknown:
            raise ValueError(
                f"thresholds reference unknown rules: {sorted(unknown)}"
            )
        policy = {"rules": specs, "thresholds": thresholds}

    def columns_exist(base: dict) -> None:
        if policy is None:
            return
        logical = _logical_columns(spark, target, base, store)
        missing = {s["col"] for s in policy["rules"]} - set(logical)
        if missing:
            raise ValueError(
                f"policy references missing columns {sorted(missing)} "
                f"(have {logical})"
            )

    columns_exist(manifest)  # fast loud failure against the loaded tip

    def build(base: dict) -> dict:
        # re-validated against EVERY rebase base: a concurrent
        # rename/drop of a referenced column between load and CAS must
        # fail THIS commit, not wedge every later maintain (r9 review)
        columns_exist(base)
        m = dict(base)
        m["version"] = base["version"] + 1
        m["drift_policy"] = policy
        return m

    def conflict(inter: dict) -> str | None:
        # a policy commit moves no data; content safety (the referenced
        # columns still exist) is re-proven by build() on every base
        return None

    return _commit_optimistic(target, manifest, build, conflict, store)[
        "version"
    ]


def drift_policy(target: str, store=LOCAL_STORE) -> dict | None:
    """The stored drift policy (``{"rules": [spec...], "thresholds":
    {...}}``) or None when disarmed."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    return manifest.get("drift_policy") or None


def check_drift_policy(
    spark: SparkSession, target: str, store=LOCAL_STORE
) -> list[dict]:
    """Evaluate the stored drift policy against the table's CURRENT
    live rows: one bucket-bounded hash aggregate per rule.  Returns one
    dict per rule — ``rule, kind, n_violations`` (micro-PSI),
    ``n_rows, limit, ok`` — empty list when disarmed.  A rule whose
    column no longer resolves reports ``ok=False`` with an ``error``
    instead of crashing the maintenance job."""
    pol = drift_policy(target, store)
    if not pol:
        return []
    from .operators.expectations import (
        check_expectations,
        distribution_rule_from_spec,
    )

    df = read_keyed_table(spark, target, store=store)
    thresholds = pol.get("thresholds", {})
    out: list[dict] = []
    resolvable, broken = [], []
    for spec in pol.get("rules", []):
        (resolvable if spec["col"] in df.columns else broken).append(spec)
    for spec in broken:
        out.append(
            {
                "rule": spec["name"],
                "kind": "distribution",
                "n_violations": None,
                "n_rows": None,
                "limit": thresholds.get(spec["name"]),
                "ok": False,
                "error": f"column {spec['col']!r} not in table",
            }
        )
    if resolvable:
        rules = [distribution_rule_from_spec(s) for s in resolvable]
        for r in check_expectations(df, rules).collect():
            d = r.asDict()
            limit = thresholds.get(d["rule"])
            d["limit"] = limit
            d["ok"] = limit is None or d["n_violations"] <= limit
            out.append(d)
    return out


@_records_op("set_ivf_policy")
def set_ivf_policy(
    spark: SparkSession,
    target: str,
    index_path: str | None,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_appended_fraction: float = 0.2,
    n_cells: int | None = None,
    recall_k: int = 10,
    recall_queries: int = 32,
    min_recall: float = 0.9,
    store=LOCAL_STORE,
) -> int:
    """Arm ambient IVF-index health AT THE TABLE (r10, VERDICT r9 task
    4 — the drift-gate pattern applied to the vector surface): store
    the index path, staleness threshold and recall re-gate parameters
    in the manifest as ONE metadata commit.  From then on the policy is
    ambient — it rides every commit via the manifest carry, follows
    ``rename_column`` of the id/vector columns, blocks ``drop_column``
    on them, and ``Table.maintain`` re-checks ``ivf_appended_fraction``
    against it: above the threshold the quantizer is rebuilt from the
    live table and the recall gate re-run
    (``similarity.maintain_index_policy``), below it the check is one
    JSON read.

    ``n_cells`` defaults to the armed index's own cell count (read from
    its meta at arm time).  ``index_path=None`` disarms.  Returns the
    new version."""
    from .operators.similarity import _ivf_meta_path

    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    if index_path is None:
        policy = None
    else:
        meta = store.read_json(_ivf_meta_path(index_path))
        if meta is None:
            raise FileNotFoundError(f"no IVF index committed at {index_path}")
        if not (0.0 < max_appended_fraction):
            raise ValueError("max_appended_fraction must be > 0")
        if not (0.0 < min_recall <= 1.0):
            raise ValueError("min_recall must be in (0, 1]")
        # a zero-query or zero-k gate would vacuously pass forever
        # (den=0 → recall 1.0) — the operator would believe the index
        # is gate-certified when nothing was measured
        if int(recall_k) < 1 or int(recall_queries) < 1:
            raise ValueError("recall_k and recall_queries must be >= 1")
        policy = {
            "index_path": index_path,
            "id_col": id_col,
            "vec_col": vec_col,
            "max_appended_fraction": float(max_appended_fraction),
            "n_cells": int(n_cells if n_cells is not None else meta["n_cells"]),
            "recall_k": int(recall_k),
            "recall_queries": int(recall_queries),
            "min_recall": float(min_recall),
        }

    def columns_exist(base: dict) -> None:
        if policy is None:
            return
        logical = _logical_columns(spark, target, base, store)
        missing = {policy["id_col"], policy["vec_col"]} - set(logical)
        if missing:
            raise ValueError(
                f"ivf policy references missing columns {sorted(missing)} "
                f"(have {logical})"
            )

    columns_exist(manifest)

    def build(base: dict) -> dict:
        # re-validated against every rebase base, same reasoning as
        # set_drift_policy: a concurrent rename/drop of a referenced
        # column must fail THIS commit, not wedge every later maintain
        columns_exist(base)
        m = dict(base)
        m["version"] = base["version"] + 1
        m["ivf_policy"] = policy
        return m

    def conflict(inter: dict) -> str | None:
        return None  # metadata only; build() re-proves column safety

    return _commit_optimistic(target, manifest, build, conflict, store)[
        "version"
    ]


def ivf_policy(target: str, store=LOCAL_STORE) -> dict | None:
    """The stored ambient IVF-health policy, or None when disarmed."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    return manifest.get("ivf_policy") or None


@_records_op("set_minhash_policy")
def set_minhash_policy(
    spark: SparkSession,
    target: str,
    index_path: str | None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_appended_fraction: float = 0.2,
    shingle_n: int = 3,
    max_band_size: int | None = None,
    store=LOCAL_STORE,
) -> int:
    """Arm ambient MinHash-index compaction AT THE TABLE (r11) — the
    stored-maintenance-contract pattern (``set_drift_policy`` /
    ``set_ivf_policy``) applied to the dedup index: store the index
    path, staleness threshold and rebuild parameters (shingle width,
    global hot-band cap) in the manifest as ONE metadata commit.  From
    then on the policy is ambient — it rides every commit via the
    manifest carry, follows ``rename_column`` of the id/text columns,
    blocks ``drop_column`` on them, and ``Table.maintain`` re-checks
    ``minhash_appended_fraction`` against it: above the threshold the
    band table is re-derived from the live corpus and manifest-swapped
    (``dedup.maintain_minhash_policy``), below it the check is one JSON
    read.  The out-of-band twin of the streams' in-band
    ``compact_fraction`` — for corpora maintained by scheduled jobs
    rather than a live stream.

    ``shingle_n``/``max_band_size`` must match what the index was (and
    future appends are) built with — they are pinned here at arm time
    precisely so maintain-driven compaction can't drift from the
    ingest's parameters.  ``index_path=None`` disarms.  Returns the new
    version."""
    from .operators.dedup import _index_manifest_path

    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    if index_path is None:
        policy = None
    else:
        if store.read_json(_index_manifest_path(index_path)) is None:
            raise FileNotFoundError(
                f"no MinHash index committed at {index_path}"
            )
        if not (0.0 < max_appended_fraction):
            raise ValueError("max_appended_fraction must be > 0")
        if int(shingle_n) < 1:
            raise ValueError("shingle_n must be >= 1")
        if max_band_size is not None and int(max_band_size) < 1:
            raise ValueError("max_band_size must be >= 1 (or None)")
        policy = {
            "index_path": index_path,
            "id_col": id_col,
            "text_col": text_col,
            "max_appended_fraction": float(max_appended_fraction),
            "shingle_n": int(shingle_n),
            "max_band_size": (
                None if max_band_size is None else int(max_band_size)
            ),
        }

    def columns_exist(base: dict) -> None:
        if policy is None:
            return
        logical = _logical_columns(spark, target, base, store)
        missing = {policy["id_col"], policy["text_col"]} - set(logical)
        if missing:
            raise ValueError(
                f"minhash policy references missing columns "
                f"{sorted(missing)} (have {logical})"
            )

    columns_exist(manifest)

    def build(base: dict) -> dict:
        # re-validated against every rebase base (same reasoning as
        # set_drift_policy/set_ivf_policy): a concurrent rename/drop of
        # a referenced column must fail THIS commit, not wedge every
        # later maintain
        columns_exist(base)
        m = dict(base)
        m["version"] = base["version"] + 1
        m["minhash_policy"] = policy
        return m

    def conflict(inter: dict) -> str | None:
        return None  # metadata only; build() re-proves column safety

    return _commit_optimistic(target, manifest, build, conflict, store)[
        "version"
    ]


def minhash_policy(target: str, store=LOCAL_STORE) -> dict | None:
    """The stored ambient MinHash-compaction policy, or None."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    return manifest.get("minhash_policy") or None


@_records_op("rename_column")
def rename_column(
    spark: SparkSession,
    target: str,
    old: str,
    new: str,
    store=LOCAL_STORE,
) -> int:
    """``ALTER TABLE ... RENAME COLUMN old TO new`` as ONE manifest
    commit — zero data moves (files keep their physical column names;
    the manifest's column mapping re-labels them at the read/write
    boundary).  Returns the new version.

    Restrictions (each fails loudly): the bucket KEY cannot be renamed
    (bucket routing, delta precedence and every writer's ``key=``
    argument hang off it — Delta similarly pins partition columns), the
    new name must not collide with a current column, and both names
    must be plain non-empty identifiers.  CHECK constraints keep
    working (they bind to the physical name); adding NEW constraints on
    a mapped table is gated until :func:`purge_column_mapping`."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    if not new or not new.strip() or new in (BUCKET_COL, TOMBSTONE_COL):
        raise ValueError(f"invalid new column name {new!r}")
    spec = store.read_json(_spec_path(target))
    if spec is not None and old == spec["key"]:
        raise ValueError(
            f"cannot rename the bucket key column {old!r} (bucket "
            "routing and every writer's key= argument bind to it)"
        )
    logical = _logical_columns(spark, target, manifest, store)
    if old not in logical:
        raise ValueError(f"no column {old!r} to rename (have {logical})")
    if new in logical:
        raise ValueError(f"column {new!r} already exists")
    mapping, dropped = _mapping_of(manifest)
    # mirror the merge-time resurrection guard HERE, at commit time:
    # renaming onto a dropped physical name would wedge every later
    # write behind _translate_batch's guard with a misleading error
    if new in dropped:
        raise ValueError(
            f"new name {new!r} collides with a dropped physical column; "
            "run purge_column_mapping first"
        )
    mapping = dict(mapping)
    phys = mapping.pop(old, old)
    if new != phys:
        mapping[new] = phys

    def follow_rename(pol: dict) -> dict:
        pol = dict(pol)
        pol["rules"] = [
            {**s, "col": new} if s.get("col") == old else s
            for s in pol.get("rules", [])
        ]
        return pol

    def follow_rename_ivf(pol: dict) -> dict:
        # the ambient IVF policy follows the rename the same way the
        # drift rules do — a renamed id/vector column must not wedge
        # the next scheduled maintain
        return {
            **pol,
            **{
                k: new
                for k in ("id_col", "vec_col")
                if pol.get(k) == old
            },
        }

    def follow_rename_mh(pol: dict) -> dict:
        return {
            **pol,
            **{
                k: new
                for k in ("id_col", "text_col")
                if pol.get(k) == old
            },
        }

    return _mapping_commit(
        target, manifest, mapping, list(dropped), store,
        drift_policy_update=follow_rename,
        ivf_policy_update=follow_rename_ivf,
        minhash_policy_update=follow_rename_mh,
    )


@_records_op("drop_column")
def drop_column(
    spark: SparkSession,
    target: str,
    col: str,
    store=LOCAL_STORE,
) -> int:
    """``ALTER TABLE ... DROP COLUMN`` as ONE manifest commit — the
    column disappears from reads and from the write schema immediately;
    its BYTES stay in existing files (hidden behind the mapping) until
    :func:`purge_column_mapping` or natural rewrites age them out —
    Delta's drop-column semantics exactly.  Returns the new version.

    The bucket key cannot be dropped.  A CHECK constraint referencing
    the column must be dropped first (future batches no longer carry
    the column, so enforcement would crash every merge).  Re-adding a
    column by the dropped name is rejected at merge time until a purge
    (resurrection guard)."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    spec = store.read_json(_spec_path(target))
    if spec is not None and col == spec["key"]:
        raise ValueError(f"cannot drop the bucket key column {col!r}")
    logical = _logical_columns(spark, target, manifest, store)
    if col not in logical:
        raise ValueError(f"no column {col!r} to drop (have {logical})")
    mapping, dropped = _mapping_of(manifest)
    mapping = dict(mapping)
    phys = mapping.pop(col, col)
    import re as _re

    for name, sql in table_constraints(target, store).items():
        if _re.search(rf"\b{_re.escape(col)}\b|\b{_re.escape(phys)}\b", sql):
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint "
                f"{name!r} ({sql}); drop the constraint first"
            )
    def no_policy_reference(base: dict) -> None:
        pol = base.get("drift_policy") or {}
        for s in pol.get("rules", []):
            if s.get("col") == col:
                raise ValueError(
                    f"column {col!r} is referenced by drift-policy rule "
                    f"{s.get('name')!r}; update the policy first "
                    "(set_drift_policy)"
                )
        ipol = base.get("ivf_policy") or {}
        if col in (ipol.get("id_col"), ipol.get("vec_col")):
            raise ValueError(
                f"column {col!r} is referenced by the ambient IVF "
                "policy; update it first (set_ivf_policy)"
            )
        mpol = base.get("minhash_policy") or {}
        if col in (mpol.get("id_col"), mpol.get("text_col")):
            raise ValueError(
                f"column {col!r} is referenced by the ambient MinHash "
                "policy; update it first (set_minhash_policy)"
            )

    # checked here for the fast loud failure AND re-checked against
    # every rebase base inside _mapping_commit (a concurrent
    # set_drift_policy must not be dropped-under)
    no_policy_reference(manifest)
    return _mapping_commit(
        target, manifest, mapping, sorted(set(dropped) | {phys}), store,
        validate_base=no_policy_reference,
    )


@_records_op("purge_mapping")
def purge_column_mapping(
    spark: SparkSession,
    target: str,
    store=LOCAL_STORE,
) -> int:
    """Physicalize the column mapping: ONE full rewrite (the commit
    kernel's replace-every-bucket edit, :func:`_commit_files` — pending
    deltas fold, so it doubles as a compaction) that writes files under the LOGICAL names, actually
    deletes dropped columns' bytes, and clears the mapping.  The escape
    hatch that re-enables the gated operations (merge_into,
    apply_changes*) and constraint additions after renames/drops.
    Tracked data-skipping stats follow the rename; bloom indexes are
    dropped (they are keyed by physical file+column) — re-run
    ``add_bloom_index`` after.  Returns the new version."""
    manifest, key, num_buckets = _open_table(target, store)
    mapping, dropped = _mapping_of(manifest)
    if not mapping and not dropped:
        return manifest["version"]
    rows = _to_logical_df(
        _scope_rows(spark, target, manifest, key), mapping, dropped
    )
    reverse = {p: l for l, p in mapping.items()}
    tracked = [
        reverse.get(c, c)
        for c in _stats_cols_of(manifest)
        if c not in set(dropped)
    ]
    committed, _ = _commit_files(
        spark, target, rows, manifest, key, num_buckets, "replace",
        stats_cols=tracked, carry_stats_cols=False,
        # explicit empties: block the commit-time carry — the mapping
        # is GONE, not inherited
        extra={"column_mapping": {}, "dropped_columns": []},
        store=store,
    )
    return committed["version"]


@_records_op("cluster_by")
def cluster_keyed_table(
    spark: SparkSession,
    target: str,
    by_col: str,
    files_per_bucket: int = 4,
    store=LOCAL_STORE,
) -> None:
    """Value-cluster each bucket's rows into ``files_per_bucket``
    range-contiguous files — what makes min/max data skipping BITE on a
    hash-bucketed table.

    Hash bucketing scatters every value range across every bucket, so a
    one-file-per-bucket layout gives each file the FULL value range and
    ``where=`` pruning can skip nothing.  Clustering rewrites each
    bucket range-partitioned on ``(bucket, by_col)``: rows stay in their
    key-hash bucket (merge correctness untouched — the bucket dir is
    still the unit the merge rewrites), but within it land in
    value-contiguous files whose footer ranges barely overlap; a range
    read then opens ~1/files_per_bucket of each bucket.  The 1-D cousin
    of Delta's OPTIMIZE ZORDER.  Commits through the commit kernel
    (readers flip atomically, a racing merge wins cleanly, superseded
    files retire under retention); stats for ``by_col`` and all
    previously-tracked columns are recorded from the new footers.

    Run it like OPTIMIZE: periodically, after merge batches have
    scattered values — a merge rewriting a clustered bucket collapses
    that bucket back to one blended file until the next clustering.
    """
    manifest, key, num_buckets = _open_table(target, store)
    # clustering reorganizes PHYSICAL files; the caller names a logical
    # column — translate once here
    by_col = _phys_name(by_col, _mapping_of(manifest)[0])
    # resolves pending MOR deltas too — clustering is a full rewrite of
    # every bucket, so it doubles as a compaction.  Range partitioning on
    # (bucket, value): each output task holds one contiguous (bucket,
    # value) slice, so each bucket dir receives ~files_per_bucket files,
    # each covering a narrow value range.
    _commit_files(
        spark, target, _scope_rows(spark, target, manifest, key), manifest,
        key, num_buckets, "replace",
        range_by=(files_per_bucket, [F.col(by_col)]), stats_cols=[by_col],
        store=store,
    )


#: grid resolution per dimension for Z-ordering (bits per column; the
#: interleaved Z value uses bits * n_cols bits of a long).
ZORDER_BITS = 16


def _zvalue_expr(cols: list[str], mins: dict, maxes: dict, bits: int = ZORDER_BITS):
    """Morton (Z-curve) value over ``cols``: each column is linearly
    scaled to a ``bits``-bit grid cell between its global min/max, and
    the cells' bits are interleaved.  Pure JVM bit arithmetic (unrolled
    shift/or — bits × n_cols terms), NULLs map to cell 0."""
    cells = []
    for c in cols:
        mn, mx = mins[c], maxes[c]
        if mn is None or mx is None or mx == mn:
            cells.append(F.lit(0).cast("long"))
            continue
        span = float(mx) - float(mn)
        scaled = F.floor(
            (F.col(c).cast("double") - F.lit(float(mn)))
            / F.lit(span)
            * F.lit(float((1 << bits) - 1))
        )
        cells.append(
            F.coalesce(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.least(F.lit((1 << bits) - 1).cast("long"), scaled.cast("long")),
                ),
                F.lit(0).cast("long"),
            )
        )
    k = len(cells)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, cell in enumerate(cells):
            bit = F.shiftright(cell, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + d))
    return z


@_records_op("zorder_by")
def zorder_keyed_table(
    spark: SparkSession,
    target: str,
    cols: list[str],
    files_per_bucket: int = 4,
    store=LOCAL_STORE,
) -> None:
    """Multi-column clustering on a Z (Morton) curve — Delta's ``OPTIMIZE
    ZORDER BY`` for this table format, the k-D big sibling of
    :func:`cluster_keyed_table`.

    1-D value clustering makes skipping bite on ONE column; a file then
    spans the full range of every other column and a predicate on them
    prunes nothing.  Z-ordering range-partitions each bucket along the
    interleaved-bit curve, so every file covers a small HYPERCUBE of the
    value space: a conjunctive box query (``read_keyed_table(where=[(a,
    ..), (b, ..)])``) prunes on every Z-ordered column at once.  Stats
    are recorded for all ``cols`` (plus previously tracked columns);
    rows stay in their key-hash buckets, so later merges are untouched.
    Commits through the commit kernel like every other reorganization and
    resolves any pending MOR deltas (it is a full rewrite).

    Cell scaling uses each column's global min/max (two scalar
    aggregates) — uniform-grid Morton; heavily skewed columns get uneven
    cells, the standard trade-off vs rank-based Z-ordering (which would
    cost a global sort per column).
    """
    manifest, key, num_buckets = _open_table(target, store)
    # z-order rewrites PHYSICAL files; the caller names logical columns
    cols = [_phys_name(c, _mapping_of(manifest)[0]) for c in cols]
    base = _scope_rows(spark, target, manifest, key)
    missing = set(cols) - set(base.columns)
    if missing:
        raise ValueError(f"z-order columns not in table: {sorted(missing)}")
    # scalar-class driver action: 2 values per z-ordered column
    rng = base.agg(
        *[F.min(c).alias(f"__mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"__mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = {c: rng[f"__mn_{i}"] for i, c in enumerate(cols)}
    maxes = {c: rng[f"__mx_{i}"] for i, c in enumerate(cols)}
    # each output task holds one contiguous (bucket, z-curve) slice —
    # ~files_per_bucket files per bucket, each a small value-space cube
    _commit_files(
        spark, target, base, manifest, key, num_buckets, "replace",
        range_by=(files_per_bucket, [_zvalue_expr(cols, mins, maxes)]),
        stats_cols=cols, store=store,
    )


def _write_bucketed(
    df: DataFrame, path: str, num_buckets: int, range_by: tuple | None = None
) -> None:
    """The one parquet write of the commit kernel: one directory per
    bucket.  ``range_by=(files_per_bucket, [cols])`` range-partitions
    on (bucket, cols) instead, so each bucket lands as ~files_per_bucket
    value-contiguous files (cluster / z-order)."""
    if range_by is not None:
        files_per_bucket, cols = range_by
        df.repartitionByRange(
            num_buckets * files_per_bucket, F.col(BUCKET_COL), *cols
        ).write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
        return
    # co-locate each bucket's rows before the partitioned write: without
    # this every task writes a file into every bucket directory (tasks ×
    # buckets small files — measured 2.3× slower ingest locally, and the
    # classic small-file problem on a real cluster).
    #
    # The exchange is sized by AQE, not by the bucket count: a
    # repartition by column alone starts at spark.sql.shuffle.partitions
    # and AQE's partition coalescing shrinks it to the data (a fixed
    # repartition(num_buckets, ...) is exempt from coalescing).  A bucket
    # hashes to exactly one reduce partition and coalescing only merges
    # whole partitions, so a commit still writes one file per bucket.
    # Not coalesce(1): it collapses the upstream merge into one task.
    # Not AQE off around the write: the conf covers the whole query
    # planned at the write action, so the merge loses AQE's re-planning.
    df.repartition(F.col(BUCKET_COL)).write.mode("overwrite").partitionBy(
        BUCKET_COL
    ).parquet(path)


def describe_keyed_table(target: str, store=LOCAL_STORE) -> dict:
    """Health/maintenance report from the manifest alone (no data scan,
    no Spark job) — what an operator checks before choosing between
    :func:`compact_keyed_table` (``max_delta_depth`` high),
    :func:`rebucket_keyed_table` (``avg_bucket_bytes`` far from the
    merge-parallelism sweet spot), :func:`cluster_keyed_table` /
    :func:`zorder_keyed_table` (``stats_cols`` empty or files per bucket
    = 1 on a range-queried table), and :func:`vacuum_keyed_table`
    (``retired_files`` large).

    Keys: ``version, num_buckets, key, n_buckets_live, n_files,
    total_bytes, avg_bucket_bytes, max_files_per_bucket,
    dirty_buckets, max_delta_depth, n_delta_files, retired_files,
    stats_cols, history_versions, column_mapping, dropped_columns``
    (the last two non-empty only after metadata-only renames/drops —
    the operator signal that gated ops need
    :func:`purge_column_mapping` first)."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    spec = store.read_json(_spec_path(target)) or {}
    buckets = manifest["buckets"]
    deltas = manifest.get("deltas", {})
    sizes = []
    for files in buckets.values():
        b = 0
        for f in files:
            try:
                b += os.path.getsize(os.path.join(target, f))
            except OSError:
                pass
        sizes.append(b)
    n_files = sum(len(fs) for fs in buckets.values())
    return {
        "version": manifest["version"],
        "num_buckets": spec.get("num_buckets"),
        "key": spec.get("key"),
        "n_buckets_live": len(buckets),
        "n_files": n_files,
        "total_bytes": sum(sizes),
        "avg_bucket_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
        "max_files_per_bucket": max(
            (len(fs) for fs in buckets.values()), default=0
        ),
        "dirty_buckets": len(deltas),
        "max_delta_depth": max((len(v) for v in deltas.values()), default=0),
        "n_delta_files": len(_delta_files_of(manifest)),
        "retired_files": len(manifest.get("retired", [])),
        "stats_cols": _stats_cols_of(manifest),
        "history_versions": table_history(target, store),
        "column_mapping": manifest.get("column_mapping") or {},
        "dropped_columns": manifest.get("dropped_columns") or [],
    }


def table_version(target: str, store=LOCAL_STORE) -> int | None:
    """Version of the committed snapshot (None if never committed).
    Monotone: bumps exactly once per successful non-empty merge — the
    observable no-op guarantee for empty batches and no-new-file reruns."""
    manifest = _load_manifest(target, store)
    return None if manifest is None else manifest["version"]


def read_keyed_table(
    spark: SparkSession,
    target: str,
    store=LOCAL_STORE,
    version: int | None = None,
    as_of=None,
    where: tuple[str, object, object] | list[tuple[str, object, object]] | None = None,
    where_eq: tuple[str, object] | list[tuple[str, object]] | None = None,
    where_isnull: str | list[str] | None = None,
    where_notnull: str | list[str] | None = None,
) -> DataFrame:
    """Read a keyed-overwrite target *through the manifest* — the committed
    snapshot, never in-flight or superseded files.  The logical schema a
    user sees is exactly the batch schema (no bucket column).

    ``version=N`` time-travels to the snapshot commit N published
    (``_manifest.v{N}.json``) — valid only while that snapshot's
    superseded files survive the retention window: a snapshot vacuum has
    partially collected raises ``FileNotFoundError`` naming the missing
    file rather than silently returning a torn (part-old, part-new)
    table.  Size ``retention_s`` to the audit window you need.

    ``where=(col, lo, hi)`` is a data-skipping range read: files whose
    manifest min/max for ``col`` can't intersect ``[lo, hi]`` are pruned
    BEFORE Spark opens anything (the Delta/Iceberg skip layer on top of
    bucket pruning), and the residual ``BETWEEN`` filter is applied to
    the survivors so semantics equal read-then-filter exactly.  Files
    without a recorded stat for ``col`` are always kept — pruning is an
    optimization, never a result change.  Bound either end with None
    for one-sided ranges.  A LIST of such tuples is an AND of range
    predicates — a file is pruned when ANY predicate can't match it,
    which is what makes multi-column pruning bite on a
    :func:`zorder_keyed_table`-clustered layout.

    ``where_eq=(col, value)`` (or a list, ANDed) is the POINT-predicate
    skip: files whose Bloom filter (built by
    :func:`bloom.add_bloom_index`) excludes ``value`` are pruned, the
    equality filter applies to survivors.  Files without a bloom for
    the column are always read — a stale index degrades pruning, never
    results.  Composable with ``where=``; both exempt delta-bearing
    buckets.

    ``where_isnull="col"`` / ``where_notnull="col"`` (or lists, ANDed)
    are the NULL-predicate skips from the stats' null accounting
    (``[lo, hi, null_count, row_count]`` entries): ``IS NULL`` prunes
    files with ZERO nulls in the column, ``IS NOT NULL`` prunes
    all-null files — the needle queries of backfill audits ("which
    files still miss this enriched column").  Entries without null
    accounting (older manifests) are must-read; the residual
    ``isNull``/``isNotNull`` filter always applies, so results equal
    read-then-filter exactly.

    ``as_of=<epoch seconds | ISO-8601 string>`` is ``TIMESTAMP AS OF``:
    resolves to the last version committed at or before that time
    (:func:`resolve_as_of`) — same retention caveat as ``version=``.
    Mutually exclusive with ``version=``."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version= or as_of=, not both")
        version = resolve_as_of(target, as_of, store)
    if version is None:
        manifest = _load_manifest(target, store)
        if manifest is None:
            raise FileNotFoundError(f"no committed keyed table at {target}")
    else:
        manifest = store.read_json(_version_manifest_path(target, version))
        if manifest is None:
            raise FileNotFoundError(
                f"no version {version} snapshot at {target} (never "
                "committed, or its manifest was vacuumed past retention)"
            )
    deltas = manifest.get("deltas", {})
    # column mapping of THIS snapshot (version-exact: time travel shows
    # the names the snapshot was committed under).  Stats/blooms are
    # keyed by PHYSICAL names; user predicates speak logical.
    cmap, cdropped = _mapping_of(manifest)
    # dirty buckets (pending MOR deltas) are exempt from data skipping:
    # pruning a delta file by its range could resurrect the stale base
    # row for a key whose replacement fell outside the range — precedence
    # must resolve BEFORE any filtering, so dirty files are always read
    # and only the residual row filter applies to them.
    clean_rel = [
        f
        for b, files in manifest["buckets"].items()
        if b not in deltas
        for f in files
    ]
    preds: list[tuple[str, object, object]] = []
    if where is not None:
        preds = [where] if isinstance(where[0], str) else list(where)
    eq_preds: list[tuple[str, object]] = []
    if where_eq is not None:
        eq_preds = [where_eq] if isinstance(where_eq[0], str) else list(where_eq)
        if any(v is None for _c, v in eq_preds):
            raise ValueError("where_eq value must not be None (use where=)")
    isnull_cols = (
        [where_isnull] if isinstance(where_isnull, str) else list(where_isnull or [])
    )
    notnull_cols = (
        [where_notnull] if isinstance(where_notnull, str) else list(where_notnull or [])
    )
    prune_all = False
    if (preds or eq_preds or isnull_cols or notnull_cols) and clean_rel:
        stats = manifest.get("stats", {})

        def may_match(rel: str) -> bool:
            for col, lo, hi in preds:
                s = stats.get(rel, {}).get(_phys_name(col, cmap))
                if s is None or s[0] is None:
                    continue  # no range stat recorded -> can't prune
                mn, mx = s[0], s[1]
                if lo is not None and mx < lo:
                    return False
                if hi is not None and mn > hi:
                    return False
            for col in isnull_cols:
                s = stats.get(rel, {}).get(_phys_name(col, cmap))
                if s is not None and len(s) == 4 and s[2] == 0:
                    return False  # zero nulls: IS NULL can't match
            for col in notnull_cols:
                s = stats.get(rel, {}).get(_phys_name(col, cmap))
                if s is not None and len(s) == 4 and s[2] == s[3]:
                    return False  # all null: IS NOT NULL can't match
            return True

        survivors = [f for f in clean_rel if may_match(f)]
        if eq_preds and survivors:
            from .bloom import bloom_prune

            for col, val in eq_preds:
                survivors = bloom_prune(
                    spark, manifest, survivors, _phys_name(col, cmap), val
                )
        if survivors:
            clean_rel = survivors
        elif not deltas:
            # every file pruned: scan ONE file for its schema and drop
            # every row below — an empty result with the right columns
            prune_all = True
            clean_rel = clean_rel[:1]
        else:
            clean_rel = []
    if version is not None:
        needed = clean_rel + [
            f for b in deltas for f in manifest["buckets"].get(b, [])
        ] + _delta_files_of(manifest)
        missing = [
            f
            for f in needed
            if not store.exists(os.path.join(target, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"version {version} of {target} is no longer fully "
                f"readable: {len(missing)} data file(s) vacuumed past "
                f"retention (first: {missing[0]})"
            )
    frames = []
    if clean_rel:
        frames.append(
            _read_files(
                spark, target, clean_rel, schema=_manifest_schema(manifest)
            )
        )
    if deltas:
        spec = store.read_json(_spec_path(target))
        if spec is None:
            raise ValueError(f"{target} has pending deltas but no bucket spec")
        frames.append(
            _resolve_dirty(spark, target, manifest, spec["key"], sorted(deltas))
        )
    df = _to_logical_df(
        reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        ).drop(BUCKET_COL),
        cmap,
        cdropped,
    )
    if prune_all:
        return df.filter(F.lit(False))
    for col, lo, hi in preds:
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    for col, val in eq_preds:
        df = df.filter(F.col(col) == F.lit(val))
    for col in isnull_cols:
        df = df.filter(F.col(col).isNull())
    for col in notnull_cols:
        df = df.filter(F.col(col).isNotNull())
    return df


def lookup_keys(
    spark: SparkSession,
    target: str,
    keys: list,
    store=LOCAL_STORE,
) -> DataFrame:
    """Bucket-pruned point lookup — the read-side twin of the merge's
    file pruning: hash the requested keys to their buckets (one
    scalar-class job over ≤ len(keys) rows), open ONLY those buckets'
    live files, then semi-join to the exact keys.  A k-key lookup on an
    N-bucket table reads ~k/N of the files regardless of table size —
    the difference between a point query and a table scan at 100 TB.
    """
    manifest, key, num_buckets = _open_table(target, store)

    keys_df = spark.createDataFrame([(k,) for k in keys], [key])
    # driver-side scalar collect of ≤ len(keys) ints — same class as
    # the merge's affected-bucket probe; the hash MUST be computed by
    # Spark (xxhash64's exact seed/variant), never reimplemented here.
    # No .distinct(): keys is a driver-side list, so the probe would pay
    # a full shuffle + an extra AQE job just to dedupe what this set
    # comprehension dedupes for free (guide §2.4 — r11).
    wanted = {
        r[0]
        for r in keys_df.select(_bucket_expr(key, num_buckets)).collect()
    }
    # pending MOR deltas in a probed bucket resolve precedence for just
    # that bucket before the key semi-join (still ~k/N of files)
    rows = _scope_rows(spark, target, manifest, key, wanted)
    if rows is None:
        return read_keyed_table(spark, target, store).filter(F.lit(False))
    cmap, cdropped = _mapping_of(manifest)
    return _to_logical_df(
        rows.join(F.broadcast(keys_df), key, "left_semi"), cmap, cdropped
    )


def table_history(target: str, store=LOCAL_STORE) -> list[int]:
    """Versions readable via ``read_keyed_table(version=...)`` — the
    per-version manifests still committed, ascending.  The listing goes
    through the storage seam (``store.list_dir`` = the ``_manifest.v``
    prefix listing on an object store), matching where the snapshot
    objects are actually written."""
    out = []
    for f in store.list_dir(target):
        if f.startswith("_manifest.v") and f.endswith(".json"):
            try:
                out.append(int(f[len("_manifest.v") : -len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def table_history_detail(target: str, store=LOCAL_STORE) -> list[dict]:
    """``DESCRIBE HISTORY``: one row per surviving snapshot, ascending
    by version — ``{"version", "operation", "committed_at"}``.  The
    operation is the USER-level entry point (outermost ``@_records_op``
    wins), so an ``apply_changes_scd2`` call whose implementation runs
    internal merges records one coherent "apply_changes_scd2" — the
    Delta Lake history convention.  Pre-feature manifests (no stamp)
    report ``"commit"`` / ``None``.

    Each row also carries size metrics computed from the snapshot's own
    manifest (Delta's ``operationMetrics`` analog): ``num_files`` (live
    base files), ``total_rows`` (exact, from the recorded footer counts
    — None for pre-feature or MOR-dirty snapshots, mirroring
    :func:`table_stats`' exact-or-nothing rule).

    Driver-side O(surviving versions) small-JSON reads through the
    storage seam; no data moves — same cost model as time travel."""
    out = []
    for v in table_history(target, store):
        m = store.read_json(_version_manifest_path(target, v)) or {}
        live = [f for files in m.get("buckets", {}).values() for f in files]
        rows = m.get("rows") or {}
        total = (
            sum(rows[f] for f in live)
            if not m.get("deltas") and all(f in rows for f in live)
            else None
        )
        out.append(
            {
                "version": v,
                "operation": m.get("operation", "commit"),
                "committed_at": m.get("committed_at"),
                "num_files": len(live),
                "total_rows": total,
            }
        )
    return out


def table_stats(target: str, store=LOCAL_STORE) -> dict:
    """Metadata-only table statistics — the Delta/Iceberg "answer
    ``COUNT(*)`` without touching data" fast path, O(manifest) driver
    work at any table size.

    Returns ``{"row_count", "clean", "columns": {col: {"min", "max",
    "null_count"}}}``.  ``row_count`` is the EXACT live row count summed
    from the manifest's per-file footer counts — but only when it can be
    exact: the snapshot must be clean (pending merge-on-read deltas
    shadow base rows, so file sums over-count) and every live file must
    carry a count (pre-feature manifests don't until their next commit).
    Otherwise ``row_count`` is None — never an estimate.  Column
    entries appear only for stats-tracked columns whose min/max covers
    EVERY live file (a single untracked file, or a file whose footer
    range is unrecordable for a non-null column, makes the bound
    unsound — omitted, not widened; all-null files need no range);
    ``null_count`` additionally requires the 4-element stats form
    everywhere, else None.  Stats are keyed by physical column name, so
    on a table with renamed or dropped columns a column appears only
    where its physical and logical names are the same column.
    """
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    mapping, dropped = _mapping_of(manifest)
    remapped = set(dropped) | set(mapping) | set(mapping.values())
    live = sorted(
        f for files in manifest.get("buckets", {}).values() for f in files
    )
    clean = not manifest.get("deltas")
    rows = manifest.get("rows") or {}
    row_count = (
        sum(rows[f] for f in live)
        if clean and all(f in rows for f in live)
        else None
    )
    stats = manifest.get("stats", {})
    columns: dict[str, dict] = {}
    for col in _stats_cols_of(manifest):
        if col in remapped:
            continue  # physical name ≠ this logical column
        per_file = [stats.get(f, {}).get(col) for f in live]
        if any(e is None for e in per_file):
            continue  # a file without the entry = unknown range
        # a rangeless entry [None, None, n, r] is either an all-null file
        # (n == r: no range, and nulls sort nowhere, so the others'
        # bounds stand) or a populated column whose footer range could
        # not be recorded (n < r: date/timestamp/decimal, undecodable
        # bytes) — that file's values are unknown, so the bound is too
        if any(e[0] is None and e[2] < e[3] for e in per_file):
            continue
        ranged = [e for e in per_file if e[0] is not None]
        if not ranged:
            lo = hi = None
        else:
            lo = min(e[0] for e in ranged)
            hi = max(e[1] for e in ranged)
        nulls = (
            sum(e[2] for e in per_file)
            if all(len(e) == 4 for e in per_file)
            else None
        )
        columns[col] = {"min": lo, "max": hi, "null_count": nulls}
    return {"row_count": row_count, "clean": clean, "columns": columns}


def resolve_as_of(target: str, ts, store=LOCAL_STORE) -> int:
    """``TIMESTAMP AS OF`` resolution: the LAST version committed at or
    before ``ts`` — epoch seconds (float) or an ISO-8601 string (naive
    = UTC, matching the session's pinned zone).  Raises if the table's
    earliest surviving version is already newer (nothing existed then,
    or the audit window was vacuumed away).

    Driver-side O(surviving versions) manifest reads — version manifests
    are small JSON and histories are bounded by vacuum; no data moves."""
    if isinstance(ts, str):
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        ts = dt.timestamp()
    best = None
    for v in table_history(target, store):
        m = store.read_json(_version_manifest_path(target, v)) or {}
        committed = m.get("committed_at")
        # pre-feature manifests carry no stamp: treat as "before any
        # requested time" (they ARE the oldest commits) — eligible.
        if committed is None or committed <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no snapshot of {target} existed at or before {ts!r} (first "
            "surviving version is newer — committed later, or vacuumed)"
        )
    return best


def table_changes(
    spark: SparkSession,
    target: str,
    from_version: int,
    to_version: int | None = None,
    key: str | None = None,
    store=LOCAL_STORE,
) -> DataFrame:
    """Change feed between two snapshots (the Delta-CDF idea on this
    table format): per key, ``insert`` (absent → present), ``delete``
    (present → absent), or ``update`` (present in both, any column value
    changed).  ``to_version=None`` diffs against the current snapshot.

    Returns ``(key, change_type, old_row, new_row)`` where the row
    columns are canonical JSON **arrays of the key's full row set**,
    sorted — a schema-STABLE output even across additive column
    evolution between the two versions (a typed struct output would
    force the caller to reconcile two different schemas), and correct
    for multi-row child sets: the key is the change unit (matching the
    merge's replace-by-key atomicity), so a 2-row key pairs as one
    set-vs-set comparison instead of an arbitrary row-level join
    pairing.  Comparison is on the JSON, which makes the NULL-vs-NULL
    case equal and an added column's arrival an ``update`` for keys
    whose value is non-null in the new snapshot.

    Plan shape: both snapshots read manifest-pruned, one full outer join
    shuffling on the key — the same cost class as one merge over the
    span's data, with no change log needing to be captured at write
    time (the manifests ARE the log).
    """
    if key is None:
        # default to the table's own key (the bucket spec records it) —
        # a hardcoded default silently mis-keys any non-"oid__id" table
        spec = store.read_json(_spec_path(target))
        key = spec["key"] if spec else "oid__id"

    def canon(df: DataFrame, out: str) -> DataFrame:
        row = F.struct(*[F.col(c) for c in sorted(df.columns)])
        return df.groupBy(F.col(key).alias("k")).agg(
            F.to_json(F.sort_array(F.collect_list(row))).alias(out)
        )

    # a rename between the endpoints would surface as a spurious
    # "update" on every key (the JSON rows embed column names) — gate
    # the diff to same-mapping spans; diff across the rename in two
    # legs, or purge first
    m_from = store.read_json(_version_manifest_path(target, from_version))
    m_to = (
        store.read_json(_version_manifest_path(target, to_version))
        if to_version is not None
        else _load_manifest(target, store)
    )
    if _mapping_of(m_from) != _mapping_of(m_to):
        raise ValueError(
            f"table_changes({from_version} -> {to_version}): the column "
            "mapping changed inside this span (rename/drop/purge); diff "
            "within same-mapping spans instead"
        )

    old = canon(read_keyed_table(spark, target, store, version=from_version), "old_row")
    new = canon(read_keyed_table(spark, target, store, version=to_version), "new_row")
    joined = old.join(new, "k", "full_outer")
    change = (
        F.when(F.col("old_row").isNull(), F.lit("insert"))
        .when(F.col("new_row").isNull(), F.lit("delete"))
        .when(F.col("old_row") != F.col("new_row"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(F.col("k").alias(key), "change_type", "old_row", "new_row")
    )


# ---------------------------------------------------------------------------
# JDBC stage-then-merge (reference S6-S9).  SQL generation is pure and
# unit-tested; execution needs a live database + driver jar.
# ---------------------------------------------------------------------------

# Reference 3-type model (postgres.py:88-92) → Postgres DDL types.
_PG_TYPES = {"String": "TEXT", "Integer": "INTEGER", "DateTime": "TIMESTAMP"}


def create_table_sql(table: str, columns_dict: dict[str, str]) -> str:
    """S7: CREATE TABLE IF NOT EXISTS from the 3-type column dict.

    Identifiers are always quoted — the events table has reserved-word
    columns ``from``/``to`` (events_table.py:36-37).
    """
    cols = ", ".join(
        f'"{c}" {_PG_TYPES[t]}' for c, t in columns_dict.items()
    )
    return f'CREATE TABLE IF NOT EXISTS "{table}" ({cols})'


def high_water_mark_sql(table: str, column: str = "fileName") -> str:
    """S8: the pushed-down max() probe."""
    return f'SELECT max("{column}") FROM "{table}"'


def table_exists_sql(table: str) -> str:
    """S6's wire leg: the relational table-existence probe (the
    reference uses SQLAlchemy ``inspect(engine).has_table`` —
    postgres.py via dags' ensure-target flow).  One parameterless
    statement against the standard catalog so any DB-API driver can run
    it; returns a row iff the table exists in the CURRENT schema — a
    same-named table in some other schema (an archive, another user's)
    must not satisfy the probe, or the first-load path would read a
    high-water mark from a table the merge never writes
    (``current_schema()`` rather than ``current_schemas(...)``: DuckDB,
    the test stand-in, returns an empty search path from the latter; a
    table in a LATER search-path schema probes false, which only costs
    an idempotent full reload, never a wrong HWM)."""
    safe = table.replace("'", "''")
    return (
        "SELECT 1 FROM information_schema.tables "
        f"WHERE table_name = '{safe}' "
        "AND table_schema = current_schema()"
    )


def merge_sql(table: str, stage: str, key: str, columns: list[str]) -> list[str]:
    """S9: one-transaction keyed replace, stage → target.

    DELETE USING scales with the stage size (indexed key lookup) instead of
    the reference's ``DELETE WHERE key IN (<thousands of parameters>)``.
    """
    collist = ", ".join(f'"{c}"' for c in columns)
    return [
        f'DELETE FROM "{table}" t USING "{stage}" s WHERE t."{key}" = s."{key}"',
        f'INSERT INTO "{table}" ({collist}) SELECT {collist} FROM "{stage}"',
        f'DROP TABLE "{stage}"',
    ]


def _exec_sql(con, sql: str) -> None:
    """Run one statement on a DB-API-ish connection.  DuckDB (and a few
    other drivers) put ``execute`` on the connection; strict DB-API 2.0
    drivers (psycopg2) require a cursor."""
    if hasattr(con, "execute"):
        con.execute(sql)
    else:  # pragma: no cover - exercised only with a strict DB-API driver
        cur = con.cursor()
        try:
            cur.execute(sql)
        finally:
            cur.close()


def pgwire_stage_writer(
    url: str, columns_dict: dict[str, str], chunk_bytes: int = 262144
):
    """A ready-made ``stage_writer`` for :func:`keyed_overwrite_jdbc`
    backed by the engine's own wire client (:mod:`..pgwire`) — no
    psycopg, no JDBC jar: rebuilds the stage table and bulk-loads the
    batch over ``COPY FROM STDIN`` (the server's bulk path — one
    round trip per ~256 KiB chunk, no per-row INSERT parse/plan).

    Rows stream through ``toLocalIterator`` — one partition in driver
    memory at a time, not the whole batch.  Still a DRIVER-side,
    single-connection leg: right for micro-batch merges (the streaming
    sink's cadence) and environments without a driver jar; a 100 TB
    bulk backfill belongs on executor-parallel ``write.jdbc``/COPY,
    which is why this is the seam's fallback, not its default."""
    from . import pgwire

    def write(batch: DataFrame, stage_table: str) -> None:
        cols = list(columns_dict)
        quoted = ", ".join(f'"{c}"' for c in cols)
        con = pgwire.connect(url)
        try:
            cur = con.cursor()
            cur.execute(f'DROP TABLE IF EXISTS "{stage_table}"')
            cur.execute(create_table_sql(stage_table, columns_dict))
            con.commit()  # stage DDL on its own, like the target's
            con.copy_in(
                f'COPY "{stage_table}" ({quoted}) FROM STDIN',
                (tuple(r) for r in batch.select(*cols).toLocalIterator()),
                chunk_bytes=chunk_bytes,
            )
            con.commit()
        except Exception:
            try:
                con.rollback()
            except Exception:
                # dead connection: the COPY failure is the story, the
                # failed rollback is noise (server aborts the txn) —
                # same guard as keyed_overwrite_jdbc's merge leg
                pass
            raise
        finally:
            con.close()

    return write


def keyed_overwrite_jdbc(
    batch: DataFrame,
    url: str,
    table: str,
    key: str,
    columns_dict: dict[str, str],
    properties: dict[str, str] | None = None,
    connection=None,
    connection_factory=None,
    stage_writer=None,
) -> None:
    """S9 against a relational target: stage the batch, then one driver-side
    transaction ``DELETE USING stage; INSERT SELECT; DROP stage``.

    The two environment-bound seams are injectable so the *function* — the
    exact production code path: ensure-target → stage → transactional merge
    → rollback-on-failure — runs end-to-end in tests with DuckDB standing
    in for Postgres (tests/test_sink_pipeline.py):

    - ``stage_writer(batch_df, stage_table)`` lands the batch in the
      database.  Default: ``batch.write.jdbc`` (parallel executor-side
      INSERT — the 100 TB path; needs a driver jar on the Spark
      classpath).
    - The driver-side merge connection, one of:
      ``connection`` — an open DB-API connection, caller-owned (pooled or
      shared; never closed here).  It MUST have no transaction in
      progress: this function issues ``commit()`` after the ensure-target
      DDL, which would silently commit any work the caller had pending on
      a shared connection.  Or ``connection_factory()`` — called
      once per merge; the connection is **closed in a finally** because
      this function created it (a per-micro-batch streaming sink with a
      bare ``psycopg2.connect`` factory would otherwise leak one server
      connection per batch).

    Transaction control is DB-API (``commit()``/``rollback()``), not SQL
    ``BEGIN``/``COMMIT``: on psycopg2 an explicit SQL BEGIN lands inside
    the transaction already implicitly opened by the first statement
    (emitting "already a transaction in progress" and silently pulling
    the DDL into the merge transaction).  The CREATE TABLE is committed
    on its own before the merge; drivers with an explicit ``begin()``
    (DuckDB, psycopg 3) get it called, psycopg2's implicit
    transaction-on-first-execute covers the rest.

    Replayable: re-running the same batch converges (stage is rebuilt,
    DELETE-then-INSERT replaces the same keys).  A failure inside the
    transaction rolls back, leaving the target untouched — the reference's
    single-``engine.begin()`` contract (postgres.py:30-38).  If the
    rollback itself fails (connection genuinely lost), the *original*
    merge error propagates, not the rollback's.
    """
    # validate the merge seam BEFORE staging: a misconfigured call must
    # not land a stage table it can never merge (orphan <table>__stage).
    if connection is None and connection_factory is None:
        raise RuntimeError(
            "driver-side merge needs a DB-API connection; pass an open "
            "`connection` (pooled/shared, caller-owned) or a "
            "`connection_factory` (production: psycopg2.connect, tests: "
            "duckdb.connect — closed here after the merge)."
        )
    stage = f"{table}__stage"
    if stage_writer is not None:
        stage_writer(batch, stage)
    else:
        try:
            batch.write.jdbc(
                url, stage, mode="overwrite", properties=properties or {}
            )
        except Exception as exc:  # pragma: no cover - no jdbc driver in env
            raise RuntimeError(
                "JDBC sink needs a database driver jar on the Spark "
                "classpath and a reachable database; neither exists in "
                "this environment.  Inject stage_writer/"
                "connection/connection_factory to run against an "
                "in-process database."
            ) from exc
    owned = connection is None
    con = connection_factory() if owned else connection
    try:
        _exec_sql(con, create_table_sql(table, columns_dict))
        con.commit()  # DDL on its own — never inside the merge transaction
        if hasattr(con, "begin"):
            con.begin()  # DuckDB/psycopg3; psycopg2 opens implicitly
        try:
            for stmt in merge_sql(table, stage, key, list(columns_dict)):
                _exec_sql(con, stmt)
            con.commit()
        except Exception:
            try:
                con.rollback()
            except Exception:
                # the connection is gone — the merge error is the story,
                # the failed rollback is noise (server aborts the txn).
                pass
            raise
    finally:
        if owned:
            try:
                con.close()
            except Exception:  # pragma: no cover - close on a dead conn
                pass


@_records_op("merge_into")
def merge_into(
    spark: SparkSession,
    target: str,
    source: DataFrame,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: bool = True,
    when_not_matched_by_source_update: dict[str, str] | None = None,
    when_not_matched_by_source_delete: str | bool | None = None,
    store=LOCAL_STORE,
) -> dict:
    """Delta-style ``MERGE INTO`` on the keyed table, as ONE MOR delta
    commit: source rows match target keys; matched rows delete (when the
    ``when_matched_delete`` predicate holds), else update (assignments
    applied), unmatched source rows insert.  Returns
    ``{"updated", "deleted", "inserted"}`` row counts.

    ``when_not_matched_by_source_*`` (Delta 2.4's third clause family)
    acts on TARGET rows whose key has no source match — what makes
    MERGE express full-sync semantics ("source is the complete truth:
    delete/flag everything it no longer contains").  The delete form
    takes a predicate over target columns (or ``True`` for all), the
    update form an assignment dict; with both, rows hitting the delete
    predicate delete and the rest update (same precedence as the
    matched clauses).  Scale caveat, same as Delta's documentation: the
    matched/insert clauses touch only the source keys' buckets, but a
    by-source clause must scan EVERY live bucket (its scope is defined
    by absence) — row restatement is still confined to keys the clause
    actually changes when only the delete form is given.

    Expression namespace: assignment values and the delete predicate are
    SQL strings over the TARGET row's columns by their bare names and the
    matching SOURCE row's columns as ``s_<col>`` (e.g.
    ``{"v": "v + s_v"}``, ``when_matched_delete="s_op = 'D'"``).  The
    source must carry the key column; for inserts it must carry the
    target's columns (missing ones land as NULL via additive-evolution
    rules).  Duplicate source keys are rejected — Delta semantics: a
    target row may match at most one source row.

    Row/key semantics: matching is per KEY (the table's replace unit —
    reference postgres.py:18-38's delete+insert unit); the delete
    predicate and assignments evaluate per target ROW of the matched
    key, a key's surviving rows are restated as its delta row set, and a
    key with no survivors gets a tombstone — exactly the
    ``keyed_delete_where`` machinery, so precedence, compaction, CDF and
    time travel all apply unchanged.  Keys the merge does not touch are
    not restated (their base rows stay live).

    Scale shape: source keys hash to their buckets (≤ num_buckets scalar
    collect), ONLY those buckets' live rows are read
    (:func:`_scope_rows`), the join is key-equi (source side broadcasts
    when dim-sized), and the write is O(affected keys' rows + inserts) —
    merging 1k CDC rows into a 100 TB table touches k buckets.
    """
    manifest, key, num_buckets = _open_table(target, store)
    # merge_into re-interprets user SQL against BOTH the table's rows
    # and the source frame mid-merge — not column-mapping-aware
    _require_unmapped(manifest, "merge_into")
    if key not in source.columns:
        raise ValueError(f"source is missing the key column {key!r}")
    if when_matched_update:
        bad = set(when_matched_update) & {key, BUCKET_COL, TOMBSTONE_COL}
        if bad:
            raise ValueError(
                f"cannot assign to key/internal column(s) {sorted(bad)}"
            )
    # materialize the source ONCE (r11, the Delta MERGE move): the
    # duplicate-key/bucket probe, the matched join, the insert
    # anti-join + count and the by-source anti-join below each execute
    # this frame — without the checkpoint each re-ran the source's
    # upstream from scratch (up to 5 executions per merge).
    # localCheckpoint spills MEMORY_AND_DISK, so a large source
    # degrades to one disk round-trip, never an OOM.
    src = source.select(
        F.col(key).alias("__sk"),
        *[F.col(c).alias(f"s_{c}") for c in source.columns],
    ).localCheckpoint(eager=True)
    # ONE probe answers both pre-flight questions (r12, guide §1.2):
    # the max per-key multiplicity (Delta's at-most-one-match rule) and
    # the ≤ num_buckets affected-bucket set — previously two separate
    # collects, the first of which ran on the PRE-checkpoint source and
    # so executed its upstream a second time.
    probe = (
        src.groupBy("__sk")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.max("__c").alias("__mx"),
            F.collect_set(_bucket_expr("__sk", num_buckets)).alias("__bk"),
        )
        .collect()[0]
    )
    if (probe["__mx"] or 0) > 1:
        raise ValueError(
            "source has duplicate keys: a target row may match at most "
            "one source row (resolve duplicates before the merge)"
        )
    wanted = set(probe["__bk"] or [])
    rows = _scope_rows(spark, target, manifest, key, wanted) if wanted else None

    deleted = updated = inserted = 0
    parts: list[DataFrame] = []
    src_cols = [c for c in source.columns]
    if rows is not None:
        m = rows.join(src, rows[key] == src["__sk"], "inner")
        del_flag = (
            F.expr(when_matched_delete).eqNullSafe(F.lit(True))
            if when_matched_delete
            else F.lit(False)
        )
        marked = m.withColumn("__del", del_flag)
        if not when_matched_update:
            # delete-only merge: restate ONLY keys that actually lose a
            # row — an untouched matched key must not churn the delta
            # (phantom CDF updates, pointless write volume)
            marked = marked.withColumn(
                "__any",
                F.max(F.col("__del").cast("int")).over(
                    Window.partitionBy(rows[key])
                ),
            ).filter(F.col("__any") == 1).drop("__any")
        # materialize the MATCHED join output once (r12, guide §1.2/§5):
        # the counts aggregate below, the survivor/tombstone projections
        # and the final delta write each execute this subtree — without
        # the checkpoint the bucket-pruned table read + join ran once
        # per consumer (profiled: 2 full executions per merge).  Bounded
        # by the matched scope (inner join with the small-by-contract
        # source), i.e. exactly the rows the merge restates — the same
        # trade as the r11 source materialization, spilling
        # MEMORY_AND_DISK, never an OOM.
        marked = marked.localCheckpoint(eager=True)
        counts = marked.agg(
            F.sum(F.col("__del").cast("long")).alias("d"),
            F.sum((~F.col("__del")).cast("long")).alias("u"),
        ).collect()[0]
        deleted = int(counts.d or 0)
        updated = int(counts.u or 0) if when_matched_update else 0
        dtypes = dict(rows.dtypes)
        surv = marked.filter(~F.col("__del"))
        if when_matched_update:
            unknown = set(when_matched_update) - set(rows.columns)
            if unknown:
                raise ValueError(
                    f"assignment to unknown column(s) {sorted(unknown)}"
                )
            surv = surv.select(
                *[
                    F.expr(when_matched_update[c]).cast(dtypes[c]).alias(c)
                    if c in when_matched_update
                    else rows[c]
                    for c in rows.columns
                ],
                "__sk",
            )
        else:
            surv = surv.select(*[rows[c] for c in rows.columns], "__sk")
        parts.append(
            surv.drop("__sk").withColumn(TOMBSTONE_COL, F.lit(False))
        )
        # matched keys with zero survivors -> one tombstone each
        dead = (
            marked.withColumn(
                "__surv",
                F.max((~F.col("__del")).cast("int")).over(
                    Window.partitionBy(rows[key])
                ),
            )
            .filter(F.col("__surv") == 0)
            .select(rows[key].alias(key))
            .distinct()
            .withColumn(TOMBSTONE_COL, F.lit(True))
        )
        parts.append(dead)
        if when_not_matched_insert:
            # checkpointed for the same reason as `marked`: the count
            # below and the delta write otherwise each run the
            # anti-join's bucket-pruned table read.  Bounded by the
            # source.
            ins = src.join(
                rows.select(key), src["__sk"] == rows[key], "left_anti"
            ).select(
                *[F.col(f"s_{c}").alias(c) for c in src_cols]
            ).localCheckpoint(eager=True)
            inserted = ins.count()
            if inserted:
                # insert-ALL semantics (Delta's whenNotMatchedInsertAll):
                # source-only columns evolve the table additively — but
                # only when a row actually inserts; an all-matched merge
                # must not leak the source's control columns into the
                # table schema
                parts.append(ins.withColumn(TOMBSTONE_COL, F.lit(False)))
    elif when_not_matched_insert:
        ins = src.select(*[F.col(f"s_{c}").alias(c) for c in src_cols])
        inserted = ins.count()
        if inserted:
            parts.append(ins.withColumn(TOMBSTONE_COL, F.lit(False)))

    nb_upd = when_not_matched_by_source_update
    nb_del = when_not_matched_by_source_delete
    if nb_upd or nb_del:
        if nb_upd:
            bad = set(nb_upd) & {key, BUCKET_COL, TOMBSTONE_COL}
            if bad:
                raise ValueError(
                    f"cannot assign to key/internal column(s) {sorted(bad)}"
                )
        # scope is defined by ABSENCE from the source, so every live
        # bucket must be scanned (see docstring caveat) — but only keys
        # the clause changes are restated
        all_rows = _scope_rows(
            spark, target, manifest, key, range(num_buckets)
        )
        if all_rows is not None:
            nm = all_rows.join(
                src.select("__sk"), all_rows[key] == F.col("__sk"), "left_anti"
            )
            del_flag2 = (
                F.expr(nb_del).eqNullSafe(F.lit(True))
                if isinstance(nb_del, str)
                else F.lit(bool(nb_del))
            )
            marked2 = nm.withColumn("__del", del_flag2)
            if not nb_upd:
                # delete-only: restate only keys that actually lose a row
                marked2 = (
                    marked2.withColumn(
                        "__any",
                        F.max(F.col("__del").cast("int")).over(
                            Window.partitionBy(key)
                        ),
                    )
                    .filter(F.col("__any") == 1)
                    .drop("__any")
                )
                # the filter above bounds marked2 to the keys this
                # clause actually deletes — exactly the restated scope —
                # so it is safe to materialize ONCE (r12, guide §1.2/§5)
                # for the counts aggregate, the survivor/tombstone
                # projections and the delta write, which otherwise each
                # re-ran the FULL live-bucket scan + anti-join the
                # by-source clause requires (profiled: the table was
                # scanned twice per by-source merge).  The update form
                # stays streaming: its unmatched scope is the whole
                # table, and checkpointing a table-sized frame would
                # double the I/O the write already pays.
                marked2 = marked2.localCheckpoint(eager=True)
            counts2 = marked2.agg(
                F.sum(F.col("__del").cast("long")).alias("d"),
                F.sum((~F.col("__del")).cast("long")).alias("u"),
            ).collect()[0]
            deleted += int(counts2.d or 0)
            if nb_upd:
                updated += int(counts2.u or 0)
            dtypes2 = dict(nm.dtypes)
            surv2 = marked2.filter(~F.col("__del"))
            if nb_upd:
                unknown = set(nb_upd) - set(nm.columns)
                if unknown:
                    raise ValueError(
                        f"assignment to unknown column(s) {sorted(unknown)}"
                    )
                surv2 = surv2.select(
                    *[
                        F.expr(nb_upd[c]).cast(dtypes2[c]).alias(c)
                        if c in nb_upd
                        else F.col(c)
                        for c in nm.columns
                    ]
                )
            else:
                surv2 = surv2.select(*nm.columns)
            parts.append(surv2.withColumn(TOMBSTONE_COL, F.lit(False)))
            dead2 = (
                marked2.withColumn(
                    "__surv",
                    F.max((~F.col("__del")).cast("int")).over(
                        Window.partitionBy(key)
                    ),
                )
                .filter(F.col("__surv") == 0)
                .select(key)
                .distinct()
                .withColumn(TOMBSTONE_COL, F.lit(True))
            )
            parts.append(dead2)

    if not parts:
        return {"updated": 0, "deleted": 0, "inserted": 0}
    delta = parts[0]
    for p in parts[1:]:
        delta = delta.unionByName(p, allowMissingColumns=True)
    visible = delta.filter(~F.col(TOMBSTONE_COL)).drop(TOMBSTONE_COL)
    _enforce_constraints(visible, target, store)
    if deleted or updated or inserted:
        _commit_files(
            spark, target, delta, manifest, key, num_buckets, "delta",
            store=store,
        )
    return {"updated": updated, "deleted": deleted, "inserted": inserted}


CDC_SEQ_COL = "__cdc_seq"
CDC_TOMB_COL = "__tomb_seq"


def _cdc_tomb_path(target: str) -> str:
    return os.path.join(target, "_cdc_tombstones")


@_records_op("gc_cdc_tombstones")
def gc_cdc_tombstones(
    spark: SparkSession, target: str, older_than_seq, store=LOCAL_STORE
) -> int:
    """Expire CDC delete memory older than ``older_than_seq`` (DLT's
    ``tombstoneGCThresholdInSeconds`` analog): tombstones exist to fence
    out-of-order changes, so once the feed's lateness horizon has passed
    a sequence point, its tombstones are dead weight.  The contract is
    the same as DLT's: a change arriving LATER than the GC watermark it
    predates can resurrect a deleted key — size the watermark to the
    source's maximum disorder.  Returns the number of rows expired."""
    tomb = _cdc_tomb_path(target)
    if _load_manifest(tomb, store) is None:
        return 0
    lit = (
        f"'{older_than_seq}'"
        if isinstance(older_than_seq, str)
        else repr(older_than_seq)
    )
    return keyed_delete_where(
        spark, tomb, f"{CDC_TOMB_COL} < {lit}", store=store
    )


@_records_op("apply_changes")
def apply_changes(
    spark: SparkSession,
    target: str,
    changes: DataFrame,
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    key: str | None = None,
    num_buckets: int | None = None,
    store=LOCAL_STORE,
) -> dict:
    """DLT-style ``APPLY CHANGES INTO`` (SCD type 1): absorb an
    out-of-order CDC feed into the keyed table, sequenced by ``seq_col``.

    Semantics (mirrors Delta Live Tables' published contract):

    - **Net-change resolution.** Within the batch, only each key's
      HIGHEST-``seq_col`` row applies; earlier rows are superseded
      without ever touching the table.  Duplicate ``(key, seq)`` pairs
      are rejected — the feed's ordering would be ambiguous.
    - **Out-of-order tolerance across batches.** The winning sequence
      number is persisted per key in the internal ``__cdc_seq`` column;
      a later batch's change applies only if its sequence EXCEEDS the
      stored one.  Late/stale changes — including a whole redelivered
      batch — are counted in ``ignored`` and change nothing, which makes
      the operator idempotent and therefore effectively-once under
      at-least-once streaming delivery (see
      ``streaming.cdc_stream.stream_apply_changes``).
    - **Ops.** ``op_col == delete_op`` deletes the key; any other op
      upserts the row as the key's full new image (the keyed table's
      replace unit — reference postgres.py:18-38's delete+insert unit
      is the key).  Rows seeded outside ``apply_changes`` have no
      stored sequence and lose to ANY change (``__cdc_seq`` evolves
      additively; NULL reads as minus infinity).
    - **Sequenced delete memory.** Every applied delete records
      ``(key, seq)`` in the ``<target>/_cdc_tombstones`` side keyed
      table (DLT keeps the same internal tombstones), so an upsert
      arriving AFTER the delete but sequenced BEFORE it is correctly
      discarded — without this, final state would depend on delivery
      order.  The resulting invariant, test-pinned in tests/test_cdc.py:
      ANY permutation of the feed, split into ANY batches, converges to
      the same table.  Tombstone memory is GC'd explicitly via
      :func:`gc_cdc_tombstones` once the feed's lateness horizon passes
      (DLT's ``tombstoneGCThresholdInSeconds`` contract).

    Returns ``{"upserted", "deleted", "ignored"}`` counts — ``deleted``
    counts every applied delete (it advances CDC state even when the
    key holds no rows yet); ``ignored`` counts stale losers only.

    If the table does not exist yet, ``key``/``num_buckets`` bootstrap
    it from the batch's net non-delete rows (an initial load IS a full
    write, same fall-through as :func:`keyed_merge_mor`).

    Scale shape: net resolution is one window over the batch (CDC
    batches are small by construction); the batch's keys hash to their
    buckets (≤ num_buckets scalar collect) and ONLY those buckets' live
    rows are read for the stored-sequence probe (:func:`_scope_rows`);
    the write is ONE O(net-change) MOR delta commit — applying 1k CDC
    rows to a 100 TB table touches k buckets and rewrites nothing.
    """
    for c in (seq_col, op_col):
        if c not in changes.columns:
            raise ValueError(f"changes frame is missing column {c!r}")
    manifest, key, num_buckets = _open_or_bootstrap(
        target, key, num_buckets, store, "apply_changes"
    )
    if key not in changes.columns:
        raise ValueError(f"changes frame is missing the key column {key!r}")
    if (
        changes.groupBy(key, seq_col)
        .count()
        .filter("count > 1")
        .limit(1)
        .collect()
    ):
        raise ValueError(
            f"changes contain duplicate ({key}, {seq_col}) pairs: the "
            "feed's ordering is ambiguous — disambiguate the sequence "
            "(e.g. append a change counter) before applying"
        )

    payload = [c for c in changes.columns if c != op_col]
    net = (
        changes.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.col(seq_col).desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    seq_type = dict(changes.dtypes)[seq_col]
    # materialize the net-resolved batch ONCE (r11): the bucket probe,
    # the tombstone probe and the freshness join below each execute this
    # frame — without the checkpoint each re-ran the feed's upstream
    # (the net window included) from scratch, 3 full executions per
    # apply.  CDC batches are small by construction (module contract),
    # so the checkpoint is one batch-sized job.
    src = net.select(
        F.col(key).alias("__ck"),
        F.col(seq_col).alias("__cseq"),
        (F.col(op_col) == delete_op).alias("__cdel"),
        F.struct(*payload).alias("__crow"),
    ).localCheckpoint(eager=True)

    if manifest is not None:
        wanted = {
            r[0]
            for r in src.select(
                _bucket_expr("__ck", num_buckets)
            ).distinct().collect()
        }
        rows = (
            _scope_rows(spark, target, manifest, key, wanted)
            if wanted
            else None
        )
    else:
        wanted, rows = set(), None
    if rows is not None and CDC_SEQ_COL in rows.columns:
        cur = rows.groupBy(key).agg(F.max(CDC_SEQ_COL).alias("__cur_seq"))
    elif rows is not None:
        cur = rows.groupBy(key).agg(
            F.lit(None).cast(seq_type).alias("__cur_seq")
        )
    else:
        cur = None

    tomb_path = _cdc_tomb_path(target)
    tmanifest = _load_manifest(tomb_path, store)
    tomb = None
    if tmanifest is not None:
        twanted = {
            r[0]
            for r in src.select(
                _bucket_expr("__ck", store.read_json(_spec_path(tomb_path))["num_buckets"])
            ).distinct().collect()
        }
        trows = (
            _scope_rows(spark, tomb_path, tmanifest, key, twanted)
            if twanted
            else None
        )
        if trows is not None:
            tomb = trows.groupBy(key).agg(
                F.max(CDC_TOMB_COL).alias("__tomb_seq")
            )

    j = src
    if cur is not None:
        j = j.join(
            cur.select(
                F.col(key).alias("__ck"),
                "__cur_seq",
                F.lit(True).alias("__exists"),
            ),
            "__ck",
            "left",
        )
    else:
        j = j.withColumn(
            "__cur_seq", F.lit(None).cast(seq_type)
        ).withColumn("__exists", F.lit(None).cast("boolean"))
    if tomb is not None:
        j = j.join(
            tomb.select(F.col(key).alias("__ck"), "__tomb_seq"), "__ck", "left"
        )
    else:
        j = j.withColumn("__tomb_seq", F.lit(None).cast(seq_type))
    exists = F.coalesce(F.col("__exists"), F.lit(False))
    # a change wins when it beats BOTH the stored per-key sequence (new
    # key / seeded-without-sequence rows read as minus infinity) and the
    # key's delete memory
    fresh = (
        (~exists)
        | F.col("__cur_seq").isNull()
        | (F.col("__cseq") > F.col("__cur_seq"))
    ) & (
        F.col("__tomb_seq").isNull() | (F.col("__cseq") > F.col("__tomb_seq"))
    )
    j = (
        j.withColumn("__up", fresh & ~F.col("__cdel"))
        .withColumn("__del", fresh & F.col("__cdel"))
        .localCheckpoint(eager=True)
    )
    counts = j.agg(
        F.sum(F.col("__up").cast("long")).alias("u"),
        F.sum(F.col("__del").cast("long")).alias("d"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    upserted = int(counts.u or 0)
    deleted = int(counts.d or 0)
    ignored = int(counts.n) - upserted - deleted
    if not (upserted or deleted):
        return {"upserted": 0, "deleted": 0, "ignored": ignored}

    ups = (
        j.filter(F.col("__up"))
        .select("__crow.*")
        .withColumnRenamed(seq_col, CDC_SEQ_COL)
    )
    if manifest is None:
        if upserted:
            keyed_overwrite_parquet(
                spark, ups, target, key=key, num_buckets=num_buckets,
                store=store,
            )
    elif upserted or j.filter(F.col("__del") & exists).take(1):
        if upserted:
            # same guard chain as keyed_merge_mor: a feed missing an
            # existing column must raise NOW — on a replace-by-key
            # table a silently-narrower upsert row is data loss, not
            # evolution (additive new columns still pass)
            stored = _manifest_schema(manifest)
            if stored is not None:
                ups = _align_batch_types(ups, stored, key)
            else:
                live_files = [
                    f for fs in manifest["buckets"].values() for f in fs
                ] + _delta_files_of(manifest)
                if live_files:
                    ups = _align_batch_types(
                        ups, _read_files(spark, target, live_files).schema, key
                    )
        dels = (
            j.filter(F.col("__del") & exists)
            .select(F.col("__ck").alias(key))
            .withColumn(TOMBSTONE_COL, F.lit(True))
        )
        delta = ups.withColumn(TOMBSTONE_COL, F.lit(False)).unionByName(
            dels, allowMissingColumns=True
        )
        _enforce_constraints(
            delta.filter(~F.col(TOMBSTONE_COL)).drop(TOMBSTONE_COL),
            target,
            store,
        )
        _commit_files(
            spark, target, delta, manifest, key, num_buckets, "delta",
            store=store,
        )

    if deleted:
        # sequenced delete memory: replace-by-key keeps each key's
        # LATEST delete point (freshness already guarantees monotony)
        tomb_rows = j.filter(F.col("__del")).select(
            F.col("__ck").alias(key), F.col("__cseq").alias(CDC_TOMB_COL)
        )
        if tmanifest is not None:
            spec_nb = store.read_json(_spec_path(tomb_path))["num_buckets"]
        elif num_buckets is not None:
            spec_nb = num_buckets
        else:
            tgt_spec = store.read_json(_spec_path(target))
            spec_nb = tgt_spec["num_buckets"] if tgt_spec else 16
        keyed_merge_mor(
            spark, tomb_rows, tomb_path, key=key, num_buckets=spec_nb,
            store=store,
        )
    return {"upserted": upserted, "deleted": deleted, "ignored": ignored}


@_records_op("apply_changes_scd2")
def apply_changes_scd2(
    spark: SparkSession,
    target: str,
    changes: DataFrame,
    seq_col: str,
    track_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    key: str | None = None,
    num_buckets: int | None = None,
    store=LOCAL_STORE,
) -> dict:
    """DLT's ``APPLY CHANGES ... STORED AS SCD TYPE 2`` as a MAINTAINED
    table: absorb a CDC batch into a keyed HISTORY table (rows =
    validity intervals ``key, *track_cols, valid_from, valid_to,
    is_current``; the table key is the entity key, a key's row set is
    its history) with O(touched keys) write cost.

    Per touched key: CLOSED intervals before the key's frontier are
    immutable and pass through untouched; the OPEN interval (if any) is
    re-expressed as a synthetic change at its own ``valid_from`` and
    replayed together with the batch's fresh changes through
    :func:`operators.scd.scd2_from_changes` — so multi-change batches,
    redundant-change suppression, delete-closes, and reopen-after-delete
    all inherit the one-pass builder's test-pinned semantics.  Changes
    at or below the frontier (the open interval's start, or the last
    closed interval's end for deleted/absent-tail keys) are STALE and
    drop — SCD2 cannot splice history mid-interval; feed late data
    through a batch rebuild instead.  A redelivered batch re-derives a
    state-identical tail, and state-identical tails are detected and
    skipped (no delta commit, no version churn) — effectively-once
    under at-least-once delivery, same contract as
    :func:`apply_changes`.

    Returns ``{"keys_touched", "rows_written", "ignored_stale"}``.

    Scale shape: the batch's keys hash to their buckets, ONLY those
    buckets' history rows are read, the replay is one window over
    (touched keys' open rows + batch), and the write is one
    replace-by-key MOR delta commit for keys whose tail actually
    changed."""
    from .operators.scd import scd2_from_changes

    for c in (seq_col, op_col, *track_cols):
        if c not in changes.columns:
            raise ValueError(f"changes frame is missing column {c!r}")
    manifest, key, num_buckets = _open_or_bootstrap(
        target, key, num_buckets, store, "apply_changes_scd2"
    )
    # materialize the deduped batch ONCE (r11): the conflict check, the
    # bucket probe, the touched-key set and the replay feed below each
    # execute this frame — without the checkpoint each re-ran the
    # distinct (a full shuffle of the batch) plus the feed's upstream,
    # 4 executions per apply.  CDC batches are small by construction.
    ch = (
        changes.select(key, seq_col, op_col, *track_cols)
        .distinct()
        .localCheckpoint(eager=True)
    )
    if (
        ch.groupBy(key, seq_col).count().filter("count > 1").limit(1).collect()
    ):
        raise ValueError(
            f"changes contain conflicting ({key}, {seq_col}) pairs"
        )

    if manifest is None:
        hist = scd2_from_changes(
            ch, key, seq_col, track_cols, op_col=op_col, delete_op=delete_op
        )
        n = hist.count()
        if n:
            keyed_overwrite_parquet(
                spark, hist, target, key=key, num_buckets=num_buckets,
                store=store,
            )
        return {"keys_touched": hist.select(key).distinct().count() if n else 0,
                "rows_written": n, "ignored_stale": 0}

    wanted = {
        r[0]
        for r in ch.select(_bucket_expr(key, num_buckets)).distinct().collect()
    }
    stored = _scope_rows(spark, target, manifest, key, wanted)
    batch_keys = ch.select(key).distinct()
    if stored is not None:
        stored = stored.join(batch_keys, key, "inner").localCheckpoint(
            eager=True
        )
        open_rows = stored.filter(F.col("is_current"))
        frontier = stored.groupBy(key).agg(
            F.max(
                F.when(F.col("is_current"), F.col("valid_from")).otherwise(
                    F.col("valid_to")
                )
            ).alias("__frontier"),
            F.max(F.col("is_current").cast("int")).alias("__has_open"),
        )
    else:
        open_rows = None
        frontier = None

    seq_type = dict(ch.dtypes)[seq_col]
    parts = [
        ch.select(key, seq_col, op_col, *track_cols).withColumn(
            "__prio", F.lit(1)
        )
    ]
    if open_rows is not None:
        parts.append(
            open_rows.select(
                key,
                F.col("valid_from").cast(seq_type).alias(seq_col),
                F.lit("U").alias(op_col),
                *track_cols,
            ).withColumn("__prio", F.lit(0))
        )
    feed = parts[0]
    for p in parts[1:]:
        feed = feed.unionByName(p)
    if frontier is not None:
        feed = feed.join(frontier, key, "left")
        keep = (
            F.col("__frontier").isNull()
            | (
                (F.col("__has_open") == 1)
                & (F.col(seq_col) >= F.col("__frontier"))
            )
            | (
                (F.col("__has_open") == 0)
                & (F.col(seq_col) > F.col("__frontier"))
            )
        )
        feed = feed.withColumn("__keep", keep).drop(
            "__frontier", "__has_open"
        )
    else:
        feed = feed.withColumn("__keep", F.lit(True))
    feed = feed.localCheckpoint(eager=True)
    # ignored counts genuinely stale BATCH rows only (the synthetic
    # open-row change always survives: it sits exactly at its frontier)
    ignored = feed.filter((~F.col("__keep")) & (F.col("__prio") == 1)).count()
    feed = feed.filter(F.col("__keep")).drop("__keep")
    # a redelivered change that duplicates the synthetic open row
    # collapses here; a batch row CONFLICTING with the open row at the
    # same sequence loses to the open row deterministically — history
    # already committed at that sequence point
    w_dup = Window.partitionBy(key, seq_col).orderBy("__prio")
    feed = (
        feed.withColumn("__rn", F.row_number().over(w_dup))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )

    tail = scd2_from_changes(
        feed, key, seq_col, track_cols, op_col=op_col, delete_op=delete_op
    )
    closed_keep = (
        stored.filter(~F.col("is_current")) if stored is not None else None
    )
    if closed_keep is not None:
        new_hist = closed_keep.select(
            key, *track_cols, "valid_from", "valid_to", "is_current"
        ).unionByName(tail)
    else:
        new_hist = tail
    new_hist = new_hist.localCheckpoint(eager=True)

    # skip keys whose row set is unchanged (redelivery / all-stale):
    # compare multisets per key via exceptAll both ways
    if stored is not None:
        stored_rows = stored.select(
            key, *track_cols, "valid_from", "valid_to", "is_current"
        )
        changed_keys = (
            new_hist.exceptAll(stored_rows)
            .select(key)
            .unionByName(stored_rows.exceptAll(new_hist).select(key))
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        changed_keys = new_hist.select(key).distinct().localCheckpoint(
            eager=True
        )
    n_keys = changed_keys.count()
    if n_keys == 0:
        return {"keys_touched": 0, "rows_written": 0, "ignored_stale": ignored}
    out = new_hist.join(changed_keys, key, "inner")
    n_rows = out.count()
    keyed_merge_mor(
        spark, out, target, key=key, num_buckets=num_buckets, store=store
    )
    return {
        "keys_touched": n_keys,
        "rows_written": n_rows,
        "ignored_stale": ignored,
    }


@_records_op("restore")
def restore_keyed_table(
    spark: SparkSession,
    target: str,
    version: int,
    store=LOCAL_STORE,
) -> int:
    """Delta-style ``RESTORE TABLE ... TO VERSION AS OF``: make snapshot
    ``version`` the CURRENT state again, as a normal forward commit
    (history is append-only — the versions after the restored one stay
    readable; no data is copied or rewritten, the new manifest simply
    references the snapshot's still-retained files).  Returns the new
    version number.

    Mechanics: the snapshot's manifest (``_manifest.v{N}.json``, kept
    until the retention window expires it) is re-committed through the
    same CAS with the next version number.  Files live NOW but absent
    from the snapshot move to the ``retired`` list (vacuum collects them
    after retention); files in the snapshot that were sitting in
    ``retired`` become live again and leave the list — which is exactly
    why a restore must beat vacuum to them: a snapshot older than the
    retention window fails loudly per missing file, never commits a torn
    table.

    Refused across a re-bucketing (the snapshot's bucket ids would prune
    wrongly under the current spec); restoring ACROSS a type widening is
    allowed and restores the old schema, Delta-semantics.

    100 TB shape: pure metadata — one manifest read, an existence probe
    per snapshot file (HEAD on an object store), one CAS.  Zero data
    moves.
    """
    cur = _load_manifest(target, store)
    if cur is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    if version == cur.get("version"):
        return version  # already there: no-op, no version churn
    snap = store.read_json(_version_manifest_path(target, version))
    if snap is None:
        raise FileNotFoundError(
            f"no snapshot manifest for version {version} at {target} "
            "(expired by vacuum retention, or never committed)"
        )
    spec = store.read_json(_spec_path(target))
    snap_nb = snap.get("num_buckets")
    if spec is not None and snap_nb is not None and snap_nb != spec["num_buckets"]:
        raise ValueError(
            f"cannot restore version {version}: it was written under "
            f"{snap_nb} buckets but the table now has {spec['num_buckets']} "
            "(a re-bucketing happened in between; restore before re-bucketing "
            "or rebucket back first)"
        )
    snap_live = [
        f for fs in snap["buckets"].values() for f in fs
    ] + _delta_files_of(snap)
    for f in snap_live:
        if not store.exists(os.path.join(target, f)):
            raise FileNotFoundError(
                f"cannot restore version {version}: data file {f} was "
                "vacuumed past retention"
            )
    snap_set = {os.path.normpath(f) for f in snap_live}
    cur_live = [
        f for fs in cur["buckets"].values() for f in fs
    ] + _delta_files_of(cur)
    now = time.time()
    retired = [
        e
        for e in cur.get("retired", [])
        if os.path.normpath(e["path"]) not in snap_set
        and store.exists(os.path.join(target, e["path"]))
    ] + [
        {"path": f, "ts": now}
        for f in cur_live
        if os.path.normpath(f) not in snap_set
    ]
    new_version = cur["version"] + 1
    manifest = dict(snap)
    manifest["version"] = new_version
    manifest["retired"] = retired
    # restore restores the snapshot's COLUMN NAMES too (Delta restore-
    # schema semantics): pin the snapshot's mapping explicitly — even
    # when empty — so the commit-time carry can't inherit the tip's
    manifest.setdefault("column_mapping", {})
    manifest.setdefault("dropped_columns", [])
    _commit_manifest(
        target, manifest, expected_version=cur["version"], store=store
    )
    return new_version


@_records_op("clone")
def clone_keyed_table(src: str, dest: str, store=LOCAL_STORE) -> int:
    """Delta-style SHALLOW CLONE: make ``dest`` an independent keyed
    table whose manifest references ``src``'s current live files *in
    place* — zero data copied, one spec write + one manifest commit,
    O(file-count) metadata.  At 100 TB this is what turns "give me a
    scratch copy of the table to experiment on" from a multi-hour copy
    into a metadata operation.

    Mechanics: src's live file references are absolutized.  Every
    resolution point in this module goes through
    ``os.path.join(target, f)``, which returns ``f`` unchanged when it
    is absolute — so reads, min/max data skipping, bloom pruning, MOR
    precedence, restore, CDF and the lazy sketch sidecar all work on
    foreign entries with no special-casing.  File-keyed metadata
    (min/max stats, inline blooms, MOR delta entries with their commit
    seqs) is carried under the rewritten keys; the bucket spec and CHECK
    constraints are copied.  The clone's history STARTS at src's current
    version number: MOR precedence is "highest seq wins" and cloned
    delta entries keep their source seqs, so the clone's next commits
    must number above them.

    Divergence is copy-on-write: a merge on the clone rewrites only its
    affected buckets into the clone's own directory and retires the
    foreign references.  The clone's vacuum structurally cannot delete
    source data — it only deletes files discovered by walking the
    clone's own directory, which foreign files are never under
    (test-pinned); retired foreign entries self-prune from the manifest
    once the source itself collects them (the exists-probe carry).

    Caveat (same as Delta Lake's shallow clone): the clone references
    files the SOURCE owns.  Source commits that supersede those files
    start their retention clock, and a source vacuum past it breaks the
    clone.  Keep clones inside the source's retention window, or make a
    clone self-contained by rewriting its data into clone-owned files
    (``rebucket_keyed_table`` with the same bucket count).

    Returns the clone's initial version.  Refuses a dest that is
    already a keyed table (clone never overwrites).
    """
    manifest = _load_manifest(src, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {src}")
    # _load_manifest (not a bare manifest read) so a pre-manifest legacy
    # layout at dest also refuses — clone never overwrites data
    if _load_manifest(dest, store) is not None:
        raise ValueError(f"destination {dest} is already a keyed table")
    src_abs = os.path.abspath(src)

    def _foreign(f: str) -> str:
        # already-absolute entries (cloning a clone) keep pointing at
        # their true owner — references never chain through intermediaries
        return f if os.path.isabs(f) else os.path.join(src_abs, f)

    spec = store.read_json(_spec_path(src))
    if spec is not None:
        _write_spec(dest, spec["key"], spec["num_buckets"], store)
    constraints = store.read_json(_constraints_path(src))
    if constraints:
        store.write_json(_constraints_path(dest), constraints)
    version = manifest["version"]
    cloned = {
        "version": version,
        "buckets": {
            b: [_foreign(f) for f in fs]
            for b, fs in manifest["buckets"].items()
        },
        "deltas": {
            b: [{**e, "path": _foreign(e["path"])} for e in entries]
            for b, entries in manifest.get("deltas", {}).items()
        },
        # the clone owns no files yet, so it has nothing awaiting deletion
        "retired": [],
        # renames/drops travel with the data they describe (explicit
        # presence also pins them against the commit-time carry)
        "column_mapping": manifest.get("column_mapping", {}),
        "dropped_columns": manifest.get("dropped_columns", []),
        # writer-txn watermarks do NOT clone (same as Delta: stream
        # metadata is not copied) — a clone is a new table to every
        # idempotent writer, which must re-apply its batches here
        "txns": {},
        "stats": {
            _foreign(f): s for f, s in manifest.get("stats", {}).items()
        },
        "blooms": {
            _foreign(f): v for f, v in manifest.get("blooms", {}).items()
        },
        # the clone references exactly the source snapshot's files, so
        # the recorded union schema still describes them verbatim
        **(
            {"schema": manifest["schema"]} if manifest.get("schema") else {}
        ),
    }
    os.makedirs(dest, exist_ok=True)
    _commit_manifest(dest, cloned, expected_version=None, store=store)
    return version


@_records_op("append")
def keyed_append(
    spark: SparkSession,
    batch: DataFrame,
    target: str,
    key: str = "oid__id",
    num_buckets: int | None = None,
    verify_new: bool = True,
    stats_cols: list[str] | None = None,
    txn_app: str | None = None,
    txn_seq: int | None = None,
    store=LOCAL_STORE,
) -> int:
    """Fast append of NEW-key rows: one bucketed write + one manifest
    commit that ADDS the batch's files to each bucket's file list —
    no existing data is read or rewritten, so the commit is O(batch)
    regardless of table size.  This is the fact-stream ingest shape
    (Delta's blind ``append``): a CoW merge re-reads and rewrites every
    affected bucket and an MOR merge's deltas tax every read until
    compaction, but an event/log table whose keys are new by
    construction needs neither.  The cost is file-count growth per
    bucket — :func:`optimize_keyed_table` packs buckets back to one
    file and restores the file-pruning economics.

    Contract: the batch's keys must not already exist in the table
    (live OR tombstoned — a tombstone delta outranks base files, so an
    append under one would be silently masked).  ``verify_new=True``
    (default) enforces this with a column-pruned key semi-join against
    the affected buckets' base + delta files — it reads ONE column of
    k/N of the table, not the data; ``verify_new=False`` skips the scan
    for writers whose keys are new by construction (monotonic event
    ids), accepting that a violation would surface as duplicate rows
    (or a masked row under a tombstone).  Multi-row child sets per key
    within one batch are fine — the key-uniqueness contract is against
    the EXISTING table.

    Appends never retire files, never touch pending deltas, and carry
    all existing stats/blooms; new files get min/max stats for the
    tracked columns (``stats_cols`` widens the set).  Returns the
    number of files added.

    ``txn_app``/``txn_seq`` make the append IDEMPOTENT under replay
    (Delta's ``txn`` action — what a streaming ``foreachBatch`` writer
    needs, since a blind append is otherwise the one write in this
    module that is NOT naturally replay-safe): the manifest records the
    highest ``txn_seq`` applied per ``txn_app``, and an append whose
    seq is ≤ the recorded watermark returns 0 without writing.  Pass
    the checkpoint identity as ``txn_app`` and the epoch/batch id as
    ``txn_seq``.  The watermark is carried across unrelated commits
    (merge/compact/optimize/restore) and RESET by clone — a clone is a
    new table to every writer.
    """
    txn = _txn_of(txn_app, txn_seq)
    os.makedirs(target, exist_ok=True)
    manifest = _load_manifest(target, store)
    if manifest is None:
        # the overwrite path records the watermark INSIDE the bootstrap
        # commit (r9): a follow-up metadata commit left a crash window
        # where a replayed first epoch, finding the watermark missing,
        # double-appended its rows
        keyed_overwrite_parquet(
            spark, batch, target, key=key, num_buckets=num_buckets,
            store=store, stats_cols=stats_cols,
            txn_app=txn_app, txn_seq=txn_seq,
        )
        m = _load_manifest(target, store)
        return sum(len(fs) for fs in m["buckets"].values()) if m else 0
    if _txn_applied(manifest, txn):
        return 0
    num_buckets = _load_or_check_spec(target, key, num_buckets, store)
    admitted = _admit_batch(
        spark, batch, target, manifest, key, num_buckets, store, stats_cols
    )
    if admitted is None:
        return 0
    bucketed, affected, stats_cols = admitted
    deltas = manifest.get("deltas", {})
    probe_files = [
        f for b in affected for f in manifest["buckets"].get(b, [])
    ] + [e["path"] for b in affected for e in deltas.get(b, [])]
    if verify_new and probe_files:
        # probe the TABLE side against the broadcast batch keys: the
        # batch is the small side by construction, and a semi-join the
        # other way around would shuffle (or broadcast) the table's key
        # column instead — measured 9.0 s vs 1.3 s on a 9.6M-row table
        # for a 1,500-key batch
        hit = (
            _read_files(
                spark, target, probe_files, schema=_manifest_schema(manifest)
            )
            .select(key)
            .join(F.broadcast(bucketed.select(key).distinct()), key, "left_semi")
            .limit(1)
            .collect()
        )
        if hit:
            raise ValueError(
                f"append key {hit[0][0]!r} already exists in {target} "
                "(live or tombstoned) — use a merge to replace keys"
            )
    # the new-key verification probed the BASE's affected buckets — they
    # must be untouched under any winner the commit rebases over
    _, written = _commit_files(
        spark, target, bucketed, manifest, key, num_buckets, "append",
        guard=affected, txn=txn, stats_cols=stats_cols, store=store,
    )
    return sum(len(fs) for fs in written.values())


@_records_op("optimize")
def optimize_keyed_table(
    spark: SparkSession,
    target: str,
    max_files_per_bucket: int = 1,
    store=LOCAL_STORE,
) -> int:
    """Bin-pack small files (Delta ``OPTIMIZE``): rewrite every bucket
    holding more than ``max_files_per_bucket`` base files back to one
    file, folding any pending MOR deltas on those buckets along the way
    (correctness requires it — the rewrite must capture their
    precedence).  Buckets at or under the threshold are not read, not
    rewritten, and keep their stats/bloom entries byte-for-byte;
    delta-bearing buckets under the threshold stay
    :func:`compact_keyed_table`'s job.

    This is :func:`keyed_append`'s other half: appends trade read
    amplification for O(batch) commits, optimize pays the debt back on
    a maintenance schedule.  Data is unchanged by construction — the
    change feed across an optimize commit is empty, time travel to the
    pre-optimize version still reads the old files (they retire under
    the normal retention window), and file-level min/max stats are
    recomputed for the packed files so data skipping gets BETTER (one
    range per bucket instead of one per append).  On a clone, packing
    a bucket rewrites its foreign references into clone-owned files —
    optimize is also how a clone self-contains its hot buckets.

    Returns the number of buckets packed (0 = nothing to do, no
    manifest churn).
    """
    manifest, key, num_buckets = _open_table(target, store)
    packable = sorted(
        b
        for b, fs in manifest["buckets"].items()
        if len(fs) > max_files_per_bucket
    )
    if not packable:
        return 0
    _commit_files(
        spark, target, _scope_rows(spark, target, manifest, key, packable),
        manifest, key, num_buckets, "replace", buckets=packable, store=store,
    )
    return len(packable)


# ---------------------------------------------------------------------------
# Write-Audit-Publish (Iceberg's WAP pattern, Netflix's production gate):
# stage commits on an isolated BRANCH of the table, audit the staged
# state with data-quality expectations, then PUBLISH — one CAS that
# fast-forwards the main table to the audited snapshot.  Readers of the
# main table never observe unaudited data; a failed audit costs nothing
# but the branch.
#
# A branch is a shallow clone under `<table>/_branches/<name>`: zero
# data copied at begin, divergence is copy-on-write into branch-owned
# files, and the `_branches` first-level underscore prefix makes the
# subtree invisible to the source's vacuum walk (test-pinned for
# clones already).  Publish is METADATA-ONLY: branch-owned file
# references absolutize into the branch directory, references the
# branch still holds into the source re-relativize back to source
# ownership, and source files the published snapshot no longer uses
# enter the source's `retired` list for normal retention-window
# collection.  At 100 TB this is the difference between "re-write the
# table to take a gated load" and "flip a pointer".
#
# Caveat (inherited from shallow clones, documented there): after a
# publish the source's manifest references files that live under the
# branch directory — keep it until `optimize_keyed_table`/
# `compact_keyed_table` re-owns them, then the empty branch can go.
# Concurrency: publish CASes on the source version captured at
# `wap_begin`; any source commit in between fails the publish with
# ConcurrentWriteError (re-branch to rebase — no merge heuristics).
# ---------------------------------------------------------------------------

WAP_SUBDIR = "_branches"


_BRANCH_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def _branch_path(src: str, name: str) -> str:
    # safe-charset allowlist, first char alphanumeric: rejects '/',
    # leading '_' (the table's private metadata namespace), and the
    # traversal names '.' / '..' — os.path.join(src, '_branches', '..')
    # normalizes to src itself, aiming clone/meta/delete_tree at the
    # SOURCE table directory (r7 advisor finding)
    if not _BRANCH_NAME_RE.match(name):
        raise ValueError(f"invalid branch name {name!r}")
    return os.path.join(src, WAP_SUBDIR, name)


def _wap_meta_path(branch: str) -> str:
    return os.path.join(branch, "_wap.json")


def wap_begin(src: str, name: str, store=LOCAL_STORE) -> str:
    """Open a WAP branch of ``src``: shallow-clone it to
    ``<src>/_branches/<name>`` and record the source version the
    eventual publish must CAS against.  Returns the branch path — write
    to it with the ordinary keyed-table operations."""
    branch = _branch_path(src, name)
    # publish re-owns branch files into the source manifest — auditing
    # that flow under two divergent mappings is not worth the risk;
    # run purge_column_mapping before branching a renamed table
    _require_unmapped(_load_manifest(src, store), "wap_begin")
    base_version = clone_keyed_table(src, branch, store)
    store.write_json(
        _wap_meta_path(branch),
        {"src": os.path.abspath(src), "base_version": base_version},
    )
    return branch


def wap_branches(src: str, store=LOCAL_STORE) -> list[str]:
    """Branch names currently open under ``src`` (published ones remain
    until their files are re-owned and the directory is removed)."""
    return sorted(
        d
        for d in store.list_dir(os.path.join(src, WAP_SUBDIR))
        if store.exists(_wap_meta_path(os.path.join(src, WAP_SUBDIR, d)))
    )


def wap_abandon(src: str, name: str, store=LOCAL_STORE) -> None:
    """Drop an UNPUBLISHED branch: delete its directory (branch-owned
    files only live there; references into the source are pointers, not
    files, so the source cannot be harmed).  Refuses a published branch
    — the source's manifest references its files."""
    branch = _branch_path(src, name)
    meta = store.read_json(_wap_meta_path(branch))
    if meta is None:
        raise FileNotFoundError(f"no WAP branch {name!r} under {src}")
    if meta.get("published_as") is not None:
        raise ValueError(
            f"branch {name!r} was published as version "
            f"{meta['published_as']}; the table references its files — "
            "run optimize_keyed_table on the source, verify, then remove "
            "the branch directory manually"
        )
    store.delete_tree(branch)


@_records_op("wap_publish")
def wap_publish(
    spark: SparkSession,
    src: str,
    name: str,
    expectations=None,
    store=LOCAL_STORE,
) -> dict:
    """Audit the branch, then fast-forward ``src`` to its snapshot.

    With ``expectations=[Rule, ...]`` the branch's CURRENT STATE (not
    just the new batch — WAP audits what readers would see) is scored by
    :func:`operators.expectations.check_expectations`; any rule with
    violations aborts the publish and nothing on ``src`` changes.

    Returns ``{"version", "n_published_files", "n_retired", "report"}``
    (report = list of rule dicts, [] when no expectations given).
    Raises :class:`ConcurrentWriteError` if ``src`` committed past the
    branch's base version, ``ValueError`` on a failed audit, an empty
    branch (nothing to publish), or a branch whose bucket layout
    diverged from the source's (rebucket on a branch is not
    publishable)."""
    branch = _branch_path(src, name)
    meta = store.read_json(_wap_meta_path(branch))
    if meta is None:
        raise FileNotFoundError(f"no WAP branch {name!r} under {src}")
    src_manifest = _load_manifest(src, store)
    branch_manifest = _load_manifest(branch, store)
    if src_manifest is None or branch_manifest is None:
        raise FileNotFoundError(f"source or branch table missing for {name!r}")
    if branch_manifest["version"] == meta["base_version"]:
        raise ValueError(f"branch {name!r} has no commits — nothing to publish")
    src_spec = store.read_json(_spec_path(src))
    br_spec = store.read_json(_spec_path(branch))
    if (src_spec or {}) != (br_spec or {}):
        raise ValueError(
            f"branch {name!r} changed the bucket layout "
            f"({src_spec} -> {br_spec}); rebucket the source instead"
        )

    report_rows: list[dict] = []
    if expectations:
        from .operators.expectations import check_expectations

        report = check_expectations(
            read_keyed_table(spark, branch, store), expectations
        )
        report_rows = [r.asDict() for r in report.collect()]
        bad = [r for r in report_rows if r["n_violations"] > 0]
        if bad:
            raise ValueError(
                f"WAP audit failed for branch {name!r}: "
                + "; ".join(
                    f"{r['rule']} ({r['n_violations']} violations)" for r in bad
                )
            )

    # the CAS precondition: src must still be where the branch forked it
    if src_manifest["version"] != meta["base_version"]:
        raise ConcurrentWriteError(
            f"source advanced to v{src_manifest['version']} past branch "
            f"base v{meta['base_version']}; re-branch to rebase"
        )

    src_abs = os.path.abspath(src)
    branch_abs = os.path.abspath(branch)

    def _publish_ref(f: str) -> str:
        if os.path.isabs(f):
            # a reference the branch held into the source (or a deeper
            # clone ancestor): re-relativize anything source-owned
            rel = os.path.relpath(f, src_abs)
            return rel if not rel.startswith("..") else f
        return os.path.join(branch_abs, f)  # branch-owned file

    buckets = {
        b: [_publish_ref(f) for f in fs]
        for b, fs in branch_manifest["buckets"].items()
    }
    deltas = {
        b: [{**e, "path": _publish_ref(e["path"])} for e in entries]
        for b, entries in branch_manifest.get("deltas", {}).items()
    }
    published_live = {os.path.normpath(f) for fs in buckets.values() for f in fs}
    published_live |= {
        os.path.normpath(e["path"]) for es in deltas.values() for e in es
    }
    # source files the audited snapshot dropped: start their retention
    # clock now, alongside whatever the source already had pending
    now = time.time()
    src_live = {
        os.path.normpath(f)
        for fs in src_manifest["buckets"].values()
        for f in fs
    }
    src_live |= {
        os.path.normpath(e["path"])
        for es in src_manifest.get("deltas", {}).values()
        for e in es
    }
    retired = [
        e
        for e in src_manifest.get("retired", [])
        if os.path.normpath(e["path"]) not in published_live
    ]
    retired += [
        {"path": f, "ts": now} for f in sorted(src_live - published_live)
    ]
    published = {
        # fast-forward TO the branch's version number: its MOR delta
        # entries carry commit seqs up to that version, and the source's
        # next commit must number above every one of them
        "version": branch_manifest["version"],
        "buckets": buckets,
        "deltas": deltas,
        "retired": retired,
        "stats": {
            _publish_ref(f): s
            for f, s in branch_manifest.get("stats", {}).items()
        },
        "blooms": {
            _publish_ref(f): v
            for f, v in branch_manifest.get("blooms", {}).items()
        },
    }
    _commit_manifest(
        src, published, expected_version=meta["base_version"], store=store
    )
    store.write_json(
        _wap_meta_path(branch),
        {**meta, "published_as": branch_manifest["version"]},
    )
    return {
        "version": branch_manifest["version"],
        "n_published_files": len(published_live),
        "n_retired": len(retired),
        "report": report_rows,
    }


@_records_op("adopt_foreign")
def adopt_foreign_files(target: str, store=LOCAL_STORE) -> int:
    """Make the table self-contained: every FOREIGN file reference
    (absolute path into a clone source or a published WAP branch) is
    copied into the table's own directory and the manifest re-pointed —
    one commit, zero rows decoded.

    Parquet data files are immutable, so adoption is a byte copy: the
    file's min/max stats, bloom sidecars and row counts stay valid
    verbatim under the new key.  Cost is O(foreign bytes) — after a WAP
    publish that is exactly the newly-loaded data, not the table (the
    targeted alternative to ``rebucket_keyed_table``'s full rewrite).
    The copy itself is a local-path data-plane leg (same documented
    caveat as ``_file_stats``: data files are written and read by Spark
    on the executor side; only metadata rides the storage seam).

    Returns the number of files adopted (0 = already self-contained;
    no commit is made).  After a publish: ``adopt_foreign_files(src)``,
    then the branch directory can be removed.
    """
    import shutil
    import uuid

    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")

    moved: dict[str, str] = {}

    def _adopt(f: str, bucket: str) -> str:
        if not os.path.isabs(f):
            return f
        new_rel = os.path.join(
            f"{BUCKET_COL}={bucket}",
            f"adopt-{uuid.uuid4().hex}-{os.path.basename(f)}",
        )
        dst = os.path.join(target, new_rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
        moved[f] = new_rel
        return new_rel

    buckets = {
        b: [_adopt(f, b) for f in fs]
        for b, fs in manifest["buckets"].items()
    }
    deltas = {
        b: [{**e, "path": _adopt(e["path"], b)} for e in entries]
        for b, entries in manifest.get("deltas", {}).items()
    }
    if not moved:
        return 0
    remap = lambda d: {moved.get(f, f): v for f, v in (d or {}).items()}  # noqa: E731
    adopted = {
        "version": manifest["version"] + 1,
        "buckets": buckets,
        "deltas": deltas,
        # foreign originals are not ours to retire or vacuum — the
        # manifest simply stops referencing them
        "retired": manifest.get("retired", []),
        "stats": remap(manifest.get("stats")),
        "blooms": remap(manifest.get("blooms")),
        "rows": remap(manifest.get("rows")),
    }
    if manifest.get("schema"):
        # adopted files are byte copies of this snapshot's referenced
        # files — the recorded schema still describes them exactly
        adopted["schema"] = manifest["schema"]
    _commit_manifest(
        target, adopted, expected_version=manifest["version"], store=store
    )
    return len(moved)


def expire_snapshots(
    target: str,
    keep_last: int | None = None,
    older_than_s: float | None = None,
    store=LOCAL_STORE,
) -> int:
    """Iceberg's ``expire_snapshots``: drop old per-version manifests —
    the TIME-TRAVEL INDEX, not data (data-file reclamation is
    :func:`vacuum_keyed_table`'s job and is governed by the CURRENT
    manifest's ``retired`` list; version manifests never pin files).
    At 100 TB a busy table commits thousands of times a day; unbounded
    ``_manifest.v*.json`` growth is a listing/metadata cost with no
    reader benefit beyond the retention horizon.

    ``keep_last=N`` keeps the N highest versions; ``older_than_s=S``
    expires snapshots committed more than S seconds ago (no
    ``committed_at`` stamp = old pre-feature snapshot = expirable).
    Given both, a snapshot expires only if BOTH say so.  The current
    version never expires.  Returns the number of snapshots dropped.

    Degradation is already graceful everywhere downstream: time travel
    and RESTORE to an expired version raise the documented
    FileNotFoundError, ``table_history`` stops listing it, CDF ranges
    treat it as absent, and the IVM refreshers fall back to a full
    recompute when their recorded source snapshot is gone.
    """
    if keep_last is None and older_than_s is None:
        raise ValueError("pass keep_last=, older_than_s=, or both")
    if keep_last is not None and keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    versions = table_history(target, store)
    current = manifest["version"]
    protected = set(
        sorted(versions)[-keep_last:] if keep_last is not None else []
    )
    protected.add(current)
    now = time.time()
    dropped = 0
    for v in versions:
        if v in protected:
            continue
        if older_than_s is not None:
            snap = store.read_json(_version_manifest_path(target, v)) or {}
            committed = snap.get("committed_at")
            if committed is not None and now - committed < older_than_s:
                continue
        store.delete_file(_version_manifest_path(target, v))
        dropped += 1
    return dropped
