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
  under a fresh ``data/<commit>`` directory, list what landed, describe
  the new files once per commit (:func:`_describe_files`: one footer
  read and one size per file gives its stats, row count and bytes),
  build the next manifest from the base snapshot (stamp superseded
  files as retired, carry retirees that still exist, keep
  stats/blooms/rows/bytes of surviving files and add the new files',
  record the schema), and publish it through
  :func:`_commit_optimistic`, whose rebase reuses the description.
  Each public path supplies only its row scope and one of three
  manifest edits:

  - *replace buckets* — a listed subset (:func:`keyed_overwrite_parquet`,
    :func:`compact_keyed_table`, :func:`optimize_keyed_table`) or every
    bucket (a table's first commit, :func:`rebucket_keyed_table`,
    :func:`widen_keyed_table`, :func:`purge_column_mapping`,
    :func:`cluster_keyed_table`, :func:`zorder_keyed_table`);
  - *add base files* — :func:`keyed_append`;
  - *add delta files* — :func:`keyed_merge_mor`,
    :func:`keyed_delete_where`, :func:`keyed_update_where`,
    :func:`merge_into`, :func:`apply_changes` (both of its commits: the
    target's delta and the delete memory's) and
    :func:`apply_changes_scd2`.

  A write path materializes a frame only through :func:`_checkpoint`:
  one eager local checkpoint whose same pass observes every value the
  path needs of that frame — row counts, the buckets its keys hash to,
  duplicate-key and CHECK-constraint tallies — so **no probe job
  follows a checkpoint**: no count, collect or take runs the frame or
  its checkpoint again.  A user batch is admitted by
  :func:`_admit_batch`; MERGE and the CDC ops checkpoint their source
  and their decided rows the same way and commit through
  :func:`_commit_files` directly (a table's first commit goes through
  :func:`keyed_overwrite_parquet`, which sizes its layout).  A
  checkpoint that fits the broadcast threshold is broadcast as a
  join's build side (:func:`_broadcastable`).  Two scans remain by
  design: on a table whose manifest records CHECK constraints, MERGE
  and the CDC ops check the restated rows (one scan per constraint),
  and MERGE's by-source UPDATE counts its whole-table scope with one
  aggregate.

  **Layout.**  The manifest is the one record of a table's layout: the
  bucket ``key``, the ``num_buckets`` its files were hashed with and,
  on an auto-sized table, ``auto``.  The first commit records them,
  they move atomically with the files, and every later commit carries
  them (:func:`_commit_manifest`).  A table created with
  ``num_buckets=`` keeps that count until :func:`rebucket_keyed_table`.
  One created without it is auto-sized: its first commit starts at the
  smallest power of two whose buckets fit the admitted batch in
  :data:`TARGET_BUCKET_BYTES` (at most 64), and a CoW merge, compaction
  or optimize doubles the layout (one commit rewriting every bucket)
  once the mean bucket passes the target.  The stored bytes it sums are
  recorded per file in the manifest (``bytes``) when the file is
  committed, so the check reads no data file.  A trickle-fed table
  thus stays at a few files.  Few buckets also means few disjoint
  ones: concurrent writers that must land without conflicting
  (disjoint-bucket merges) should pin ``num_buckets=``.

  Conflict rules: the CoW merge and the append rebase over any commit
  that leaves their affected buckets, the bucket count and their txn
  watermark unchanged; delta commits rebase only over row-preserving
  commits (``_REBASE_SAFE_OPS``) that leave the buckets they write
  unchanged (the blind MOR upsert guards no bucket); the maintenance
  rewrites rebase over nothing — any intervening commit fails them.

  Row-level DML builds its delta frame in one step,
  :func:`_restate_keys`: per key with at least one row deleted or
  assigned, the surviving rows (assignments applied) or one tombstone.
  :func:`keyed_delete_where`, :func:`keyed_update_where` and both
  :func:`merge_into` clause families differ only in the rows, the
  delete condition and the assignments they hand it; assignment targets
  are checked up front (:func:`_check_assignments`).

  **Metadata-only commits.**  The manifest is the only record of a
  table's state; nothing is written beside it.  The ambient policies
  (drift, IVF, MinHash) are driven by one table, ``_POLICIES``: their
  setters commit through :func:`_policy_commit`, and the manifest
  carry, :func:`rename_column` and :func:`drop_column` (via
  :func:`_mapping_commit`) loop over it.  CHECK constraints are the
  manifest key ``constraints`` (``{name: predicate}``):
  :func:`add_table_constraint` and :func:`drop_table_constraint` each
  make one commit (:func:`_constraint_commit`), every write path
  enforces the constraints of the manifest it loaded, a data commit
  never rebases over a constraint change, and a constraint added
  after a data commit's admission fails that commit's CAS instead of
  landing unchecked rows.

  The commits that move no data but re-point a whole snapshot —
  :func:`restore_keyed_table`, :func:`clone_keyed_table`,
  :func:`wap_publish` and :func:`adopt_foreign_files` — share one
  shape: their checks, then :func:`_repoint` (the snapshot's files
  under new references, with the entries that describe those files:
  stats, blooms, row counts, schema, layout and column mapping), a
  ``retired`` list, and one :func:`_commit_manifest`, whose carry takes
  the table state (writer txns, CHECK constraints, ambient policies)
  from the base it was built on, the tip it loaded.
  Restore and publish retire through :func:`_retire`, the same rule
  the kernel uses; a clone has nothing to retire, and adopt keeps the
  tip's list (foreign originals are not the table's to retire).

  **Old manifests.**  Every manifest is read through one of two
  readers, :func:`_load_manifest` (the tip) and :func:`_read_version`
  (any snapshot, the tip's through a crash-lost copy), and both return
  it through :func:`_normalize`, the only code that knows the forms
  older writers left: a pre-manifest layout (adopted in place), the
  side files that once held the layout, the CHECK constraints and a
  WAP branch's fork point (folded in), and the keys added since (filled
  with their empty values).  Each fold runs only when its key is
  absent, so a current manifest costs no extra I/O, and the table's
  next commit records what the folds found.  Key presence identifies
  each old form; manifests carry no format number that could disagree
  with their keys.
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
import threading
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
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

#: stored bytes a bucket of an auto-sized table holds before its layout
#: doubles — the table-format analogue of Delta's ``targetFileSize``.  A
#: table created without ``num_buckets=`` starts at the smallest power of
#: two whose buckets fit it and doubles on a copy-on-write merge,
#: :func:`compact_keyed_table` or :func:`optimize_keyed_table` once its
#: mean bucket passes it (:func:`_sized`).  A CoW merge rewrites every
#: bucket it touches, so this also bounds what a one-row merge rewrites.
TARGET_BUCKET_BYTES = 32 << 20

#: most buckets an auto-sized table's first commit starts at: the fixed
#: default before layouts were sized.  The start comes from the admitted
#: batch's in-memory bytes, which overstate its parquet many times over
#: (:func:`_batch_bytes`), and layouts never shrink; a table that needs
#: more grows on a later rewrite, sized by its stored bytes.
_MAX_START_BUCKETS = 64

#: default retention for superseded files (seconds).  A reader that
#: resolved the manifest just before a merge still streams the OLD files
#: afterwards; deleting them immediately would fail that reader mid-scan.
#: One hour covers any sane scan; set 0 only where no concurrent readers
#: exist (tests, single-process pipelines).
DEFAULT_RETENTION_S = 3600.0

#: the single commit object: bucket -> live data files.  Replacing this
#: file IS the commit (atomic os.replace locally; single PUT on S3/GCS).
MANIFEST_NAME = "_manifest.json"


def _bucket_expr(key: str, num_buckets: int):
    # xxhash64 is deterministic across sessions/executors/versions — the
    # same key always lands in the same bucket, which is what makes
    # bucket-pruned merging sound.
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(num_buckets)).cast("int")


def _check_layout(
    target: str, key: str, num_buckets: int | None, manifest: dict | None
) -> int | None:
    """Validate the caller's layout against the target's and return the
    bucket count.  ``num_buckets=None`` adopts the existing table's
    layout; on a new table it asks for an auto-sized one, whose count
    (None here) the first commit takes from the admitted batch."""
    have = None if manifest is None else manifest.get("num_buckets")
    if have is None:
        if manifest is not None and num_buckets is None:
            raise ValueError(
                f"{target} has a manifest but no recorded bucket layout: "
                "pass num_buckets="
            )
        return num_buckets
    if num_buckets is None:
        num_buckets = have
    if num_buckets != have or manifest.get("key", key) != key:
        raise ValueError(
            f"target {target} is bucketed by {manifest.get('key')!r} into "
            f"{have}, got key={key!r} num_buckets={num_buckets}; only "
            "rebucket_keyed_table or an auto-sized table's growth changes "
            "the bucket layout"
        )
    return num_buckets


def _sized(n_bytes: int, num_buckets: int = 1) -> int:
    """The smallest ``num_buckets · 2^k`` whose mean bucket holds at most
    :data:`TARGET_BUCKET_BYTES` of ``n_bytes``.  Doubling is local:
    bucket = ``pmod(xxhash64(key), N)``, so bucket b of N becomes b or
    b+N of 2N (linear hashing's split, Litwin 1980)."""
    while n_bytes > num_buckets * TARGET_BUCKET_BYTES:
        num_buckets *= 2
    return num_buckets


def _stored_bytes(target: str, manifest: dict, files, store) -> int:
    """Stored bytes of ``files``: the sizes the manifest recorded when
    they were committed (``bytes``, see :func:`_describe_files`),
    else — a manifest written before sizes were recorded — the store's
    answer; a file gone from the store counts 0."""
    sizes = manifest.get("bytes") or {}
    return sum(
        sizes[f] if f in sizes else store.size(os.path.join(target, f)) or 0
        for f in files
    )


def _grown(target: str, manifest: dict, num_buckets: int, store) -> int | None:
    """The doubled layout an auto-sized table's next rewrite commits at,
    or None while its mean bucket (live base and delta bytes over
    ``num_buckets``) is within the target.  A manifest read: every
    committed file's size is recorded in it."""
    live = _stored_bytes(target, manifest, _live_files(manifest), store)
    grown = _sized(live, num_buckets)
    return grown if grown > num_buckets else None


def _batch_bytes(cp: DataFrame) -> int:
    """Bytes the block manager holds for a local checkpoint — the size
    an auto-sized table's first commit starts from, read on the driver
    without a Spark job.  In-memory rows are larger than their parquet
    files, so a table starts at or above the layout its files need —
    capped at :data:`_MAX_START_BUCKETS`."""
    rdd = cp._jdf.queryExecution().analyzed().rdd()
    return sum(
        info.memSize() + info.diskSize()
        for info in rdd.context().getRDDStorageInfo()
        if info.id() == rdd.id()
    )


class ConstraintViolation(ValueError):
    """A merge batch (or the existing table, when adding a constraint)
    contains rows for which a CHECK predicate is not TRUE."""


def _fails(predicate: str):
    """Per-row Column: ``predicate`` is FALSE or NULL — the Delta CHECK
    semantic: a constraint must evaluate to TRUE, so a NULL result is a
    violation, not a pass."""
    return ~F.expr(predicate).eqNullSafe(F.lit(True))


def _violations(df: DataFrame, predicate: str):
    """First row (if any) where ``predicate`` fails (:func:`_fails`)."""
    return df.filter(_fails(predicate)).limit(1).collect()


def _enforce_constraints(batch: DataFrame, constraints: dict) -> None:
    """Reject the whole batch on the first violating row — BEFORE any
    file is written, so a rejected merge leaves no commit dir and no
    version bump (test-pinned).  ``constraints`` are those of the
    manifest the write loaded.  Cost: one scan of the batch per
    constraint checked.  :func:`_admit_batch` counts every constraint's
    violations in the pass that materializes the batch and passes only
    those it saw violated, so a passing batch costs no job here and a
    failing one one scan, for the example row."""
    for name, pred in constraints.items():
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


def _normalize(manifest: dict | None, target: str, store) -> dict | None:
    """``manifest`` (as read from the store, None when absent) in the
    current form, or None when ``target`` holds no table: the one place
    that knows the old forms.  Each fold runs only when its key is
    absent, so a current manifest costs no I/O:

    - no manifest, but bucket directories at the target root (a
      pre-manifest layout): its files are adopted in place as a
      version-0 manifest, which the first merge commits (no data
      rewrite).  The listing goes through the seam: a non-local store
      holds such a layout when an older writer crashed between its data
      write and its initial commit;
    - no ``key``: the key, the ``auto`` flag and (before manifests
      recorded the count) the bucket count lived in
      ``_bucket_spec.json`` (a count the manifest records wins);
    - no ``constraints``: the CHECK constraints lived in
      ``_constraints.json`` (none when absent);
    - no ``wap`` on a table directly under ``<src>/_branches/``: a WAP
      branch's fork point lived in ``_wap.json``;
    - keys added since: no MOR ``deltas``, ``retired`` files, ``stats``,
      ``blooms``, ``rows`` or ``bytes``, and the ``"commit"`` /
      ``None`` stamp.

    The table's next commit records what the folds found
    (:func:`_commit_manifest` carries table state from its base)."""
    if manifest is None:
        buckets = _list_commit_buckets(target, "", store)
        if not buckets:
            return None
        manifest = {"version": 0, "buckets": buckets}
    if "key" not in manifest:
        spec = store.read_json(os.path.join(target, "_bucket_spec.json"))
        if spec is not None:
            manifest = {
                "key": spec["key"],
                "num_buckets": spec["num_buckets"],
                **({"auto": True} if spec.get("auto") else {}),
                **manifest,
            }
    if "constraints" not in manifest:
        legacy = store.read_json(os.path.join(target, "_constraints.json"))
        manifest["constraints"] = legacy or {}
    if "wap" not in manifest and _is_branch(target):
        fork = store.read_json(os.path.join(target, "_wap.json"))
        if fork is not None:
            manifest["wap"] = fork
    for k, v in {
        "deltas": {}, "retired": [], "stats": {}, "blooms": {}, "rows": {},
        "bytes": {}, "operation": "commit", "committed_at": None,
    }.items():
        manifest.setdefault(k, v)
    return manifest


def _load_manifest(target: str, store=LOCAL_STORE) -> dict | None:
    """Current committed snapshot, normalized (:func:`_normalize`), or
    None if the target doesn't exist yet.  Read through the storage seam
    (:mod:`.storage`)."""
    return _normalize(store.read_json(_manifest_path(target)), target, store)


def _version_manifest_path(target: str, version: int) -> str:
    return os.path.join(target, f"_manifest.v{version}.json")


def _read_version(target: str, version: int, store=LOCAL_STORE) -> dict | None:
    """The snapshot commit ``version`` published, normalized
    (:func:`_normalize`), or None when it never committed or its
    per-version copy expired.  The tip's own snapshot reads through a
    crash-lost copy: the copy is written after the tip's CAS
    (:func:`_commit_manifest`), so a crash between the two leaves the
    tip as the only record of its version."""
    snap = store.read_json(_version_manifest_path(target, version))
    if snap is not None:
        return _normalize(snap, target, store)
    tip = _load_manifest(target, store)
    return tip if tip is not None and tip["version"] == version else None


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


# The running @_records_op frames of this thread, outermost first, as
# (op name, local checkpoints held) pairs.  The OUTERMOST frame's name
# stamps each commit for DESCRIBE HISTORY (so apply_changes_scd2's
# internal merge commits record "apply_changes_scd2", not "merge" — the
# Delta history convention); a frame's checkpoints are filled by
# _checkpoint and released when its op returns or raises.  Per thread,
# so concurrent writers never stamp or release each other's.
_HELD = threading.local()


def _checkpoint(df: DataFrame, **metrics) -> tuple[DataFrame, dict]:
    """THE way a write path materializes a frame: ``df``'s eager local
    checkpoint and the values of ``metrics`` (name → aggregate Column)
    observed on the same pass, through one ``Observation``.  Every
    question a path asks of a frame it checkpoints is one of these
    metrics, so no count, collect or take runs the frame again.  The
    checkpoint is released (unpersisted) when the enclosing
    ``@_records_op`` entry point returns or raises — its commit has
    landed or failed by then, and nothing it returns reads the
    checkpoint.  Outside any op it is left to the caller, as a bare
    ``localCheckpoint`` would be.  ``localCheckpoint`` spills
    MEMORY_AND_DISK, so a large frame costs one disk round-trip, never
    an OOM."""
    obs = None
    if metrics:
        obs = Observation()
        df = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    cp = df.localCheckpoint(eager=True)
    frames = getattr(_HELD, "frames", None)
    if frames:
        frames[-1][1].append(cp)
    return cp, (obs.get if obs is not None else {})


def _broadcastable(cp: DataFrame, side: DataFrame | None = None) -> DataFrame:
    """``side`` (default: the checkpoint ``cp`` it reads) as a join's
    build side, hinted to broadcast when ``cp`` holds no more bytes than
    the session's ``spark.sql.autoBroadcastJoinThreshold``
    (:func:`_batch_bytes`, read on the driver).  A checkpoint of local
    rows (``createDataFrame``) carries no size statistic, so without the
    hint the planner first shuffles both sides for a sort-merge join
    that AQE demotes to a broadcast only after those stages ran."""
    side = cp if side is None else side
    limit = cp.sparkSession._jsparkSession.sessionState().conf()
    return (
        F.broadcast(side)
        if 0 <= _batch_bytes(cp) <= limit.autoBroadcastJoinThreshold()
        else side
    )


def _release(checkpoints: list[DataFrame]) -> None:
    # the checkpointed RDD sits under the LogicalRDD the checkpoint
    # returns; dropping its blocks through the context skips the warning
    # RDD.unpersist logs for every locally checkpointed RDD
    for cp in checkpoints:
        rdd = cp._jdf.queryExecution().analyzed().rdd()
        rdd.context().unpersistRDD(rdd.id(), False)


def _records_op(name: str):
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(*a, **kw):
            frames = _HELD.__dict__.setdefault("frames", [])
            held: list[DataFrame] = []
            frames.append((name, held))
            try:
                return fn(*a, **kw)
            finally:
                frames.pop()
                _release(held)

        return wrapped

    return deco


def _field_policy(label: str, *fields: str) -> tuple:
    """:data:`_POLICIES` entry for a policy whose columns are named by
    top-level fields."""
    return (
        label,
        lambda p: [p.get(f) for f in fields],
        lambda p, old, new: {**p, **{f: new for f in fields if p.get(f) == old}},
    )


#: The ambient table policies, by manifest key (each set by
#: ``set_<key>`` and read by ``<key>``): a label for errors, the logical
#: columns a policy references, and the policy with one column renamed.
#: Every policy rides each commit (:func:`_commit_manifest`'s carry),
#: follows :func:`rename_column` and blocks :func:`drop_column` of a
#: column it references.
_POLICIES = {
    "drift_policy": (
        "drift-policy rules",
        lambda p: [s.get("col") for s in p.get("rules", [])],
        lambda p, old, new: {
            **p,
            "rules": [
                {**s, "col": new} if s.get("col") == old else s
                for s in p.get("rules", [])
            ],
        },
    ),
    "ivf_policy": _field_policy("IVF policy", "id_col", "vec_col"),
    "minhash_policy": _field_policy("MinHash policy", "id_col", "text_col"),
}


def _live_files(manifest: dict) -> list[str]:
    """Every file a snapshot reads: base files, then MOR delta files."""
    return [
        f for fs in manifest.get("buckets", {}).values() for f in fs
    ] + _delta_files_of(manifest)


def _retire(target: str, tip: dict, live, store) -> list[dict]:
    """The ``retired`` list of a commit over ``tip`` whose snapshot
    reads ``live``: the tip's retirees that still exist (vacuum has not
    collected them; probed through the store) and are not live again,
    then each tip file that stops being live, stamped now.  The stamp is
    what makes a retention window possible at all — a file's mtime says
    when it was WRITTEN, not when it left the snapshot.  It is the
    writer's clock: skew between writers on shared storage shortens the
    effective window, so size retention with headroom for it."""
    live = {os.path.normpath(f) for f in live}
    now = time.time()
    return [
        e
        for e in tip.get("retired", [])
        if os.path.normpath(e["path"]) not in live
        and store.exists(os.path.join(target, e["path"]))
    ] + [
        {"path": f, "ts": now}
        for f in _live_files(tip)
        if os.path.normpath(f) not in live
    ]


def _repoint(snap: dict, ref) -> dict:
    """``snap``'s files under the references ``ref(path)`` maps them to
    — base and delta paths and the keys of the per-file ``stats``,
    ``blooms``, ``rows`` and ``bytes`` — with the entries that describe
    those files: the recorded schema, the bucket count and the column
    mapping (pinned even when empty, so the commit carry never lays
    the base's names over them).  The table state (the bucket ``key``,
    the ``auto`` flag, ``txns``, the CHECK ``constraints``, a WAP fork
    point and the :data:`_POLICIES`) is left out for
    :func:`_commit_manifest` to take from the base.  ``snap`` is
    normalized (:func:`_normalize`); the caller adds ``version`` and
    ``retired``."""
    out = {
        "buckets": {b: [ref(f) for f in fs] for b, fs in snap["buckets"].items()},
        "deltas": {
            b: [{**e, "path": ref(e["path"])} for e in es]
            for b, es in snap["deltas"].items()
        },
        "column_mapping": snap.get("column_mapping", {}),
        "dropped_columns": snap.get("dropped_columns", []),
    }
    for k in ("stats", "blooms", "rows", "bytes"):
        out[k] = {ref(f): v for f, v in snap[k].items()}
    for k in ("schema", "num_buckets"):
        if snap.get(k):
            out[k] = snap[k]
    return out


def _describe_files(
    target: str, rels, stats_cols, store=LOCAL_STORE
) -> tuple[dict, dict, dict]:
    """What a manifest records of each of ``rels`` (target-relative data
    files), as ``(stats, rows, bytes)`` dicts keyed by them: min/max
    stats for ``stats_cols``, the row count and the stored bytes.  One
    serial pass on the driver, no data scan and no Spark job: each file
    costs one parquet footer read through the storage seam
    (``store.open_input``: locally the path itself, which pyarrow
    memory-maps; a ranged-GET reader on an object store) and one
    ``store.size`` (HEAD on an object store).

    The stats are the Delta/Iceberg data-skipping layer:
    :func:`read_keyed_table` ``where=`` prunes files whose range cannot
    match before Spark opens them.  Only JSON-stable scalar types
    (int/float/str/bool) are recorded, and a column whose footer stat is
    absent or exotic gets no range.  A file whose footer cannot be read
    (the open raises ``OSError``, or pyarrow's ``ArrowInvalid``, a
    ``ValueError``) gets no ``rows`` or ``stats`` entry, and one the
    store cannot size no ``bytes`` entry: readers treat a missing entry
    as unknown (``table_stats`` reports ``row_count=None``; pruning
    reads the file), never as a guess.  Any other error is a broken
    store and fails the commit before its CAS."""
    import pyarrow.parquet as pq

    wanted = set(stats_cols)
    stats: dict[str, dict[str, list]] = {}
    rows: dict[str, int] = {}
    sizes: dict[str, int] = {}
    for rel in rels:
        path = os.path.join(target, rel)
        size = store.size(path)
        if size is not None:
            sizes[rel] = size
        try:
            with pq.ParquetFile(store.open_input(path)) as pf:
                meta = pf.metadata
        except (OSError, ValueError):
            continue
        rows[rel] = meta.num_rows
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
        if per_col:
            stats[rel] = per_col
    return stats, rows, sizes


def _commit_manifest(
    target: str, manifest: dict, base: dict | None, store=LOCAL_STORE
) -> None:
    """THE commit: replace ``_manifest.json`` with ``manifest``, built on
    ``base`` (the unmodified dict :func:`_load_manifest` or
    :func:`_read_version` returned; None = the table's first commit),
    iff the store still holds ``base``'s version (no version = create,
    which fails when a manifest already exists).  The atomic
    compare-and-swap itself lives behind the storage seam —
    ``os.replace`` locally, a conditional PUT on an object store; a
    failed check raises :class:`ConcurrentWriteError` and this merge's
    data files become orphans the next vacuum collects.

    After a successful CAS an immutable per-version copy
    (``_manifest.v{N}.json``) lands too — the time-travel index
    (:func:`read_keyed_table` ``version=``).  Written strictly AFTER the
    CAS, so a losing writer never publishes a version file; the CAS
    serializes versions, so no two writers ever claim the same N.  A
    crash between CAS and copy loses no snapshot: :func:`_read_version`
    reads the tip's version through the missing copy."""
    # the table state a commit leaves alone rides over from its base —
    # the tip whenever the CAS succeeds: the bucket layout (key, count
    # and auto flag: every data commit records the key and count it
    # hashed with, and readers and writers take them from here), the
    # writer-transaction watermarks (Delta's `txn` action — "batch N
    # already applied" must survive every unrelated commit), the CHECK
    # constraints (every manifest records them, an empty dict too, so a
    # dropped legacy rule never folds back in), a WAP branch's fork
    # point, the ambient policies (_POLICIES) and the column mapping
    # (both of its keys, unless the commit sets either).  A key the
    # commit sets wins (a setter's None clears its policy, a rebucket's
    # False ends auto-sizing).  A normalized base holds what a legacy
    # table kept in side files, so its next commit records them.
    base = base or {}
    keys = ("key", "num_buckets", "auto", "txns", "constraints", "wap", *_POLICIES)
    if "column_mapping" not in manifest and "dropped_columns" not in manifest:
        keys += ("column_mapping", "dropped_columns")
    for k in keys:
        if k in base and k not in manifest:
            manifest[k] = base[k]
    # commit wall-clock — the TIMESTAMP AS OF index (resolve_as_of) —
    # and the operation stamp (this thread's outermost @_records_op)
    frames = getattr(_HELD, "frames", None)
    manifest["committed_at"] = time.time()
    manifest["operation"] = frames[0][0] if frames else "commit"
    # per-file row counts (the metadata-only COUNT(*) index, table_stats)
    # and stored bytes (what an auto-sized table's growth check sums,
    # _grown): carried for surviving files.  _commit_files describes its
    # new files before the first CAS attempt; only a file recorded by a
    # manifest written before these keys existed is described here.
    live = set(_live_files(manifest))
    known = {
        k: {f: n for f, n in manifest[k].items() if f in live}
        for k in ("rows", "bytes")
    }
    missing = sorted(live - (known["rows"].keys() & known["bytes"].keys()))
    _, rows, sizes = _describe_files(target, missing, (), store)
    manifest["rows"] = {**rows, **known["rows"]}
    manifest["bytes"] = {**sizes, **known["bytes"]}
    store.replace_if_version(_manifest_path(target), manifest, base.get("version"))
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
    manifest read + one CAS, never a data rewrite or a footer read.

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
            _commit_manifest(target, manifest, base, store)
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
                    else _read_version(target, v, store)
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
    "commit",
    # metadata-only, data-preserving: arming/disarming an ambient policy
    # never invalidates a concurrent writer's files or bucket layout
    *(f"set_{name}" for name in _POLICIES),
}


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
    """{bucket: [target-relative parquet paths]} under ``commit_rel``:
    one commit's directory, or ``""`` for the target root of a
    pre-manifest layout.

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
    preamble of every operation that needs an existing table, all read
    from its manifest (module docstring, "Layout")."""
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    if "key" not in manifest:
        raise ValueError(f"{target} has a manifest but no recorded bucket key")
    return manifest, manifest["key"], manifest.get("num_buckets")


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


def _table_schema(spark: SparkSession, target: str, manifest: dict):
    """Physical data schema of a snapshot: the manifest-recorded one
    (the live files' union schema, no footer read), else the footer
    union of the live base and delta files; None when there are none."""
    schema = _manifest_schema(manifest)
    if schema is None:
        live = _live_files(manifest)
        if live:
            schema = _read_files(spark, target, live).schema
    return schema


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
    :func:`_align_batch_types`) — then ONE pass over the batch that
    both materializes it and answers every pre-write question: a
    :func:`_checkpoint` observing the row count, the affected buckets
    and the violating-row count of each CHECK constraint ``manifest``
    records, with no probe job after it.

    Returns ``(bucketed, affected buckets, physical stats_cols, batch
    row count)``, where ``bucketed`` IS the checkpoint: every later step
    (the CoW anti-join and union, the MOR delta write, the append's key
    check and write) reads that one copy, so the batch's upstream plan
    runs once, and a batch that would not re-run identically (a
    nondeterministic key) commits exactly the rows and buckets the
    probe saw.  The checkpoint is released when the calling write op
    returns (:func:`_checkpoint`).  None for a zero-row batch: an empty
    batch must be a true no-op (no commit dir, no manifest version
    bump) — otherwise every empty streaming micro-batch or no-new-files
    rerun churns the manifest and leaves orphan commit dirs for vacuum
    to collect."""
    batch = _translate_batch(batch, manifest)
    if stats_cols:
        cmap, _ = _mapping_of(manifest)
        stats_cols = [_phys_name(c, cmap) for c in stats_cols]
    schema = None if manifest is None else _table_schema(spark, target, manifest)
    if schema is not None:
        batch = _align_batch_types(
            batch, _strip_dropped_fields(schema, manifest), key
        )
    # One pass, one Spark job over the batch's own plan (plus its map
    # stages, if the plan shuffles): no separate probe runs the plan for
    # the row count or the buckets, and the write reads the checkpoint
    # instead of running the plan again.  A batch that is itself read
    # off a checkpoint (pipeline._dedup_once) costs one job here.
    # localCheckpoint spills MEMORY_AND_DISK, so an unbounded backfill
    # batch costs one disk round-trip, never an OOM.
    cons = {} if manifest is None else manifest["constraints"]
    bucketed, seen = _checkpoint(
        batch.withColumn(BUCKET_COL, _bucket_expr(key, num_buckets)),
        n=F.count(F.lit(1)),
        buckets=F.collect_set(BUCKET_COL),
        **{
            f"bad{i}": F.count_if(_fails(pred))
            for i, pred in enumerate(cons.values())
        },
    )
    if not seen["n"]:
        return None
    _enforce_constraints(
        bucketed,
        {
            name: pred
            for i, (name, pred) in enumerate(cons.items())
            if seen[f"bad{i}"]
        },
    )
    affected = [str(b) for b in sorted(seen["buckets"])]
    return bucketed, affected, stats_cols, seen["n"]


def _commit_files(
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
    built on ``base`` (None = the table's first commit) through
    :func:`_commit_optimistic`.  The manifest records ``key`` and
    ``num_buckets``, the layout the frame was hashed with: a commit at a
    new count (a rebucket, an auto-sized table's growth) rewrites every
    bucket.
    Returns the committed manifest and ``{bucket: new files}``.

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
    leaves them (and the bucket count, its ``txn`` watermark and the
    CHECK constraints its rows were checked against) unchanged.  A delta
    edit additionally rebases only over row-preserving operations
    (``_REBASE_SAFE_OPS``: a layout/type rewrite invalidates
    already-written delta files), and its ``guard`` defaults to the
    buckets it writes.  A rewrite without ``guard``
    rebases over nothing: any intervening commit fails it.

    Stats are kept for surviving files; the new files are described
    once per commit, before the first CAS attempt
    (:func:`_describe_files`: row count, stored bytes and, outside a
    delta edit, footer stats for the base's tracked columns unless
    ``carry_stats_cols=False``, plus ``stats_cols``); ``range_by=
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
    written = _list_commit_buckets(target, commit_rel, store)
    # the new files are described once, before the first CAS attempt: a
    # rebase reuses the answer (the files are immutable).  Delta files
    # record no stats.
    tracked = set(stats_cols or ())
    if carry_stats_cols and base is not None:
        tracked.update(_stats_cols_of(base))
    new_stats, new_rows, new_bytes = _describe_files(
        target,
        [f for fs in written.values() for f in fs],
        () if edit == "delta" else sorted(tracked),
        store,
    )
    full_schema = full_schema or (edit == "replace" and buckets is None)

    def build(cur: dict) -> dict:
        version = cur.get("version", 0) + 1
        new_buckets = dict(cur["buckets"])
        deltas = {b: list(es) for b, es in cur.get("deltas", {}).items()}
        if edit == "delta":
            for b, files in written.items():
                deltas.setdefault(b, []).extend(
                    {"path": f, "seq": version} for f in files
                )
        elif edit == "append":
            for b, files in written.items():
                new_buckets[b] = new_buckets.get(b, []) + files
        elif buckets is None:
            new_buckets, deltas = dict(written), {}
        else:
            for b in buckets:
                deltas.pop(b, None)
                if b in written:
                    new_buckets[b] = written[b]
                else:
                    new_buckets.pop(b, None)
        out = {
            "version": version,
            "buckets": new_buckets,
            "deltas": deltas,
            "key": key,
            "num_buckets": num_buckets,
        }
        live = set(_live_files(out))
        stats = {f: s for f, s in cur.get("stats", {}).items() if f in live}
        out.update(
            retired=_retire(target, cur, live, store),
            stats={**stats, **new_stats},
            blooms=_carry_blooms(cur, live),
            # per-file row counts and stored bytes never change:
            # _commit_manifest keeps the live files' entries
            rows={**(cur.get("rows") or {}), **new_rows},
            bytes={**(cur.get("bytes") or {}), **new_bytes},
            **(extra or {}),
        )
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
        op = current["operation"]
        if (edit == "delta" and op not in _REBASE_SAFE_OPS) or (
            edit != "delta" and guard is None
        ):
            return f"concurrent {op!r} commit"
        # a bucket-count change re-routes every key, even when this
        # commit's buckets happen to be empty in both snapshots
        if current.get("num_buckets", num_buckets) != num_buckets:
            return "bucket count changed concurrently"
        # the rows were checked against the base's CHECK constraints
        if current.get("constraints") != base.get("constraints"):
            return "CHECK constraints changed concurrently"
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
            if current["deltas"].get(b) != base["deltas"].get(b):
                return f"bucket {b} gained concurrent MOR deltas"
        return None

    committed = _commit_optimistic(
        target, base or {"buckets": {}, "constraints": {}}, build, conflict,
        store,
    )
    return committed, written


def _union(frames: list[DataFrame]) -> DataFrame:
    """Union by column name; a column missing from a frame reads NULL."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


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
    return _union(frames).drop(BUCKET_COL)


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
) -> int:
    """Bucket-pruned replace-by-key merge, committed via manifest swap.
    Returns the number of batch rows the merge admitted: 0 when the
    batch is empty or the ``txn`` epoch was already applied (nothing is
    written then).  The count is observed by the pass that materializes
    the batch (:func:`_admit_batch`), so it costs no Spark job of its
    own.

    ``num_buckets``: None adopts an existing table's layout, and makes
    a new table auto-sized (module docstring, "Layout"); a count pins a
    new table's layout and must match an existing one's.

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
    manifest = _load_manifest(target, store)
    num_buckets = _check_layout(target, key, num_buckets, manifest)
    if _txn_applied(manifest, txn):
        return 0
    admitted = _admit_batch(
        spark, batch, target, manifest, key, num_buckets or 1, store, stats_cols
    )
    if admitted is None:
        return 0
    bucketed, affected, stats_cols, n_rows = admitted
    merged = bucketed
    # an auto-sized table's layout: a new one starts at the size of the
    # admitted batch, an existing one doubles once its buckets pass the
    # target.  Either commit writes every bucket at the new count.
    resized = None
    if num_buckets is None:
        resized = min(_sized(_batch_bytes(bucketed)), _MAX_START_BUCKETS)
    elif manifest is not None and manifest.get("auto"):
        resized = _grown(target, manifest, num_buckets, store)
    grows = manifest is not None and resized is not None
    # a new auto-sized table records the flag in its first commit; the
    # carry keeps it from there
    extra = {"auto": True} if num_buckets is None else None
    # file-level pruning: only the affected buckets' live files are read
    # (every bucket when the layout grows).  An affected bucket with
    # pending MOR deltas contributes its RESOLVED rows and this commit
    # folds those deltas away; unaffected buckets' deltas carry forward
    # intact.
    current = (
        None
        if manifest is None
        else _scope_rows(
            spark, target, manifest, key, None if grows else affected
        )
    )
    if current is not None:
        # anti-join on key: keep only rows NOT being replaced.  The keys
        # broadcast when the admitted batch fits the broadcast threshold
        # (_broadcastable); at 100 TB this is a shuffled hash anti-join
        # over k/N of the table — same cost class as the insert.  Data
        # files don't store the bucket column (partitionBy consumed it);
        # re-derive it — xxhash64 is deterministic.
        # No .distinct() on the build side: duplicate batch keys cannot
        # change an anti-join's result.
        kept = current.join(
            _broadcastable(bucketed, bucketed.select(key)), key, "left_anti"
        ).withColumn(BUCKET_COL, _bucket_expr(key, num_buckets))
        merged = kept.unionByName(bucketed, allowMissingColumns=True)
    if resized is not None:
        # _commit_files re-derives the bucket column at the new count
        merged, num_buckets = merged.drop(BUCKET_COL), resized
    # merged's schema IS the union live schema: the batch must carry
    # every existing column (missing ones raise in _align_batch_types),
    # so kept ∪ batch covers all buckets.  Optimistic rebase: a
    # concurrent commit to OTHER buckets re-bases this one; a concurrent
    # rewrite of one of THIS merge's buckets is a conflict, and a
    # growth commit, which read every bucket, rebases over nothing.
    _commit_files(
        target, merged, manifest, key, num_buckets, "replace",
        buckets=None if manifest is None or grows else affected,
        guard=None if grows else affected, txn=txn, stats_cols=stats_cols,
        full_schema=True, extra=extra, store=store,
    )
    if vacuum and manifest is not None:
        vacuum_keyed_table(target, retention_s=retention_s, store=store)
    return n_rows


def _private_subtree(target: str, root: str) -> bool:
    """Whether ``root`` lies in a ``_``-prefixed top-level subdir of the
    table (``_quarantine``, ``_dq``, ``_branches``): a separate namespace
    — e.g. the DQ gate's quarantine KEYED TABLE nested under the target
    — whose parquet is live data owned by its OWN manifest, so this
    table's vacuum never treats it as orphaned.  (``__bucket=`` dirs are
    exempt: a pre-manifest legacy layout keeps its data there.)"""
    rel = os.path.normpath(os.path.relpath(root, target))
    first = rel.split(os.sep)[0]
    return (
        rel != "."
        and first.startswith("_")
        and not first.startswith(f"{BUCKET_COL}=")
    )


def _vacuum_candidates(target, manifest, retention_s, now, store):
    """Yield full paths of DATA files vacuum would delete: parquet the
    snapshot does not read (pending MOR deltas are live data — folding
    them is compaction's job), past retention — retirees aged by their
    manifest ``retired`` stamp, crash orphans by mtime (see
    :func:`vacuum_keyed_table`)."""
    live = {os.path.normpath(f) for f in _live_files(manifest)}
    retired_ts = {
        os.path.normpath(e["path"]): e["ts"]
        for e in manifest.get("retired", [])
    }
    for root, _dirs, files in store.walk(target):
        if _private_subtree(target, root):
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
    return sorted(
        os.path.normpath(os.path.relpath(full, target))
        for full in _vacuum_candidates(
            target, manifest, retention_s, time.time(), store
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
    now = time.time()
    removed = 0

    # every filesystem touch below goes through the storage seam
    # (store.walk/list_dir/mtime/delete_file/...): on an object store the
    # walk is a prefix listing and deletes are DELETE calls — a direct
    # os.* walk would silently no-op retention cleanup there (ADVICE-class
    # hazard, VERDICT r5 residual 4)
    # pass 1: unreferenced data files past their retention
    for full in _vacuum_candidates(target, manifest, retention_s, now, store):
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
        if os.path.normpath(root) == root_norm or _private_subtree(
            target, root
        ):
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
    # Reads with no manifest to ask take the same rule through
    # :func:`sources.parquet_source.footer_schema`, which resolves the
    # schema on the driver.
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
    manifests — readers then fall back to the mergeSchema path
    unchanged)."""
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
    rows = _union(frames)
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
    return max(map(len, manifest["deltas"].values()), default=0)


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
    num_buckets = _check_layout(target, key, num_buckets, manifest)
    admitted = _admit_batch(spark, batch, target, manifest, key, num_buckets, store)
    if admitted is None:
        return
    # a blind upsert guards no bucket: layering a higher-seq delta over
    # ANY row-preserving concurrent commit is exactly last-writer-wins
    _commit_files(
        target, admitted[0], manifest, key, num_buckets, "delta",
        guard=[], store=store,
    )


def _check_assignments(spark, target, manifest, key, store, *assignments):
    """Reject an assignment to the key, an internal column or a column
    the table lacks — against the snapshot's logical columns (the
    manifest alone when it records a schema), before any Spark job and
    whether or not any row matches."""
    given = [a for a in assignments if a]
    if not given:
        return
    logical = set(_logical_columns(spark, target, manifest, store))
    for a in given:
        bad = set(a) & {key, BUCKET_COL, TOMBSTONE_COL}
        if bad:
            raise ValueError(
                f"cannot assign to key/internal column(s) {sorted(bad)}"
            )
        unknown = set(a) - logical
        if unknown:
            raise ValueError(f"assignment to unknown column(s) {sorted(unknown)}")


def _holds(pred):
    """Per-row Column: the SQL predicate evaluates to TRUE (FALSE and
    NULL do not hold — WHERE semantics).  ``True`` holds for every row;
    None/False gives None, no condition."""
    if not pred:
        return None
    return F.lit(True) if pred is True else F.expr(pred).eqNullSafe(F.lit(True))


def _restate_keys(
    rows: DataFrame,
    key: str,
    cols: list[str],
    delete=None,
    assign: dict[str, str] | None = None,
    assign_if=None,
    materialize: bool = False,
    count: bool = False,
):
    """THE key-restatement step of row-level DML (module docstring,
    "Commit kernel").  The table's replace unit is the key, so a change
    to some of a key's rows is written as MOR delta rows restating the
    whole key: its surviving rows with ``assign`` applied (SQL over the
    OLD row, cast back to the column's type so the schema cannot drift),
    or exactly one ``TOMBSTONE_COL`` row when no row survives.

    ``rows`` are the candidate rows — they may carry extra columns the
    expressions read, e.g. MERGE's ``s_*`` source columns — and ``cols``
    the table columns restated.  ``delete`` is a per-row boolean Column
    (None: nothing deletes); ``assign_if`` gates ``assign`` per row
    (None: every surviving row is assigned).  The scope is the keys with
    at least one row deleted or assigned: one key window, skipped when
    every row qualifies already (an assignment to every survivor).
    ``materialize`` checkpoints the scoped rows once for the consumers
    below and returns their ``(deleted, assigned)`` row counts, observed
    on that checkpoint's pass; ``count`` returns them for an
    unmaterialized scope too, at one aggregate over it.

    Returns ``(delta, visible, counts)``: ``visible`` is the restated
    rows CHECK constraints must pass — tombstones represent absence, not
    data."""
    marked = rows.withColumn(
        "__del", F.lit(False) if delete is None else delete
    )
    marked = marked.withColumn(
        "__set",
        ~F.col("__del")
        & (F.lit(assign is not None) if assign_if is None else assign_if),
    )
    w = Window.partitionBy(key)
    if assign is None or assign_if is not None:
        hit = (F.col("__del") | F.col("__set")).cast("int")
        marked = marked.withColumn("__any", F.max(hit).over(w)).filter(
            "__any = 1"
        )
    tally = {
        "deleted": F.count_if(F.col("__del")),
        "assigned": F.count_if(F.col("__set")),
    }
    counts = None
    if materialize:
        marked, seen = _checkpoint(marked, **tally)
        counts = (seen["deleted"], seen["assigned"])
    elif count:
        # an unmaterialized scope (MERGE's by-source UPDATE, the whole
        # table) pays one aggregate over it for the counts
        counts = tuple(marked.agg(*tally.values()).collect()[0])
    dtypes = dict(rows.dtypes)
    visible = marked.filter(~F.col("__del")).select(
        *[
            F.when(F.col("__set"), F.expr(assign[c]).cast(dtypes[c]))
            .otherwise(F.col(c))
            .alias(c)
            if assign and c in assign
            else F.col(c)
            for c in cols
        ]
    )
    if delete is None:
        return visible, visible, counts
    dead = (
        marked.withColumn("__surv", F.max((~F.col("__del")).cast("int")).over(w))
        .filter("__surv = 0")
        .select(key)
        .distinct()
        .withColumn(TOMBSTONE_COL, F.lit(True))
    )
    delta = visible.withColumn(TOMBSTONE_COL, F.lit(False)).unionByName(
        dead, allowMissingColumns=True
    )
    return delta, visible, counts


def _dml_scope(
    spark: SparkSession,
    target: str,
    predicate: str,
    store,
    where,
    where_eq,
    assignments=None,
):
    """Shared front half of predicate DML: validate ``assignments``,
    then one stats/bloom-prunable scan finds the affected buckets and
    the matching-row count (a ≤num_buckets scalar collect), then a
    bucket-pruned second read returns the resolved rows of only those
    buckets."""
    manifest, key, num_buckets = _open_table(target, store)
    _check_assignments(spark, target, manifest, key, store, assignments)
    pred_true = _holds(predicate)
    per_bucket = (
        read_keyed_table(spark, target, store, where=where, where_eq=where_eq)
        .filter(pred_true)
        .groupBy(_bucket_expr(key, num_buckets).alias(BUCKET_COL))
        .count()
        .collect()
    )
    n_matched = sum(r[1] for r in per_bucket)
    if not n_matched:
        return None
    # DML predicates and assignments speak LOGICAL names; the resolved
    # rows come back physical — translate here, and _dml_commit
    # translates the delta back before anything lands (boundary rule)
    cmap, cdropped = _mapping_of(manifest)
    rows = _to_logical_df(
        _scope_rows(spark, target, manifest, key, {r[0] for r in per_bucket}),
        cmap,
        cdropped,
    )
    return manifest, key, num_buckets, pred_true, n_matched, rows


def _dml_commit(spark, target, manifest, key, num_buckets, restated, store):
    """Back half of predicate DML: the restated ``(delta, visible, _)``
    (logical names) goes physical; CHECK constraints — bound to physical
    names — run on the visible rows, then one delta commit."""
    cmap, _cd = _mapping_of(manifest)
    delta, visible, _counts = restated
    _enforce_constraints(_to_physical_df(visible, cmap), manifest["constraints"])
    _commit_files(
        target, _to_physical_df(delta, cmap), manifest, key,
        num_buckets, "delta", store=store,
    )


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
    scope = _dml_scope(spark, target, predicate, store, where, where_eq)
    if scope is None:
        return 0
    manifest, key, num_buckets, pred_true, n_matched, rows = scope
    _dml_commit(
        spark, target, manifest, key, num_buckets,
        _restate_keys(rows, key, rows.columns, delete=pred_true), store,
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
    scope = _dml_scope(
        spark, target, predicate, store, where, where_eq, assignments
    )
    if scope is None:
        return 0
    manifest, key, num_buckets, pred_true, n_matched, rows = scope
    _dml_commit(
        spark, target, manifest, key, num_buckets,
        _restate_keys(
            rows, key, rows.columns, assign=assignments, assign_if=pred_true
        ),
        store,
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

    On an auto-sized table whose mean bucket has passed
    :data:`TARGET_BUCKET_BYTES`, the commit instead rewrites every
    bucket at the doubled layout (:func:`_rewrite_buckets`).

    Returns the number of buckets compacted (0 = nothing to do, and no
    manifest churn).  Commits through the manifest CAS; the folded base
    and delta files retire under the normal retention window so
    in-flight readers finish their snapshot."""
    return _rewrite_buckets(
        spark, target, lambda m: sorted(m["deltas"]), store
    )


def _rewrite_buckets(spark, target, pick, store) -> int:
    """The maintenance rewrite of :func:`compact_keyed_table` and
    :func:`optimize_keyed_table`: the buckets ``pick(manifest)`` names,
    back to one base file each with their MOR deltas folded — or, on an
    auto-sized table whose mean bucket has passed
    :data:`TARGET_BUCKET_BYTES`, every bucket at the doubled layout.
    Returns the number of buckets rewritten (0: nothing to do, no
    commit)."""
    manifest, key, num_buckets = _open_table(target, store)
    grown = manifest.get("auto") and _grown(target, manifest, num_buckets, store)
    buckets = (
        sorted(manifest["buckets"].keys() | manifest["deltas"].keys())
        if grown
        else pick(manifest)
    )
    if not buckets:
        return 0
    _commit_files(
        target,
        _scope_rows(spark, target, manifest, key, None if grown else buckets),
        manifest, key, grown or num_buckets, "replace",
        buckets=None if grown else buckets, store=store,
    )
    return len(buckets)


@_records_op("rebucket")
def rebucket_keyed_table(
    spark: SparkSession,
    target: str,
    new_num_buckets: int,
    store=LOCAL_STORE,
) -> None:
    """Change a keyed table's bucket count, committed through the commit
    kernel (:func:`_commit_files`) like every data write.

    Why it exists: a table created with ``num_buckets=`` keeps that
    layout (``_check_layout`` rejects mismatched writers), which is
    right for correctness but wrong forever — a table sized at 64
    buckets when small becomes 64 enormous files at 100 TB, capping
    merge parallelism and making every bucket-pruned read touch GBs.
    An auto-sized table (created without ``num_buckets=``) doubles its
    layout by itself (:data:`TARGET_BUCKET_BYTES`); this is the manual
    lever for the fixed ones, and pins an auto-sized one.  Re-bucketing is PURE
    reorganization: every live row is read back, re-hashed into the new
    layout (``xxhash64 % new_n`` — deterministic), and rewritten as one
    commit; visible content must not change (test-pinned).

    The new count is recorded in the commit's manifest, which every
    reader and writer takes the layout from: a merge that opened the
    table before the CAS hashed with the old count and fails the
    kernel's "bucket count changed" rule.  The same commit pins the
    layout (``auto: False``): an auto-sized table stops growing once
    rebucketed.  If WE lose the CAS to a racing merge,
    ``ConcurrentWriteError`` propagates and the old layout stays live
    (our files become vacuum orphans).  Superseded files retire under
    the normal retention window so in-flight readers finish their
    snapshot.
    """
    manifest, key, num_buckets = _open_table(target, store)
    if num_buckets == new_num_buckets:
        return
    # _scope_rows resolves any pending MOR deltas — a rebucket is a full
    # rewrite, so it doubles as a compaction.  Data-skipping stats
    # survive the layout change: the kernel recomputes them from the new
    # files' footers for the columns already tracked.
    _commit_files(
        target, _scope_rows(spark, target, manifest, key), manifest,
        key, new_num_buckets, "replace", extra={"auto": False}, store=store,
    )


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
        target, rows, manifest, key, num_buckets, "replace", store=store
    )


def _logical_columns(spark, target, manifest, store) -> list[str]:
    """The user-visible column set of a snapshot (:func:`_table_schema`),
    dropped physicals hidden, renames applied."""
    schema = _table_schema(spark, target, manifest)
    if schema is None:
        raise ValueError(f"{target} has no live files to resolve a schema from")
    phys = schema.names
    mapping, dropped = _mapping_of(manifest)
    reverse = {p: l for l, p in mapping.items()}
    gone = set(dropped) | {BUCKET_COL, TOMBSTONE_COL}
    return [reverse.get(c, c) for c in phys if c not in gone]


def _mapping_commit(
    target, manifest, mapping, dropped, store, renamed=None, dropping=None
) -> int:
    """Metadata-only mapping change committed with optimistic
    concurrency: rebases freely over data commits (they never touch
    the mapping — physical names are fixed), conflicts with concurrent
    layout/schema ops exactly like a merge would.  Each stored ambient
    policy (:data:`_POLICIES`) follows ``renamed=(old, new)`` instead of
    wedging on a stale name, and a CHECK constraint or policy
    referencing the ``dropping`` column fails the drop.  Both are
    applied to EVERY base the commit is built on — a guard evaluated
    only against the caller's stale manifest is bypassed by the rebase:
    a policy armed concurrently, between load and CAS, would let a drop
    of a column it references rebase through and wedge every later
    ``maintain``."""

    def build(base: dict) -> dict:
        if dropping is not None:
            # future batches no longer carry the column, so enforcing a
            # constraint on it would crash every merge
            phys = _mapping_of(base)[0].get(dropping, dropping)
            names = f"{re.escape(dropping)}|{re.escape(phys)}"
            for cname, sql in base["constraints"].items():
                if re.search(rf"\b({names})\b", sql):
                    raise ValueError(
                        f"column {dropping!r} is referenced by CHECK constraint "
                        f"{cname!r} ({sql}); drop the constraint first"
                    )
        m = {
            **base,
            "version": base["version"] + 1,
            "column_mapping": mapping,
            "dropped_columns": dropped,
        }
        for name, (label, cols_of, rename) in _POLICIES.items():
            if not base.get(name):
                continue
            if dropping is not None and dropping in cols_of(base[name]):
                raise ValueError(
                    f"column {dropping!r} is referenced by the ambient "
                    f"{label}; update it first (set_{name})"
                )
            if renamed is not None:
                m[name] = rename(base[name], *renamed)
        return m

    def conflict(inter: dict) -> str | None:
        op = inter["operation"]
        if op in _REBASE_SAFE_OPS:
            return None
        return f"concurrent {op} (layout/schema operation)"

    return _commit_optimistic(target, manifest, build, conflict, store)[
        "version"
    ]


def _policy_commit(spark, target, name, policy, store) -> int:
    """Store ``policy`` (None disarms) as ``manifest[name]`` in ONE
    metadata commit; returns the new version.  The columns it references
    (:data:`_POLICIES`) are checked against EVERY base the commit is
    built on — a concurrent rename/drop of one between load and CAS must
    fail THIS commit, not wedge every later maintain — and no
    concurrent commit conflicts with it: it moves no data."""
    manifest = _open_table(target, store)[0]
    label, cols_of, _rename = _POLICIES[name]

    def build(base: dict) -> dict:
        if policy is not None:
            logical = _logical_columns(spark, target, base, store)
            missing = set(cols_of(policy)) - set(logical)
            if missing:
                raise ValueError(
                    f"{label} references missing columns "
                    f"{sorted(missing)} (have {logical})"
                )
        return {**base, "version": base["version"] + 1, name: policy}

    return _commit_optimistic(
        target, manifest, build, lambda _inter: None, store
    )["version"]


@_records_op("add_constraint")
def add_table_constraint(
    spark: SparkSession,
    target: str,
    name: str,
    predicate: str,
    store=LOCAL_STORE,
) -> None:
    """Record a CHECK constraint (a SQL boolean expression over the
    table's columns), enforced on every subsequent write — CoW and MOR
    merges, appends, predicate DML, MERGE and the CDC ops.

    The rows of the snapshot this call loads are validated first (one
    scan); a table that already violates the predicate rejects the
    constraint rather than recording a lie.  The constraint is then
    recorded in the manifest's ``constraints`` by one metadata commit
    (:func:`_constraint_commit`) — a new table version, shown in
    history — so it moves atomically with the data it was checked
    against, rides every later commit and survives
    rebucket/cluster/compaction and column renames (it binds to the
    physical name) untouched."""
    manifest, key, _ = _open_table(target, store)
    # constraints bind to PHYSICAL column names at enforcement time; on
    # a renamed/dropped table a new predicate's names would be
    # ambiguous between eras — fail closed until a purge
    _require_unmapped(manifest, "add_table_constraint")
    rows = _scope_rows(spark, target, manifest, key)
    bad = None if rows is None else _violations(rows, predicate)
    if bad:
        raise ConstraintViolation(
            f"cannot add constraint {name!r}: existing row violates "
            f"{predicate!r}: {bad[0].asDict()}"
        )
    _constraint_commit(target, manifest, name, predicate, store)


@_records_op("drop_constraint")
def drop_table_constraint(target: str, name: str, store=LOCAL_STORE) -> None:
    """Drop a CHECK constraint in one metadata commit (none when the
    table records no constraint by that name)."""
    manifest = _load_manifest(target, store)
    if manifest is not None and name in manifest["constraints"]:
        _constraint_commit(target, manifest, name, None, store)


def table_constraints(target: str, store=LOCAL_STORE) -> dict[str, str]:
    """The table's CHECK constraints, ``{name: predicate}``."""
    return (_load_manifest(target, store) or {}).get("constraints", {})


def _constraint_commit(target, manifest, name, predicate, store) -> None:
    """Set ``manifest["constraints"][name]`` to ``predicate`` (None
    drops it) in ONE metadata commit.  The new dict is derived from
    every base the commit is built on, so concurrent constraint commits
    all land.  An add was validated on ``manifest``'s rows: it rebases
    only over commits that leave those rows (files and column mapping)
    as they were, so any data commit landing after that snapshot fails
    it with :class:`ConcurrentWriteError`.  A data commit in turn never
    rebases over a constraint commit (:func:`_commit_files`)."""

    def build(base: dict) -> dict:
        cons = {**base["constraints"], name: predicate}
        cons = {k: v for k, v in cons.items() if v is not None}
        return {**base, "version": base["version"] + 1, "constraints": cons}

    def conflict(inter: dict) -> str | None:
        rows = [
            (m["buckets"], m.get("deltas"), _mapping_of(m)) for m in (inter, manifest)
        ]
        if predicate is not None and rows[0] != rows[1]:
            return "a concurrent commit changed the rows the constraint was checked on"
        return None

    _commit_optimistic(target, manifest, build, conflict, store)


def _stored_policy(target: str, name: str, store) -> dict | None:
    return _open_table(target, store)[0].get(name) or None


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
    return _policy_commit(spark, target, "drift_policy", policy, store)


def drift_policy(target: str, store=LOCAL_STORE) -> dict | None:
    """The stored drift policy (``{"rules": [spec...], "thresholds":
    {...}}``) or None when disarmed."""
    return _stored_policy(target, "drift_policy", store)


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
    return _policy_commit(spark, target, "ivf_policy", policy, store)


def ivf_policy(target: str, store=LOCAL_STORE) -> dict | None:
    """The stored ambient IVF-health policy, or None when disarmed."""
    return _stored_policy(target, "ivf_policy", store)


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
    return _policy_commit(spark, target, "minhash_policy", policy, store)


def minhash_policy(target: str, store=LOCAL_STORE) -> dict | None:
    """The stored ambient MinHash-compaction policy, or None."""
    return _stored_policy(target, "minhash_policy", store)


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
    working: the manifest's ``constraints`` ride the commit unchanged
    and bind to the physical name.  Adding NEW constraints on a mapped
    table is gated until :func:`purge_column_mapping`."""
    manifest, key, _ = _open_table(target, store)
    if not new or not new.strip() or new in (BUCKET_COL, TOMBSTONE_COL):
        raise ValueError(f"invalid new column name {new!r}")
    if old == key:
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
    return _mapping_commit(
        target, manifest, mapping, list(dropped), store, renamed=(old, new)
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
    the column, so enforcement would crash every merge); like the
    ambient policies, the constraints are checked against every base
    the commit is built on (:func:`_mapping_commit`).  Re-adding a
    column by the dropped name is rejected at merge time until a purge
    (resurrection guard)."""
    manifest, key, _ = _open_table(target, store)
    if col == key:
        raise ValueError(f"cannot drop the bucket key column {col!r}")
    logical = _logical_columns(spark, target, manifest, store)
    if col not in logical:
        raise ValueError(f"no column {col!r} to drop (have {logical})")
    mapping, dropped = _mapping_of(manifest)
    mapping = dict(mapping)
    phys = mapping.pop(col, col)
    return _mapping_commit(
        target, manifest, mapping, sorted(set(dropped) | {phys}), store,
        dropping=col,
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
        target, rows, manifest, key, num_buckets, "replace",
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
        target, _scope_rows(spark, target, manifest, key), manifest,
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
        target, base, manifest, key, num_buckets, "replace",
        range_by=(files_per_bucket, [_zvalue_expr(cols, mins, maxes)]),
        stats_cols=cols, store=store,
    )


def _write_bucketed(
    df: DataFrame, path: str, num_buckets: int, range_by: tuple | None = None
) -> None:
    """The one parquet write of the commit kernel: one directory per
    bucket, one file per bucket touched — a one-bucket layout writes
    through ``coalesce(1)``, every other through an exchange on the
    bucket column.  ``range_by=(files_per_bucket, [cols])``
    range-partitions on (bucket, cols) instead, so each bucket lands as
    ~files_per_bucket value-contiguous files (cluster / z-order)."""
    if range_by is not None:
        files_per_bucket, cols = range_by
        df = df.repartitionByRange(
            num_buckets * files_per_bucket, F.col(BUCKET_COL), *cols
        )
    elif num_buckets == 1:
        # one bucket is one file: every row goes to one task either way,
        # and coalesce(1) gets there without the exchange's map stage
        # (one Spark job fewer per commit).  It runs the whole merge —
        # the table's scan and anti-join included — in that one task,
        # which the layout bounds: an auto-sized table holds one bucket
        # only while its bytes stay under TARGET_BUCKET_BYTES.  That is
        # not the coalesce(1) measured slower at 64 buckets, which
        # collapsed a many-bucket merge into one task.
        df = df.coalesce(1)
    else:
        # co-locate each bucket's rows before the partitioned write:
        # without this every task writes a file into every bucket
        # directory (tasks × buckets small files — measured 2.3× slower
        # ingest locally, and the classic small-file problem on a real
        # cluster).
        #
        # The exchange is sized by AQE, not by the bucket count: a
        # repartition by column alone starts at
        # spark.sql.shuffle.partitions and AQE's partition coalescing
        # shrinks it to the data (a fixed repartition(num_buckets, ...)
        # is exempt from coalescing).  A bucket hashes to exactly one
        # reduce partition and coalescing only merges whole partitions,
        # so a commit still writes one file per bucket.  Not
        # coalesce(1): it collapses the upstream merge into one task.
        # Not AQE off around the write: the conf covers the whole query
        # planned at the write action, so the merge loses AQE's
        # re-planning.
        df = df.repartition(F.col(BUCKET_COL))
    # no _SUCCESS marker: the manifest CAS, not the marker, publishes a
    # commit, and the marker and its checksum are two more objects in
    # every commit directory
    df.write.mode("overwrite").partitionBy(BUCKET_COL).option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    ).parquet(path)


def describe_keyed_table(target: str, store=LOCAL_STORE) -> dict:
    """Health/maintenance report from the manifest alone (no data scan,
    no Spark job) — what an operator checks before choosing between
    :func:`compact_keyed_table` (``max_delta_depth`` high),
    :func:`rebucket_keyed_table` (``avg_bucket_bytes`` far from the
    merge-parallelism sweet spot on a fixed layout; an ``auto_sized``
    table doubles its layout by itself once ``avg_bucket_bytes`` passes
    :data:`TARGET_BUCKET_BYTES`), :func:`cluster_keyed_table` /
    :func:`zorder_keyed_table` (``stats_cols`` empty or files per bucket
    = 1 on a range-queried table), and :func:`vacuum_keyed_table`
    (``retired_files`` large).

    Keys: ``version, num_buckets, auto_sized, key, n_buckets_live, n_files,
    total_bytes, avg_bucket_bytes, max_files_per_bucket,
    dirty_buckets, max_delta_depth, n_delta_files, retired_files,
    stats_cols, history_versions, column_mapping, dropped_columns``
    (the last two non-empty only after metadata-only renames/drops —
    the operator signal that gated ops need
    :func:`purge_column_mapping` first)."""
    manifest, key, num_buckets = _open_table(target, store)
    buckets = manifest["buckets"]
    deltas = manifest["deltas"]
    sizes = [
        _stored_bytes(target, manifest, files, store) for files in buckets.values()
    ]
    n_files = sum(len(fs) for fs in buckets.values())
    return {
        "version": manifest["version"],
        "num_buckets": num_buckets,
        "auto_sized": bool(manifest.get("auto")),
        "key": key,
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
        "retired_files": len(manifest["retired"]),
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
        manifest = _open_table(target, store)[0]
    else:
        manifest = _read_version(target, version, store)
        if manifest is None:
            raise FileNotFoundError(
                f"no version {version} snapshot at {target} (never "
                "committed, or its manifest was vacuumed past retention)"
            )
    deltas = manifest["deltas"]
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
        stats = manifest["stats"]

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
        frames.append(
            _resolve_dirty(spark, target, manifest, manifest["key"], sorted(deltas))
        )
    df = _to_logical_df(_union(frames).drop(BUCKET_COL), cmap, cdropped)
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
    # driver-side scalar collect of ≤ len(keys) ints; the hash MUST be
    # computed by Spark (xxhash64's exact seed/variant), never
    # reimplemented here.
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
    """Versions readable via ``read_keyed_table(version=...)``,
    ascending: the per-version manifests still committed, and the tip's
    version (its copy may be crash-lost, :func:`_read_version`).  The
    listing goes through the storage seam (``store.list_dir`` = the
    ``_manifest.v`` prefix listing on an object store), matching where
    the snapshot objects are actually written."""
    out = set()
    for f in store.list_dir(target):
        if f.startswith("_manifest.v") and f.endswith(".json"):
            try:
                out.add(int(f[len("_manifest.v") : -len(".json")]))
            except ValueError:
                continue
    tip = _load_manifest(target, store)
    if tip is not None:
        out.add(tip["version"])
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
        m = _read_version(target, v, store)
        live = [f for files in m["buckets"].values() for f in files]
        rows = m["rows"]
        total = (
            sum(rows[f] for f in live)
            if not m["deltas"] and all(f in rows for f in live)
            else None
        )
        out.append(
            {
                "version": v,
                "operation": m["operation"],
                "committed_at": m["committed_at"],
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
    manifest = _open_table(target, store)[0]
    mapping, dropped = _mapping_of(manifest)
    remapped = set(dropped) | set(mapping) | set(mapping.values())
    live = sorted(f for files in manifest["buckets"].values() for f in files)
    clean = not manifest["deltas"]
    rows = manifest["rows"]
    row_count = (
        sum(rows[f] for f in live)
        if clean and all(f in rows for f in live)
        else None
    )
    stats = manifest["stats"]
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
        committed = _read_version(target, v, store)["committed_at"]
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
    tip, key_of_table, _ = _open_table(target, store)
    key = key or key_of_table

    def canon(df: DataFrame, out: str) -> DataFrame:
        row = F.struct(*[F.col(c) for c in sorted(df.columns)])
        return df.groupBy(F.col(key).alias("k")).agg(
            F.to_json(F.sort_array(F.collect_list(row))).alias(out)
        )

    # a rename between the endpoints would surface as a spurious
    # "update" on every key (the JSON rows embed column names) — gate
    # the diff to same-mapping spans; diff across the rename in two
    # legs, or purge first
    m_from = _read_version(target, from_version, store)
    m_to = tip if to_version is None else _read_version(target, to_version, store)
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

    Scale shape: the source is materialized once, and that pass
    observes its row count, the buckets its keys hash to and its
    largest per-key row count (:func:`_checkpoint`; no probe job
    follows); ONLY those buckets' live rows are read
    (:func:`_scope_rows`), the join is key-equi (the source side
    broadcasts when its checkpoint fits the broadcast threshold), and
    the write is O(affected keys' rows + inserts) — merging 1k CDC rows
    into a 100 TB table touches k buckets.
    """
    manifest, key, num_buckets = _open_table(target, store)
    # merge_into re-interprets user SQL against BOTH the table's rows
    # and the source frame mid-merge — not column-mapping-aware
    _require_unmapped(manifest, "merge_into")
    if key not in source.columns:
        raise ValueError(f"source is missing the key column {key!r}")
    nb_upd = when_not_matched_by_source_update
    nb_del = when_not_matched_by_source_delete
    _check_assignments(
        spark, target, manifest, key, store, when_matched_update, nb_upd
    )
    # the source is materialized ONCE, and that pass answers every
    # pre-flight question: its row count, the buckets its keys hash to
    # and the largest number of source rows sharing a key (Delta's
    # at-most-one-match rule, exact whether or not the key matches).
    # The matched join, the insert anti-join and the by-source anti-join
    # all read the checkpoint, never the source's upstream plan.
    cp, seen = _checkpoint(
        source.select(
            F.col(key).alias("__sk"),
            *[F.col(c).alias(f"s_{c}") for c in source.columns],
        ).withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("__sk"))
        ),
        n=F.count(F.lit(1)),
        most=F.max("__n"),
        buckets=F.collect_set(_bucket_expr("__sk", num_buckets)),
    )
    if (seen["most"] or 0) > 1:
        raise ValueError(
            "source has duplicate keys: a target row may match at most "
            "one source row (resolve duplicates before the merge)"
        )
    src = cp.drop("__n")
    wanted = seen["buckets"]
    rows = _scope_rows(spark, target, manifest, key, wanted) if wanted else None

    deleted = updated = inserted = 0
    deltas: list[DataFrame] = []
    visible: list[DataFrame] = []

    def restate(scope, cols, delete, assign, materialize):
        nonlocal deleted, updated
        delta, vis, (d, u) = _restate_keys(
            scope, key, cols, delete=delete, assign=assign,
            materialize=materialize, count=True,
        )
        deleted, updated = deleted + d, updated + u
        deltas.append(delta)
        visible.append(vis)

    if rows is not None and (when_matched_update or when_matched_delete):
        # the MATCHED join output is materialized once, with its counts:
        # the restated rows and the delta write both read it.  Bounded
        # by the matched scope (inner join with the small-by-contract
        # source).
        restate(
            rows.join(
                _broadcastable(cp, src), rows[key] == F.col("__sk"), "inner"
            ),
            rows.columns,
            _holds(when_matched_delete),
            when_matched_update,
            True,
        )
    if when_not_matched_insert:
        ins_cols = [F.col(f"s_{c}").alias(c) for c in source.columns]
        ins, inserted = src.select(*ins_cols), seen["n"]
        if rows is not None:
            # checkpointed with its row count, for the same reason as the
            # matched scope: the delta write would otherwise run the
            # anti-join's bucket-pruned table read again.  Bounded by the
            # source.  With no target rows in the source's buckets every
            # source row inserts.
            ins, got = _checkpoint(
                src.join(
                    rows.select(key), F.col("__sk") == rows[key], "left_anti"
                ).select(*ins_cols),
                n=F.count(F.lit(1)),
            )
            inserted = got["n"]
        if inserted:
            # insert-ALL semantics (Delta's whenNotMatchedInsertAll):
            # source-only columns evolve the table additively — but only
            # when a row actually inserts; an all-matched merge must not
            # leak the source's control columns into the table schema
            deltas.append(ins)
            visible.append(ins)
    if nb_upd or nb_del:
        # scope is defined by ABSENCE from the source, so every live
        # bucket must be scanned (see docstring caveat)
        all_rows = _scope_rows(spark, target, manifest, key, range(num_buckets))
        if all_rows is not None:
            # delete-only: the key window bounds the scope to the keys
            # this clause deletes, so it is materialized once, with its
            # counts, for the restated rows and the delta write.  The
            # update form stays streaming: its scope is the whole table,
            # and checkpointing a table-sized frame would double the I/O
            # the write already pays — its counts cost one more scan of
            # every live bucket instead (ROADMAP direction 3).
            restate(
                all_rows.join(
                    _broadcastable(cp, src.select("__sk")),
                    all_rows[key] == F.col("__sk"),
                    "left_anti",
                ),
                all_rows.columns,
                _holds(nb_del),
                nb_upd,
                not nb_upd,
            )

    if not deltas:
        return {"updated": 0, "deleted": 0, "inserted": 0}
    _enforce_constraints(_union(visible), manifest["constraints"])
    if deleted or updated or inserted:
        _commit_files(
            target, _union(deltas), manifest, key, num_buckets,
            "delta", store=store,
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
    batches are small by construction), materialized once; that pass
    observes the duplicate pairs and the buckets the net rows hash to,
    and ONLY those buckets' live rows are read for the stored-sequence
    probe (:func:`_scope_rows`).  The freshness join is materialized
    once with its counts (:func:`_checkpoint`; no probe job follows
    either checkpoint).  The write is ONE O(net-change) MOR delta
    commit, plus one for the delete memory — applying 1k CDC rows to a
    100 TB table touches k buckets and rewrites nothing.
    """
    for c in (seq_col, op_col):
        if c not in changes.columns:
            raise ValueError(f"changes frame is missing column {c!r}")
    manifest, key, num_buckets = _open_or_bootstrap(
        target, key, num_buckets, store, "apply_changes"
    )
    if key not in changes.columns:
        raise ValueError(f"changes frame is missing the key column {key!r}")
    payload = [c for c in changes.columns if c != op_col]
    seq_type = dict(changes.dtypes)[seq_col]
    tomb_path = _cdc_tomb_path(target)
    tmanifest = _load_manifest(tomb_path, store)
    tomb_nb = None if tmanifest is None else tmanifest.get("num_buckets")
    # the table and its delete memory: each key's stored sequence is
    # read from each, only from the buckets the net rows hash to
    sides = (
        (target, manifest, num_buckets, CDC_SEQ_COL, "__cur_seq"),
        (tomb_path, tmanifest, tomb_nb, CDC_TOMB_COL, "__tomb_seq"),
    )
    # net-change resolution, materialized ONCE: one window per key,
    # newest sequence first.  The same pass finds duplicate (key, seq)
    # pairs, winning or not (equal neighbours in that order), and both
    # sides' buckets, so no probe job runs the feed or the checkpoint
    # again.  CDC batches are small by construction (module contract).
    w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
    net = F.col("__rn") == 1
    feed, seen = _checkpoint(
        changes.withColumn("__rn", F.row_number().over(w)).select(
            F.col(key).alias("__ck"),
            F.col(seq_col).alias("__cseq"),
            (F.col(op_col) == delete_op).alias("__cdel"),
            F.struct(*payload).alias("__crow"),
            "__rn",
            (
                (F.col("__rn") > 1)
                & F.lag(seq_col).over(w).eqNullSafe(F.col(seq_col))
            ).alias("__dup"),
        ),
        dups=F.count_if(F.col("__dup")),
        **{
            name: F.collect_set(F.when(net, _bucket_expr("__ck", nb)))
            for _, snapshot, nb, _, name in sides
            if snapshot is not None
        },
    )
    if seen["dups"]:
        raise ValueError(
            f"changes contain duplicate ({key}, {seq_col}) pairs: the "
            "feed's ordering is ambiguous — disambiguate the sequence "
            "(e.g. append a change counter) before applying"
        )
    # per key and side: the highest stored sequence (NULL: seeded
    # without one, or no row) and whether the key has a row there
    j = feed.filter(net).drop("__rn", "__dup")
    for table, snapshot, _, col, name in sides:
        scope = None
        if seen.get(name):
            scope = _scope_rows(spark, table, snapshot, key, seen[name])
        if scope is None:
            j = j.withColumn(name, F.lit(None).cast(seq_type)).withColumn(
                f"{name}_row", F.lit(False)
            )
            continue
        seq = (
            F.max(col) if col in scope.columns else F.lit(None).cast(seq_type)
        )
        j = j.join(
            scope.groupBy(F.col(key).alias("__ck")).agg(
                seq.alias(name), F.lit(True).alias(f"{name}_row")
            ),
            "__ck",
            "left",
        )
    exists = F.coalesce(F.col("__cur_seq_row"), F.lit(False))
    # a change wins when it beats BOTH the stored per-key sequence (new
    # key / seeded-without-sequence rows read as minus infinity) and the
    # key's delete memory
    fresh = (
        F.col("__cur_seq").isNull() | (F.col("__cseq") > F.col("__cur_seq"))
    ) & (
        F.col("__tomb_seq").isNull() | (F.col("__cseq") > F.col("__tomb_seq"))
    )
    # the freshness decision, materialized once with every count the
    # commits need: upserts, applied deletes, the net rows (the rest are
    # ignored) and the deletes of keys that hold rows (the only deletes
    # the target delta must carry)
    j, counts = _checkpoint(
        j.withColumn("__up", fresh & ~F.col("__cdel")).withColumn(
            "__del", fresh & F.col("__cdel")
        ),
        upserted=F.count_if(F.col("__up")),
        deleted=F.count_if(F.col("__del")),
        net=F.count(F.lit(1)),
        gone=F.count_if(F.col("__del") & exists),
    )
    upserted, deleted = counts["upserted"], counts["deleted"]
    ignored = counts["net"] - upserted - deleted
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
    elif upserted or counts["gone"]:
        if upserted:
            # same guard chain as an admitted batch: a feed missing an
            # existing column must raise NOW — on a replace-by-key
            # table a silently-narrower upsert row is data loss, not
            # evolution (additive new columns still pass)
            schema = _table_schema(spark, target, manifest)
            if schema is not None:
                ups = _align_batch_types(ups, schema, key)
        else:
            # a delete-only batch records no sequence column: the empty
            # upsert frame's must not widen the table's schema
            ups = ups.drop(CDC_SEQ_COL)
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
            manifest["constraints"],
        )
        _commit_files(
            target, delta, manifest, key, num_buckets, "delta",
            store=store,
        )

    if deleted:
        # sequenced delete memory: replace-by-key keeps each key's
        # LATEST delete point (freshness already guarantees monotony).
        # A blind delta commit, like an MOR upsert: it guards no bucket.
        tomb_rows = j.filter(F.col("__del")).select(
            F.col("__ck").alias(key), F.col("__cseq").alias(CDC_TOMB_COL)
        )
        if tmanifest is None:
            keyed_overwrite_parquet(
                spark, tomb_rows, tomb_path, key=key,
                num_buckets=(_load_manifest(target, store) or {}).get(
                    "num_buckets"
                ) or num_buckets or 16,
                store=store,
            )
        else:
            schema = _table_schema(spark, tomb_path, tmanifest)
            if schema is not None:
                tomb_rows = _align_batch_types(tomb_rows, schema, key)
            _commit_files(
                tomb_path, tomb_rows, tmanifest, key, tomb_nb,
                "delta", guard=[], store=store,
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

    Scale shape: the batch is materialized once, and that pass
    observes its conflicting pairs and the buckets its keys hash to;
    ONLY those buckets' history rows are read, the frontier and the
    replay are windows over (touched keys' history + batch), and one
    checkpoint per touched key observes the counts returned (no probe
    job follows either checkpoint).  The write is one replace-by-key
    MOR delta commit for keys whose tail actually changed."""
    from .operators.scd import _scd2_intervals

    for c in (seq_col, op_col, *track_cols):
        if c not in changes.columns:
            raise ValueError(f"changes frame is missing column {c!r}")
    manifest, key, num_buckets = _open_or_bootstrap(
        target, key, num_buckets, store, "apply_changes_scd2"
    )
    # the batch's distinct changes, materialized ONCE.  The same pass
    # finds (key, seq) pairs carrying different changes — equal changes
    # are neighbours in (op, track_cols) order — and the buckets the
    # batch's keys hash to, so no probe job follows.
    change = F.struct(op_col, *track_cols)
    w = Window.partitionBy(key, seq_col).orderBy(op_col, *track_cols)
    cp, seen = _checkpoint(
        changes.select(key, seq_col, op_col, *track_cols)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__same", F.lag(change).over(w).eqNullSafe(change)),
        conflicts=F.count_if((F.col("__rn") > 1) & ~F.col("__same")),
        **(
            {}
            if manifest is None
            else {"buckets": F.collect_set(_bucket_expr(key, num_buckets))}
        ),
    )
    if seen["conflicts"]:
        raise ValueError(
            f"changes contain conflicting ({key}, {seq_col}) pairs"
        )
    ch = cp.filter(~F.col("__same")).drop("__rn", "__same")
    seq_type = dict(ch.dtypes)[seq_col]

    # one row set per touched key: the batch's changes (kind 2) and the
    # key's stored history — its open interval (kind 1), re-expressed
    # as a change at its own valid_from, and its closed ones (kind 0)
    rows = ch.withColumn("__kind", F.lit(2)).withColumn(
        "__to", F.lit(None).cast(seq_type)
    )
    stored = (
        _scope_rows(spark, target, manifest, key, seen["buckets"])
        if seen.get("buckets")
        else None
    )
    if stored is not None:
        stored = stored.join(
            _broadcastable(cp, ch.select(key)), key, "left_semi"
        )
        rows = rows.unionByName(
            stored.select(
                key,
                F.col("valid_from").cast(seq_type).alias(seq_col),
                F.lit("U").alias(op_col),
                *track_cols,
                F.col("is_current").cast("int").alias("__kind"),
                F.col("valid_to").cast(seq_type).alias("__to"),
            )
        )
    # a change at or below the key's frontier — the open interval's
    # start, else the last closed interval's end — is STALE: SCD2
    # cannot splice history mid-interval.  The open row itself sits at
    # its frontier and survives.
    kind = F.col("__kind")
    by_key = Window.partitionBy(key)
    open_from = F.max(F.when(kind == 1, F.col(seq_col))).over(by_key)
    closed_to = F.max("__to").over(by_key)
    rows = rows.withColumn(
        "__keep",
        F.when(open_from.isNotNull(), F.col(seq_col) >= open_from)
        .when(closed_to.isNotNull(), F.col(seq_col) > closed_to)
        .otherwise(True),
    )
    # replay the open interval and the fresh changes.  A redelivered
    # change that duplicates the open row collapses here; a batch change
    # CONFLICTING with the open row at the same sequence loses to it —
    # history already committed at that sequence point
    first = Window.partitionBy(key, seq_col).orderBy("__kind")
    tail = _scd2_intervals(
        rows.filter((kind > 0) & F.col("__keep"))
        .withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .select(key, seq_col, op_col, *track_cols),
        key, seq_col, track_cols, op_col=op_col, delete_op=delete_op,
    )

    # a key is rewritten only when its replayed tail (kind 3) differs
    # from its stored open interval (the closed ones pass through
    # unchanged), so a redelivered or all-stale batch commits nothing.
    # Materialized once per touched key, with the counts returned.
    # Every interval is open exactly when it has no end.
    cols = [key, seq_col, *track_cols, "__to", "__kind", "__keep"]
    interval = F.struct(
        *track_cols,
        F.col(seq_col).alias("valid_from"),
        F.col("__to").alias("valid_to"),
        F.col("__to").isNull().alias("is_current"),
    )

    def intervals_of(k):
        return F.collect_list(F.when(kind == k, interval))

    per_key, seen = _checkpoint(
        rows.select(*cols)
        .unionByName(
            tail.withColumnsRenamed({"valid_from": seq_col, "valid_to": "__to"})
            .withColumns({"__kind": F.lit(3), "__keep": F.lit(True)})
            .select(*cols)
        )
        .groupBy(key)
        .agg(
            F.array_sort(intervals_of(1)).alias("__was"),
            F.array_sort(intervals_of(3)).alias("__now"),
            intervals_of(0).alias("__closed"),
            F.count_if((kind == 2) & ~F.col("__keep")).alias("__stale"),
        )
        .withColumn("__changed", ~F.col("__was").eqNullSafe(F.col("__now"))),
        keys=F.count_if(F.col("__changed")),
        rows=F.sum(
            F.when(F.col("__changed"), F.size("__now") + F.size("__closed"))
        ),
        ignored=F.sum("__stale"),
    )
    result = {
        "keys_touched": seen["keys"],
        "rows_written": int(seen["rows"] or 0),
        "ignored_stale": int(seen["ignored"] or 0),
    }
    if not seen["keys"]:
        return result
    out = (
        per_key.filter(F.col("__changed"))
        .select(key, F.explode(F.concat("__closed", "__now")).alias("__iv"))
        .select(key, "__iv.*")
    )
    if manifest is None:
        keyed_overwrite_parquet(
            spark, out, target, key=key, num_buckets=num_buckets, store=store
        )
        return result
    schema = _table_schema(spark, target, manifest)
    if schema is not None:
        out = _align_batch_types(out, schema, key)
    _enforce_constraints(out, manifest["constraints"])
    _commit_files(
        target, out, manifest, key, num_buckets, "delta", store=store
    )
    return result


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

    What a restore rolls back is what describes the snapshot's files:
    the data, stats, blooms, row counts, recorded schema and column
    mapping (a pre-rename snapshot restores its old names).  The table
    state stays at the tip: writer-txn watermarks never move backwards
    (a batch applied after ``version`` stays applied, so its replay is
    still refused) and the ambient policies stay as the tip has them.

    The restored snapshot keeps the bucket count it was written under
    (the manifest records it), so restoring an auto-sized table to a
    version before a growth commit restores the smaller layout; on a
    fixed layout a restore across :func:`rebucket_keyed_table` is
    refused, since only a rebucket changes that layout.  Restoring
    ACROSS a type widening is allowed and restores the old schema,
    Delta-semantics.

    100 TB shape: pure metadata — one manifest read, an existence probe
    per snapshot file (HEAD on an object store), one CAS.  Zero data
    moves.
    """
    cur, _, now_nb = _open_table(target, store)
    if version == cur.get("version"):
        return version  # already there: no-op, no version churn
    snap = _read_version(target, version, store)
    if snap is None:
        raise FileNotFoundError(
            f"no snapshot manifest for version {version} at {target} "
            "(expired by vacuum retention, or never committed)"
        )
    # the restored manifest carries the snapshot's own layout, so any
    # snapshot reads and merges correctly; a fixed layout still changes
    # only through rebucket_keyed_table
    snap_nb = snap.get("num_buckets")
    if snap_nb and snap_nb != now_nb and not cur.get("auto"):
        raise ValueError(
            f"cannot restore version {version}: it was written under "
            f"{snap_nb} buckets but the table now has {now_nb} "
            "(a re-bucketing happened in between; restore before re-bucketing "
            "or rebucket back first)"
        )
    snap_live = _live_files(snap)
    for f in snap_live:
        if not store.exists(os.path.join(target, f)):
            raise FileNotFoundError(
                f"cannot restore version {version}: data file {f} was "
                "vacuumed past retention"
            )
    new_version = cur["version"] + 1
    manifest = _repoint(snap, lambda f: f)
    manifest.update(
        version=new_version, retired=_retire(target, cur, snap_live, store)
    )
    _commit_manifest(target, manifest, cur, store)
    return new_version


def clone_keyed_table(src: str, dest: str, store=LOCAL_STORE) -> int:
    """Delta-style SHALLOW CLONE: make ``dest`` an independent keyed
    table whose manifest references ``src``'s current live files *in
    place* — zero data copied, one manifest commit, O(file-count)
    metadata.  At 100 TB this is what turns "give me a scratch copy of
    the table to experiment on" from a multi-hour copy into a metadata
    operation.

    Mechanics: src's live file references are absolutized.  Every
    resolution point in this module goes through
    ``os.path.join(target, f)``, which returns ``f`` unchanged when it
    is absolute — so reads, min/max data skipping, bloom pruning, MOR
    precedence, restore, CDF and the lazy sketch sidecar all work on
    foreign entries with no special-casing.  File-keyed metadata
    (min/max stats, inline blooms, row counts, stored sizes, MOR delta
    entries with their commit seqs) is carried under the rewritten keys,
    with the recorded schema, bucket count and column mapping
    (:func:`_repoint`); the bucket key, the ``auto`` flag and the CHECK
    constraints are set on the clone's manifest explicitly (it has no
    base to carry them from).  Writer-txn watermarks and
    ambient policies are table state and do not clone (as in Delta): a
    clone is a new table to every idempotent writer, which must re-apply
    its batches here.  The clone's history STARTS at src's current
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
    return _clone(src, dest, store)


@_records_op("clone")
def _clone(src: str, dest: str, store, branch: bool = False) -> int:
    """:func:`clone_keyed_table`; a ``branch`` (:func:`wap_begin`) also
    records its fork point in the clone's one commit, as the manifest's
    ``wap`` key."""
    manifest, key, _ = _open_table(src, store)
    if branch:
        # publish re-owns branch files into the source manifest —
        # auditing that flow under two divergent mappings is not worth
        # the risk; run purge_column_mapping before branching a renamed
        # table
        _require_unmapped(manifest, "wap_begin")
    # _load_manifest (not a bare manifest read) so a pre-manifest legacy
    # layout at dest also refuses — clone never overwrites data
    if _load_manifest(dest, store) is not None:
        raise ValueError(f"destination {dest} is already a keyed table")
    src_abs = os.path.abspath(src)

    def _foreign(f: str) -> str:
        # already-absolute entries (cloning a clone) keep pointing at
        # their true owner — references never chain through intermediaries
        return f if os.path.isabs(f) else os.path.join(src_abs, f)

    version = manifest["version"]
    # the clone owns no files yet, so it has nothing awaiting deletion
    cloned = _repoint(manifest, _foreign)
    cloned.update(
        version=version, retired=[], key=key, auto=bool(manifest.get("auto")),
        constraints=manifest["constraints"],
    )
    if branch:
        cloned["wap"] = {"src": src_abs, "base_version": version}
    os.makedirs(dest, exist_ok=True)
    _commit_manifest(dest, cloned, None, store)
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
    num_buckets = _check_layout(target, key, num_buckets, manifest)
    admitted = _admit_batch(
        spark, batch, target, manifest, key, num_buckets, store, stats_cols
    )
    if admitted is None:
        return 0
    bucketed, affected, stats_cols, _ = admitted
    deltas = manifest["deltas"]
    probe_files = [
        f for b in affected for f in manifest["buckets"].get(b, [])
    ] + [e["path"] for b in affected for e in deltas.get(b, [])]
    if verify_new and probe_files:
        # probe the TABLE side against the broadcast batch keys: the
        # batch is the small side by construction, and a semi-join the
        # other way around would shuffle (or broadcast) the table's key
        # column instead — measured 9.0 s vs 1.3 s on a 9.6M-row table
        # for a 1,500-key batch.  No .distinct(): duplicate batch keys
        # cannot change a semi-join's result.
        hit = (
            _read_files(
                spark, target, probe_files, schema=_manifest_schema(manifest)
            )
            .select(key)
            .join(F.broadcast(bucketed.select(key)), key, "left_semi")
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
        target, bucketed, manifest, key, num_buckets, "append",
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

    On an auto-sized table whose mean bucket has passed
    :data:`TARGET_BUCKET_BYTES`, the commit instead rewrites every
    bucket at the doubled layout (:func:`_rewrite_buckets`).

    Returns the number of buckets packed (0 = nothing to do, no
    manifest churn).
    """
    return _rewrite_buckets(
        spark,
        target,
        lambda m: sorted(
            b for b, fs in m["buckets"].items() if len(fs) > max_files_per_bucket
        ),
        store,
    )


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


def _is_branch(target: str) -> bool:
    """Whether ``target`` lies directly under a table's ``_branches``."""
    return os.path.basename(os.path.dirname(os.path.abspath(target))) == WAP_SUBDIR


def _fork_of(branch: str, store) -> dict | None:
    """A WAP branch's fork point — its manifest's ``wap`` key:
    ``{"src", "base_version"}`` — or None when ``branch`` is no branch."""
    return (_load_manifest(branch, store) or {}).get("wap")


def wap_begin(src: str, name: str, store=LOCAL_STORE) -> str:
    """Open a WAP branch of ``src``: shallow-clone it to
    ``<src>/_branches/<name>``, recording the fork point (the source
    version the eventual publish must CAS against) in the clone's one
    commit, as its manifest's ``wap`` key.  Returns the branch path —
    write to it with the ordinary keyed-table operations, which carry
    the key."""
    branch = _branch_path(src, name)
    _clone(src, branch, store, branch=True)
    return branch


def wap_branches(src: str, store=LOCAL_STORE) -> list[str]:
    """Branch names currently open under ``src``: each directory under
    ``_branches`` whose manifest records a fork point.  A published
    branch stays listed until its directory is removed —
    :func:`wap_abandon` refuses it while the source references its
    files."""
    return sorted(
        d
        for d in store.list_dir(os.path.join(src, WAP_SUBDIR))
        if _fork_of(os.path.join(src, WAP_SUBDIR, d), store) is not None
    )


def wap_abandon(src: str, name: str, store=LOCAL_STORE) -> None:
    """Drop an UNPUBLISHED branch: delete its directory (branch-owned
    files only live there; references into the source are pointers, not
    files, so the source cannot be harmed).  Refuses a published branch.
    "Published" is read from the source's committed manifest: any live
    or retired entry under the branch directory means a reader of the
    source needs the branch's files — including after a publish that
    crashed right after its CAS."""
    branch = _branch_path(src, name)
    if _fork_of(branch, store) is None:
        raise FileNotFoundError(f"no WAP branch {name!r} under {src}")
    manifest = _load_manifest(src, store) or {}
    refs = _live_files(manifest) + [e["path"] for e in manifest.get("retired", [])]
    inside = os.path.abspath(branch) + os.sep
    if any(os.path.join(os.path.abspath(src), f).startswith(inside) for f in refs):
        raise ValueError(
            f"branch {name!r} was published: the source's manifest "
            "references its files — run optimize_keyed_table on the "
            "source, verify, then remove the branch directory manually"
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
    branch_manifest = _load_manifest(branch, store)
    meta = (branch_manifest or {}).get("wap")
    if meta is None:
        raise FileNotFoundError(f"no WAP branch {name!r} under {src}")
    src_manifest = _load_manifest(src, store)
    if src_manifest is None:
        raise FileNotFoundError(f"source table missing for {name!r}")
    if branch_manifest["version"] == meta["base_version"]:
        raise ValueError(f"branch {name!r} has no commits — nothing to publish")
    # an auto-sized layout's count moves by itself; a fixed one's only
    # through a rebucket, which also ends auto-sizing
    src_layout, br_layout = (
        (
            m.get("key"),
            bool(m.get("auto")),
            None if m.get("auto") else m.get("num_buckets"),
        )
        for m in (src_manifest, branch_manifest)
    )
    if src_layout != br_layout:
        raise ValueError(
            f"branch {name!r} changed the bucket layout "
            f"({src_layout} -> {br_layout}); rebucket the source instead"
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

    # fast-forward TO the branch's version number: its MOR delta entries
    # carry commit seqs up to that version, and the source's next commit
    # must number above every one of them.  Source files the audited
    # snapshot dropped start their retention clock now.
    published = _repoint(branch_manifest, _publish_ref)
    published_live = _live_files(published)
    published.update(
        version=branch_manifest["version"],
        retired=_retire(src, src_manifest, published_live, store),
    )
    _commit_manifest(src, published, src_manifest, store)
    return {
        "version": branch_manifest["version"],
        "n_published_files": len(published_live),
        "n_retired": len(published["retired"]),
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
    The copy itself is a local-path data-plane step: data files are
    written and read by Spark on the executor side, and only metadata
    rides the storage seam.

    Returns the number of files adopted (0 = already self-contained;
    no commit is made).  After a publish: ``adopt_foreign_files(src)``,
    then the branch directory can be removed.
    """
    import shutil

    manifest = _open_table(target, store)[0]
    refs = [(b, f) for b, fs in manifest["buckets"].items() for f in fs]
    refs += [
        (b, e["path"]) for b, es in manifest["deltas"].items() for e in es
    ]
    moved: dict[str, str] = {}
    for b, f in refs:
        if os.path.isabs(f):
            moved[f] = os.path.join(
                f"{BUCKET_COL}={b}",
                f"adopt-{uuid.uuid4().hex}-{os.path.basename(f)}",
            )
            dst = os.path.join(target, moved[f])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
    if not moved:
        return 0
    adopted = _repoint(manifest, lambda f: moved.get(f, f))
    # foreign originals are not ours to retire or vacuum — the manifest
    # simply stops referencing them
    adopted.update(version=manifest["version"] + 1, retired=manifest["retired"])
    _commit_manifest(target, adopted, manifest, store)
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
    manifest = _open_table(target, store)[0]
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
            committed = _read_version(target, v, store)["committed_at"]
            if committed is not None and now - committed < older_than_s:
                continue
        store.delete_file(_version_manifest_path(target, v))
        dropped += 1
    return dropped
