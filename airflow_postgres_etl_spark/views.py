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

The view commits like everything else: data lands under a unique
``data/<uuid>`` dir, then a single meta-JSON write flips readers to it
atomically and records the source snapshot version it reflects.
"""

from __future__ import annotations

import os
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import (
    _load_manifest,
    _mapping_of,
    _read_files,
    _to_logical_df,
    _version_manifest_path,
    read_keyed_table,
)
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
    from .sink import _manifest_schema

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


def _meta_path(mv_path: str) -> str:
    return os.path.join(mv_path, MV_META_NAME)


def _base_files(manifest: dict) -> set[str] | None:
    """The snapshot's file multiset — or None if the snapshot is unclean
    (pending MOR deltas make file-rows != snapshot-rows)."""
    if manifest.get("deltas"):
        return None
    return {f for files in manifest["buckets"].values() for f in files}


def _aggregate(rows: DataFrame, group_cols: list[str], sum_cols: list[str]) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    aggs += [F.sum(F.col(c).cast("double")).alias(f"sum_{c}") for c in sum_cols]
    return rows.groupBy(*group_cols).agg(*aggs)


def refresh_aggregate_view(
    spark: SparkSession,
    target: str,
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    store=LOCAL_STORE,
) -> dict:
    """Create or refresh a grouped count/sum view of ``target``.

    Returns ``{"mode": "noop"|"incremental"|"full", "files_read": int,
    "source_version": int}``.  ``incremental`` means only the files
    added/removed since the view's recorded snapshot were scanned.
    """
    reserved = {"n"} | {f"sum_{c}" for c in sum_cols}
    clash = reserved & set(group_cols)
    if clash:
        raise ValueError(
            f"group column(s) {sorted(clash)} collide with the view's "
            "aggregate output columns (n, sum_<col>)"
        )
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    cur_v = manifest["version"]
    meta = store.read_json(_meta_path(mv_path))
    if meta is not None and (
        meta.get("kind", "aggregate") != "aggregate"
        or meta.get("group_cols") != list(group_cols)
        or meta.get("sum_cols") != list(sum_cols)
    ):
        raise ValueError(
            "existing view was built with a different shape (kind or "
            "group/sum columns); use a new mv_path"
        )
    if meta is not None and meta["source_version"] == cur_v:
        return {"mode": "noop", "files_read": 0, "source_version": cur_v}

    new_files = _base_files(manifest)
    old_manifest = (
        store.read_json(_version_manifest_path(target, meta["source_version"]))
        if meta is not None
        else None
    )
    old_files = _base_files(old_manifest) if old_manifest else None

    if meta is not None and new_files is not None and old_files is not None:
        added = sorted(new_files - old_files)
        removed = sorted(old_files - new_files)
        missing = [
            f for f in removed if not store.exists(os.path.join(target, f))
        ]
        if missing:
            # removed files already vacuumed past retention: the delta
            # source is gone — recompute instead of failing the refresh
            return _full_refresh(
                spark, target, mv_path, group_cols, sum_cols, cur_v, store
            )
        parts = []
        if added:
            parts.append(
                _read_files_logical(spark, target, added, manifest)
                .withColumn("__w", F.lit(1))
            )
        if removed:
            parts.append(
                _read_files_logical(spark, target, removed, manifest)
                .withColumn("__w", F.lit(-1))
            )
        if not parts:  # version bumped with no base-file change
            _write_view(
                spark, mv_path,
                _read_view_frame(spark, mv_path, store),
                group_cols, sum_cols, cur_v, store,
            )
            return {"mode": "incremental", "files_read": 0, "source_version": cur_v}
        rows = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        aggs = [F.sum("__w").cast("long").alias("__dn")]
        aggs += [
            F.sum(F.col(c).cast("double") * F.col("__w")).alias(f"__ds_{c}")
            for c in sum_cols
        ]
        delta = rows.groupBy(*group_cols).agg(*aggs)

        mv = _read_view_frame(spark, mv_path, store)
        cond = reduce(
            lambda a, b: a & b,
            [mv[c].eqNullSafe(delta[c]) for c in group_cols],
        )
        joined = mv.join(delta, cond, "full_outer")
        merged = joined.select(
            *[F.coalesce(mv[c], delta[c]).alias(c) for c in group_cols],
            (
                F.coalesce(mv["n"], F.lit(0))
                + F.coalesce(delta["__dn"], F.lit(0))
            ).cast("long").alias("n"),
            *[
                (
                    F.coalesce(mv[f"sum_{c}"], F.lit(0.0))
                    + F.coalesce(delta[f"__ds_{c}"], F.lit(0.0))
                ).alias(f"sum_{c}")
                for c in sum_cols
            ],
        ).filter(F.col("n") > 0)
        _write_view(spark, mv_path, merged, group_cols, sum_cols, cur_v, store)
        return {
            "mode": "incremental",
            "files_read": len(added) + len(removed),
            "source_version": cur_v,
        }

    return _full_refresh(spark, target, mv_path, group_cols, sum_cols, cur_v, store)


#: a refresh that touches more groups than this recomputes the whole
#: view instead — collecting the touched-group list to the driver is
#: what bounds the partial-recompute plan, and a batch touching this
#: many groups is a backfill, where the full recompute IS the right plan
MINMAX_TOUCHED_GROUP_CAP = 10_000


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
    — excludes every historical file by its footer (measured flat at
    64× growth, SCALE.md).  A CoW merge is coarser: it
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
    reserved = {"n"} | {
        f"{p}_{c}" for c in agg_cols for p in ("sum", "min", "max")
    }
    clash = reserved & set(group_cols)
    if clash:
        raise ValueError(
            f"group column(s) {sorted(clash)} collide with the view's "
            "aggregate output columns"
        )
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    cur_v = manifest["version"]
    meta = store.read_json(_meta_path(mv_path))
    if meta is not None and (
        meta.get("kind") != "minmax"
        or meta.get("group_cols") != list(group_cols)
        or meta.get("agg_cols") != list(agg_cols)
    ):
        raise ValueError(
            "existing view was built with a different shape (kind or "
            "group/agg columns); use a new mv_path"
        )
    meta_extra = {"kind": "minmax", "agg_cols": list(agg_cols)}
    if meta is not None and meta["source_version"] == cur_v:
        return {
            "mode": "noop", "files_read": 0, "groups_recomputed": 0,
            "source_version": cur_v,
        }

    def _minmax_aggregate(rows):
        aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        for c in agg_cols:
            aggs += [
                F.sum(F.col(c).cast("double")).alias(f"sum_{c}"),
                F.min(c).alias(f"min_{c}"),
                F.max(c).alias(f"max_{c}"),
            ]
        return rows.groupBy(*group_cols).agg(*aggs)

    def _full():
        rows = _read_pinned(spark, target, cur_v, store)
        _write_view(
            spark, mv_path, _minmax_aggregate(rows), group_cols, agg_cols,
            cur_v, store, meta_extra=meta_extra,
        )
        return {
            "mode": "full", "files_read": len(rows.inputFiles()),
            "groups_recomputed": -1, "source_version": cur_v,
        }

    new_files = _base_files(manifest)
    old_manifest = (
        store.read_json(_version_manifest_path(target, meta["source_version"]))
        if meta is not None
        else None
    )
    old_files = _base_files(old_manifest) if old_manifest else None
    if meta is None or new_files is None or old_files is None:
        return _full()
    added = sorted(new_files - old_files)
    removed = sorted(old_files - new_files)
    if any(not store.exists(os.path.join(target, f)) for f in removed):
        return _full()
    if not added and not removed:
        _write_view(
            spark, mv_path, _read_view_frame(spark, mv_path, store),
            group_cols, agg_cols, cur_v, store, meta_extra=meta_extra,
        )
        return {
            "mode": "incremental", "files_read": 0, "groups_recomputed": 0,
            "source_version": cur_v,
        }

    mv = _read_view_frame(spark, mv_path, store)
    res = _touched_partial_recompute(
        spark, target, cur_v, store, group_cols, added, removed,
        _minmax_aggregate, mv, manifest=manifest,
    )
    if res is None:
        return _full()
    merged, n_groups = res
    _write_view(
        spark, mv_path, merged, group_cols, agg_cols, cur_v, store,
        meta_extra=meta_extra,
    )
    return {
        "mode": "incremental",
        "files_read": len(added) + len(removed),
        "groups_recomputed": n_groups,
        "source_version": cur_v,
    }


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
    touched-group list exceeds ``cap`` (collecting it to the driver is
    what bounds this plan, so the caller must full-recompute instead;
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
    # the table's stats, no NULL group touched -> range-prune the files
    where = None
    if len(group_cols) == 1:
        vals = [r[0] for r in touched_rows]
        if None not in vals and vals and isinstance(
            vals[0], (int, float, str, bool)
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
    reserved = {"n"} | {f"sum_{c}" for c in sum_cols}
    clash = reserved & set(group_cols)
    if clash:
        raise ValueError(
            f"group column(s) {sorted(clash)} collide with the view's "
            "aggregate output columns (n, sum_<col>)"
        )
    ons = [on for _, on in dims]
    if len(set(ons)) != len(ons):
        raise ValueError(f"duplicate join columns across dims: {ons}")
    paths = [fact] + [p for p, _ in dims]
    manifests = []
    for p in paths:
        m = _load_manifest(p, store)
        if m is None:
            raise FileNotFoundError(f"no committed keyed table at {p}")
        manifests.append(m)
    versions = [m["version"] for m in manifests]
    meta = store.read_json(_meta_path(mv_path))
    if meta is not None and (
        meta.get("kind") != "star"
        or meta.get("ons") != ons
        or meta.get("group_cols") != list(group_cols)
        or meta.get("sum_cols") != list(sum_cols)
    ):
        raise ValueError(
            "existing view at mv_path was built with a different shape "
            "(kind/join/group/sum columns); use a new mv_path"
        )
    meta_extra = {"kind": "star", "ons": ons, "versions": versions}
    if meta is not None and meta["versions"] == versions:
        return {
            "mode": "noop", "fact_files_read": 0, "dim_files_read": 0,
            "fact_rescan": False, "versions": versions,
        }

    def _delta_files(i):
        """(added, removed) for table i since the view's snapshot, or
        None if the shortcut is unsound (unclean endpoint, vacuumed)."""
        if meta["versions"][i] == versions[i]:
            return [], []
        new_files = _base_files(manifests[i])
        m_old = store.read_json(
            _version_manifest_path(paths[i], meta["versions"][i])
        )
        old_files = _base_files(m_old) if m_old else None
        if new_files is None or old_files is None:
            return None
        added = sorted(new_files - old_files)
        removed = sorted(old_files - new_files)
        if any(
            not store.exists(os.path.join(paths[i], f)) for f in removed
        ):
            return None
        return added, removed

    deltas = [_delta_files(i) for i in range(len(paths))] if meta else None
    if meta is None or any(d is None for d in deltas):
        return _full_star_refresh(
            spark, paths, ons, mv_path, group_cols, sum_cols,
            meta_extra, store,
        )

    def _signed(i):
        added, removed = deltas[i]
        parts = []
        if added:
            parts.append(
                _read_files_logical(spark, paths[i], added, manifests[i])
                .withColumn("__w", F.lit(1))
            )
        if removed:
            parts.append(
                _read_files_logical(spark, paths[i], removed, manifests[i])
                .withColumn("__w", F.lit(-1))
            )
        if not parts:
            return None
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )

    def _snapshot(i, old: bool):
        if old and meta["versions"][i] != versions[i]:
            return read_keyed_table(
                spark, paths[i], store, version=meta["versions"][i]
            )
        # "new" snapshots pin to the version THIS refresh captured, not
        # the live tip — a commit landing mid-refresh must not leak into
        # a view recorded as reflecting versions[] (_read_pinned doc)
        return _read_pinned(spark, paths[i], versions[i], store)

    out_cols = list(dict.fromkeys([*group_cols, *sum_cols]))
    terms = []
    for i in range(len(paths)):
        d = _signed(i)
        if d is None:
            continue
        if i == 0:
            frame = d
            for j in range(1, len(paths)):
                frame = frame.join(
                    F.broadcast(_snapshot(j, old=False)), on=ons[j - 1],
                    how="inner",
                )
        else:
            frame = _snapshot(0, old=True)
            for j in range(1, len(paths)):
                if j == i:
                    other = d
                else:
                    other = _snapshot(j, old=(j < i))
                frame = frame.join(
                    F.broadcast(other), on=ons[j - 1], how="inner"
                )
        terms.append(frame.select(*out_cols, "__w"))

    if not terms:  # version bumps with no base-file change anywhere
        _write_view(
            spark, mv_path, _read_view_frame(spark, mv_path, store),
            group_cols, sum_cols, versions[0], store, meta_extra=meta_extra,
        )
        return {
            "mode": "incremental", "fact_files_read": 0, "dim_files_read": 0,
            "fact_rescan": False, "versions": versions,
        }

    rows = reduce(lambda a, b: a.unionByName(b), terms)
    aggs = [F.sum("__w").cast("long").alias("__dn")]
    aggs += [
        F.sum(F.col(c).cast("double") * F.col("__w")).alias(f"__ds_{c}")
        for c in sum_cols
    ]
    delta = rows.groupBy(*group_cols).agg(*aggs)

    mv = _read_view_frame(spark, mv_path, store)
    cond = reduce(
        lambda a, b: a & b, [mv[c].eqNullSafe(delta[c]) for c in group_cols]
    )
    merged = mv.join(delta, cond, "full_outer").select(
        *[F.coalesce(mv[c], delta[c]).alias(c) for c in group_cols],
        (
            F.coalesce(mv["n"], F.lit(0)) + F.coalesce(delta["__dn"], F.lit(0))
        ).cast("long").alias("n"),
        *[
            (
                F.coalesce(mv[f"sum_{c}"], F.lit(0.0))
                + F.coalesce(delta[f"__ds_{c}"], F.lit(0.0))
            ).alias(f"sum_{c}")
            for c in sum_cols
        ],
    ).filter(F.col("n") > 0)
    _write_view(
        spark, mv_path, merged, group_cols, sum_cols, versions[0], store,
        meta_extra=meta_extra,
    )
    return {
        "mode": "incremental",
        "fact_files_read": len(deltas[0][0]) + len(deltas[0][1]),
        "dim_files_read": sum(len(a) + len(r) for a, r in deltas[1:]),
        "fact_rescan": any(len(a) + len(r) > 0 for a, r in deltas[1:]),
        "versions": versions,
    }


def _full_star_refresh(
    spark, paths, ons, mv_path, group_cols, sum_cols, meta_extra, store
) -> dict:
    versions = meta_extra["versions"]
    frame = _read_pinned(spark, paths[0], versions[0], store)
    n_fact = len(frame.inputFiles())
    n_dim = 0
    for j in range(1, len(paths)):
        s = _read_pinned(spark, paths[j], versions[j], store)
        n_dim += len(s.inputFiles())
        frame = frame.join(F.broadcast(s), on=ons[j - 1], how="inner")
    view = _aggregate(frame, list(group_cols), list(sum_cols))
    _write_view(
        spark, mv_path, view, group_cols, sum_cols,
        meta_extra["versions"][0], store, meta_extra=meta_extra,
    )
    return {
        "mode": "full", "fact_files_read": n_fact, "dim_files_read": n_dim,
        "fact_rescan": True, "versions": meta_extra["versions"],
    }


def _full_refresh(spark, target, mv_path, group_cols, sum_cols, cur_v, store) -> dict:
    rows = _read_pinned(spark, target, cur_v, store)
    view = _aggregate(rows, list(group_cols), list(sum_cols))
    _write_view(spark, mv_path, view, group_cols, sum_cols, cur_v, store)
    n_files = len(rows.inputFiles())
    return {"mode": "full", "files_read": n_files, "source_version": cur_v}


def _read_pinned(spark, target, version, store, **kw) -> DataFrame:
    """Snapshot read pinned to the version this refresh captured: every
    scan a refresh issues must come from the SAME snapshot it records in
    the view meta, or a writer committing mid-refresh produces a view
    whose content is v(N+1) while its meta says N — and the next
    incremental refresh double-applies the N→N+1 delta (VERDICT r7
    task 5).  Falls back to the tip read only when the pinned version IS
    the tip but its per-version manifest copy was crash-lost (the
    documented CAS/copy gap) — same snapshot either way."""
    try:
        return read_keyed_table(spark, target, store, version=version, **kw)
    except FileNotFoundError:
        m = _load_manifest(target, store)
        if m is not None and m["version"] == version:
            return read_keyed_table(spark, target, store, **kw)
        raise


def _write_view(
    spark, mv_path, view_df, group_cols, sum_cols, source_version, store,
    meta_extra: dict | None = None,
):
    prev_meta = store.read_json(_meta_path(mv_path))
    rel = os.path.join("data", uuid.uuid4().hex[:12])
    out = os.path.join(mv_path, rel)
    # the view must be materialized BEFORE the meta flip; the new data
    # dir is unique, so the incremental merge's lazy read of the CURRENT
    # view never races its own output
    view_df.write.mode("overwrite").parquet(out)
    store.write_json(
        _meta_path(mv_path),
        {
            "source_version": source_version,
            "data": rel,
            "group_cols": list(group_cols),
            "sum_cols": list(sum_cols),
            **(meta_extra or {}),
        },
    )
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
        return spark.read.parquet(data_dir)
    return spark.read.parquet(*files)


def read_aggregate_view(
    spark: SparkSession, mv_path: str, store=LOCAL_STORE
) -> DataFrame:
    """The view's current contents: ``group_cols..., n, sum_<col>...``."""
    meta = store.read_json(_meta_path(mv_path))
    if meta is None:
        raise FileNotFoundError(f"no aggregate view at {mv_path}")
    return _read_view_frame(spark, mv_path, store)


# ---------------------------------------------------------------------------
# Sketch-backed views — mergeable-summary aggregates maintained
# incrementally.  count/sum views subtract (signed deltas); min/max views
# partially recompute; the THIRD family is aggregates whose state is a
# mergeable sketch: approx-distinct (KMV, operators/sketch.py) and
# quantiles (bottom-k row sample).  Sketches buy a maintenance property
# the exact aggregate lacks: under APPEND-ONLY commits the new view is
# ``merge(old_sketch, sketch(added files))`` — the refresh reads ONLY the
# added files and the view itself, never the table, and the result is
# IDENTICAL to the sketch built over the full table directly (the KMV
# merge property: k smallest of a union is computable from per-part
# k-smallest sets).  At 100 TB that is the fact-stream case: a per-hour
# append refreshes a per-group distinct-users or latency-quantile view in
# O(batch + view), where even the minmax view's touched-group recompute
# would re-scan every historical file of the touched groups.
#
# Removals (CoW rewrite, DELETE, MOR compaction folding tombstones) can
# evict sketch members, so — exactly like min/max — commits that remove
# files fall back to touched-group partial recompute from the pinned
# snapshot (shared helper above), and unclean/vacuumed endpoints to a
# full recompute.  Both fallbacks land on the same bit-exact state the
# append path maintains, so the refresh mode never changes the answer
# (test-pinned; the driver's view_distinct_ivm / view_quantile_ivm
# oracles reproduce the final sketches closed-form in SQL).
# ---------------------------------------------------------------------------


def _refresh_sketch_view(
    spark, target, mv_path, group_cols, store, *, kind, shape, build,
    merge_append,
) -> dict:
    """Shared maintenance skeleton for sketch-valued views.

    ``build(rows) -> per-group sketch frame`` defines the view content;
    ``merge_append(mv, part)`` combines the stored view with the sketch
    of freshly-appended files (both view-sized — the merge is array
    arithmetic inside one full_outer join on the group key, no explode,
    no window).  Paths: noop (same version) / append merge (no files
    removed) / touched-group partial recompute (removals) / full
    (no meta, unclean endpoint, vacuumed delta source, over group cap).
    """
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    cur_v = manifest["version"]
    meta = store.read_json(_meta_path(mv_path))
    if meta is not None and (
        meta.get("kind") != kind
        or meta.get("group_cols") != list(group_cols)
        or any(meta.get(f) != v for f, v in shape.items())
    ):
        raise ValueError(
            "existing view was built with a different shape (kind, group "
            "columns or sketch parameters); use a new mv_path"
        )
    meta_extra = {"kind": kind, **shape}
    if meta is not None and meta["source_version"] == cur_v:
        return {
            "mode": "noop", "files_read": 0, "groups_recomputed": 0,
            "source_version": cur_v,
        }

    def _full():
        rows = _read_pinned(spark, target, cur_v, store)
        _write_view(
            spark, mv_path, build(rows), group_cols, [], cur_v, store,
            meta_extra=meta_extra,
        )
        return {
            "mode": "full", "files_read": len(rows.inputFiles()),
            "groups_recomputed": -1, "source_version": cur_v,
        }

    new_files = _base_files(manifest)
    old_manifest = (
        store.read_json(_version_manifest_path(target, meta["source_version"]))
        if meta is not None
        else None
    )
    old_files = _base_files(old_manifest) if old_manifest else None
    if meta is None or new_files is None or old_files is None:
        return _full()
    added = sorted(new_files - old_files)
    removed = sorted(old_files - new_files)
    if any(not store.exists(os.path.join(target, f)) for f in removed):
        return _full()
    mv = _read_view_frame(spark, mv_path, store)
    if not added and not removed:
        _write_view(
            spark, mv_path, mv, group_cols, [], cur_v, store,
            meta_extra=meta_extra,
        )
        return {
            "mode": "incremental", "files_read": 0, "groups_recomputed": 0,
            "source_version": cur_v,
        }
    if not removed:
        # append fast path: sketch ONLY the added files, merge into the
        # stored view — O(batch + view) whatever the table size
        part = build(_read_files_logical(spark, target, added, manifest))
        _write_view(
            spark, mv_path, merge_append(mv, part), group_cols, [], cur_v,
            store, meta_extra=meta_extra,
        )
        return {
            "mode": "incremental", "files_read": len(added),
            "groups_recomputed": 0, "source_version": cur_v,
        }
    res = _touched_partial_recompute(
        spark, target, cur_v, store, group_cols, added, removed, build, mv,
        manifest=manifest,
    )
    if res is None:
        return _full()
    merged, n_groups = res
    _write_view(
        spark, mv_path, merged, group_cols, [], cur_v, store,
        meta_extra=meta_extra,
    )
    return {
        "mode": "incremental", "files_read": len(added) + len(removed),
        "groups_recomputed": n_groups, "source_version": cur_v,
    }


def _group_merge(mv, part, group_cols, merged_cols):
    """full_outer view⋈part on the group key, groups coalesced,
    ``merged_cols`` (name -> Column over the joined frame) appended."""
    cond = reduce(
        lambda a, b: a & b, [mv[c].eqNullSafe(part[c]) for c in group_cols]
    )
    joined = mv.join(part, cond, "full_outer")
    return joined.select(
        *[F.coalesce(mv[c], part[c]).alias(c) for c in group_cols],
        *[col.alias(name) for name, col in merged_cols.items()],
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

    return _refresh_sketch_view(
        spark, target, mv_path, group_cols, store,
        kind="kmv_distinct", shape={"item_col": item_col, "k": k},
        build=build, merge_append=merge_append,
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

    return _refresh_sketch_view(
        spark, target, mv_path, group_cols, store,
        kind="bottomk_quantile",
        shape={"value_col": value_col, "key_col": key_col, "k": k},
        build=build, merge_append=merge_append,
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


# ---------------------------------------------------------------------------
# CMS frequency view — the third sketch family, and the only one that is
# a LINEAR sketch: Count-Min cells are sums of per-row contributions, so
# the SIGNED-delta identity that maintains count/sum views maintains the
# whole sketch under EVERY commit kind — appends add cell counts,
# removals subtract them exactly, no touched-group recompute, no
# extremum problem.  (KMV and bottom-k samples are order statistics:
# they merge under appends but cannot unsee a removed member; CMS never
# needs to.)  State is the sparse cell table (group…, r, c, cnt) —
# ≤ depth·width rows per group whatever the data size — and a refresh
# reads ONLY the files the commits since the last refresh touched.
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
    kind = "cms_freq"
    shape = {"item_col": item_col, "depth": depth, "width": width}
    manifest = _load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no committed keyed table at {target}")
    cur_v = manifest["version"]
    meta = store.read_json(_meta_path(mv_path))
    if meta is not None and (
        meta.get("kind") != kind
        or meta.get("group_cols") != list(group_cols)
        or any(meta.get(f) != v for f, v in shape.items())
    ):
        raise ValueError(
            "existing view was built with a different shape (kind, group "
            "columns or sketch parameters); use a new mv_path"
        )
    meta_extra = {"kind": kind, **shape}
    if meta is not None and meta["source_version"] == cur_v:
        return {"mode": "noop", "files_read": 0, "source_version": cur_v}

    def _build(rows, weight=None):
        return cms_sketch(
            rows.filter(F.col(item_col).isNotNull()),
            group_cols,
            F.col(item_col).cast("string"),
            depth=depth,
            width=width,
            weight=weight,
        )

    def _full():
        rows = _read_pinned(spark, target, cur_v, store)
        _write_view(
            spark, mv_path, _build(rows), group_cols, [], cur_v, store,
            meta_extra=meta_extra,
        )
        return {
            "mode": "full", "files_read": len(rows.inputFiles()),
            "source_version": cur_v,
        }

    new_files = _base_files(manifest)
    old_manifest = (
        store.read_json(_version_manifest_path(target, meta["source_version"]))
        if meta is not None
        else None
    )
    old_files = _base_files(old_manifest) if old_manifest else None
    if meta is None or new_files is None or old_files is None:
        return _full()
    added = sorted(new_files - old_files)
    removed = sorted(old_files - new_files)
    if any(not store.exists(os.path.join(target, f)) for f in removed):
        return _full()
    mv = _read_view_frame(spark, mv_path, store)
    if not added and not removed:
        _write_view(
            spark, mv_path, mv, group_cols, [], cur_v, store,
            meta_extra=meta_extra,
        )
        return {"mode": "incremental", "files_read": 0, "source_version": cur_v}

    # the linear-sketch delta: cells of added files minus cells of
    # removed files, summed into the stored cell table; cells reaching
    # zero drop out (sparse representation stays minimal)
    parts = []
    if added:
        parts.append(
            _build(
                _read_files_logical(spark, target, added, manifest),
                weight=F.lit(1),
            )
        )
    if removed:
        parts.append(
            _build(
                _read_files_logical(spark, target, removed, manifest),
                weight=F.lit(-1),
            )
        )
    delta = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy(*group_cols, "r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )
    keys = [*group_cols, "r", "c"]
    cond = reduce(lambda a, b: a & b, [mv[k].eqNullSafe(delta[k]) for k in keys])
    merged = (
        mv.join(delta, cond, "full_outer")
        .select(
            *[F.coalesce(mv[k], delta[k]).alias(k) for k in keys],
            (
                F.coalesce(mv["cnt"], F.lit(0))
                + F.coalesce(delta["cnt"], F.lit(0))
            ).cast("long").alias("cnt"),
        )
        .filter(F.col("cnt") != 0)
    )
    _write_view(
        spark, mv_path, merged, group_cols, [], cur_v, store,
        meta_extra=meta_extra,
    )
    return {
        "mode": "incremental",
        "files_read": len(added) + len(removed),
        "source_version": cur_v,
    }


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
