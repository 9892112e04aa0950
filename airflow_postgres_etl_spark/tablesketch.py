"""Table-level sketch maintenance for keyed tables (VERDICT r6
prescription 7): answer "how many distinct keys / how frequent is this
value / what are this column's quantiles" for a keyed table WITHOUT a
full table scan — and keep the answer current across merges without a
full recompute.

Design: a sidecar parquet dataset of PER-FILE sketches under
``<target>/_sketches/<kind>_<col>/`` (an underscore namespace, which the
table's vacuum already treats as foreign — sink.py ``_private_subtree``).
The manifest already identifies each commit's immutable data files, and
every sketch here (KMV distinct, count-min cells, bottom-k sample) is
*mergeable with exact equality*:

- KMV: the k smallest distinct hashes of a union are computable from
  per-part k-smallest sets alone (operators/sketch.py:14);
- CMS: cells sum;
- bottom-k: any row in the global bottom-k is in its own file's
  bottom-k, so re-ranking the union of per-file samples reproduces the
  global sample exactly.

So sketch(table) == merge(sketch(file) for live files) bit-for-bit
(test-pinned), and maintenance is LAZY: a facade call scans only the
live files the sidecar doesn't cover yet — after a merge that rewrote
k of N buckets, the next call scans k/N of the table, appends those
files' sketch rows, and every later call is sidecar-only (sketch rows
are ~KB per file; the data never moves).  Per-file blobs are
deterministic (md5-derived hashes), so a concurrent double-append is
harmless — reads collapse duplicates by file name.

MOR-dirty buckets (pending deltas) can't use per-file sketches — a
delta row supersedes base rows, and a union over both would count dead
rows — so dirty buckets' RESOLVED rows are sketched on the fly (cost
∝ dirty buckets, same rule as data skipping's skip-exempt dirty
buckets) and never cached.  Compaction folds the deltas, after which
the folded files cache normally.

At 100 TB the sidecar is just another parquet table (~1M files → ~1M
sketch rows), read and merged by Spark — nothing materializes on the
driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .operators import sketch as SK
from .storage import LOCAL_STORE

SKETCH_SUBDIR = "_sketches"

_FILE = "__sk_file"


def _sidecar_dir(target: str, kind: str, col: str) -> str:
    return os.path.join(target, SKETCH_SUBDIR, f"{kind}_{col}")


def _live_split(target: str, store) -> tuple[list[str], list[str], dict]:
    """(clean-bucket live files, dirty bucket ids, manifest).  Dirty =
    buckets with pending MOR deltas; their files are excluded from the
    per-file path and resolved instead."""
    from . import sink

    manifest = sink._load_manifest(target, store)
    if manifest is None:
        raise FileNotFoundError(f"no keyed table at {target}")
    deltas = manifest.get("deltas", {})
    clean_files = [
        f
        for b, fs in manifest["buckets"].items()
        if b not in deltas
        for f in fs
    ]
    dirty = sorted(deltas)
    return clean_files, dirty, manifest


def _with_file(spark: SparkSession, target: str, rel_files: list[str]) -> DataFrame:
    """The given files' rows plus their manifest-relative path — the
    per-file grouping key, normalized to match manifest entries."""
    from . import sink

    df = sink._read_files(spark, target, rel_files).withColumn(
        _FILE, F.input_file_name()
    )
    # input_file_name is an absolute file:/// URI; manifest paths are
    # target-relative — normalize the scheme, then strip the target
    # prefix with a LITERAL replace (paths contain regex metachars)
    norm = F.regexp_replace(F.col(_FILE), r"^file:/+", "/")
    prefix = os.path.abspath(target).rstrip("/") + "/"
    return df.withColumn(_FILE, F.replace(norm, F.lit(prefix), F.lit("")))


def _cached_files(spark: SparkSession, side_dir: str) -> DataFrame | None:
    if not os.path.isdir(side_dir):
        return None
    try:
        return spark.read.parquet(side_dir)
    except Exception:
        return None


def _refresh_sidecar(
    spark: SparkSession,
    target: str,
    side_dir: str,
    clean_files: list[str],
    build_for_files,
) -> DataFrame:
    """Per-file sketch rows covering exactly the live clean files:
    cached rows for covered files + freshly built (and appended) rows
    for the rest.  ``build_for_files(files) -> DataFrame`` must emit a
    ``__sk_file`` column; duplicates collapse deterministically."""
    cached = _cached_files(spark, side_dir)
    live = spark.createDataFrame([(f,) for f in clean_files] or [], f"{_FILE} string")
    if cached is not None:
        covered = {r[0] for r in cached.select(_FILE).distinct().collect()}
    else:
        covered = set()
    missing = [f for f in clean_files if f not in covered]
    if missing:
        fresh = build_for_files(missing)
        # blobs are deterministic → append is idempotent-by-value; a
        # reader dedups on the file name
        fresh.write.mode("append").parquet(side_dir)
        cached = _cached_files(spark, side_dir)
    if cached is None:
        return live.limit(0).crossJoin(spark.range(0).drop("id"))
    # keep live files only; collapse double-appends (identical rows)
    return cached.join(F.broadcast(live), _FILE).dropDuplicates()


def _resolved_dirty_rows(
    spark: SparkSession, target: str, manifest: dict, dirty: list[str]
) -> DataFrame | None:
    if not dirty:
        return None
    from . import sink

    return sink._resolve_dirty(spark, target, manifest, manifest["key"], dirty)



def _phys(col: str, manifest: dict) -> str:
    """User-facing facades name LOGICAL columns; files and sidecars are
    keyed by PHYSICAL names (era-independent — renames keep the cached
    per-file sketches valid).  A dropped column refuses loudly."""
    from . import sink

    mapping, dropped = sink._mapping_of(manifest)
    phys = sink._phys_name(col, mapping)
    if phys in set(dropped):
        raise ValueError(f"column {col!r} was dropped from this table")
    return phys


def table_kmv_distinct(
    spark: SparkSession,
    target: str,
    cols: list[str],
    store=LOCAL_STORE,
    k: int = SK.DEFAULT_K,
) -> DataFrame:
    """Distinct-count estimates per column: ``(column, distinct_est)``.

    Equals ``kmv_sketch`` over the whole visible table bit-for-bit
    (test-pinned), built from per-file sketches + resolved dirty
    buckets."""
    clean_files, dirty, manifest = _live_split(target, store)
    per_col = []
    for label in cols:
        col = _phys(label, manifest)
        side = _sidecar_dir(target, f"kmv{k}", col)

        def build(files, col=col):
            return (
                SK.kmv_sketch(
                    _with_file(spark, target, files),
                    [_FILE],
                    F.col(col).cast("string"),
                    k=k,
                )
                .select(_FILE, "ks")
            )

        parts = [
            _refresh_sidecar(spark, target, side, clean_files, build).select("ks")
            if clean_files
            else None
        ]
        resolved = _resolved_dirty_rows(spark, target, manifest, dirty)
        if resolved is not None:
            parts.append(
                SK.kmv_sketch(
                    resolved.withColumn(_FILE, F.lit("__dirty__")),
                    [_FILE],
                    F.col(col).cast("string"),
                    k=k,
                ).select("ks")
            )
        parts = [p for p in parts if p is not None]
        sketches = parts[0]
        for p in parts[1:]:
            sketches = sketches.unionByName(p)
        merged = SK.kmv_merge_sketches(
            sketches.withColumn("__g", F.lit(1)), ["__g"], k=k
        )
        per_col.append(
            merged.select(
                F.lit(label).alias("column"),
                SK.kmv_estimate_expr(k).alias("distinct_est"),
            )
        )
    out = per_col[0]
    for p in per_col[1:]:
        out = out.unionByName(p)
    return out


def table_frequencies(
    spark: SparkSession,
    target: str,
    col: str,
    probes: list,
    store=LOCAL_STORE,
    depth: int = SK.CMS_DEPTH,
    width: int = SK.CMS_WIDTH,
) -> DataFrame:
    """Count-min point-frequency estimates for ``probes`` values of
    ``col``: ``(item, est_cnt)``.  Cells sum across per-file sketches —
    identical to a whole-table CMS."""
    clean_files, dirty, manifest = _live_split(target, store)
    col = _phys(col, manifest)
    side = _sidecar_dir(target, f"cms{depth}x{width}", col)

    def build(files):
        return SK.cms_sketch(
            _with_file(spark, target, files),
            [_FILE],
            F.col(col).cast("string"),
            depth=depth,
            width=width,
        )

    parts = []
    if clean_files:
        parts.append(
            _refresh_sidecar(spark, target, side, clean_files, build).select(
                "r", "c", "cnt"
            )
        )
    resolved = _resolved_dirty_rows(spark, target, manifest, dirty)
    if resolved is not None:
        parts.append(
            SK.cms_sketch(
                resolved, [], F.col(col).cast("string"), depth=depth, width=width
            ).select("r", "c", "cnt")
        )
    cells = parts[0]
    for p in parts[1:]:
        cells = cells.unionByName(p)
    sketch = cells.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))
    probe_df = spark.createDataFrame([(p,) for p in probes], ["item"]).select(
        F.col("item").cast("string").alias("item")
    )
    return SK.cms_lookup(
        sketch.select("r", "c", "cnt"),
        probe_df,
        "item",
        depth=depth,
        width=width,
    ).withColumnRenamed("est_cnt", "est_cnt")


def table_quantiles(
    spark: SparkSession,
    target: str,
    col: str,
    qs: list[tuple[str, float]],
    store=LOCAL_STORE,
    k: int = 256,
) -> DataFrame:
    """Sample quantiles of ``col`` from the mergeable bottom-k row
    sample: one row ``(n_sample, <q names…>)``.  The global sample is
    re-ranked from per-file samples — identical rows to a whole-table
    ``bottomk_sample`` (every global bottom-k row survives per-file
    pruning)."""
    clean_files, dirty, manifest = _live_split(target, store)
    col = _phys(col, manifest)
    key = manifest["key"]
    side = _sidecar_dir(target, f"bk{k}", col)

    def build(files):
        df = _with_file(spark, target, files)
        # row identity: (key, value, file) — unique enough for a sample
        # and deterministic across rebuilds of the same file
        row_key = F.concat_ws("\x1f", F.col(key), F.col(col).cast("string"))
        return (
            SK.bottomk_sample(df, [_FILE], row_key, k=k)
            .select(_FILE, "__h", F.col(col).alias("v"))
        )

    parts = []
    if clean_files:
        parts.append(
            _refresh_sidecar(spark, target, side, clean_files, build).select(
                "__h", "v"
            )
        )
    resolved = _resolved_dirty_rows(spark, target, manifest, dirty)
    if resolved is not None:
        row_key = F.concat_ws(
            "\x1f", F.col(key), F.col(col).cast("string")
        )
        parts.append(
            SK.bottomk_sample(
                resolved.withColumn(_FILE, F.lit("__dirty__")), [_FILE], row_key, k=k
            ).select("__h", F.col(col).alias("v"))
        )
    pool = parts[0]
    for p in parts[1:]:
        pool = pool.unionByName(p)
    # global bottom-k re-rank: ≤ k·(files+dirty) rows in, k out
    w = Window.partitionBy(F.lit(1)).orderBy("__h", "v")
    sample = pool.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    return SK.sample_quantiles(
        sample.withColumn("__g", F.lit(1)), ["__g"], "v", qs, "__h"
    ).drop("__g")
