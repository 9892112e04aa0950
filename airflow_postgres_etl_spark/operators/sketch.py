"""KMV (k-minimum-values) distinct sketches: mergeable, oracle-exact
cardinality and Jaccard estimation over arbitrary item streams.

Why another sketch next to ``approx_count_distinct`` (HLL): KMV is
(a) *deterministic* given the hash — the DuckDB differential reproduces
every estimate bit-for-bit, so the driver's hash gate applies, unlike
HLL whose register layout is engine-private (tolerance-tested only in
``tests/test_approx.py``); (b) *mergeable by construction* — the k
smallest of a union is computable from per-part k-smallest sets alone,
which is the property that lets 1000 executors sketch 100 TB
independently and combine ~k·parts longs on one reducer; and (c) it
supports SET operations (union size, Jaccard) that HLL alone does not.

Estimator (Bar-Yossef et al. 2002 / Beyer et al. 2007): hash items
uniformly into [0, 2^60) (md5-derived, identical in Spark and DuckDB —
same idiom as the span-dedup keys, dedup.py ``_token_hash60``); keep the
k smallest DISTINCT hash values; with fewer than k the count is exact,
otherwise ``(k-1) · 2^60 / h_k`` where ``h_k`` is the k-th smallest.
All arithmetic is int64 → IEEE double → one division: bit-identical
across engines, so results are hash-stable with no rounding.

Plan shape (the 100 TB story): one distinct over (group, hash) — the
only full-data shuffle, with map-side partial dedup — then a SALTED
two-level top-k: level 1 takes the k smallest per (group, salt) bucket
(windows over ~1/S of a group each), level 2 merges the S·k survivors
per group (a bounded window).  Level 2 is literally the KMV merge
operation run in-plan; :func:`kmv_merge_sketches` exposes the same step
over already-built sketch tables.  No collect, no UDF, no unbounded
per-group sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

#: hash domain: 15 hex chars of md5 = 60 bits, fits signed int64 exactly
#: and converts to double with the same IEEE rounding everywhere.
KMV_DOMAIN = float(2**60)

DEFAULT_K = 128
DEFAULT_SALTS = 16


def kmv_hash_expr(item: Column) -> Column:
    """Uniform 60-bit hash of an item — md5-derived so every engine in
    the differential computes the identical value (dedup.py:582)."""
    return F.conv(F.substring(F.md5(item), 1, 15), 16, 10).cast("long")


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    item: Column,
    k: int = DEFAULT_K,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Per-group KMV sketch: ``group_cols…, ks array<long> (sorted, ≤k
    distinct hashes), n_k, kth`` — the mergeable summary.

    Salted two-level top-k keeps every window bounded: a group with a
    billion distinct items never sorts more than ~distinct/S rows in one
    level-1 partition, and level 2 sees exactly ≤ S·k rows per group.
    Internal columns are ``__``-prefixed so no group column shadows
    them."""
    hashes = df.select(*group_cols, kmv_hash_expr(item).alias("__h")).distinct()
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy("__h")
    w2 = Window.partitionBy(*group_cols).orderBy("__h")
    return _kmv_rows(
        hashes.withColumn("__salt", F.pmod(F.col("__h"), F.lit(n_salts)))
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k),
        group_cols,
    )


def _kmv_rows(hashes: DataFrame, group_cols: list[str]) -> DataFrame:
    """Collect each group's surviving ``__h`` values into the sketch
    schema ``group_cols…, ks, n_k, kth``."""
    return hashes.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("__h")).alias("ks"),
        F.count("*").cast("long").alias("n_k"),
        F.max("__h").alias("kth"),
    )


def kmv_estimate_expr(k: int, n_k: Column | str = "n_k", kth: Column | str = "kth") -> Column:
    """Distinct-count estimate from a sketch row: exact below the fill
    line, ``(k-1)·2^60 / h_k`` at it.  Pure int64→double arithmetic —
    reproduced verbatim by the SQL oracles."""
    n_k = F.col(n_k) if isinstance(n_k, str) else n_k
    kth = F.col(kth) if isinstance(kth, str) else kth
    return F.when(n_k < k, n_k.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_DOMAIN) / kth.cast("double")
    )


def kmv_merge_sketches(
    sketches: DataFrame,
    group_cols: list[str],
    k: int = DEFAULT_K,
) -> DataFrame:
    """Merge many sketch rows per group into one (the distributed
    combine step): union the hash sets, keep the k smallest.  Input
    rows need only ``group_cols…, ks``; output matches
    :func:`kmv_sketch`'s schema.  Cost is O(rows · k) — sketches, not
    data, move."""
    w = Window.partitionBy(*group_cols).orderBy("__h")
    return _kmv_rows(
        sketches.select(*group_cols, F.explode("ks").alias("__h"))
        .distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k),
        group_cols,
    )


def kmv_jaccard_cols(ks_a: Column, ks_b: Column, k: int) -> dict[str, Column]:
    """Set-operation estimates from two sketches (Beyer et al. 2007):
    the k smallest of the union is itself a KMV sketch of A∪B, and the
    fraction of it present in BOTH input sketches estimates Jaccard.
    Returns ``{j_est, union_est, inter_est}`` column expressions —
    everything derived from ≤2k int64s, so a pairwise similarity matrix
    over G groups moves G²·k longs, never the data."""
    union_k = F.slice(F.array_sort(F.array_union(ks_a, ks_b)), 1, k)
    both = F.array_intersect(F.array_intersect(union_k, ks_a), ks_b)
    n_u = F.size(union_k)
    j = F.size(both).cast("double") / n_u.cast("double")
    union_est = F.when(n_u < k, n_u.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_DOMAIN)
        / F.element_at(union_k, k).cast("double")
    )
    return {
        "j_est": j,
        "union_est": union_est,
        "inter_est": j * union_est,
    }


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable frequency summary (Cormode & Muthukrishnan
# 2005).  d independent hash rows of width w; each item occurrence
# increments one cell per row; a point estimate is the MIN over the d
# cells, which can only OVER-estimate (est >= true always; est <= true +
# eps*N with prob 1-delta for w = e/eps, d = ln(1/delta)).
#
# Same determinism contract as KMV: hashes are md5-derived (row index
# salted into the digest input), so the DuckDB twin reproduces every
# cell and every estimate bit-for-bit and the driver's hash gate
# applies — unlike Spark's private `count_min_sketch` binary blob.
#
# Representation is SPARSE — (group…, r, c, cnt) rows, at most d·w per
# group but only touched cells materialize — because sparse rows are
# what merges, persists to the keyed sink, and SQL-twins cleanly.
# Merging sketches (across shards, days, streams) is a SUM on
# (group…, r, c): the one aggregation Spark is best at.
#
# Plan shape at 100 TB: ONE corpus scan → explode d (row, cell) pairs
# per occurrence (d is 4: constant fan-out, map-side combinable) → one
# hash aggregate bounded by d·w·groups cells.  Point lookups join the
# probe set (tiny, broadcast) against the cell table.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 128


def cms_hash_expr(item: Column, row: int, width: int) -> Column:
    """Cell index of ``item`` in hash row ``row``: 60-bit md5 of
    ``"<row>:<item>"`` mod width — positive, so ``%`` and ``pmod``
    agree across engines."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}:"), item)), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(width))


def cms_sketch(
    df: DataFrame,
    group_cols: list[str],
    item: Column,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    weight: Column | None = None,
) -> DataFrame:
    """Per-group sparse CMS: ``group_cols…, r, c, cnt``.

    One scan, one aggregate: the d cell coordinates per occurrence are
    exploded from an array literal (constant fan-out, stays inside
    whole-stage codegen), then hash-aggregated with map-side partials.
    ``weight`` counts each occurrence as a long weight (default 1)."""
    w = (weight if weight is not None else F.lit(1)).cast("long")
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("r"),
                    cms_hash_expr(item, r, width).alias("c"),
                )
                for r in range(depth)
            ]
        )
    ).alias("rc")
    return (
        df.select(*group_cols, w.alias("__w"), pairs)
        .select(*group_cols, "rc.r", "rc.c", "__w")
        .groupBy(*group_cols, "r", "c")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Combine many sketch tables' rows (same depth/width!) into one
    sketch per group: cells sum.  Exactly the distributed combine step —
    a CMS built shard-by-shard and merged equals the CMS built over the
    union (bit-for-bit; test-pinned)."""
    return sketches.groupBy(*group_cols, "r", "c").agg(F.sum("cnt").alias("cnt"))


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Point-frequency estimates for ``probes[item_col]``: min over the
    d cells each probe hashes to.  Probe sets are dim-sized → the probe
    side broadcasts; the cell table never moves.  A cell absent from the
    sparse sketch is 0 (the item was never seen on that row)."""
    group_cols = group_cols or []
    item = F.col(item_col)
    rc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("r"),
                    cms_hash_expr(item, r, width).alias("c"),
                )
                for r in range(depth)
            ]
        )
    ).alias("rc")
    probe_cells = probes.select(
        *group_cols, item_col, rc
    ).select(*group_cols, item_col, "rc.r", "rc.c")
    # INNER broadcast join (an outer join could not broadcast the probe
    # side: Spark must build on the non-preserved side), then a
    # probe-sized left join restores items none of whose cells exist.
    # A probe matching fewer than `depth` cells has an untouched (=0)
    # cell, so its estimate is 0 — same rule as a fully-absent probe.
    per_item = (
        sketch.join(F.broadcast(probe_cells), [*group_cols, "r", "c"])
        .groupBy(*group_cols, item_col)
        .agg(
            F.min("cnt").alias("__min"),
            F.count("*").alias("__n_cells"),
        )
        .select(
            *group_cols,
            item_col,
            F.when(F.col("__n_cells") == depth, F.col("__min"))
            .otherwise(F.lit(0))
            .alias("__est"),
        )
    )
    return (
        probes.select(*group_cols, item_col)
        .distinct()
        .join(per_item, [*group_cols, item_col], "left")
        .select(
            *group_cols,
            item_col,
            F.coalesce(F.col("__est"), F.lit(0)).cast("long").alias("est_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Bottom-k row sample — a mergeable uniform sample, and the quantile
# sketch it implies.  Hashing a UNIQUE row key into [0, 2^60) and
# keeping the k smallest hashes per group is a uniform k-sample whose
# merge is "k smallest of the union" (same property as KMV, over rows
# instead of distinct items).  Exact type-1 quantiles of the sample
# estimate the population quantiles with O(1/sqrt(k)) rank error —
# the mergeable, deterministic alternative to percentile_approx's
# engine-private digest.
# ---------------------------------------------------------------------------


def bottomk_sample(
    df: DataFrame,
    group_cols: list[str],
    row_key: Column,
    k: int = 256,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Rows of ``df`` whose md5-hashed ``row_key`` is among the k
    smallest per group, plus the hash as ``__h``.  Same salted
    two-level top-k as :func:`kmv_sketch` so no window ever sorts more
    than ~group/S rows at level 1 and exactly ≤ S·k at level 2."""
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy("__h")
    w2 = Window.partitionBy(*group_cols).orderBy("__h")
    return (
        df.withColumn("__h", kmv_hash_expr(row_key))
        .withColumn("__salt", F.pmod(F.col("__h"), F.lit(n_salts)))
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__salt", "__rn")
    )


def sample_quantiles(
    sample: DataFrame,
    group_cols: list[str],
    value_col: str,
    qs: list[tuple[str, float]],
    tie_break: str,
) -> DataFrame:
    """Exact type-1 (no interpolation) quantiles of an already-drawn
    sample: for each ``(name, q)``, the value at rank ``ceil(q·n)`` in
    ``(value, tie_break)`` order.  No arithmetic touches the values —
    picked elements are bit-exact, so the differential needs no
    rounding.  Output: ``group_cols…, n_sample, <name> …``."""
    w = Window.partitionBy(*group_cols).orderBy(value_col, tie_break)
    ranked = sample.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(*group_cols))
    )
    aggs = [F.max("__n").cast("long").alias("n_sample")]
    for name, q in qs:
        aggs.append(
            F.max(
                F.when(
                    F.col("__rn")
                    == F.greatest(
                        F.lit(1), F.ceil(F.lit(q) * F.col("__n")).cast("long")
                    ),
                    F.col(value_col),
                )
            ).alias(name)
        )
    return ranked.groupBy(*group_cols).agg(*aggs)
