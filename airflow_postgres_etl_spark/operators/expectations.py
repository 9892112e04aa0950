"""Data-quality expectations: validation REPORTS and quarantine splits,
complementing the sink's hard CHECK constraints (sink.py
``add_table_constraint``, which rejects a whole merge).

Constraints answer "may this batch land?"; expectations answer "how
healthy is this data?" — per-rule violation counts you can trend, and a
clean/violating row split so one bad row quarantines instead of
rejecting a 100 TB load.  Think dbt tests / Delta Live Tables
expectations, expressed as plain DataFrame ops.

Rule kinds and their 100 TB shapes:

- ``expect(name, predicate)`` — row predicate (NULL = violation, the
  CHECK semantic): a 0/1 violation flag per row.
- ``expect_foreign_key(name, col, parent_df, parent_col)`` — referential
  integrity: a LEFT join against the parent's distinct non-NULL keys
  (broadcast when the key set is dim-sized, shuffled otherwise —
  Catalyst/AQE decides); a row with a value and no matching key is an
  orphan.  Each row matches at most one key, so the row count holds.
- ``expect_fresh(name, ts_col, max_lag_s)`` — staleness vs the frame's
  own max timestamp: rows older than ``max(ts) - max_lag_s`` violate.
  The thresholds come from one ``max`` aggregate of their own, joined
  back as a broadcast scalar row — no window.
- ``expect_unique(name, cols)`` — key uniqueness: a hash aggregate on
  the cols; violations = rows beyond the first per duplicate group.
- ``expect_distribution(...)`` — drift (PSI) against a reference; see
  its docstring.

The passes over the checked frame a report costs, by rule mix:

- every predicate, fresh and FK rule plus the FIRST unique rule: ONE
  pass.  The row flags are summed in one global aggregate; with a
  unique rule, its group-by carries each group's flag sums and row
  count first, and the global aggregate then also yields the
  duplicate excess and the row count.  Rule count does not multiply
  scans;
- fresh rules, any number: one more pass, for ``max(ts)``;
- each unique rule after the first: one group-by pass of its own (the
  sum of its group counts is the row count, so no count scan);
- distribution rules, any number: one more pass, shared by all of them.

All counting is exact and engine-agnostic arithmetic, so the driver
queries built on this module are hash-stable against their DuckDB twins.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window, functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    kind: str  # predicate | unique | foreign_key | fresh | distribution
    predicate: str | None = None
    cols: tuple[str, ...] = ()
    parent: DataFrame | None = field(default=None, compare=False)
    parent_col: str | None = None
    ts_col: str | None = None
    max_lag_s: int | None = None
    #: distribution rules: ((bucket label, expected probability), ...)
    ref: tuple[tuple[str, float], ...] = ()
    #: numeric flavor: ascending cut points; bucket i = # edges below
    edges: tuple[float, ...] | None = None


def expect(name: str, predicate: str) -> Rule:
    return Rule(name=name, kind="predicate", predicate=predicate)


def expect_unique(name: str, cols: list[str]) -> Rule:
    return Rule(name=name, kind="unique", cols=tuple(cols))


def expect_foreign_key(
    name: str, col: str, parent: DataFrame, parent_col: str
) -> Rule:
    return Rule(
        name=name, kind="foreign_key", cols=(col,), parent=parent,
        parent_col=parent_col,
    )


def expect_fresh(name: str, ts_col: str, max_lag_s: int) -> Rule:
    return Rule(name=name, kind="fresh", ts_col=ts_col, max_lag_s=max_lag_s)


#: smoothing for the batch-side proportions and the log's reference
#: clamp — keeps every PSI term finite on empty buckets
PSI_LAMBDA = 0.5
OTHER_BUCKET = "__OTHER__"


def expect_distribution(
    name: str,
    col: str,
    reference: dict[str, float] | None = None,
    *,
    edges: list[float] | None = None,
    probs: list[float] | None = None,
) -> Rule:
    """Drift gate: Population Stability Index of ``col``'s batch
    distribution against a fixed REFERENCE distribution — the circuit
    breaker that stops an upstream schema/semantics change (all rows
    suddenly one category, a price column silently re-scaled) from
    merging, which no row-local predicate can see.

    Two flavors: categorical (``reference={value: prob, ...}``; values
    outside the dictionary — including NULL — pool into ``__OTHER__``)
    and numeric (``edges=[c1 < c2 < ...]`` with ``probs`` of length
    ``len(edges)+1``; NULLs pool into ``__OTHER__``).  Capture a
    reference from data with :func:`reference_distribution` /
    :func:`reference_bins`.

    The REPORT row carries the drift measure itself: ``n_violations``
    is the PSI in integer MICRO-units (``round(psi * 1e6)``), so the
    existing ``fail_thresholds`` gate thresholds it directly —
    ``{name: 100_000}`` rejects a batch whose PSI exceeds 0.1 (the
    conventional "significant shift" line; 0.25 = severe).  Like
    unique/FK rules it is a GLOBAL statement: it never diverts rows to
    quarantine, it gates the batch.

    Cost: ONE hash aggregate over the batch bounded by the bucket
    count, then arithmetic over ≤ |buckets| rows — batch-size
    independent state, 100 TB-safe by construction."""
    if (reference is None) == (edges is None):
        raise ValueError("pass exactly one of reference= or edges=/probs=")
    if edges is not None:
        # len(edges)+1 numeric buckets, plus an OPTIONAL trailing entry
        # for __OTHER__ (the NULL share) — reference_bins emits it, so a
        # steady NULL rate is part of the expectation instead of a
        # constant PSI penalty against a hardcoded 0.0
        if probs is None or len(probs) not in (len(edges) + 1,
                                               len(edges) + 2):
            raise ValueError(
                "numeric flavor needs probs of len(edges)+1 (or +2 with "
                "a trailing __OTHER__/NULL share)"
            )
        if sorted(edges) != list(edges):
            raise ValueError("edges must be ascending")
        total = float(sum(probs))
        if not total > 0:
            raise ValueError("reference probabilities must sum > 0")
        ref = [
            (str(i), float(q) / total)
            for i, q in enumerate(probs[: len(edges) + 1])
        ]
        other = probs[len(edges) + 1] if len(probs) > len(edges) + 1 else 0.0
        ref.append((OTHER_BUCKET, float(other) / total))
        return Rule(
            name=name, kind="distribution", cols=(col,),
            ref=tuple(ref), edges=tuple(float(e) for e in edges),
        )
    ref_d = dict(reference)
    ref_d.setdefault(OTHER_BUCKET, 0.0)
    total = sum(ref_d.values())
    if not total > 0:
        raise ValueError("reference probabilities must sum > 0")
    return Rule(
        name=name, kind="distribution", cols=(col,),
        ref=tuple(sorted((k, v / total) for k, v in ref_d.items())),
    )


def reference_distribution(
    df: DataFrame, col: str, top_k: int = 32
) -> dict[str, float]:
    """Capture a categorical reference from data: the ``top_k`` most
    frequent values' observed proportions (ties broken by value), the
    rest pooled into ``__OTHER__``.  One aggregate; the collect is
    bounded by ``top_k``."""
    rows = (
        df.select(F.col(col).cast("string").alias("__v"))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), "__v")
        .limit(top_k + 1)
        .collect()
    )
    n = df.count()
    if n == 0:
        raise ValueError(
            "cannot capture a reference distribution from an empty frame"
        )
    top = [(r["__v"], r["__c"]) for r in rows if r["__v"] is not None][:top_k]
    covered = sum(c for _v, c in top)
    out = {v: c / n for v, c in top}
    out[OTHER_BUCKET] = max(0.0, (n - covered) / n)
    return out


def reference_bins(
    df: DataFrame, col: str, n_bins: int = 10
) -> tuple[list[float], list[float]]:
    """Capture a numeric reference: exact-percentile bin edges at
    ``i/n_bins`` plus the observed per-bin proportions, with the
    observed NULL share as a TRAILING extra entry (``len(edges)+2``
    probs total) that :func:`expect_distribution` maps to the
    ``__OTHER__`` bucket — so a steady NULL rate is expected, not
    flagged as drift."""
    qs = [i / n_bins for i in range(1, n_bins)]
    raw = df.agg(
        F.expr(
            f"percentile({col}, array({', '.join(map(str, qs))}))"
        ).alias("__e")
    ).collect()[0]["__e"]
    if raw is None or any(x is None for x in raw):
        raise ValueError(
            "cannot capture reference bins: no non-NULL values in "
            f"{col!r}"
        )
    edges = [float(x) for x in raw]
    # dedupe equal edges (constant stretches) while keeping order
    edges = sorted(set(edges))
    bucket = _distribution_bucket(F.col(col), tuple(edges))
    counts = {
        r["__b"]: r["__c"]
        for r in df.select(bucket.alias("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    }
    n = sum(counts.values())
    if n == 0:
        raise ValueError(
            "cannot capture reference bins from an empty frame"
        )
    probs = [counts.get(str(i), 0) / n for i in range(len(edges) + 1)]
    # trailing entry: the observed NULL share (bucketed as __OTHER__)
    probs.append(counts.get(OTHER_BUCKET, 0) / n)
    return edges, probs


def _distribution_bucket(c: Column, edges: tuple[float, ...] | None,
                         labels: tuple[str, ...] = ()) -> Column:
    """The bucket label of a value — emits ONLY labels the rule's
    reference covers, so the PSI join is total by construction."""
    if edges is not None:
        idx = F.lit(0)
        for e in edges:
            idx = idx + (c > F.lit(e)).cast("int")
        return F.when(c.isNull(), F.lit(OTHER_BUCKET)).otherwise(
            idx.cast("string")
        )
    known = [l for l in labels if l != OTHER_BUCKET]
    cs = c.cast("string")
    return F.when(cs.isin(known), cs).otherwise(F.lit(OTHER_BUCKET))


def _violation_flag(pred: str) -> Column:
    # CHECK semantics: a rule passes only when TRUE; NULL is a violation
    return (~F.expr(pred).eqNullSafe(F.lit(True))).cast("long")


def _row_flag(r: Rule, j: int) -> Column:
    """The 0/1 violation flag of a row-local rule at position ``j`` of its
    pass (its threshold or parent key columns carry that index)."""
    if r.kind == "predicate":
        return _violation_flag(r.predicate)
    if r.kind == "fresh":
        return (
            F.col(r.ts_col)
            < F.col(f"__mx_{j}") - F.expr(f"INTERVAL {r.max_lag_s} SECOND")
        ).cast("long")
    return (F.col(r.cols[0]).isNotNull() & F.col(f"__fk_{j}").isNull()).cast(
        "long"
    )


def _pass_report(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """The report rows of row-flag rules and at most one unique rule,
    from ONE pass over ``df`` (plus one ``max(ts)`` pass for fresh
    rules)."""
    base = df
    # freshness thresholds: scalar max(ts) per ts_col, one broadcast
    mx = [
        F.max(r.ts_col).alias(f"__mx_{j}")
        for j, r in enumerate(rules)
        if r.kind == "fresh"
    ]
    if mx:
        base = base.crossJoin(F.broadcast(df.agg(*mx)))
    # FK rules: a LEFT join against the parent's distinct non-NULL keys —
    # each row matches at most one key, so the row count holds and
    # "value present, key absent" is the orphan flag
    for j, r in enumerate(rules):
        if r.kind == "foreign_key":
            keys = (
                r.parent.select(F.col(r.parent_col).alias(f"__fk_{j}"))
                .filter(F.col(f"__fk_{j}").isNotNull())
                .distinct()
            )
            base = base.join(keys, F.col(r.cols[0]) == F.col(f"__fk_{j}"), "left")
    flags = [(j, _row_flag(r, j)) for j, r in enumerate(rules) if r.kind != "unique"]
    u = next((j for j, r in enumerate(rules) if r.kind == "unique"), None)
    if u is None:
        row = base.agg(
            *[F.sum(f).alias(f"__v_{j}") for j, f in flags],
            F.count(F.lit(1)).alias("__n"),
        )
    else:
        # the unique rule's group-by carries each group's flag sums; the
        # global aggregate over the groups yields the flag totals, the
        # rows beyond the first per group and (sum of counts) the row count
        row = (
            base.groupBy(*rules[u].cols)
            .agg(
                F.count(F.lit(1)).alias("__c"),
                *[F.sum(f).alias(f"__v_{j}") for j, f in flags],
            )
            .agg(
                *[F.sum(f"__v_{j}").alias(f"__v_{j}") for j, _f in flags],
                F.sum(F.when(F.col("__c") > 1, F.col("__c") - 1)).alias(
                    f"__v_{u}"
                ),
                F.coalesce(F.sum("__c"), F.lit(0)).alias("__n"),
            )
        )
    # ONE report plan for every rule of the pass: explode an
    # array-of-structs off the single aggregate row.  A per-rule
    # row.select(...) unioned N ways re-executes the full scan+agg
    # subtree once per rule (measured 0.8 s -> 4.16 s for 1 -> 8
    # predicate rules at 64x sf0.1 before this fix); the explode keeps
    # the report one job at any rule count.
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r.name).alias("rule"),
                        F.lit(r.kind).alias("kind"),
                        F.coalesce(F.col(f"__v_{j}"), F.lit(0)).alias(
                            "n_violations"
                        ),
                        F.col("__n").alias("n_rows"),
                    )
                    for j, r in enumerate(rules)
                ]
            )
        ).alias("__r")
    ).select("__r.*")


def check_expectations(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Violation report: one row per rule —
    ``(rule, kind, n_violations, n_rows)`` — built from as few passes
    over ``df`` as the rule mix allows (module docstring): every
    predicate, fresh and foreign-key rule and the first unique rule
    share ONE pass (plus one ``max(ts)`` pass when there are fresh
    rules), each further unique rule is one group-by pass, and all
    distribution rules share one more.

    Row ORDER follows the passes: the shared pass's rows first —
    predicate rules, then fresh rules, then the FK rules and the first
    unique rule in rule-list order — then the further unique rules,
    then the distribution rules, each in rule-list order.  Consumers
    must key rows by ``rule``, not position.  Returns a DataFrame so
    the report itself can be stored, trended, or gated on."""
    spark = df.sparkSession
    uniques = [i for i, r in enumerate(rules) if r.kind == "unique"]
    first_unique = uniques[0] if uniques else -1
    # the one pass: every row-flag rule (predicate, fresh, foreign key)
    # plus the first unique rule; each further unique rule is a pass of
    # its own
    shared = (
        [r for r in rules if r.kind == "predicate"]
        + [r for r in rules if r.kind == "fresh"]
        + [
            r
            for i, r in enumerate(rules)
            if r.kind == "foreign_key" or i == first_unique
        ]
    )
    reports = [
        _pass_report(df, p)
        for p in [shared] + [[rules[i]] for i in uniques[1:]]
        if p
    ]

    dist_rules = [r for r in rules if r.kind == "distribution"]
    if dist_rules:
        # ONE batch pass for EVERY distribution rule (r11, guide §2.3/
        # §2.4): each row explodes into its (rule_idx, bucket) pair per
        # rule, one hash aggregate counts all rules' buckets together,
        # and the PSI arithmetic runs over the joined ≤ Σ|ref_i| rows.
        # The previous per-rule plans scanned the batch TWICE per rule
        # (counts + a separately-recomputed total subtree) — 2K scans
        # for K rules; the maintain path re-checks stored policies over
        # the FULL table, where 2K→1 passes is the difference between
        # "one nightly scan" and "a scan per rule" at 100 TB.
        pairs = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("__i"),
                            _distribution_bucket(
                                F.col(r.cols[0]),
                                r.edges,
                                tuple(l for l, _q in r.ref),
                            ).alias("__b"),
                        )
                        for i, r in enumerate(dist_rules)
                    ]
                )
            ).alias("__p")
        ).select("__p.__i", "__p.__b")
        counts = pairs.groupBy("__i", "__b").agg(
            F.count(F.lit(1)).alias("__c")
        )
        # Measured NON-optimization (r12): rebuilding this reference
        # frame as an explode-of-struct-literals (hoping for a zero-job
        # LocalRelation broadcast) planned as Generate-over-Range and
        # cost the SAME 3 jobs in an isolated A/B — ConvertToLocalRelation
        # does not fold Generate, so the broadcast build pays one job
        # either way.  Kept as createDataFrame.
        ref_df = spark.createDataFrame(
            [
                (i, label, q, float(PSI_LAMBDA * len(r.ref)))
                for i, r in enumerate(dist_rules)
                for label, q in r.ref
            ],
            "__i int, __b string, __q double, __lb double",
        )
        # bucket expr emits only reference labels -> LEFT join is total,
        # so each rule's batch total N is the sum of its joined counts.
        # SYMMETRIC smoothing: both sides pass through the same
        # (count + lambda)/(N + lambda*B) transform, the reference via
        # its implied count N*q — a batch matching the reference
        # EXACTLY scores PSI = 0 (not a spurious floor-clamp penalty
        # on zero-probability buckets), and every term stays finite
        # because both smoothed sides are >= lambda/(N + lambda*B).
        # Arithmetic is IDENTICAL to the old per-rule plans: __lb
        # pre-computes the same PSI_LAMBDA * nb double per rule.
        joined = ref_df.join(counts, ["__i", "__b"], "left")
        nn = F.sum(F.coalesce(F.col("__c"), F.lit(0))).over(
            Window.partitionBy("__i")
        )
        denom = F.col("__nn") + F.col("__lb")
        p = (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(PSI_LAMBDA)) / denom
        q = (F.col("__nn") * F.col("__q") + F.lit(PSI_LAMBDA)) / denom
        term = (p - q) * F.log(p / q)
        # __nn stays LONG through the window sum and the max aggregate
        # (ADVICE r11: routing it through double is exact only below
        # 2^53 rows); the PSI terms cast it to double implicitly at the
        # long+double/long*double arithmetic — bit-identical values,
        # but the row count itself never round-trips through a float.
        psi = (
            joined.withColumn("__nn", nn)
            .select("__i", F.col("__nn"), term.alias("__t"))
            .groupBy("__i")
            .agg(F.sum("__t").alias("__psi"), F.max("__nn").alias("__nn"))
        )
        # rule names attach as a CASE projection on __i instead of a
        # broadcast join (r12, guide §2.4): the join's broadcast build
        # was one Spark job per check_expectations call — and the
        # stored-policy maintain path pays this on every re-check.  A
        # when-chain over ≤K literal names is the same values with zero
        # extra plan nodes.
        name_expr = F.lit(None).cast("string")
        for i, r in enumerate(dist_rules):
            name_expr = F.when(F.col("__i") == i, F.lit(r.name)).otherwise(
                name_expr
            )
        reports.append(
            psi.withColumn("__name", name_expr)
            .orderBy("__i")
            .select(
                F.col("__name").alias("rule"),
                F.lit("distribution").alias("kind"),
                # the drift measure itself, in integer micro-PSI —
                # fail_thresholds={name: 100_000} gates at PSI 0.1
                F.round(F.col("__psi") * F.lit(1e6))
                .cast("long")
                .alias("n_violations"),
                F.col("__nn").cast("long").alias("n_rows"),
            )
        )

    if not reports:
        return spark.createDataFrame(
            [], "rule string, kind string, n_violations long, n_rows long"
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out


def split_by_expectations(
    df: DataFrame, rules: list[Rule]
) -> tuple[DataFrame, DataFrame]:
    """Quarantine split over the ROW-LOCAL rules (predicate kind):
    ``(clean, violating)`` where ``violating`` carries a
    ``failed_rules`` array column naming every rule the row broke.  One
    shared projection, no shuffle — the map-side gate you put in front
    of a 100 TB load so one malformed row costs one row, not the batch.
    (unique/foreign_key/fresh need global state and belong in
    :func:`check_expectations` reports, not a row gate.)"""
    pred_rules = [r for r in rules if r.kind == "predicate"]
    if not pred_rules:
        return df, df.filter(F.lit(False)).withColumn(
            "failed_rules", F.array().cast("array<string>")
        )
    failed = F.array_compact(
        F.array(
            *[
                F.when(
                    _violation_flag(r.predicate) == 1, F.lit(r.name)
                )
                for r in pred_rules
            ]
        )
    )
    tagged = df.withColumn("failed_rules", failed)
    clean = tagged.filter(F.size("failed_rules") == 0).drop("failed_rules")
    bad = tagged.filter(F.size("failed_rules") > 0)
    return clean, bad


# ---------------------------------------------------------------------------
# Load-path integration: the quarantine gate (VERDICT r6 prescription 1).
#
# `check_expectations` / `split_by_expectations` above are REPORTS a user
# can run; `gate_and_merge` makes them a property of every load: one call
# splits the batch map-side, merges only the clean rows into the target,
# lands the violating rows (tagged with the rules they broke) in a keyed
# quarantine table nested at `<target>/_quarantine`, and persists the
# per-rule violation report through the storage seam at
# `<target>/_dq/reports.json` — so "how healthy was every batch this table
# ever absorbed" is answerable without re-scanning anything.
#
# 100 TB shape: the split is one shared projection (no shuffle) feeding
# the same merge machinery the un-gated path uses; the report's predicate
# rules all evaluate in the ONE aggregate documented above.  The
# quarantine table is itself a keyed table with the same key, so a
# re-delivered bad row REPLACES its previous quarantine row — the gate is
# idempotent under micro-batch replay exactly like the merge it guards.
# ---------------------------------------------------------------------------


QUARANTINE_SUBDIR = "_quarantine"
DQ_SUBDIR = "_dq"


def quarantine_path(target: str) -> str:
    import os

    return os.path.join(target, QUARANTINE_SUBDIR)


def _reports_path(target: str) -> str:
    import os

    return os.path.join(target, DQ_SUBDIR, "reports.json")


def distribution_rule_to_spec(rule: Rule) -> dict:
    """JSON-stable spec of a distribution rule — what
    ``sink.set_drift_policy`` stores in the table manifest so the drift
    circuit breaker survives sessions and rides :func:`Table.maintain`
    ambiently instead of per-call."""
    if rule.kind != "distribution":
        raise ValueError(
            f"only distribution rules can be stored as table policy "
            f"(got kind {rule.kind!r})"
        )
    return {
        "name": rule.name,
        "col": rule.cols[0],
        "ref": [[label, prob] for label, prob in rule.ref],
        "edges": list(rule.edges) if rule.edges is not None else None,
    }


def distribution_rule_from_spec(spec: dict) -> Rule:
    return Rule(
        name=spec["name"],
        kind="distribution",
        cols=(spec["col"],),
        ref=tuple((label, float(p)) for label, p in spec["ref"]),
        edges=(
            tuple(float(e) for e in spec["edges"])
            if spec.get("edges") is not None
            else None
        ),
    )


class ExpectationFailure(RuntimeError):
    """A gated merge exceeded a ``fail_thresholds`` bound: the batch was
    rejected wholesale — nothing merged, nothing quarantined, no version
    bump (the DLT ``expect_or_fail`` semantic)."""


def gate_and_merge(
    spark,
    batch: DataFrame,
    target: str,
    rules: list[Rule],
    *,
    mor: bool = False,
    store=None,
    fail_thresholds: dict[str, int] | None = None,
    **merge_kw,
) -> list[dict]:
    """Expectation-gated merge: split → merge clean → quarantine bad →
    persist the per-rule report.  Returns the report rows as dicts
    (one per rule, plus the batch row count).

    Only row-local predicate rules divert rows; unique/foreign_key/fresh
    rules are global statements and contribute report rows only (their
    violations still merge — reject-the-batch semantics for those belong
    to the sink's hard constraints).  ``mor=True`` routes the clean merge
    through ``keyed_merge_mor`` (the trickle-upsert shape); the
    quarantine table always merges copy-on-write (violation volume is
    assumed small — if bad rows are a large fraction, the pipeline has
    bigger problems than write amplification).
    """
    from .. import sink
    from ..storage import LOCAL_STORE

    store = store or LOCAL_STORE
    report_rows = [r.asDict() for r in check_expectations(batch, rules).collect()]
    if fail_thresholds:
        # expect_or_fail: the report is computed BEFORE any write, so a
        # threshold breach rejects the batch with zero side effects —
        # works for ALL rule kinds (incl. the global unique/FK/fresh
        # rules the row-local quarantine can't divert)
        for r in report_rows:
            limit = fail_thresholds.get(r["rule"])
            if limit is not None and r["n_violations"] > limit:
                raise ExpectationFailure(
                    f"rule {r['rule']!r} has {r['n_violations']} violations "
                    f"(> allowed {limit}) in a {r['n_rows']}-row batch; "
                    "batch rejected, nothing written"
                )
    clean, bad = split_by_expectations(batch, rules)

    merge = sink.keyed_merge_mor if mor else sink.keyed_overwrite_parquet
    merge(spark, clean, target, store=store, **merge_kw)

    # merge the quarantine table only when the report says rows diverted
    # (predicate-rule violations) — skips a Spark job on the clean path
    diverted = sum(
        r["n_violations"] for r in report_rows if r["kind"] == "predicate"
    )
    if diverted:
        q_kw = {k: v for k, v in merge_kw.items() if k in ("key", "num_buckets")}
        sink.keyed_overwrite_parquet(
            spark,
            bad.withColumn("failed_rules", F.array_join("failed_rules", ",")),
            quarantine_path(target),
            store=store,
            **q_kw,
        )

    # append this batch's report to the table's DQ history (store seam;
    # single-writer-per-table model, same as the sink's)
    history = store.read_json(_reports_path(target)) or {"reports": []}
    history["reports"].append(
        {
            "table_version": sink.table_version(target, store),
            "rules": report_rows,
        }
    )
    store.write_json(_reports_path(target), history)
    return report_rows


def read_dq_reports(target: str, store=None) -> list[dict]:
    """The table's persisted per-batch DQ history (oldest first)."""
    from ..storage import LOCAL_STORE

    store = store or LOCAL_STORE
    history = store.read_json(_reports_path(target))
    return history["reports"] if history else []


def read_quarantine(spark, target: str, store=None) -> DataFrame:
    """The quarantined rows, with their comma-joined ``failed_rules``."""
    from .. import sink
    from ..storage import LOCAL_STORE

    return sink.read_keyed_table(spark, quarantine_path(target), store or LOCAL_STORE)
