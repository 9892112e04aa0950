"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}``

Each query is timed end-to-end (plan + execute + collect) after a shared
session warm-up, mirroring how a user would run it.
"""

from __future__ import annotations

import json
import os
import re
import time

from airflow_postgres_etl_spark.caching import release_caches
from airflow_postgres_etl_spark.plans.queries import QUERIES
from airflow_postgres_etl_spark.session import get_spark

# Headline set: one per operator class (scan-agg, top-k, window-rank, FK
# join, wide partial agg, 3-way join, 5-way broadcast join, pushdown scan,
# semi/anti, partitioned window, rollup) + the scale-path extension ops.
HEADLINE = [
    "q1_events_per_minute",
    "q2_top_event_types",
    "q2b_top_users",
    "q3_rank_event_types",
    "q4_customer_orders",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_revenue_by_nation",
    "tpch_q6_revenue_forecast",
    "q_customers_with_open_orders",
    "q_customers_without_orders",
    "q_top3_orders_per_customer",
    "q_rollup_order_status",
    "q_user_sessions",
    "q_pivot_event_counts",
    "text_token_stats",
    "text_lang_id",
    "text_quality_scores",
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_lsh_pairs",
    "dedup_simhash",
    "sim_knn_brute_force",
    "sim_knn_ivf",
    "sim_lsh_buckets",
    "multimodal_features",
    "q_asof_join",
    "q_asof_forward",
    "dedup_simhash_near",
    "sim_knn_ivf_mp",
    "q_rollup_cascade",
    "q_sliding_15m_5m",
    "q_range_join",
    "q_percentiles",
    "q_json_extract",
    "q_running_totals",
    "pipeline_clean_corpus",
    # round-2 TPC-H completion: min-cost rank, 8-relation star, global
    # scalar threshold, decorrelated double-nested IN
    "tpch_q2_min_cost_supplier",
    "tpch_q8_market_share",
    "tpch_q11_important_parts",
    "tpch_q20_excess_suppliers",
    # repetition-quality signals (explode + two keyed aggs) and the
    # zero-shuffle deterministic stratified sample
    "text_repetition",
    "q_stratified_sample",
    "text_tfidf_top_terms",
    # round-4: hot-band occupancy diagnostics + the capped (100 TB
    # default) LSH path, and the real-codec decode/resize chain
    "dedup_lsh_band_stats",
    "dedup_simhash_block_stats",
    "dedup_lsh_pairs_capped",
    "multimodal_real_decode",
    "multimodal_resize_real",
    "text_pii_flags",
    "text_pii_redacted",
    "pipeline_near_dedup_corpus",
    "text_unigram_logprob",
    # round-5: the capped simhash scale-default and the real-audio chain
    "dedup_simhash_near_capped",
    "multimodal_audio_decode",
    "multimodal_audio_resample",
    # round-5: training-prep surface — 13-gram benchmark decontamination
    # (broadcast grams), temperature-scaled domain mixing (integer-ppm
    # rates), distributed-prefix-sum sequence packing, and the real
    # random-access video frame sampler
    "pipeline_decontaminate_hits",
    "pipeline_decontaminate_summary",
    "q_temperature_mixing",
    "pipeline_pack_sequences",
    "multimodal_video_frames",
    # round-5: BPE merge learning (one corpus pass + cached-vocab
    # iterations) and the deterministic md5 shuffle/shard assignment
    "pipeline_bpe_merges",
    "pipeline_shuffle_shards",
    # round-5: the composed quality->decontaminate->mix->pack corpus
    # pipeline, one lazy plan; JL 64->8 dimensionality reduction
    "pipeline_training_corpus",
    "sim_jl_projection",
    "pipeline_decontaminate_fuzzy",
    # round-5: time-series gap fill (two-level LOCF) + profiling histogram
    "q_gap_fill_hourly",
    "q_histogram",
    # round-5: product analytics — ordered funnel + retention triangle
    "q_funnel",
    "q_retention_cohorts",
    "q_ewma_hourly",
    # round-5: context-window chunking (map-only explode) and the
    # int8-scalar-quantized IVF scoring tier (4x-compressed candidates)
    "pipeline_chunk_documents",
    "sim_knn_ivf_sq8",
    # round-5: value-RANGE window frame and second-moment profiling aggs
    "q_time_range_window",
    "q_numeric_stats",
    "q_grouping_sets",
    "q_weighted_sample",
    "q_listagg_top_users",
    "text_heavy_hitters",
    "q_rolling_distinct_users",
    "dedup_span_coverage",
    "pipeline_token_budget_select",
    "pipeline_semantic_dedup",
    "dedup_span_removal",
    "text_source_classifier",
    "q_anomaly_hours",
    "dedup_cdc_chunks",
    "sim_knn_ivf_pq",
    "q_psi_value_drift",
    "dedup_cross_source_overlap",
    "pipeline_perplexity_filter",
    "multimodal_audio_stats",
    "multimodal_image_ahash",
    "multimodal_image_near_dup",
    "multimodal_image_near_dup_capped",
    # round-6: KMV mergeable distinct/Jaccard sketches (bounded salted
    # top-k windows, pairwise similarity over sketches only) and the
    # BPE encoder closing the learn->apply tokenizer loop (vocab-sized
    # merge application + one corpus join on word)
    "sketch_kmv_distinct",
    "sketch_kmv_source_jaccard",
    "pipeline_bpe_encode",
    # round-6: data-quality expectations — the one-pass predicate report
    # + anti-join referential check, and the map-side quarantine split
    "dq_orders_report",
    "dq_quarantine_split",
    # round-7: the DQ gate wired into the load path (end-to-end gated
    # merge incl. quarantine + report persistence) and the per-file
    # sketch sidecar behind Table.sketch()/quantiles()
    "dq_merge_gate",
    "table_sketch_facade",
    # round-7: BM25 retrieval ranking (integer-micro exact top-k) and
    # the SCD2 point-in-time fact join (replayed merge vs closed form)
    "text_bm25_topk",
    "scd2_point_in_time",
    "dml_merge_into",
    "graph_pagerank",
    "table_restore_travel",
    "text_bm25_indexed",
    # round-7: shallow clone (metadata-only snapshot + CoW divergence)
    "table_clone_shallow",
    # round-7: hybrid retrieval (BM25 + embedding cosine fused by RRF)
    "text_hybrid_rrf",
    # round-7: MERGE's by-source clause family (full-sync semantics)
    "dml_merge_full_sync",
    # round-7: MMR diversity re-ranking (the stage after RRF fusion)
    "text_mmr_diversify",
    # round-7: fast NEW-key append + bin-packing OPTIMIZE (Delta ingest)
    "table_append_optimize",
    # round-7: integer-exact Lloyd's k-means (cluster-based curation)
    "cluster_kmeans",
    # round-7: cluster-balanced prototype selection on top of k-means
    "pipeline_cluster_prototypes",
    # round-7: CDC apply-changes (sequenced tombstone memory, three
    # applies + re-read), one-pass SCD2 history from a change feed
    "cdc_apply_changes",
    "cdc_scd2_history",
    # round-7: blocked fuzzy entity resolution, market-basket support/
    # lift, degree-oriented triangle counting
    "er_fuzzy_match",
    "q_market_basket",
    "graph_triangles",
    # round-7: the zip-of-CSVs Python DataSource (executor-side member
    # decompression, one partition per member)
    "source_zip_roundtrip",
    # round-7: linear interpolation on the hourly spine (partitioned
    # frame windows; the interpolate companion to gap-fill LOCF)
    "q_interpolate_linear",
    # round-7: recursive-CTE parity via pointer doubling (hierarchy
    # closure in log(depth) rounds, oracle = real WITH RECURSIVE)
    "graph_hierarchy_closure",
    # round-7: equal-depth binning (partitioned NTILE) + one-pass OLS
    "q_feature_binning",
    "q_linear_regression",
    # round-7: dynamic partition overwrite (daily-replay primitive)
    "table_partition_replay",
    # round-7: chi-square contingency, winsorized cleaning, item-item
    # recommendations from co-purchase lift
    "q_chi_square",
    "q_winsorize",
    "q_recommendations",
    # round-7: KMV join-cardinality estimation (optimizer statistics)
    "sketch_join_cardinality",
    # round-7: last-touch attribution (one per-user window, no stream
    # self-join)
    "q_attribution",
    # round-7: the maintained SCD2 table (incremental == one-shot)
    "cdc_scd2_table",
    # round-7: one-pass Pearson correlation matrix
    "q_correlation_matrix",
    # round-7: hypertable LOCF rollups (time_weight / state_agg parity)
    "q_time_weighted_avg",
    "q_time_in_state",
    "q_heartbeat_gaps",
    # round-7: incrementally-maintained JOIN view (delta-join algebra;
    # three commits, two incremental refreshes, modes asserted in-query)
    "view_join_ivm",
    # round-7: the k-dim star generalization (telescoping delta terms,
    # both dims changed before one refresh)
    "view_star_ivm",
    # round-7: experimentation readouts — integer-exact Welch moments
    # and the first-order Markov transition matrix
    "q_ab_test",
    "q_event_transitions",
    # round-7: MIN/MAX view via touched-group partial recompute (the
    # aggregate family signed-delta IVM cannot carry)
    "view_minmax_ivm",
    # round-7: line-level boilerplate removal (broadcast heavy
    # dictionary), grid-bucketed geospatial radius join, and the
    # HTML-stripping regexp chain
    "pipeline_line_dedup",
    "q_geo_radius_join",
    "text_strip_markup",
    # round-7: in-engine LR training (3 aggregate-only GD iterations)
    "pipeline_train_logreg",
    # round-7: unigram-LM tokenizer (unrolled Viterbi on the vocab)
    "pipeline_unigram_tokenize",
    "pipeline_unigram_encode",
    "pipeline_unigram_em",
    "q_geo_nearest",
    # round-8: hard-EM iterated to the fixed point, curve as data
    "pipeline_unigram_em_curve",
    # round-8: sketch-backed views — approx-distinct (KMV) and quantile
    # (bottom-k sample), whose append refresh reads ONLY the added files
    "view_distinct_ivm",
    "view_quantile_ivm",
    # round-8: DSIR importance resampling (hashed-ngram ratio broadcast,
    # deterministic exponential race, TakeOrdered selection)
    "pipeline_dsir_select",
    # round-8: metadata-only rename/drop column lifecycle (mapping
    # commits + logical-name merges/DML + gated-op assertion)
    "table_rename_drop",
    # round-8: linear-sketch CMS view (deletes stay incremental)
    "view_cms_ivm",
    # round-8: PSI distribution-drift gate through the real load path
    "dq_drift_gate",
]


#: 1-min load above this at start means another tenant is active —
#: pytest-suite contamination inflated recorded entries up to 2.6x and
#: polluted three rounds of round-over-round diffs (VERDICT r7 residual 4)
LOAD_CONTAMINATION_THRESHOLD = 4.0


def _settle_load(threshold: float = LOAD_CONTAMINATION_THRESHOLD,
                 wait_s: float = 90.0) -> tuple[float, bool]:
    """(load1, contaminated): if the 1-min load is above ``threshold``,
    sleep-retry ONCE for the neighbor to drain; if it stays high, run
    anyway but flag the artifact so bench_diff readers (and the next
    round's judge) diff only clean runs instead of adjudicating drift
    by hand."""
    load = os.getloadavg()[0]
    if load <= threshold:
        return round(load, 2), False
    time.sleep(wait_s)
    load = os.getloadavg()[0]
    return round(load, 2), load > threshold


def _clean_history(sf: float | None) -> list[dict[str, float]]:
    """All NON-contaminated BENCH_LOCAL.jsonl per-query timing dicts at
    the same sf, oldest first — the per-query historical bands the
    drift adjudication compares against.  Empty on any problem (first
    run, missing file): the guard is an optimization, never a
    dependency."""
    out: list[dict[str, float]] = []
    try:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_LOCAL.jsonl")
        with open(path) as fh:
            lines = fh.read().splitlines()
        for raw in lines:
            row = json.loads(raw)
            if (
                not row.get("contaminated")
                and not row.get("diffuse_drift")
                and row.get("sf") == sf
                and isinstance(row.get("queries"), dict)
            ):
                d = {k: float(v) for k, v in row["queries"].items()}
                # a host_drift-adjudicated reading must not ratchet the
                # baseline/band upward (r10 review finding: the inflated
                # in-bench time would become the next run's flag line,
                # masking a later real regression) — substitute the
                # fresh-process reading the adjudicator measured
                for n, e in (row.get("flagged") or {}).items():
                    fresh = e.get("fresh_process") if isinstance(e, dict) else None
                    if (
                        fresh is not None
                        and e.get("verdict") == "host_drift"
                        and n in d
                    ):
                        d[n] = min(d[n], float(fresh))
                out.append(d)
    except Exception:
        pass
    return out


def _last_clean_timings(sf: float | None) -> dict[str, float]:
    """Per-query times from the most recent clean entry (see
    :func:`_clean_history`) — the drift re-run baseline."""
    hist = _clean_history(sf)
    return hist[-1] if hist else {}


#: flagged-delta threshold: the per-query ratio above which three rounds
#: of judges adjudicated readings by hand (SCALE.md r7/r8/r9) — now the
#: machine does it (VERDICT r9 task 5).
FLAG_RATIO = 1.2
#: fresh-process re-measures are Spark-startup-priced (~10-15 s each);
#: cap the adjudication pass so a host-wide slump can't double the bench
MAX_ADJUDICATIONS = 8
#: median in_bench/last_clean ratio above which the RUN is adjudicated
#: as DIFFUSE host drift: when the whole distribution shifts (r9 saw
#: +15-25% on byte-identical code after hours of sustained load; the
#: first r10 machine run flagged 65/156 queries at median +21%),
#: per-query fresh-process re-measures read the same slow host and
#: mislabel untouched code as 'regression' — so they are skipped and
#: every flagged query gets verdict 'diffuse_host_drift' instead.
#: _clean_history also refuses such runs as baselines (the inflated
#: timings must not ratchet the flag line).
DIFFUSE_MEDIAN_RATIO = 1.15
#: second diffuse trigger (VERDICT r10 item 3): a run whose median sits
#: just under DIFFUSE_MEDIAN_RATIO can still flag dozens of queries —
#: r10's driver run had median 1.142 yet flagged 50/156, stranding 42 as
#: 'unmeasured' under the 8-slot cap.  When more than this fraction of
#: comparable queries flag, the evidence already says "whole
#: distribution moved": adjudicate the run as diffuse host drift.
DIFFUSE_FLAG_FRACTION = 0.25


def _median_ratio(
    timings: dict[str, float], last_clean: dict[str, float]
) -> float | None:
    """Median in_bench/last_clean ratio over the queries present in
    both — the run-level drift signal.  None without a baseline."""
    ratios = sorted(
        t / last_clean[n]
        for n, t in timings.items()
        if last_clean.get(n)
    )
    return ratios[len(ratios) // 2] if ratios else None


def _run_drift_signal(
    timings: dict[str, float], last_clean: dict[str, float]
) -> tuple[float | None, list[str], bool]:
    """(median ratio, flagged names worst-first, run-is-diffuse) — the
    ONE place the run-level drift verdict is computed, shared by
    :func:`_adjudicate_flagged` and :func:`main` so the artifact's
    ``diffuse_drift`` field can never disagree with the per-query
    verdicts.  Flagged names are ordered by in_bench/last_clean ratio
    DESCENDING so the adjudication cap spends its fresh-process slots on
    the worst deltas, not the alphabet (VERDICT r10 item 2)."""
    # membership requires a POSITIVE baseline (last_clean.get(n), not
    # `n in last_clean`): a sub-ms reading rounds to 0.0 in the history,
    # and admitting it would both divide by zero in the sort key and
    # let the flagged set disagree with n_comparable's filter below
    flagged = sorted(
        (
            n for n, t in timings.items()
            if last_clean.get(n) and t > FLAG_RATIO * last_clean[n]
        ),
        key=lambda n: timings[n] / last_clean[n],
        reverse=True,
    )
    med = _median_ratio(timings, last_clean)
    n_comparable = sum(1 for n, t in timings.items() if last_clean.get(n))
    diffuse = med is not None and (
        med > DIFFUSE_MEDIAN_RATIO
        or (
            n_comparable > 0
            and len(flagged) / n_comparable > DIFFUSE_FLAG_FRACTION
        )
    )
    return med, flagged, bool(diffuse)


def _fresh_process_best(name: str, sf_dir: str) -> float | None:
    """Best-of-3 of ONE query in a brand-new python/JVM on the same
    tree — the fresh-process leg of the drift adjudication recipe the
    r7-r9 judges ran by hand.  None if the subprocess fails."""
    import subprocess
    import sys

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--adjudicate", name],
            capture_output=True, text=True, timeout=420,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        )
        for line in reversed(proc.stdout.splitlines()):
            try:
                row = json.loads(line)
            except ValueError:
                continue
            if row.get("name") == name:
                return float(row["best"])
    except Exception:
        pass
    return None


def _adjudicate_single(name: str) -> None:
    """`bench.py --adjudicate NAME`: warm the session, time NAME
    best-of-3, print one JSON line.  Run by :func:`_fresh_process_best`
    in a fresh process."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench-adjudicate")
    QUERIES["tpch_q6_revenue_forecast"](spark, sf_dir).collect()
    fn = QUERIES[name]
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    # caches released AFTER the reps, exactly like main()'s per-query
    # protocol — releasing inside the loop would make cache-reusing
    # queries systematically slower here and mis-adjudicate them as
    # regressions (r10 review finding)
    release_caches()
    print(json.dumps({"name": name, "best": round(best, 3)}))


def _adjudicate_flagged(
    timings: dict[str, float],
    last_clean: dict[str, float],
    hist: list[dict[str, float]],
    sf_dir: str,
) -> dict[str, dict]:
    """Machine-made drift adjudication (VERDICT r9 task 5): every query
    whose in-bench best exceeded FLAG_RATIO x its last clean reading is
    re-measured best-of-3 in a FRESH process and compared against its
    historical clean band.  verdicts:

    - ``host_drift``  — the fresh reading lands back at/below the flag
      line or inside the historical band: the code is fine, the host
      moved (the r7-r9 hand adjudications all ended here).
    - ``regression``  — the fresh reading stays above both: treat as a
      real slowdown and investigate before shipping.
    - ``unmeasured``  — the re-measure failed or was cut by the cap.
    """
    med, flagged, diffuse = _run_drift_signal(timings, last_clean)
    out: dict[str, dict] = {}
    for i, name in enumerate(flagged):
        band = [h[name] for h in hist if name in h]
        lo, hi = (min(band), max(band)) if band else (None, None)
        entry: dict = {
            "in_bench": timings[name],
            "last_clean": last_clean[name],
            "band": [lo, hi],
        }
        if diffuse:
            # the whole distribution shifted: this is the HOST, not 65
            # simultaneous regressions — a fresh process on the same
            # host reads just as slow (measured, r10 first run), so
            # skip the re-measure and say what the evidence supports
            entry["fresh_process"] = None
            entry["verdict"] = "diffuse_host_drift"
        elif i >= MAX_ADJUDICATIONS:
            entry["fresh_process"] = None
            entry["verdict"] = "unmeasured"
        else:
            fresh = _fresh_process_best(name, sf_dir)
            entry["fresh_process"] = fresh
            if fresh is None:
                entry["verdict"] = "unmeasured"
            elif fresh <= FLAG_RATIO * last_clean[name] or (
                hi is not None and fresh <= 1.05 * hi
            ):
                entry["verdict"] = "host_drift"
            else:
                entry["verdict"] = "regression"
        out[name] = entry
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    load1, contaminated = _settle_load()
    last_clean = _last_clean_timings(sf)

    spark = get_spark(app_name="bench")
    # warm the JVM + parquet footer cache outside the timed region
    QUERIES["tpch_q6_revenue_forecast"](spark, sf_dir).collect()

    # best-of-3: the host is shared and load spikes of 5+ are routine;
    # min-of-reps measures the engine, not the neighbors (ambient drift of
    # ±20% across hours was measured on identical code — see bench_diff)
    #
    # Per-query Spark-JOB counts ride along (VERDICT r11 task 3): the
    # host's wall-clock has been diffuse-drift-flagged two rounds
    # running, and job counts are load-INdependent — the drift-immune
    # regression channel.  Each rep runs under its own job group
    # (thread-local metadata, zero timing effect; the library never sets
    # groups of its own) and the min across reps is recorded — reps are
    # plan-deterministic, min guards against a stray AQE re-plan.
    #
    # The group is a THREAD-LOCAL property: jobs a query launches from
    # another thread (a streaming query, an async action, a Py4J
    # callback) land outside it and go uncounted.  Every headline query
    # runs at least one job on this thread (2 at the least, in
    # BENCH_LOCAL.json), so a rep that records 0 is that blind spot, and
    # it raises instead of entering the channel as 0.
    sc = spark.sparkContext
    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}

    def _timed_rep(fn, name: str, rep: int) -> tuple[float, int]:
        group = f"bench-{name}-{rep}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        el = time.perf_counter() - t0
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        if n == 0:
            raise RuntimeError(
                f"{name}: 0 Spark jobs in its job group; its jobs ran "
                "outside this thread, so the jobs channel cannot count them"
            )
        return el, n

    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        best, n_jobs = float("inf"), None
        for rep in range(3):
            el, n = _timed_rep(fn, name, rep)
            best = min(best, el)
            n_jobs = n if n_jobs is None else min(n_jobs, n)
        # drift guard: a query >1.3x its last committed CLEAN time gets
        # one extra rep immediately (keep the min) — r7's worst recorded
        # "regressions" were all scheduling noise that re-measured flat
        if name in last_clean and best > 1.3 * last_clean[name]:
            el, n = _timed_rep(fn, name, 3)
            best = min(best, el)
            n_jobs = min(n_jobs, n)
        timings[name] = round(best, 3)
        jobs[name] = n_jobs
        # release operator-internal caches between queries: no memory
        # accumulation across the suite, and query N+1 can't silently
        # reuse query N's materialized intermediate.  (Within one query's
        # reps the cache stays — same semantics as rounds 1-2, so
        # per-query numbers remain comparable.)
        release_caches()

    # machine-made drift adjudication (VERDICT r9 task 5): re-measure
    # each >FLAG_RATIO flagged query in a fresh process and record both
    # readings + the historical band, so SCALE.md cites the artifact
    # instead of a manual session log.  Skipped on contaminated runs —
    # a loaded host would mis-adjudicate everything as regression.
    flagged = (
        {}
        if contaminated
        else _adjudicate_flagged(
            timings, last_clean, _clean_history(sf), sf_dir
        )
    )
    med, _, diffuse = _run_drift_signal(timings, last_clean)

    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # ambient load when the timed region started (after the one
        # sleep-retry) — with the machine-readable verdict alongside so
        # no reader has to re-derive the threshold
        "load1_at_start": load1,
        "contaminated": contaminated,
        "flagged": flagged,
        # run-level drift signal: median in_bench/last_clean over all
        # comparable queries.  diffuse_drift=True means the whole
        # distribution shifted (host state, r9/r10 pattern): per-query
        # verdicts are 'diffuse_host_drift' and this run is EXCLUDED
        # from future baselines/bands (_clean_history skips it)
        "median_vs_last_clean": round(med, 3) if med is not None else None,
        "diffuse_drift": diffuse,
        # load-independent per-query Spark-job counts (VERDICT r11 task
        # 3): the drift-immune regression channel — a structural change
        # moves the job count, host slowness never does
        "jobs": jobs,
    }
    # The driver's bench artifact keeps only the LAST ~2000 chars of
    # stdout; with 100+ headline queries the single full-dict line
    # overflows it and the totals (printed first) are lost
    # (BENCH_r06.json recorded `"parsed": null` — VERDICT r6 item 3).
    # Two-part fix: (a) the complete dict — including the
    # abbreviation key used below — is written to BENCH_LOCAL.json in
    # the repo (and appended to BENCH_LOCAL.jsonl for cross-round
    # diffs), (b) stdout ends with a COMPACT line that fits the tail
    # whole: totals + every query at integer-millisecond precision
    # under deterministically abbreviated names.
    full["abbrev_key"] = {_abbrev(n): n for n in timings}
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_dir, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    with open(os.path.join(repo_dir, "BENCH_LOCAL.jsonl"), "a") as fh:
        fh.write(json.dumps(full) + "\n")

    print(json.dumps({k: v for k, v in full.items() if k != "abbrev_key"}))
    q_ms = {_abbrev(n): int(round(t * 1000)) for n, t in timings.items()}
    q_jobs = {_abbrev(n): j for n, j in jobs.items()}
    compact = {
        "metric": "headline_queries_total",
        "value": full["value"],
        "unit": "sec",
        "sf": sf,
        "n": len(timings),
        "load1": load1,
        "contaminated": contaminated,
        "queries": q_ms,
        # per-query Spark-job counts (additions-only, VERDICT r11 task
        # 3): load-independent — the regression channel when wall-clock
        # is drift-flagged.  jobs_total survives any overflow split.
        "jobs": q_jobs,
        "jobs_total": sum(q_jobs.values()),
    }
    if diffuse:
        compact["diffuse_drift"] = True
        compact["median_vs_last_clean"] = full["median_vs_last_clean"]
        compact["n_flagged"] = len(flagged)
    elif flagged:
        compact["flagged"] = {
            _abbrev(n): e["verdict"] for n, e in flagged.items()
        }
    for line in _emit_lines(compact, q_ms, flagged, q_jobs):
        print(line)


#: the driver records only the last ~2000 chars of stdout; the FINAL
#: line must stay under this so it round-trips through json.loads there
MAX_LINE = 1950


def _emit_lines(
    compact: dict,
    q_ms: dict[str, int],
    flagged: dict[str, dict],
    q_jobs: dict[str, int] | None = None,
) -> list[str]:
    """Lines to print, FINAL line guaranteed <= MAX_LINE chars.

    BENCH_r10.json came back ``parsed: null`` because the overflow
    branch kept the entire 50-entry flagged map on the final line
    (VERDICT r10 item 1).  Two rules now make the guarantee
    unconditional: (a) on overflow the flagged map is collapsed to
    per-verdict COUNTS (the full map lives in BENCH_LOCAL.json), and
    (b) the fastest queries are moved to earlier lines until the final
    line fits — iteratively, not a one-shot half split, so even
    all-156-flagged runs stay parseable (unit-tested).

    ``q_jobs`` (r12): per-query Spark-job counts spill in TANDEM with
    the timings — the final line keeps the slow tail's (ms, jobs)
    pairs, earlier lines carry the fast queries' under
    ``queries_fast`` / ``jobs_fast`` — so every name's pair rides one
    line and the driver's tail always parses with job counts present.
    """

    def _jobs_of(keys) -> dict[str, int]:
        return {k: q_jobs[k] for k in keys if k in q_jobs}

    q_jobs = q_jobs or {}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) <= MAX_LINE:
        return [line]
    if isinstance(compact.get("flagged"), dict):
        counts: dict[str, int] = {}
        for e in flagged.values():
            v = e.get("verdict", "unmeasured")
            counts[v] = counts.get(v, 0) + 1
        compact["flagged"] = counts
    compact["note"] = "slow tail; rest on prev lines + BENCH_LOCAL.json"
    items = sorted(q_ms.items(), key=lambda kv: kv[1])
    # an entry costs ~12 chars of ms (+~12 of job count when present)
    per_entry = 24 if q_jobs else 12
    cut = 0
    while True:
        compact["queries"] = dict(items[cut:])
        if q_jobs:
            compact["jobs"] = _jobs_of(k for k, _v in items[cut:])
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= MAX_LINE or cut >= len(items):
            break
        # jump by the overflow's worth of entries, always >= 1
        cut = min(
            len(items), cut + max(1, (len(line) - MAX_LINE) // per_entry)
        )
    out = []
    fast = items[:cut]
    while fast:
        # chunk the spilled fast entries so EVERY line obeys the cap
        chunk: dict[str, int] = {}
        while fast:
            candidate = {**chunk, fast[0][0]: fast[0][1]}
            payload = {"queries_fast": candidate}
            if q_jobs:
                payload["jobs_fast"] = _jobs_of(candidate)
            if (
                chunk
                and len(json.dumps(payload, separators=(",", ":")))
                > MAX_LINE
            ):
                break
            chunk = candidate
            fast = fast[1:]
        payload = {"queries_fast": chunk}
        if q_jobs:
            payload["jobs_fast"] = _jobs_of(chunk)
        out.append(json.dumps(payload, separators=(",", ":")))
    out.append(line)
    return out


_ABBREV_PREFIXES = [
    ("tpch_q", "T"),
    ("pipeline_", "P"),
    ("multimodal_", "M"),
    ("dedup_", "D"),
    ("sketch_", "K"),
    ("text_", "X"),
    ("sim_", "S"),
    ("dq_", "Q"),
    ("udaf_", "U"),
    ("table_", "B"),
    ("q_", ""),
]


def _abbrev(name: str) -> str:
    """Deterministic short key: prefix code + vowel-stripped words.

    Purely a transport encoding for the driver's 2000-char stdout tail;
    the inverse mapping ships in BENCH_LOCAL.json's ``abbrev_key``.
    """
    for long, short in _ABBREV_PREFIXES:
        if name.startswith(long):
            name = short + name[len(long):]
            break
    return "".join(
        p[0] + re.sub(r"[aeiou]", "", p[1:]) for p in name.split("_") if p
    )


if __name__ == "__main__":
    import sys

    if len(sys.argv) >= 3 and sys.argv[1] == "--adjudicate":
        _adjudicate_single(sys.argv[2])
    else:
        main()
