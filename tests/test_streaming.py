"""Streaming pipeline tests: file-source checkpointed ingest (the
reference's incremental contract, built-in) and the windowed Q1 analog."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from airflow_postgres_etl_spark.sink import read_keyed_table, table_version
from airflow_postgres_etl_spark.sources.parquet_source import load_table
from airflow_postgres_etl_spark.streaming import stream_ingest, windowed_event_counts

from .conftest import SF_SMOKE
from .fixtures.gen_raw import generate


def test_stream_ingest_checkpointed(spark, tmp_path):
    csv_dir = str(tmp_path / "csv")
    generate(csv_dir)
    tr, ev, ck = (str(tmp_path / d) for d in ("tracking", "events", "ckpt"))

    q = stream_ingest(spark, csv_dir, tr, ev, ck)
    q.awaitTermination(120)

    # the manifest IS the committed snapshot — read_keyed_table is the
    # only supported read path for a keyed target (bare
    # spark.read.parquet sees live files across several commit dirs and
    # fails partition-dir inference; asserted below).
    tracking = read_keyed_table(spark, tr)
    n_tracking = tracking.count()
    assert n_tracking == tracking.select("oid__id").distinct().count() > 0
    events = read_keyed_table(spark, ev)
    n_events = events.count()
    assert n_events > n_tracking  # ~10 events per tracking
    v_tr, v_ev = table_version(tr), table_version(ev)
    assert v_tr is not None and v_ev is not None

    # restart with no new files: checkpoint (the built-in HWM) skips all —
    # row counts AND manifest versions are unchanged (no empty-batch
    # commit on either table).
    q2 = stream_ingest(spark, csv_dir, tr, ev, ck)
    q2.awaitTermination(120)
    assert read_keyed_table(spark, tr).count() == n_tracking
    assert read_keyed_table(spark, ev).count() == n_events
    assert (table_version(tr), table_version(ev)) == (v_tr, v_ev)


def test_windowed_counts_match_batch_q1(spark):
    events = load_table(spark, SF_SMOKE, "events")
    streaming_form = windowed_event_counts(events)  # batch df, same plan
    batch_form = (
        events.groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.count("*").alias("n_events"))
    )
    a = {(r.minute, r.n_events) for r in streaming_form.collect()}
    b = {(r.minute, r.n_events) for r in batch_form.collect()}
    assert a == b


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """Pin the late-data contract of windowed_event_counts: a row arriving
    behind the persisted watermark is DROPPED, and append mode only emits
    windows the watermark has passed.

    Two checkpointed availableNow runs (the deployment pattern — the
    watermark is restored from the checkpoint at plan time; within a
    single multi-batch run Spark plans the data-drop filter with the
    run-initial watermark, so a one-run test would show drops only for
    data late relative to the PREVIOUS run):

    Run 1: rows at 10:00:30 and 10:30 -> checkpointed watermark 10:20.
    Run 2: late row 9:00 (< 10:20: dropped, numRowsDroppedByWatermark=1)
           + row 10:40 (watermark -> 10:30).
    Emitted = windows with end <= final watermark minus dropped rows:
    exactly ([10:00], 1); a kept 9:00 row would have emitted ([9:00], 1)."""
    import datetime as dt

    from airflow_postgres_etl_spark.streaming import windowed_event_counts

    def t(h, m, s=0):
        return dt.datetime(2024, 1, 1, h, m, s)

    src, ck, outd = (str(tmp_path / d) for d in ("src", "ck", "out"))

    def run_once():
        stream = spark.readStream.schema("event_id long, ts timestamp").parquet(src)
        out = windowed_event_counts(stream, window="1 minute", watermark="10 minutes")
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", outd)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    b1 = spark.createDataFrame([(1, t(10, 0, 30)), (2, t(10, 30))], ["event_id", "ts"])
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    run_once()

    b2 = spark.createDataFrame([(3, t(9, 0)), (4, t(10, 40))], ["event_id", "ts"])
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = run_once()

    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q2.recentProgress
        for so in (p.get("stateOperators") or [])
    )
    assert dropped == 1
    got = {(r.minute, r.n_events) for r in spark.read.parquet(outd).collect()}
    assert got == {(t(10, 0), 1)}


def test_dedup_event_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a key re-delivered in a later
    micro-batch (within the watermark window) is dropped; first
    occurrences pass through."""
    import datetime as dt

    from airflow_postgres_etl_spark.streaming import dedup_event_stream

    def t(m, s=0):
        return dt.datetime(2024, 1, 1, 10, m, s)

    src = str(tmp_path / "dd_src")
    b1 = spark.createDataFrame([(1, t(0)), (2, t(1))], ["event_id", "ts"])
    b2 = spark.createDataFrame([(1, t(0, 30)), (3, t(2))], ["event_id", "ts"])
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    first = {f for f in os.listdir(src) if f.endswith(".parquet")}
    b2.coalesce(1).write.mode("append").parquet(src)
    import time as _time

    now = _time.time()
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            age = 120 if f in first else 0
            os.utime(os.path.join(src, f), (now - age, now - age))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = dedup_event_stream(stream, watermark="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.event_id, r.ts) for r in spark.sql("SELECT * FROM dd_out").collect()}
    # event 1's re-delivery at 10:00:30 is dropped; its first arrival wins
    assert got == {(1, t(0)), (2, t(1)), (3, t(2))}


def test_stream_dedup_ingest_drops_cross_batch_near_dups(spark, tmp_path):
    """Streaming corpus ingest: a doc near-duplicating anything accepted
    in an EARLIER micro-batch run is dropped (the persisted MinHash index
    is the dedup state); genuinely new docs are accepted and indexed."""
    from airflow_postgres_etl_spark import caching
    from airflow_postgres_etl_spark.sink import read_keyed_table
    from airflow_postgres_etl_spark.streaming import stream_dedup_ingest

    n_caches_before = len(caching._ACTIVE)

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    other = "completely different content about spark physical plans and shuffles"

    b1 = spark.createDataFrame(
        [
            (1, base + " first"),
            (2, other + " alpha"),
            (3, base + " first"),       # exact dup of 1 (same batch)
            (4, base + " first extra"), # near-dup of 1 (same batch)
        ],
        ["doc_id", "text"],
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, idx, out, ck)
    q.awaitTermination(120)
    got1 = {r.doc_id for r in read_keyed_table(spark, out).collect()}
    assert got1 == {1, 2}

    b2 = spark.createDataFrame(
        [
            (10, base + " first again"),      # near-dup of accepted doc 1
            (11, "a totally novel document describing manifest commit protocols"),
        ],
        ["doc_id", "text"],
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = stream_dedup_ingest(spark, src, idx, out, ck)
    q2.awaitTermination(120)
    got2 = {r.doc_id for r in read_keyed_table(spark, out).collect()}
    assert got2 == {1, 2, 11}  # 10 dropped against the index

    # the index covers exactly the accepted corpus
    from airflow_postgres_etl_spark.operators.dedup import read_minhash_index

    indexed = {
        r.doc_id
        for r in read_minhash_index(spark, idx).select("doc_id").distinct().collect()
    }
    assert indexed == {1, 2, 11}

    # restart with no new files: nothing appended anywhere
    q3 = stream_dedup_ingest(spark, src, idx, out, ck)
    q3.awaitTermination(120)
    assert {r.doc_id for r in read_keyed_table(spark, out).collect()} == {1, 2, 11}
    # per-batch cache lifecycle: shingle caches released with each batch
    assert len(caching._ACTIVE) == n_caches_before


def test_stream_dedup_ingest_compacts_in_band(spark, tmp_path):
    """In-band compaction (VERDICT r5 residual 2): each append CAS-bumps
    the manifest's staleness counter; once minhash_appended_fraction
    crosses compact_fraction the micro-batch itself compacts the index
    from the accepted corpus — re-applying the hot-band cap GLOBALLY
    (per-batch appends cap only within themselves) and resetting the
    counter via the manifest swap.  Dedup decisions are unchanged after.

    Fixture: docs 1 and 3 share one deterministic LSH band (md5-derived,
    pinned by this test) at jaccard 0.474 < threshold 0.5 — so 3 is
    ACCEPTED across batches yet regrows a band past max_band_size=1,
    exactly the regrowth per-batch capping cannot see."""
    from airflow_postgres_etl_spark.operators.dedup import (
        minhash_appended_fraction,
        read_minhash_index,
        _index_manifest_path,
    )
    from airflow_postgres_etl_spark.storage import LOCAL_STORE
    from airflow_postgres_etl_spark.sink import read_keyed_table
    from airflow_postgres_etl_spark.streaming import stream_dedup_ingest

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
        " nu xi omicron pi rho sigma tau upsilon"
    )
    d1 = base + " phi chi psi omega one two three four five six"
    d3 = (
        base + " unique1 unique2 unique3 unique4 unique5 unique6 unique7"
        " unique8 unique9 unique10"
    )
    other = "entirely unrelated text about manifest swaps and parquet footers"

    spark.createDataFrame(
        [(1, d1), (2, other)], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, idx, out, ck, max_band_size=1)
    q.awaitTermination(120)
    assert q.exception() is None
    assert minhash_appended_fraction(idx) == 0.0
    v1 = LOCAL_STORE.read_json(_index_manifest_path(idx))

    # batch 2: doc 3 is admitted (jaccard vs 1 below threshold) and its
    # append pushes the fraction to 1/3 > 0.2 -> in-band compaction
    spark.createDataFrame([(3, d3)], ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = stream_dedup_ingest(spark, src, idx, out, ck, max_band_size=1)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert {r.doc_id for r in read_keyed_table(spark, out).collect()} == {1, 2, 3}

    # compaction fired in-band: counter reset, manifest swapped (data
    # dir replaced + old dir retired), and the hot-band cap holds
    # GLOBALLY — the band docs 1 and 3 share is gone, every remaining
    # (band_idx, band_hi, band_lo) group has <= max_band_size members
    assert minhash_appended_fraction(idx) == 0.0
    v2 = LOCAL_STORE.read_json(_index_manifest_path(idx))
    assert v2["data_dir"] != v1["data_dir"]
    assert any(e["dir"] == v1["data_dir"] for e in v2["retired"])
    sizes = (
        read_minhash_index(spark, idx)
        .groupBy("band_idx", "band_hi", "band_lo")
        .count()
        .collect()
    )
    assert sizes and max(r["count"] for r in sizes) <= 1
    # the shared band existed pre-compaction (else this test pins nothing):
    # doc 1 and doc 3 really do collide on a band
    from airflow_postgres_etl_spark.operators.dedup import (
        _band_table,
        minhash_signatures,
    )

    bt = _band_table(
        minhash_signatures(
            spark.createDataFrame([(1, d1), (3, d3)], ["doc_id", "text"])
        ),
        "doc_id",
    )
    shared = bt.groupBy("band_idx", "band_hi", "band_lo").count().filter("count > 1")
    assert shared.count() >= 1

    # dedup decisions unchanged post-compaction: an exact dup of doc 1
    # (all four bands, three of which remain indexed) still drops
    spark.createDataFrame([(10, d1)], ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q3 = stream_dedup_ingest(spark, src, idx, out, ck, max_band_size=1)
    q3.awaitTermination(120)
    assert q3.exception() is None
    assert {r.doc_id for r in read_keyed_table(spark, out).collect()} == {1, 2, 3}


def test_stream_training_ingest_matches_batch_application(spark, tmp_path):
    """Streaming quality→decontaminate→mix: every decision is doc-local
    given the static benchmark grams + rates, so two micro-batches must
    produce EXACTLY the set one batch job over the union would — and a
    restart with no new files appends nothing."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.streaming import (
        build_benchmark_grams,
        stream_training_ingest,
    )

    src, grams, out, ck = (
        str(tmp_path / d) for d in ("src", "grams", "corpus", "ck")
    )
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike".split()
    long_txt = " ".join(words * 2)  # 26 tokens, passes min_tokens=20
    short_txt = "too short"

    bench = spark.createDataFrame([(100, long_txt)], ["doc_id", "text"])
    build_benchmark_grams(bench, grams)

    rows1 = [
        (1, long_txt + " extra tail one two three four five six seven", "srcA"),
        # ^ shares 13-grams with the benchmark -> decontaminated
        (2, " ".join(reversed(words * 2)), "srcA"),  # clean, 26 tokens
        (3, short_txt, "srcA"),  # quality-gated
    ]
    rows2 = [
        (4, " ".join(words[::2] * 4), "srcB"),  # clean, 28 tokens
        (5, long_txt, "srcB"),  # contaminated
        (6, " ".join(words[1::2] * 4), "srcZ"),  # unknown source -> kept
    ]
    rates = {"srcA": 1_000_000, "srcB": 1_000_000}

    spark.createDataFrame(rows1, "doc_id long, text string, source string") \
        .coalesce(1).write.mode("append").parquet(src)
    q = stream_training_ingest(spark, src, grams, rates, out, ck)
    q.awaitTermination(120)
    assert q.exception() is None
    assert {r.doc_id for r in read_keyed_table(spark, out).collect()} == {2}

    spark.createDataFrame(rows2, "doc_id long, text string, source string") \
        .coalesce(1).write.mode("append").parquet(src)
    q2 = stream_training_ingest(spark, src, grams, rates, out, ck)
    q2.awaitTermination(120)
    assert q2.exception() is None
    got = {r.doc_id for r in read_keyed_table(spark, out).collect()}
    assert got == {2, 4, 6}

    # equals the batch application over the union (doc-local decisions)
    # and a no-new-files restart appends nothing
    q3 = stream_training_ingest(spark, src, grams, rates, out, ck)
    q3.awaitTermination(120)
    assert read_keyed_table(spark, out).count() == 3

    # zero-rate source: everything from it dropped
    out2, ck2 = str(tmp_path / "corpus2"), str(tmp_path / "ck2")
    q4 = stream_training_ingest(
        spark, src, grams, {"srcA": 0, "srcB": 0}, out2, ck2
    )
    q4.awaitTermination(120)
    assert q4.exception() is None
    got2 = {r.doc_id for r in read_keyed_table(spark, out2).collect()}
    assert got2 == {6}  # only the unknown source survives


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join: clicks pair with the same user's
    view ≤ 5 minutes earlier.  The streaming result over file-fed
    micro-batches must equal the batch interval join over the same
    rows, and the physical plan must carry watermarks on BOTH sides
    (the state bound)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.streaming.file_stream import (
        interval_join_streams,
    )

    src, out_ck = str(tmp_path / "src"), str(tmp_path / "ck")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def row(eid, minutes, user, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype)

    rows = [
        row(1, 0, 7, "view"),
        row(2, 3, 7, "click"),    # pairs with view 1 (3 min lag)
        row(3, 9, 7, "click"),    # too late for view 1 (9 min)
        row(4, 10, 8, "view"),
        row(5, 11, 8, "click"),   # pairs with view 4
        row(6, 11, 9, "click"),   # no view for user 9
        row(7, 20, 8, "view"),
        row(8, 22, 8, "click"),   # pairs with view 7 only (12 min after 4)
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    joined = interval_join_streams(
        stream.filter("event_type = 'view'"),
        stream.filter("event_type = 'click'"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .option("checkpointLocation", out_ck)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {
        (r.view_id, r.click_id)
        for r in spark.sql("SELECT * FROM ssj").collect()
    }
    assert got == {(1, 2), (4, 5), (7, 8)}

    # batch twin over the same frame agrees
    batch = spark.read.parquet(src)
    b = interval_join_streams(
        batch.filter("event_type = 'view'"),
        batch.filter("event_type = 'click'"),
    )
    assert {(r.view_id, r.click_id) for r in b.collect()} == got

    # the state bound is real: watermarks on both inputs
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2


def test_stream_ingest_mor_matches_cow(spark, tmp_path):
    """The trickle-upsert mode: merge_mode='mor' must land EXACTLY the
    same tables as copy-on-write (differential over the same CSV set),
    with the per-trigger auto-compaction keeping delta depth below the
    threshold."""
    from airflow_postgres_etl_spark.sink import table_delta_depth
    from airflow_postgres_etl_spark.streaming import stream_ingest as _si

    csv_dir = str(tmp_path / "csv")
    generate(csv_dir)

    def run(mode, **kw):
        tr, ev, ck = (str(tmp_path / f"{mode}_{d}") for d in ("tr", "ev", "ck"))
        q = _si(
            spark, csv_dir, tr, ev, ck,
            max_files_per_trigger=1, merge_mode=mode, **kw,
        )
        q.awaitTermination(180)
        assert q.exception() is None
        return tr, ev

    tr_c, ev_c = run("cow")
    tr_m, ev_m = run("mor", compact_at_depth=2)

    for cow_t, mor_t in ((tr_c, tr_m), (ev_c, ev_m)):
        cow_df = read_keyed_table(spark, cow_t)
        # uploadDate is the T10 audit stamp — job wall-clock, so it
        # differs between the two runs by construction
        cols = sorted(c for c in cow_df.columns if c != "uploadDate")
        a = {tuple(r[c] for c in cols) for r in cow_df.collect()}
        b = {
            tuple(r[c] for c in cols)
            for r in read_keyed_table(spark, mor_t).collect()
        }
        assert a == b
        # auto-compaction bounded the delta chain
        assert table_delta_depth(mor_t) < 2 + 1


def test_stream_ingest_rejects_bad_merge_mode(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="merge_mode"):
        stream_ingest(
            spark, str(tmp_path), str(tmp_path / "a"), str(tmp_path / "b"),
            str(tmp_path / "c"), merge_mode="wat",
        )


def test_interval_join_left_outer_emits_unattributed_clicks(spark, tmp_path):
    """leftOuter stream-stream interval join: a click with no matching
    view must surface with NULL view columns — but only after the
    watermark proves no view can still arrive (driven by a later
    event-time batch, no wall-clock sleeps)."""
    import datetime as dt

    from airflow_postgres_etl_spark.streaming import interval_join_streams

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, user_id long, ts timestamp, kind string"
    src = str(tmp_path / "src")

    def write(rows, mode, age_s):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(src)
        # the file source orders micro-batches by mtime: stamp each
        # write's age so batches replay in event-time order (same
        # technique as the dedup-stream test above)
        import time as _time

        now = _time.time()
        for f in os.listdir(src):
            full = os.path.join(src, f)
            if f.endswith(".parquet") and os.path.getmtime(full) > now - 1:
                os.utime(full, (now - age_s, now - age_s))

    # batch 1: user 1 view+click (attributed), user 2 click only
    write(
        [
            (1, 1, t0, "view"),
            (2, 1, t0 + dt.timedelta(minutes=1), "click"),
            (3, 2, t0 + dt.timedelta(minutes=1), "click"),
        ],
        "overwrite",
        age_s=120,
    )
    # batches 2 and 3: far-future events advance the watermark past
    # batch 1.  BOTH kinds are needed: the join's watermark is the MIN
    # over the two branch watermarks, so an idle clicks branch would
    # stall it forever (measured — views-only advancing batches left the
    # watermark pinned at batch 1's click time and no null ever
    # emitted).  Eviction also happens while processing a LATER batch,
    # hence two advancing batches.
    write(
        [
            (20, 99, t0 + dt.timedelta(hours=2), "view"),
            (21, 99, t0 + dt.timedelta(hours=2, minutes=1), "click"),
        ],
        "append",
        age_s=60,
    )
    write(
        [
            (30, 98, t0 + dt.timedelta(hours=3), "view"),
            (31, 98, t0 + dt.timedelta(hours=3, minutes=1), "click"),
        ],
        "append",
        age_s=0,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    joined = interval_join_streams(
        stream.filter("kind = 'view'"),
        stream.filter("kind = 'click'"),
        how="leftOuter",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None

    rows = spark.sql("SELECT * FROM attrib").collect()
    got = {(r.user_id, r.click_id, r.view_id) for r in rows}
    assert (1, 2, 1) in got          # attributed click joined its view
    assert (2, 3, None) in got       # unattributed click emitted w/ NULLs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="how must be"):
        interval_join_streams(stream, stream, how="full")


def test_streamed_sketches_equal_batch_build_across_restart(spark, tmp_path):
    """N micro-batches through stream_sketch_ingest — with a full query
    STOP/RESTART from the same checkpoint in the middle — must leave the
    stored KMV and CMS sketch tables identical, bit for bit, to sketches
    built in one batch job over the union of all input."""
    from pyspark.sql import functions as F

    from airflow_postgres_etl_spark.operators import sketch as SK
    from airflow_postgres_etl_spark.streaming import stream_sketch_ingest

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    def write_file(i, rows):
        spark.createDataFrame(rows, "group string, item string").coalesce(
            1
        ).write.mode("append").parquet(src)

    all_rows = []
    # wave 1: two files
    for i in range(2):
        rows = [
            (f"g{j % 3}", f"item_{i}_{j % 40}") for j in range(200)
        ]
        all_rows += rows
        write_file(i, rows)

    q = stream_sketch_ingest(spark, src, out, ck, max_files_per_trigger=1)
    q.awaitTermination(300)
    assert q.exception() is None

    # wave 2 (after the query fully stopped): one more file, restart
    # from the same checkpoint
    rows = [("g1", f"late_{j}") for j in range(150)] + [("g3", "only")]
    all_rows += rows
    write_file(2, rows)
    q2 = stream_sketch_ingest(spark, src, out, ck, max_files_per_trigger=1)
    q2.awaitTermination(300)
    assert q2.exception() is None

    union = spark.createDataFrame(all_rows, "group string, item string")

    # KMV: stored rows == one-shot batch sketch
    got_kmv = {
        (r.group, tuple(r.ks), r.n_k, r.kth)
        for r in read_keyed_table(spark, os.path.join(out, "kmv")).collect()
    }
    want_kmv = {
        (r.group, tuple(r.ks), r.n_k, r.kth)
        for r in SK.kmv_sketch(union, ["group"], F.col("item")).collect()
    }
    assert got_kmv == want_kmv

    # CMS: stored cells == one-shot batch cells
    got_cms = {
        (r.group, r.r, r.c, r.cnt)
        for r in read_keyed_table(spark, os.path.join(out, "cms")).collect()
    }
    want_cms = {
        (r.group, r.r, r.c, r.cnt)
        for r in SK.cms_sketch(union, ["group"], F.col("item")).collect()
    }
    assert got_cms == want_cms

    # re-running over the same checkpoint with no new files is a no-op
    q3 = stream_sketch_ingest(spark, src, out, ck, max_files_per_trigger=1)
    q3.awaitTermination(300)
    assert q3.exception() is None
    got_cms_2 = {
        (r.group, r.r, r.c, r.cnt)
        for r in read_keyed_table(spark, os.path.join(out, "cms")).collect()
    }
    assert got_cms_2 == got_cms


def test_sketch_stream_replay_after_a_crash_past_the_cms_commit(
    spark, tmp_path, monkeypatch
):
    """CMS cells sum, so a re-delivered epoch must not merge twice: the
    query crashes right after the CMS table's commit lands (before the
    epoch's checkpoint commit), the restarted query re-delivers that
    epoch, and the stored cells still equal one batch build over the
    input — the epoch's watermark committed with the cells."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.operators import sketch as SK
    from airflow_postgres_etl_spark.streaming import stream_sketch_ingest

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    rows = [(f"g{j % 3}", f"item_{j % 7}") for j in range(60)]
    spark.createDataFrame(rows, "group string, item string").coalesce(
        1
    ).write.parquet(src)
    cms = os.path.join(out, "cms")
    real_commit = sink._commit_manifest

    def commit_then_crash(target, *a, **k):
        real_commit(target, *a, **k)
        if target == cms:
            monkeypatch.setattr(sink, "_commit_manifest", real_commit)
            raise OSError("simulated crash after the CMS commit")

    monkeypatch.setattr(sink, "_commit_manifest", commit_then_crash)
    q = stream_sketch_ingest(spark, src, out, ck)
    with pytest.raises(StreamingQueryException, match="simulated crash"):
        q.awaitTermination(300)
    assert sink._commit_manifest is real_commit, "no crash"
    v = table_version(cms)

    q2 = stream_sketch_ingest(spark, src, out, ck)
    q2.awaitTermination(300)
    assert q2.exception() is None
    assert table_version(cms) == v  # the replayed epoch: a no-op
    got = {
        (r.group, r.r, r.c, r.cnt)
        for r in read_keyed_table(spark, cms).collect()
    }
    union = spark.createDataFrame(rows, "group string, item string")
    want = {
        (r.group, r.r, r.c, r.cnt)
        for r in SK.cms_sketch(union, ["group"], F.col("item")).collect()
    }
    assert got == want


def test_stream_append_checkpointed_and_replay_safe(spark, tmp_path):
    """Append-mode fact ingest: files stream in as O(batch) blind
    appends with the writer-txn watermark making redelivery a no-op;
    restart with no new files changes nothing; new files append; the
    file-count debt auto-optimizes at the threshold."""
    from airflow_postgres_etl_spark.sink import (
        describe_keyed_table,
        keyed_append,
    )
    from airflow_postgres_etl_spark.streaming import stream_append

    src, tgt, ck = (str(tmp_path / d) for d in ("src", "t", "ck"))
    os.makedirs(src)
    schema = "id long, v long"

    def feed(lo, hi):
        spark.createDataFrame(
            [(i, i * 10) for i in range(lo, hi)], schema
        ).coalesce(1).write.mode("append").parquet(src)

    feed(0, 50)
    feed(50, 100)
    q = stream_append(
        spark, src, tgt, ck, schema=schema, key="id", num_buckets=4,
        max_files_per_trigger=1, optimize_at_files=3,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    df = read_keyed_table(spark, tgt)
    assert df.count() == 100 == df.select("id").distinct().count()
    v1 = table_version(tgt)

    # restart, nothing new: checkpoint skips all files, zero commits
    q2 = stream_append(
        spark, src, tgt, ck, schema=schema, key="id", num_buckets=4,
        max_files_per_trigger=1, optimize_at_files=3,
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert table_version(tgt) == v1

    # manual redelivery of an already-applied epoch: manifest no-op
    b = spark.createDataFrame([(0, 0)], schema)
    txn_app = f"stream_append:{os.path.abspath(ck)}"
    assert (
        keyed_append(
            spark, b, tgt, key="id", verify_new=False,
            txn_app=txn_app, txn_seq=0,
        )
        == 0
    )
    assert read_keyed_table(spark, tgt).count() == 100

    # new files stream in; enough appends cross the optimize threshold
    feed(100, 150)
    feed(150, 200)
    q3 = stream_append(
        spark, src, tgt, ck, schema=schema, key="id", num_buckets=4,
        max_files_per_trigger=1, optimize_at_files=3,
    )
    q3.awaitTermination(120)
    assert q3.exception() is None
    df = read_keyed_table(spark, tgt)
    assert df.count() == 200 == df.select("id").distinct().count()
    assert (
        describe_keyed_table(tgt)["max_files_per_bucket"] < 3
    )  # auto-optimize fired


def test_stream_dedup_ingest_at_most_once_opt_in(spark, tmp_path):
    """r10: delivery='at_most_once' keeps the r9-era contract — plain
    parquet corpus (no manifest), index appended first."""
    from airflow_postgres_etl_spark.sink import table_version
    from airflow_postgres_etl_spark.streaming import stream_dedup_ingest

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    spark.createDataFrame(
        [(1, base), (2, base + " tail"),
         (3, "unrelated words about parquet footers and manifests")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_dedup_ingest(
        spark, src, idx, out, ck, delivery="at_most_once"
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}
    assert table_version(out) is None  # bare directory, no manifest

    import pytest as _pytest

    with _pytest.raises(ValueError, match="delivery must be"):
        stream_dedup_ingest(spark, src, idx, out, ck, delivery="maybe")


def test_stream_dedup_ingest_default_exactly_once_across_crash(
    spark, tmp_path, monkeypatch
):
    """r10 (VERDICT r9 task 3): the DEFAULT document-ingest path is
    exactly-once — crash between the corpus commit and the index append
    replays into a corpus txn no-op + index catch-up; a lost checkpoint
    replays into dedup_against_index dropping survivors against their
    own indexed copies."""
    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.sink import read_keyed_table
    from airflow_postgres_etl_spark.streaming import doc_stream as DS

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    spark.createDataFrame(
        [(1, base), (2, "unrelated words about parquet footers and manifests")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)

    real_build = DS.build_minhash_index
    state = {"crash": True}

    def build_or_crash(*a, **kw):
        if state["crash"]:
            state["crash"] = False
            raise RuntimeError("injected crash before index build")
        return real_build(*a, **kw)

    import pytest as _pytest

    monkeypatch.setattr(DS, "build_minhash_index", build_or_crash)
    q = DS.stream_dedup_ingest(spark, src, idx, out, ck)
    with _pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    v1 = sink.table_version(out)
    assert v1 is not None  # corpus landed first, under the txn

    # replay: corpus txn no-op, index catches up
    q2 = DS.stream_dedup_ingest(spark, src, idx, out, ck)
    q2.awaitTermination(300)
    assert q2.exception() is None
    assert sink.table_version(out) == v1
    assert {r.doc_id for r in read_keyed_table(spark, out).collect()} == {1, 2}
    from airflow_postgres_etl_spark.operators.dedup import read_minhash_index

    assert {
        r.doc_id
        for r in read_minhash_index(spark, idx).select("doc_id").distinct().collect()
    } == {1, 2}

    # lost checkpoint: full redelivery under a new txn_app — the index
    # dedup (jaccard 1 vs own copy) is what keeps it exactly-once
    ck2 = str(tmp_path / "ck2")
    q3 = DS.stream_dedup_ingest(spark, src, idx, out, ck2)
    q3.awaitTermination(300)
    assert q3.exception() is None
    assert sink.table_version(out) == v1
    assert {r.doc_id for r in read_keyed_table(spark, out).collect()} == {1, 2}


def test_stream_training_ingest_exactly_once_on_epoch_replay(spark, tmp_path):
    """r10: the training corpus is keyed under an epoch txn watermark —
    deleting the checkpoint's commit marker (the crash-between-write-
    and-commit simulation) makes Spark re-deliver the SAME epoch, and
    the replay must be a manifest no-op (a blind append would duplicate
    every kept doc, biasing the mixing weights)."""
    import shutil

    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.streaming import (
        build_benchmark_grams,
        stream_training_ingest,
    )

    src, grams, out, ck = (
        str(tmp_path / d) for d in ("src", "grams", "corpus", "ck")
    )
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike".split()
    build_benchmark_grams(
        spark.createDataFrame([(100, " ".join(words * 2))], ["doc_id", "text"]),
        grams,
    )
    rows = [
        (2, " ".join(reversed(words * 2)), "srcA"),
        (4, " ".join(words[::2] * 4), "srcB"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, source string") \
        .coalesce(1).write.mode("append").parquet(src)
    q = stream_training_ingest(spark, src, grams, {"srcA": 1_000_000}, out, ck)
    q.awaitTermination(120)
    assert q.exception() is None
    v1 = sink.table_version(out)
    assert v1 is not None
    assert {r.doc_id for r in read_keyed_table(spark, out).collect()} == {2, 4}

    # crash simulation: epoch completed, its checkpoint commit lost
    shutil.rmtree(os.path.join(ck, "commits"))
    q2 = stream_training_ingest(spark, src, grams, {"srcA": 1_000_000}, out, ck)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert sink.table_version(out) == v1  # replayed epoch: txn no-op
    assert read_keyed_table(spark, out).count() == 2

    # the blind-append opt-in states its trade: validation pins the knob
    import pytest as _pytest

    with _pytest.raises(ValueError, match="delivery must be"):
        stream_training_ingest(
            spark, src, grams, {}, out, ck, delivery="exactly-once-ish"
        )


def test_recreated_checkpoint_is_a_new_txn_writer(spark, tmp_path):
    """r10 review finding: the epoch txn_app is the checkpoint path
    SALTED with the checkpoint's run UUID.  Delete and recreate the
    checkpoint at the same path (the reprocess-everything ops move) and
    epoch ids restart at 0 — with a path-only identity the table's old
    watermark would silently no-op every batch and LOSE genuinely new
    docs; with the salted identity the new incarnation applies from 0
    (re-delivered docs drop against the index, new docs land)."""
    import shutil

    from airflow_postgres_etl_spark.sink import read_keyed_table
    from airflow_postgres_etl_spark.streaming import stream_dedup_ingest
    from airflow_postgres_etl_spark.streaming.delivery import stream_txn_app

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    spark.createDataFrame(
        [(1, base), (2, "unrelated words about parquet footers and manifests")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_dedup_ingest(spark, src, idx, out, ck)
    q.awaitTermination(120)
    assert q.exception() is None
    app1 = stream_txn_app(ck)
    assert app1 != ck  # the UUID salt is present

    # reprocess-everything: checkpoint deleted, NEW docs added
    shutil.rmtree(ck)
    spark.createDataFrame(
        [(9, "a genuinely novel document describing z-order clustering")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_dedup_ingest(spark, src, idx, out, ck)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert stream_txn_app(ck) != app1  # new incarnation = new writer
    # old docs re-delivered and index-dropped; the NEW doc landed
    # (a path-only txn_app would have silently no-opped it away)
    assert {r.doc_id for r in read_keyed_table(spark, out).collect()} == {1, 2, 9}


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_stream_dedup_ingest_releases_its_batch_checkpoint(spark, tmp_path):
    """A micro-batch's survivors checkpoint is released when the batch
    ends: ``unpersist()`` does not drop a local checkpoint's blocks."""
    from airflow_postgres_etl_spark.streaming import stream_dedup_ingest

    src, idx, out, ck = (
        str(tmp_path / d) for d in ("src", "index", "corpus", "ck")
    )
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "spark physical plans and their shuffles")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(src)
    held = _persisted(spark)
    q = stream_dedup_ingest(spark, src, idx, out, ck)
    q.awaitTermination(120)
    assert q.exception() is None
    assert read_keyed_table(spark, out).count() == 2
    assert _persisted(spark) <= held


def test_stream_sketch_ingest_releases_its_batch_checkpoints(spark, tmp_path):
    """The KMV and CMS merges each release the batch sketch they
    checkpoint."""
    from airflow_postgres_etl_spark.streaming import stream_sketch_ingest

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    spark.createDataFrame(
        [(f"g{j % 2}", f"item_{j % 5}") for j in range(20)],
        "group string, item string",
    ).coalesce(1).write.parquet(src)
    held = _persisted(spark)
    q = stream_sketch_ingest(spark, src, out, ck)
    q.awaitTermination(300)
    assert q.exception() is None
    assert read_keyed_table(spark, os.path.join(out, "kmv")).count() == 2
    assert _persisted(spark) <= held


def test_stream_ingest_epoch_scans_and_dedups_once(spark, tmp_path):
    """One epoch of ``stream_ingest`` scans and dedups its files once
    for both targets (``pipeline._dedup_once``), then merges each: 7
    Spark jobs into new one-bucket targets — the dedup's map stage and
    checkpoint, events 3 (the distinct's map stage, admission, write)
    and tracking 2 (admission, write).  Deduping per target ran the scan
    and the dedup's shuffle twice.  The epoch leaves no persisted RDD
    behind."""
    src = str(tmp_path / "src")
    generate(src, n_files=1, rows_per_file=20)
    tr, ev, ck = (str(tmp_path / d) for d in ("tracking", "events", "ckpt"))
    held = _persisted(spark)
    q = stream_ingest(spark, src, tr, ev, ck)
    q.awaitTermination(120)
    assert q.exception() is None
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 7
    assert _persisted(spark) <= held
    tracking = read_keyed_table(spark, tr)
    assert tracking.count() == tracking.select("oid__id").distinct().count() > 0
    events = read_keyed_table(spark, ev)
    assert events.select("oid__id").distinct().count() == tracking.count()
