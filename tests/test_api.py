"""Engine facade + zip source tests."""

from __future__ import annotations

import os
import zipfile

from airflow_postgres_etl_spark.api import Engine
from airflow_postgres_etl_spark.sources.zip_source import extract_zip

from .conftest import SF_SMOKE
from .fixtures.gen_raw import generate


def test_engine_full_workflow(spark, tmp_path):
    csv_dir = str(tmp_path / "csv")
    generate(csv_dir, n_files=3, rows_per_file=30)
    eng = Engine(spark)
    counts = eng.ingest(csv_dir, str(tmp_path / "out"))
    assert counts["tracking"] > 0

    # interactive SQL over the loaded tables (reference entry point C),
    # including the reserved-word columns
    n = eng.sql('SELECT count(*) AS n FROM events WHERE `from` IS NOT NULL').collect()[0].n
    assert n > 0
    per_min = eng.sql(
        "SELECT date_trunc('minute', createdAt) AS m, count(*) AS n "
        "FROM tracking GROUP BY 1 ORDER BY 1"
    )
    assert per_min.count() > 0

    # named query library
    assert "q3_rank_event_types" in eng.queries()
    assert eng.query("q2_top_event_types", SF_SMOKE).count() > 0
    assert eng.oracle("q2_top_event_types") is not None


def test_extract_zip(tmp_path):
    src = tmp_path / "payload.zip"
    with zipfile.ZipFile(src, "w") as zf:
        zf.writestr("a.csv", "Op,oid__id\nU,x")
        zf.writestr("sub/b.csv", "Op,oid__id\nI,y")
    out = extract_zip(str(src), str(tmp_path / "dest"))
    assert sorted(out) == ["a.csv", "sub/b.csv"]
    assert os.path.exists(tmp_path / "dest" / "sub" / "b.csv")


def test_extract_zip_rejects_escape(tmp_path):
    src = tmp_path / "evil.zip"
    with zipfile.ZipFile(src, "w") as zf:
        zf.writestr("../evil.txt", "x")
    try:
        extract_zip(str(src), str(tmp_path / "dest"))
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_engine_streaming_surfaces(spark, tmp_path):
    """The facade's streaming methods wire the same operators the batch
    surface uses: dedup ingest accepts the unique doc, drops the
    near-dup, and leaves the index next to the corpus."""
    from airflow_postgres_etl_spark.api import Engine

    eng = Engine(spark)
    src = str(tmp_path / "docs")
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "an unrelated text about parquet manifests and buckets")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(src)

    q = eng.stream_dedup_ingest(src, str(tmp_path / "out"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    from airflow_postgres_etl_spark.sink import read_keyed_table

    kept = {r.doc_id for r in read_keyed_table(spark, str(tmp_path / "out" / "corpus")).collect()}
    assert kept == {1, 3}
    from airflow_postgres_etl_spark.operators.dedup import read_minhash_index

    assert read_minhash_index(spark, str(tmp_path / "out" / "index")).count() > 0


def test_engine_semantic_stream_surface(spark, tmp_path):
    """Engine.stream_semantic_ingest wires the vec_stream flow: the
    near-dup vector is rejected, the IVF index lands next to the corpus."""
    from airflow_postgres_etl_spark.api import Engine
    from airflow_postgres_etl_spark.operators.similarity import ivf_index_exists

    eng = Engine(spark)
    src = str(tmp_path / "vecs")
    spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.99, 0.01, 0.0, 0.0], 0),
            (3, [0.0, 1.0, 0.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(src)

    q = eng.stream_semantic_ingest(
        src, str(tmp_path / "out"), str(tmp_path / "ck"), threshold=0.9
    )
    q.awaitTermination(120)
    assert q.exception() is None
    from airflow_postgres_etl_spark.sink import read_keyed_table

    kept = {
        r.vec_id
        for r in read_keyed_table(
            spark, str(tmp_path / "out" / "corpus")
        ).collect()
    }
    assert kept == {1, 3}
    assert ivf_index_exists(str(tmp_path / "out" / "index"))


def test_readme_user_journey(spark, tmp_path, monkeypatch):
    """The README's 'User journey' code block runs VERBATIM: the doc is
    executable, not aspirational.  Extracted from README.md at test time
    so doc and test cannot drift apart."""
    import re
    from pathlib import Path

    readme = Path(__file__).resolve().parent.parent / "README.md"
    section = readme.read_text().split("## User journey", 1)[1]
    code = re.search(r"```python\n(.*?)```", section, re.DOTALL).group(1)

    # the example builds its own Engine(); reuse the test session so the
    # block stays copy-pasteable for users while the suite stays on one JVM
    import airflow_postgres_etl_spark.api as api

    monkeypatch.setattr(api, "get_spark", lambda *a, **k: spark)
    exec(compile(code, str(readme), "exec"), {})


def test_table_facade_covers_the_format_surface(spark, tmp_path):
    """Engine.table(): one handle drives merge (both modes), read with
    skipping, compaction, constraints, bloom index, views, and
    introspection — all delegating to the tested functions."""
    from airflow_postgres_etl_spark.api import Engine

    eng = Engine(spark)
    t = eng.table(str(tmp_path / "kv"))
    t.merge(spark.createDataFrame(
        [(f"k{i}", f"tag{i}", float(i)) for i in range(40)],
        ["oid__id", "tag", "v"],
    ), num_buckets=4, stats_cols=["v"], vacuum=False)
    assert t.version() == 1 and t.history() == [1]

    t.add_constraint("v_nonneg", "v >= 0")
    import pytest as _pytest

    from airflow_postgres_etl_spark.sink import ConstraintViolation

    with _pytest.raises(ConstraintViolation):
        t.merge(spark.createDataFrame([("x", "t", -1.0)], ["oid__id", "tag", "v"]))

    t.merge_mor(spark.createDataFrame([("k1", "fresh", 99.0)], ["oid__id", "tag", "v"]),
                num_buckets=4)
    assert t.delta_depth() == 1
    assert {r.tag for r in t.lookup(["k1"]).collect()} == {"fresh"}
    assert t.compact() >= 1 and t.delta_depth() == 0

    t.add_bloom_index("tag")
    hit = t.read(where_eq=("tag", "tag7"))
    assert [r.oid__id for r in hit.collect()] == ["k7"]

    r = t.refresh_view(str(tmp_path / "mv"), ["tag"], ["v"])
    assert r["mode"] == "full"
    assert t.read_view(str(tmp_path / "mv")).count() == 40

    d = t.describe()
    assert d["version"] == t.version() and d["dirty_buckets"] == 0
    assert t.constraints() == {"v_nonneg": "v >= 0"}
    assert t.changes(1).count() >= 1


def test_timestamp_as_of_travel(spark, tmp_path):
    """TIMESTAMP AS OF: resolve to the last version committed at or
    before the requested time — epoch float and ISO string forms, the
    before-first-commit error, the version=/as_of= exclusivity, and the
    pre-feature-manifest (no committed_at) fallback."""
    import json
    import time

    import pytest

    from airflow_postgres_etl_spark import sink

    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        key="k", num_buckets=4,
    )
    time.sleep(0.05)
    t_between = time.time()
    time.sleep(0.05)
    t.merge(
        spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
        key="k",
    )

    v1 = {(1, "a"), (2, "b")}
    cur = {(1, "a"), (2, "B"), (3, "c")}
    assert {(r.k, r.v) for r in t.read(as_of=t_between).collect()} == v1
    assert {(r.k, r.v) for r in t.read(as_of=time.time()).collect()} == cur

    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(t_between, tz=timezone.utc).isoformat()
    assert {(r.k, r.v) for r in t.read(as_of=iso).collect()} == v1
    # naive ISO strings read as UTC (the session's pinned zone)
    naive = datetime.fromtimestamp(t_between, tz=timezone.utc).replace(
        tzinfo=None
    ).isoformat()
    assert {(r.k, r.v) for r in t.read(as_of=naive).collect()} == v1

    with pytest.raises(ValueError, match="no snapshot"):
        t.read(as_of=t_between - 3600)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, as_of=t_between)

    # pre-feature manifest: strip committed_at from v1's snapshot — it
    # must stay eligible at ANY requested time (it IS the oldest commit)
    p = os.path.join(str(tmp_path / "t"), "_manifest.v1.json")
    m = json.load(open(p))
    del m["committed_at"]
    json.dump(m, open(p, "w"))
    assert sink.resolve_as_of(str(tmp_path / "t"), t_between - 3600) == 1


def test_describe_history_operations(spark, tmp_path):
    """DESCRIBE HISTORY: each surviving snapshot reports the USER-level
    operation that committed it (outermost entry point wins — an
    apply_changes_scd2 call's internal merges stamp the user's verb,
    the Delta convention), plus the commit timestamp; pre-feature
    manifests (no stamp) degrade to "commit" / None."""
    import json

    from airflow_postgres_etl_spark import sink

    t = Engine(spark).table(str(tmp_path / "h"))
    t.merge(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        key="k", num_buckets=4,
    )
    t.merge(spark.createDataFrame([(3, "c")], "k long, v string"), key="k")
    t.delete_where("v = 'b'")
    t.restore(1)

    hist = t.history_detail()
    assert [h["version"] for h in hist] == [1, 2, 3, 4]
    assert [h["operation"] for h in hist] == [
        "merge", "merge", "delete_where", "restore",
    ]
    assert all(isinstance(h["committed_at"], float) for h in hist)
    # size metrics: exact row counts per snapshot; the delete_where
    # version carries a pending MOR tombstone, so its count is honestly
    # None (exact-or-nothing), and the restore re-points at v1's 2 rows
    assert [h["total_rows"] for h in hist] == [2, 3, None, 2]
    assert all(h["num_files"] > 0 for h in hist)
    # timestamps are monotone non-decreasing across commits
    stamps = [h["committed_at"] for h in hist]
    assert stamps == sorted(stamps)

    # a composite entry point stamps ITS name, not its internal merges'
    scd = str(tmp_path / "scd")
    ch = spark.createDataFrame(
        [(1, 10, "x", "U"), (2, 10, "y", "U")], "k long, seq long, v string, op string"
    )
    sink.apply_changes_scd2(spark, scd, ch, seq_col="seq", track_cols=["v"],
                            key="k", num_buckets=4)
    ops = {h["operation"] for h in sink.table_history_detail(scd)}
    assert ops == {"apply_changes_scd2"}

    # pre-feature manifest: strip the stamp — reports the degraded form
    p = os.path.join(str(tmp_path / "h"), "_manifest.v1.json")
    m = json.load(open(p))
    del m["operation"], m["committed_at"]
    json.dump(m, open(p, "w"))
    h1 = t.history_detail()[0]
    assert h1["operation"] == "commit" and h1["committed_at"] is None


def test_metadata_only_table_stats(spark, tmp_path):
    """Table.stats(): exact COUNT(*) and tracked-column min/max/nulls
    straight from the manifest — no data scan — going None (never an
    estimate) exactly when it can't be exact: pending MOR deltas, or a
    live file with no recorded count (pre-feature manifest)."""
    import json

    from airflow_postgres_etl_spark import sink

    t = Engine(spark).table(str(tmp_path / "s"))
    t.merge(
        spark.createDataFrame(
            [(i, float(i), None if i % 3 == 0 else f"u{i}") for i in range(50)],
            "k long, v double, u string",
        ),
        key="k", num_buckets=4, stats_cols=["v", "u"], vacuum=False,
    )
    s = t.stats()
    assert s["clean"] and s["row_count"] == 50
    assert s["columns"]["v"] == {"min": 0.0, "max": 49.0, "null_count": 0}
    assert s["columns"]["u"]["null_count"] == 17  # 0,3,...,48

    # replace-by-key keeps the count exact (10 replaced, 1 new)
    t.merge(
        spark.createDataFrame(
            [(k, float(k) * 2, "x") for k in range(0, 51, 5)],
            "k long, v double, u string",
        ),
        key="k",
    )
    s = t.stats()
    assert s["row_count"] == 51 == t.read().count()
    assert s["columns"]["v"]["max"] == 100.0

    # a pending MOR delta makes file sums unsound -> None, not a guess
    t.merge_mor(
        spark.createDataFrame([(1, 7.0, "y")], "k long, v double, u string"),
        key="k",
    )
    s = t.stats()
    assert s["clean"] is False and s["row_count"] is None
    assert t.compact() >= 1 and t.stats()["row_count"] == 51

    # pre-feature manifest: drop one file's count -> None (exact or nothing)
    p = str(tmp_path / "s" / "_manifest.json")
    m = json.load(open(p))
    m["rows"].popitem()
    json.dump(m, open(p, "w"))
    assert sink.table_stats(str(tmp_path / "s"))["row_count"] is None


def test_table_stats_unrecorded_range_is_unknown_not_null(spark, tmp_path):
    """A stats column whose footer range can't be recorded (here a date)
    is unknown, not all-null: table_stats omits it rather than report
    min/max None.  An all-null file still leaves the other files'
    bounds standing."""
    import datetime

    from airflow_postgres_etl_spark import sink

    t = str(tmp_path / "d")
    sink.keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [(i, datetime.date(2024, 1, 1 + i), None) for i in range(20)],
            "k long, d date, u string",
        ),
        t,
        key="k",
        num_buckets=2,
        stats_cols=["d", "u"],
    )
    cols = sink.table_stats(t)["columns"]
    assert "d" not in cols
    assert cols["u"] == {"min": None, "max": None, "null_count": 20}

    # bucket 0 gets values, bucket 1 stays all-null
    b0 = [
        r.k
        for r in sink.read_keyed_table(spark, t)
        .select("k", sink._bucket_expr("k", 2).alias("b"))
        .collect()
        if r.b == 0
    ]
    sink.keyed_overwrite_parquet(
        spark,
        spark.createDataFrame(
            [(k, datetime.date(2024, 1, 1), f"u{k:02d}") for k in b0],
            "k long, d date, u string",
        ),
        t,
        key="k",
    )
    want = sorted(f"u{k:02d}" for k in b0)
    assert sink.table_stats(t)["columns"]["u"] == {
        "min": want[0],
        "max": want[-1],
        "null_count": 20 - len(b0),
    }


def test_auto_compact_bounds_delta_depth(spark, tmp_path):
    """merge_mor(auto_compact_depth=N): the delta chain self-compacts at
    depth N — read amplification stays bounded with no maintenance
    scheduler, content equals the plain sequential merges, and the
    compaction lands as its own history commit (like OPTIMIZE)."""
    t = Engine(spark).table(str(tmp_path / "ac"))
    t.merge(
        spark.createDataFrame([(i, 0) for i in range(12)], "k long, v long"),
        key="k", num_buckets=2, vacuum=False,
    )
    # same key every time: every delta hits ONE bucket, so the
    # (per-bucket) depth advances deterministically 1,2,3->compact,...
    for i in range(1, 7):
        t.merge_mor(
            spark.createDataFrame([(1, i * 10)], "k long, v long"),
            key="k", auto_compact_depth=3,
        )
        assert t.delta_depth() < 3  # the chain never outgrows the bound
    got = {(r.k, r.v) for r in t.read().collect()}
    exp = {(1, 60)} | {(i, 0) for i in range(12) if i != 1}
    assert got == exp
    ops = [h["operation"] for h in t.history_detail()]
    assert ops.count("compact") == 2 and ops.count("merge_mor") == 6


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path):
    """VACUUM DRY RUN: the candidate list names exactly the files the
    real vacuum then deletes — and the dry run itself touches nothing
    (every listed file still exists afterwards)."""
    t = Engine(spark).table(str(tmp_path / "v"))
    t.merge(
        spark.createDataFrame([(i, 0) for i in range(20)], "k long, v long"),
        key="k", num_buckets=2, vacuum=False,
    )
    t.merge(
        spark.createDataFrame([(1, 9)], "k long, v long"),
        key="k", vacuum=False,
    )
    # inside the retention window nothing is eligible
    assert t.vacuum(dry_run=True) == []
    cand = t.vacuum(retention_s=0, dry_run=True)
    assert cand, "the superseded bucket's files must be eligible"
    for rel in cand:
        assert os.path.exists(os.path.join(str(tmp_path / "v"), rel))
    # the real vacuum deletes exactly the listed data files
    assert t.vacuum(retention_s=0) == len(cand)
    for rel in cand:
        assert not os.path.exists(os.path.join(str(tmp_path / "v"), rel))
    # table unharmed
    assert t.read().count() == 20 and t.stats()["row_count"] == 20


def test_table_register_sql_surface(spark, tmp_path):
    """Table.register exposes the resolved snapshot (MOR precedence
    applied) to Engine.sql; re-registering after a commit shows the new
    snapshot."""
    eng = Engine(spark)
    t = eng.table(str(tmp_path / "r"))
    t.merge(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        key="k", num_buckets=2, vacuum=False,
    )
    t.merge_mor(spark.createDataFrame([(2, "B")], "k long, v string"), key="k")
    t.register("kv")
    got = {(r.k, r.v) for r in eng.sql("SELECT k, v FROM kv").collect()}
    assert got == {(1, "a"), (2, "B")}  # the delta row wins via precedence
    t.merge(spark.createDataFrame([(3, "c")], "k long, v string"), key="k")
    t.register("kv")
    assert eng.sql("SELECT count(*) AS n FROM kv").collect()[0].n == 3


def test_expire_snapshots(spark, tmp_path):
    """expire_snapshots drops the time-travel index, never data or the
    current version; expired reads/restores raise the documented error;
    history shrinks; vacuum semantics are untouched."""
    import pytest as _pytest

    from airflow_postgres_etl_spark.api import Engine

    t = Engine(spark).table(str(tmp_path / "t"))
    for i in range(1, 6):  # versions 1..5
        t.merge(
            spark.createDataFrame([("k", i)], "oid__id string, v long"),
            key="oid__id", num_buckets=2, vacuum=False,
        )
    assert t.history() == [1, 2, 3, 4, 5]

    with _pytest.raises(ValueError):
        t.expire_snapshots()  # must pass a policy

    assert t.expire_snapshots(keep_last=2) == 3
    assert t.history() == [4, 5]
    # current state unaffected; kept snapshot still readable
    assert t.read().collect()[0]["v"] == 5
    assert t.read(version=4).collect()[0]["v"] == 4
    with _pytest.raises(FileNotFoundError):
        t.read(version=2).collect()
    with _pytest.raises(FileNotFoundError):
        t.restore(2)

    # older_than_s in the future expires nothing more
    assert t.expire_snapshots(keep_last=1, older_than_s=3600) == 0
    assert t.history() == [4, 5]
    # both policies: beyond keep_last AND old enough
    assert t.expire_snapshots(keep_last=1, older_than_s=0) == 1
    assert t.history() == [5]
    # the current version never expires
    assert t.expire_snapshots(keep_last=1, older_than_s=0) == 0


def test_maintain_policy(spark, tmp_path):
    """Table.maintain runs only what the thresholds demand, in order:
    compact (delta depth), optimize (file count), vacuum, expire."""
    from airflow_postgres_etl_spark.api import Engine

    t = Engine(spark).table(str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([("a", 0), ("b", 0)], "oid__id string, v long"),
        key="oid__id", num_buckets=2, vacuum=False,
    )
    # build up MOR depth 3 on one key's bucket + append-file debt
    for i in range(1, 4):
        t.merge_mor(
            spark.createDataFrame([("a", i)], "oid__id string, v long"),
            key="oid__id",
        )
    for i in range(5):
        t.append(
            spark.createDataFrame([(f"n{i}", i)], "oid__id string, v long"),
            verify_new=False,
        )
    assert t.delta_depth() == 3

    out = t.maintain(
        max_delta_depth=3, max_files_per_bucket=1,
        retention_s=0, keep_snapshots=2,
    )
    assert "compacted" in out and out["compacted"] >= 1
    assert "optimized" in out and out["optimized"] >= 1
    assert out["vacuumed_files"] >= 1
    assert out["expired_snapshots"] >= 1
    assert t.delta_depth() == 0
    assert t.describe()["max_files_per_bucket"] == 1
    # retention_s=0 lets vacuum's own retention pass expire even the
    # kept snapshot manifests; the current version always survives
    assert t.history() == [t.version()]
    # data unchanged by maintenance
    got = {r["oid__id"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 3, "b": 0, **{f"n{i}": i for i in range(5)}}

    # healthy table: nothing triggers, state untouched
    v = t.version()
    out2 = t.maintain(retention_s=0)
    assert "compacted" not in out2 and "optimized" not in out2
    assert out2["vacuumed_files"] == 0 and t.version() == v


def test_ambient_ivf_policy_via_maintain(spark, tmp_path):
    """r10 (VERDICT r9 task 4): the drift-gate pattern applied to the
    vector surface.  set_ivf_policy stores the refresh policy in the
    table manifest (rides the commit carry); maintain() is a JSON-read
    no-op below the staleness threshold, and above it rebuilds the
    quantizer from the live table and re-passes the recall gate."""
    import pytest

    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.api import Table
    from airflow_postgres_etl_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_appended_fraction,
        seed_centroids,
    )

    target = str(tmp_path / "vecs")
    idx = str(tmp_path / "ivf")

    def vdf(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.1, 0.9, 0.0, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.9, 0.1]),
    ]
    df = vdf(base)
    sink.keyed_overwrite_parquet(
        spark, df, target, key="vec_id", num_buckets=2, vacuum=False
    )
    build_ivf_index(
        df, idx, n_cells=2,
        centroids=seed_centroids(df, 2, "vec_id", "embedding"),
    )
    t = Table(spark, target)
    # recall gate with probes >= n_cells scans every cell: IVF == exact,
    # the gate is deterministic at 1.0
    v = t.set_ivf_policy(
        idx, max_appended_fraction=0.2, recall_k=2, recall_queries=4,
        min_recall=0.9,
    )
    assert t.ivf_policy()["index_path"] == idx

    # below threshold: meta-only probe, no rebuild
    out = t.maintain(retention_s=0.0)
    assert out["ivf"] == {
        "index_path": idx, "appended_fraction": 0.0, "rebuilt": False,
    }

    # drift the index: append 3 of 9 vectors (fraction 1/3 > 0.2); the
    # policy survives the data commits via the manifest carry
    extra = [
        (7, [0.0, 0.0, 0.0, 1.0]),
        (8, [0.0, 0.0, 0.1, 0.9]),
        (9, [0.5, 0.5, 0.0, 0.0]),
    ]
    sink.keyed_append(spark, vdf(extra), target, key="vec_id", verify_new=False)
    append_to_ivf_index(vdf(extra), idx)
    assert sink.table_version(target) > v
    assert t.ivf_policy()["index_path"] == idx  # carried, not re-armed
    assert ivf_appended_fraction(idx) == pytest.approx(1 / 3)

    out2 = t.maintain(retention_s=0.0)
    assert out2["ivf"]["rebuilt"] is True
    assert out2["ivf"]["recall_at_k"] >= 0.9
    assert ivf_appended_fraction(idx) == 0.0  # counter reset by rebuild
    # idempotent: next maintain is a no-op again
    out3 = t.maintain(retention_s=0.0)
    assert out3["ivf"]["rebuilt"] is False

    # disarm
    t.set_ivf_policy(None)
    assert t.ivf_policy() is None
    assert "ivf" not in t.maintain(retention_s=0.0)


def test_ivf_policy_rename_follows_drop_blocks(spark, tmp_path, monkeypatch):
    """The policy interacts with column mapping exactly like the drift
    rules: rename of the vector column rewrites it, drop of a
    referenced column is rejected, and a failed recall re-gate raises."""
    import pytest

    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.api import Table
    from airflow_postgres_etl_spark.operators import similarity as S

    target = str(tmp_path / "vecs")
    idx = str(tmp_path / "ivf")
    df = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)], i) for i in range(6)],
        "vec_id long, embedding array<float>, aux long",
    )
    sink.keyed_overwrite_parquet(
        spark, df, target, key="vec_id", num_buckets=2, vacuum=False
    )
    S.build_ivf_index(
        df, idx, n_cells=2,
        centroids=S.seed_centroids(df, 2, "vec_id", "embedding"),
    )
    t = Table(spark, target)
    t.set_ivf_policy(idx, max_appended_fraction=0.2, recall_k=2,
                     recall_queries=3, min_recall=0.9)

    # arming against a missing column fails loudly
    with pytest.raises(ValueError, match="missing columns"):
        t.set_ivf_policy(idx, vec_col="nope")
    # a zero-probe recall gate would vacuously pass forever — rejected
    with pytest.raises(ValueError, match="recall_k and recall_queries"):
        t.set_ivf_policy(idx, recall_queries=0)
    with pytest.raises(ValueError, match="recall_k and recall_queries"):
        t.set_ivf_policy(idx, recall_k=0)

    sink.rename_column(spark, target, "embedding", "emb")
    assert t.ivf_policy()["vec_col"] == "emb"
    with pytest.raises(ValueError, match="ambient IVF"):
        sink.drop_column(spark, target, "emb")

    # drift it, then force the gate to fail: the maintain raises
    extra = spark.createDataFrame(
        [(10, [0.5, 0.5, 0.0, 0.0], 10), (11, [0.0, 0.5, 0.5, 0.0], 11),
         (12, [0.0, 0.0, 0.5, 0.5], 12)],
        "vec_id long, emb array<float>, aux long",
    )
    sink.keyed_append(spark, extra, target, key="vec_id", verify_new=False)
    # the INDEX keeps the column name it was built with ("embedding");
    # only the TABLE read is logical — maintain passes vec_col from the
    # policy and the rebuild re-labels the index from the corpus
    S.append_to_ivf_index(
        extra.withColumnRenamed("emb", "embedding"), idx
    )

    def empty_knn(queries, *a, **kw):
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double"
        )

    monkeypatch.setattr(S, "knn_against_index", empty_knn)
    with pytest.raises(S.IndexRecallError, match="recall gate BEFORE swap"):
        t.maintain(retention_s=0.0)
    # r11 staged rebuild: the failed generation never went live — the
    # live index is untouched and STILL flagged stale, so the next
    # maintain re-trips loudly instead of reporting healthy
    assert S.ivf_appended_fraction(idx) > 0.2
    with pytest.raises(S.IndexRecallError, match="recall gate BEFORE swap"):
        t.maintain(retention_s=0.0)
    # honest gate again: the rebuild succeeds, swaps, resets the counter
    monkeypatch.undo()
    out = t.maintain(retention_s=0.0)
    assert out["ivf"]["rebuilt"] is True
    assert S.ivf_appended_fraction(idx) == 0.0


def test_clone_does_not_inherit_ivf_or_drift_policy(spark, tmp_path):
    """A shallow clone is a new table to every ambient policy: the IVF
    policy points at the SOURCE's index (a clone maintaining it would
    rebuild the source's index from clone data), and the drift rules
    are the source pipeline's contract — neither may travel.  Pinned
    here because the carry is structural (clone's fresh dest has no tip
    to carry from), and a refactor of the carry must not change it."""
    import pytest

    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.api import Table
    from airflow_postgres_etl_spark.operators import similarity as S
    from airflow_postgres_etl_spark.operators.expectations import (
        expect_distribution,
    )

    src_t = str(tmp_path / "src")
    idx = str(tmp_path / "ivf")
    df = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    sink.keyed_overwrite_parquet(
        spark, df, src_t, key="vec_id", num_buckets=2, vacuum=False
    )
    S.build_ivf_index(
        df, idx, n_cells=2,
        centroids=S.seed_centroids(df, 2, "vec_id", "embedding"),
    )
    t = Table(spark, src_t)
    t.set_ivf_policy(idx, recall_k=2, recall_queries=3)
    t.set_drift_policy(
        [expect_distribution("r0", "vec_id", edges=[3.0], probs=[0.5, 0.5])]
    )
    dest = str(tmp_path / "clone")
    sink.clone_keyed_table(src_t, dest)
    assert sink.ivf_policy(dest) is None
    assert sink.drift_policy(dest) is None
    # ...and the source keeps both
    assert sink.ivf_policy(src_t)["index_path"] == idx
    assert sink.drift_policy(src_t) is not None

def test_minhash_policy_maintain_compacts(spark, tmp_path):
    """Ambient MinHash compaction (r11): the stored policy rides the
    manifest carry, maintain is a one-JSON-read no-op below the
    staleness threshold, and above it re-derives the band table from
    the live corpus (hot-band cap re-applied globally) and resets the
    appended counter via the manifest swap."""
    import pytest

    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.api import Table
    from airflow_postgres_etl_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        dedup_against_index,
        minhash_appended_fraction,
    )

    target = str(tmp_path / "docs")
    idx = str(tmp_path / "mh")

    def ddf(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = ddf([
        (1, "the quick brown fox jumps over the lazy dog by the river"),
        (2, "an entirely different document about parquet manifests"),
        (3, "a third text concerning z-order clustering and blooms"),
    ])
    sink.keyed_overwrite_parquet(
        spark, base, target, key="doc_id", num_buckets=2, vacuum=False
    )
    build_minhash_index(base, idx)
    t = Table(spark, target)
    v = t.set_minhash_policy(idx, max_appended_fraction=0.25)
    assert t.minhash_policy()["index_path"] == idx
    assert t.minhash_policy()["shingle_n"] == 3

    # below threshold: meta-only probe
    out = t.maintain(retention_s=0.0)
    assert out["minhash"] == {
        "index_path": idx, "appended_fraction": 0.0, "compacted": False,
        "vacuumed_dirs": 0,
    }

    # drift it: append 2 of 5 docs (0.4 > 0.25); the policy survives
    # the data commits via the manifest carry
    extra = ddf([
        (4, "a novel fourth document on watermark semantics in streams"),
        (5, "the fifth text answers questions about recall gates"),
    ])
    sink.keyed_append(spark, extra, target, key="doc_id", verify_new=False)
    append_to_minhash_index(extra, idx)
    assert sink.table_version(target) > v
    assert t.minhash_policy()["index_path"] == idx  # carried
    assert minhash_appended_fraction(idx) == pytest.approx(2 / 5)

    out2 = t.maintain(retention_s=0.0)
    assert out2["minhash"]["compacted"] is True
    assert minhash_appended_fraction(idx) == 0.0  # counter reset by swap
    # the compaction-retired data dir reclaimed on the table's own
    # retention schedule (one maintain, both surfaces)
    assert out2["minhash"]["vacuumed_dirs"] == 1
    # idempotent: next maintain is a no-op again
    out3 = t.maintain(retention_s=0.0)
    assert out3["minhash"]["compacted"] is False
    assert out3["minhash"]["vacuumed_dirs"] == 0

    # the compacted index still answers: an exact duplicate of doc 4
    # dedups away, a novel doc survives
    probe = ddf([
        (14, "a novel fourth document on watermark semantics in streams"),
        (15, "completely unrelated musings on geo radius joins"),
    ])
    kept = {r.doc_id for r in dedup_against_index(probe, idx).collect()}
    assert kept == {15}

    # disarm
    t.set_minhash_policy(None)
    assert t.minhash_policy() is None
    assert "minhash" not in t.maintain(retention_s=0.0)

    # a clone is a new table to the policy, same as drift/IVF
    t.set_minhash_policy(idx)
    dest = str(tmp_path / "clone")
    sink.clone_keyed_table(target, dest)
    assert sink.minhash_policy(dest) is None


def test_minhash_policy_rename_follows_drop_blocks(spark, tmp_path):
    """Column-mapping interaction, same contract as the drift and IVF
    policies: rename of a referenced column rewrites the stored policy,
    drop of one is rejected, arming validates columns and index."""
    import pytest

    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.api import Table
    from airflow_postgres_etl_spark.operators.dedup import (
        build_minhash_index,
    )

    target = str(tmp_path / "docs")
    idx = str(tmp_path / "mh")
    df = spark.createDataFrame(
        [(1, "some text here", 7), (2, "other text there", 8)],
        "doc_id long, text string, aux long",
    )
    sink.keyed_overwrite_parquet(
        spark, df, target, key="doc_id", num_buckets=2, vacuum=False
    )
    build_minhash_index(df, idx)
    t = Table(spark, target)

    # arming validates: missing column, missing index, bad params
    with pytest.raises(ValueError, match="missing columns"):
        t.set_minhash_policy(idx, text_col="nope")
    with pytest.raises(FileNotFoundError, match="no MinHash index"):
        t.set_minhash_policy(str(tmp_path / "absent"))
    with pytest.raises(ValueError, match="max_appended_fraction"):
        t.set_minhash_policy(idx, max_appended_fraction=0.0)
    with pytest.raises(ValueError, match="shingle_n"):
        t.set_minhash_policy(idx, shingle_n=0)
    with pytest.raises(ValueError, match="max_band_size"):
        t.set_minhash_policy(idx, max_band_size=0)

    t.set_minhash_policy(idx, max_band_size=64)
    sink.rename_column(spark, target, "text", "body")
    assert t.minhash_policy()["text_col"] == "body"
    with pytest.raises(ValueError, match="ambient MinHash"):
        sink.drop_column(spark, target, "body")
    # unreferenced columns still drop fine
    sink.drop_column(spark, target, "aux")


def test_failing_ivf_gate_does_not_starve_minhash_maintenance(
    spark, tmp_path, monkeypatch
):
    """r11 review: maintain runs the MinHash policy BEFORE the IVF one.
    The IVF recall gate raises on EVERY maintain until its corpus or
    policy is fixed (by design); were it ordered first, an armed
    MinHash policy would never compact and its retired dirs would never
    vacuum — unbounded band-table drift and disk growth behind an
    unrelated alarm."""
    import pytest

    from airflow_postgres_etl_spark import sink
    from airflow_postgres_etl_spark.api import Table
    from airflow_postgres_etl_spark.operators import similarity as S
    from airflow_postgres_etl_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        minhash_appended_fraction,
    )

    target = str(tmp_path / "corpus")
    mh, ivf = str(tmp_path / "mh"), str(tmp_path / "ivf")

    def cdf(rows):
        return spark.createDataFrame(
            [(i, t, [float(x) for x in v]) for i, t, v in rows],
            "doc_id long, text string, embedding array<float>",
        )

    base = cdf([
        (1, "the quick brown fox jumps over the lazy dog", [1.0, 0.0]),
        (2, "a different document about parquet manifests", [0.9, 0.1]),
        (3, "a third text concerning z-order and blooms", [0.0, 1.0]),
        (4, "completely unrelated prose about geo joins", [0.1, 0.9]),
    ])
    sink.keyed_overwrite_parquet(
        spark, base, target, key="doc_id", num_buckets=2, vacuum=False
    )
    build_minhash_index(base, mh)
    S.build_ivf_index(
        base, ivf, n_cells=2, id_col="doc_id",
        centroids=S.seed_centroids(base, 2, "doc_id", "embedding"),
    )
    t = Table(spark, target)
    t.set_minhash_policy(mh, max_appended_fraction=0.25)
    t.set_ivf_policy(
        ivf, id_col="doc_id", max_appended_fraction=0.25,
        recall_k=2, recall_queries=2, min_recall=0.9,
    )

    # drift BOTH indexes past their thresholds
    extra = cdf([
        (5, "new arrival about watermark semantics", [0.5, 0.5]),
        (6, "another late document on bucket pruning", [0.4, 0.6]),
    ])
    sink.keyed_append(spark, extra, target, key="doc_id", verify_new=False)
    append_to_minhash_index(extra, mh)
    S.append_to_ivf_index(extra, ivf, id_col="doc_id")
    assert minhash_appended_fraction(mh) > 0.25
    assert S.ivf_appended_fraction(ivf) > 0.25

    # force the IVF recall gate to fail: maintain must still RAISE...
    def empty_knn(queries, *a, **kw):
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double"
        )

    monkeypatch.setattr(S, "knn_against_index", empty_knn)
    with pytest.raises(S.IndexRecallError):
        t.maintain(retention_s=0.0)
    # ...but the MinHash compaction already LANDED this maintain
    assert minhash_appended_fraction(mh) == 0.0
