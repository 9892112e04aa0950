"""Source reads resolve their parquet schema on the driver: building a
testdata table, a registered query's plan or a view read launches no
Spark job, and the schema is the one Spark's own inference gives —
including the cases where ``footer_schema`` defers to that inference."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.errors import AnalysisException

from airflow_postgres_etl_spark.sources.parquet_source import (
    NANO_TS_COLUMNS,
    footer_schema,
    load_table,
)

from .conftest import SF_CORRECT


def _with_jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"srcjobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name", sorted(f[: -len(".parquet")] for f in os.listdir(SF_CORRECT))
)
def test_load_table_launches_no_job_and_keeps_sparks_schema(spark, name):
    path = os.path.join(SF_CORRECT, f"{name}.parquet")
    df, jobs = _with_jobs(spark, lambda: load_table(spark, SF_CORRECT, name))
    assert jobs == 0
    # load_table has set its confs on the session by now, so the bare
    # read below infers under the same ones
    bare = spark.read.parquet(path)
    assert footer_schema(spark, path) == bare.schema
    want = {
        c: "timestamp" if c in NANO_TS_COLUMNS.get(name, []) and t == "bigint" else t
        for c, t in bare.dtypes
    }
    assert dict(df.dtypes) == want


def test_load_table_converts_nanosecond_timestamps(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), None]
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2],
                "ts": pa.array(ts, pa.timestamp("us")).cast(pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    df, jobs = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    bare = spark.read.parquet(str(tmp_path / "events.parquet"))
    assert dict(bare.dtypes)["ts"] == "bigint"
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.orderBy("event_id").selectExpr("CAST(ts AS STRING) AS s").collect()
    assert [r.s for r in got] == ["2024-01-02 03:04:05.123456", None]


def test_registered_query_plan_builds_without_a_job(spark):
    from airflow_postgres_etl_spark.plans import QUERIES

    q5 = QUERIES["tpch_q5_revenue_by_nation"]
    df, jobs = _with_jobs(spark, lambda: q5(spark, SF_CORRECT))
    assert jobs == 0
    assert df.count() > 0


def test_view_read_after_refresh_launches_no_job(spark, tmp_path):
    from airflow_postgres_etl_spark.sink import keyed_overwrite_parquet
    from airflow_postgres_etl_spark.views import (
        read_aggregate_view,
        refresh_aggregate_view,
    )

    target, mv = str(tmp_path / "t"), str(tmp_path / "mv")
    rows = [(f"k{i}", f"g{i % 3}", float(i)) for i in range(30)]
    for batch in (rows, [("k1", "g0", 100.0), ("k99", "g4", 7.5)]):
        keyed_overwrite_parquet(
            spark,
            spark.createDataFrame(batch, ["oid__id", "grp", "v"]),
            target,
            num_buckets=4,
        )
        refresh_aggregate_view(spark, target, mv, ["grp"], ["v"])
        view, jobs = _with_jobs(spark, lambda: read_aggregate_view(spark, mv))
        assert jobs == 0
    got = {r.grp: r.n for r in view.collect()}
    assert got == {"g0": 11, "g1": 9, "g2": 10, "g4": 1}


def _two_schema_dir(spark, tmp_path):
    """A directory of two data files whose columns differ, ``a`` first
    in path order."""
    d = str(tmp_path / "mixed")
    spark.createDataFrame([(1, "x")], "id long, a string").coalesce(1).write.parquet(
        os.path.join(d, "part-a")
    )
    spark.createDataFrame([(2, 2.5)], "id long, b double").coalesce(1).write.parquet(
        os.path.join(d, "part-b")
    )
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for sub in ("part-a", "part-b"):
        for f in os.listdir(os.path.join(d, sub)):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(d, sub, f), os.path.join(flat, f"{sub}-{f}")
                )
    return flat


def test_footer_schema_defers_to_spark_when_merging_schemas(spark, tmp_path):
    flat = _two_schema_dir(spark, tmp_path)
    got, jobs = _with_jobs(spark, lambda: footer_schema(spark, flat))
    assert jobs == 0
    assert got.fieldNames() == ["id", "a"]
    assert got == spark.read.parquet(flat).schema
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        got, jobs = _with_jobs(spark, lambda: footer_schema(spark, flat))
        assert jobs > 0
        assert sorted(got.fieldNames()) == ["a", "b", "id"]
        assert got == spark.read.parquet(flat).schema
    finally:
        spark.conf.set("spark.sql.parquet.mergeSchema", "false")


def test_footer_schema_defers_to_spark_without_one_data_file(spark, tmp_path):
    # nothing to read: Spark's inference answers, with its own error
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        footer_schema(spark, str(empty))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        footer_schema(spark, str(tmp_path / "missing"))
    # a partitioned directory: discovery adds the partition column
    parted = str(tmp_path / "parted")
    spark.createDataFrame([(1, "p")], "id long, k string").write.partitionBy(
        "k"
    ).parquet(parted)
    got = footer_schema(spark, parted)
    assert got == spark.read.parquet(parted).schema
    assert got.fieldNames() == ["id", "k"]
    # a glob: Spark expands it, so "x[1].parquet" reads x1.parquet
    flat = _two_schema_dir(spark, tmp_path)
    a, b = sorted(os.listdir(flat))
    os.rename(os.path.join(flat, a), os.path.join(flat, "x[1].parquet"))
    os.rename(os.path.join(flat, b), os.path.join(flat, "x1.parquet"))
    pattern = os.path.join(flat, "x[1].parquet")
    assert footer_schema(spark, pattern).fieldNames() == ["id", "b"]
    assert footer_schema(spark, pattern) == spark.read.parquet(pattern).schema
