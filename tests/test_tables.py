"""Schema resolution in ``tables.load``: the resolved schema is the one
Spark infers, a repeated load launches no job, and a rewritten table or
a changed inference conf infers again."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from de_project_airflow_etl_spark import tables
from de_project_airflow_etl_spark.streaming.ingest import read_event_stream
from tests.harness import jobs_launched

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("sf", ("sf0.001", "sf0.01"))
@pytest.mark.parametrize("name", tables.TABLES)
def test_resolved_schema_equals_inferred(spark, sf_dir, sf, name):
    path = os.path.join(os.path.dirname(sf_dir), sf, f"{name}.parquet")
    inferred = spark.read.parquet(path).schema
    resolved = tables.resolve_schema(spark, path)
    assert resolved == inferred
    assert spark.read.schema(resolved).parquet(path).schema == inferred


def test_repeated_load_launches_no_job(spark, sf_dir, tmp_path):
    # a fresh path, so the first load below is the table's first
    src = os.path.join(sf_dir, "orders.parquet")
    os.symlink(src, tmp_path / "orders.parquet")
    _, first = jobs_launched(
        spark, lambda: tables.load(spark, str(tmp_path), "orders"))
    df, second = jobs_launched(
        spark, lambda: tables.load(spark, str(tmp_path), "orders"))
    assert first >= 1
    assert second == 0
    assert df.schema == spark.read.parquet(src).schema


def test_event_stream_reuses_resolved_schema(spark, sf_dir):
    tables.load(spark, sf_dir, "events")
    stream, jobs = jobs_launched(spark, lambda: read_event_stream(spark, sf_dir))
    assert jobs == 0
    assert stream.isStreaming
    # same columns and types as the batch table (the watermark only
    # adds column metadata)
    assert (stream.schema.simpleString()
            == tables.load(spark, sf_dir, "events").schema.simpleString())


def test_rewritten_directory_table_reinfers(spark, sf_dir, tmp_path):
    out = str(tmp_path / "documents.parquet")
    docs = tables.load(spark, sf_dir, "documents").limit(20)
    docs.write.parquet(out)
    assert "extra" not in tables.load(spark, str(tmp_path), "documents").columns
    docs.withColumn("extra", F.lit(7)).write.mode("overwrite").parquet(out)
    df = tables.load(spark, str(tmp_path), "documents")
    assert df.columns[-1] == "extra"
    assert [r.extra for r in df.select("extra").distinct().collect()] == [7]


def test_repeated_loads_self_join(spark, sf_dir):
    a = tables.load(spark, sf_dir, "lineitem")
    b = tables.load(spark, sf_dir, "lineitem")
    pairs = a.join(b, (a.l_orderkey == b.l_orderkey)
                   & (a.l_suppkey != b.l_suppkey)).count()
    per_order = a.groupBy("l_orderkey", "l_suppkey").count()
    n = per_order.groupBy("l_orderkey").agg(
        F.sum("count").alias("n"),
        F.sum(F.col("count") * F.col("count")).alias("n2"))
    want = n.select(F.sum(F.col("n") * F.col("n") - F.col("n2"))).first()[0]
    assert pairs == want > 0


def test_nanos_conf_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_999],
                       pa.timestamp("ns")),
    }), path)
    spark.conf.set(NANOS_AS_LONG, "true")
    assert isinstance(tables.resolve_schema(spark, path)["ts"].dataType,
                      T.LongType)
    try:
        spark.conf.set(NANOS_AS_LONG, "false")
        # the cached LongType schema must not be reused: Spark infers
        # again and rejects the nanosecond column without the conf
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            tables.resolve_schema(spark, path)
        # load turns the conf back on for events and normalises ts
        df = tables.load(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(NANOS_AS_LONG, "true")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert [r.ts.microsecond for r in df.orderBy("event_id").collect()] == [
        123456, 0]

