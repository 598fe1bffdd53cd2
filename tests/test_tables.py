"""load_table's schema memo: Spark infers a table's parquet schema once per
file version, and later scans of the same files pass it to the reader."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from tests.test_tfrecord import _jobs_fired
from videos_to_tfrecords_spark.sources.tables import load_table


def test_second_load_fires_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "lineitem")
    loaded = []
    load = lambda: loaded.append(load_table(spark, sf_dir, "lineitem"))  # noqa: E731
    assert _jobs_fired(spark, "memo-second-load", load) == 0
    # the memoized read is still a lazy file scan with pushdown
    plan = loaded[0].filter("l_quantity > 10").select("l_orderkey")._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    assert "FileScan parquet" in plan and "PushedFilters: [IsNotNull(l_quantity)" in plan


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), path)
    assert _jobs_fired(spark, "memo-first", lambda: load_table(spark, str(tmp_path), "t")) == 1
    assert load_table(spark, str(tmp_path), "t").schema.names == ["a"]

    pq.write_table(pa.table({"b": ["x", "y"], "c": [0.5, 1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema.names == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [("x", 0.5), ("y", 1.5)]


def test_directory_table_keys_on_its_files(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(table / "part-0.parquet"))
    assert load_table(spark, str(tmp_path), "t").schema.names == ["a"]

    os.remove(table / "part-0.parquet")
    pq.write_table(pa.table({"z": ["q"]}), str(table / "part-1.parquet"))
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema.names == ["z"] and df.collect()[0].z == "q"


def test_events_ts_is_micros_timestamp_on_memoized_path(spark, sf_dir, tmp_path):
    first = load_table(spark, sf_dir, "events").select("event_id", "ts")
    second = load_table(spark, sf_dir, "events").select("event_id", "ts")
    assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    assert sorted(second.collect()) == sorted(first.collect())

    # TIMESTAMP(NANOS) parquet: Spark reads it as a nanos long, load_table
    # truncates it to µs — on the first (inferring) and the memoized read
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        got = df.orderBy("event_id").selectExpr("unix_micros(ts) AS us").collect()
        assert [r.us for r in got] == [n // 1000 for n in ns]


def test_non_local_path_is_inferred_on_every_load(spark, tmp_path):
    # a URI has no local stat to version it by: every load infers
    pq.write_table(pa.table({"a": [7]}), str(tmp_path / "t.parquet"))
    uri = "file://" + str(tmp_path)
    for i in range(2):
        loaded = []
        load = lambda: loaded.append(load_table(spark, uri, "t"))  # noqa: E731
        assert _jobs_fired(spark, f"memo-uri-{i}", load) == 1
        assert loaded[0].collect()[0].a == 7
