"""load_table and file_replay_stream give the reader the schema from
the table's footer, read in the driver, so neither runs a Spark job (Parquet schema inference
reads the footer in one job). The footer schema must be exactly the
schema Spark infers; where it cannot be, Spark infers it."""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from flink_user_behavior_analysis_spark import schemas
from flink_user_behavior_analysis_spark.sources import file_replay_stream, load_table
from flink_user_behavior_analysis_spark.sources.readers import _footer_schema


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), counted under a fresh job
    group once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"load-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_inferred(spark, path):
    """The footer schema reads as the schema Spark infers."""
    given = _footer_schema(spark, path)
    assert given is not None, path
    inferred = spark.read.parquet(path).schema
    assert spark.read.schema(given).parquet(path).schema == inferred, path


def test_load_runs_no_job_and_keeps_the_inferred_schema(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in schemas.TESTDATA_TABLES:
        df, n_jobs = _jobs(spark, lambda: load_table(spark, sf_dir, name))
        assert n_jobs == 0, name
        _assert_inferred(spark, f"{sf_dir}/{name}.parquet")
        assert df.count() == pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows
    # the replay stream takes the same footer schema
    stream, n_jobs = _jobs(spark, lambda: file_replay_stream(spark, sf_dir, "events"))
    assert n_jobs == 0
    assert stream.schema == load_table(spark, sf_dir, "events").schema


def test_nanos_events_and_directory_tables(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_000_999_999_999]
    events = pa.table({"event_id": pa.array([1, 2], pa.int64()),
                       "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(events, str(tmp_path / "events.parquet"), version="2.6",
                   coerce_timestamps=None)
    df, n_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert n_jobs == 0
    _assert_inferred(spark, str(tmp_path / "events.parquet"))
    got = df.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()
    assert [r.us for r in got] == [v // 1000 for v in ns]

    # a directory table, read again after it gains a file
    os.makedirs(tmp_path / "dir_t.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), str(tmp_path / "dir_t.parquet" / "a.parquet"))
    assert load_table(spark, str(tmp_path), "dir_t").count() == 2
    pq.write_table(pa.table({"x": [3]}), str(tmp_path / "dir_t.parquet" / "b.parquet"))
    df, n_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "dir_t"))
    assert n_jobs == 0
    assert sorted(r.x for r in df.collect()) == [1, 2, 3]
    _assert_inferred(spark, str(tmp_path / "dir_t.parquet"))


def test_inexact_footers_fall_back_to_inference(spark, tmp_path):
    """INT96 and unsigned columns have no exact Arrow mapping, and a
    Spark-written directory holds _SUCCESS and .crc files: Spark infers
    these as before, so the frame is what the plain reader returns."""
    pq.write_table(pa.table({"t": pa.array([1], pa.timestamp("ns"))}),
                   str(tmp_path / "int96.parquet"), use_deprecated_int96_timestamps=True)
    pq.write_table(pa.table({"u": pa.array([7], pa.uint32())}),
                   str(tmp_path / "uint.parquet"))
    spark.range(3).selectExpr("id", "timestamp_seconds(id) AS t").write.parquet(
        str(tmp_path / "spark_t.parquet"))
    for name in ("int96", "uint", "spark_t"):
        path = str(tmp_path / f"{name}.parquet")
        assert _footer_schema(spark, path) is None, name
        plain = spark.read.parquet(path)
        df = load_table(spark, str(tmp_path), name)
        assert df.schema == plain.schema, name
        assert sorted(df.collect()) == sorted(plain.collect()), name
