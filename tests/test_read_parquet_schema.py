"""read_parquet takes its schema from one footer read in the driver.

Spark's parquet schema inference runs a one-task job per read;
``scan_parquet`` reads the same footer with the same Spark code in the
driver instead. These tests pin that the schema equals what Spark infers
(apart from the TIMESTAMP(NANOS) repair), that the reads they cover
launch no job, that the inputs Spark must still infer keep their job,
and that a read neither reuses a stale footer nor resets the caller's
session confs."""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType, TimestampNTZType

from daft_spark.io.readers import load_table, read_parquet, register_views
from tests.conftest import SF_DIR


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _ns_columns(path):
    """Top-level TIMESTAMP(NANOS) columns of the first parquet file, by pyarrow."""
    first = path if os.path.isfile(path) else sorted(
        f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if "/_" not in f and "/." not in f
    )[0]
    return {
        f.name for f in pq.read_schema(first)
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    }


def _spark_schema(spark, path, **options):
    """Spark's inferred schema, with the ns repair applied."""
    ns = _ns_columns(path)
    return StructType([
        StructField(f.name, TimestampNTZType(), f.nullable) if f.name in ns else f
        for f in spark.read.options(**options).parquet(path).schema
    ])


@pytest.fixture(scope="module")
def datasets(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("footer_schema")
    out = {name: os.path.join(SF_DIR, name) for name in FIXTURES}

    # Spark-written, hive-partitioned by two columns, with _SUCCESS.
    part = str(root / "partitioned")
    spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, 1, i), decimal.Decimal(f"{i}.25"), [i, i + 1],
             datetime.date(2024, 1, 1 + i), f"r{i % 2}", i % 3)
            for i in range(6)
        ],
        "id long, ts timestamp_ntz, amount decimal(10,2), xs array<int>, d date, "
        "region string, bucket int",
    ).write.partitionBy("region", "bucket").parquet(part)
    assert os.path.exists(os.path.join(part, "_SUCCESS"))
    out["partitioned"] = part

    # Hidden directories that sort before the data and hold another schema.
    hidden = str(root / "hidden")
    os.makedirs(os.path.join(hidden, "_delta_log"))
    os.makedirs(os.path.join(hidden, ".staging-x"))
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), os.path.join(hidden, "part-0.parquet"))
    pq.write_table(pa.table({"z": [1.0]}), os.path.join(hidden, "_delta_log", "x.parquet"))
    pq.write_table(pa.table({"q": ["s"]}), os.path.join(hidden, ".staging-x", "y.parquet"))
    out["hidden"] = hidden

    # pyarrow-written TIMESTAMP(NANOS), the case the ns repair serves.
    ns = str(root / "ns")
    os.makedirs(ns)
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array([1_000_000_000, 2_000_000_000], pa.timestamp("ns"))}),
        os.path.join(ns, "part-0.parquet"),
    )
    out["ns"] = ns

    # Two files whose schemas only mergeSchema unions.
    merge = str(root / "merge")
    os.makedirs(merge)
    pq.write_table(pa.table({"a": [1]}), os.path.join(merge, "part-0.parquet"))
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), os.path.join(merge, "part-1.parquet"))
    out["merge"] = merge
    return out


FIXTURES = sorted(os.path.basename(p) for p in glob.glob(os.path.join(SF_DIR, "*.parquet")))
CASES = [*FIXTURES, "partitioned", "hidden", "ns"]


@pytest.mark.parametrize("name", CASES)
def test_schema_equals_spark_inference(spark, datasets, name):
    path = datasets[name]
    assert read_parquet(path, spark).schema == _spark_schema(spark, path)


def test_schema_raw_string_encoding(spark, datasets):
    path = datasets["partitioned"]
    want = StructType([
        StructField(f.name, BinaryType(), f.nullable) if f.dataType == StringType() else f
        for f in _spark_schema(spark, path)
    ])
    assert read_parquet(path, spark, string_encoding="raw").schema == want


def test_schema_merge_schema_read(spark, datasets):
    path = datasets["merge"]
    got = read_parquet(path, spark, mergeSchema=True).schema
    assert got == _spark_schema(spark, path, mergeSchema=True)
    assert got.names == ["a", "b"]


def test_load_and_register_launch_no_job(spark, datasets):
    assert _jobs(spark, "footer-load-table", lambda: load_table(spark, SF_DIR, "lineitem")) == 0
    assert _jobs(spark, "footer-register-views", lambda: register_views(spark, SF_DIR)) == 0
    assert _jobs(spark, "footer-partitioned", lambda: read_parquet(datasets["partitioned"], spark)) == 0
    # Spark's inference still decides a mergeSchema read, in its job.
    assert _jobs(
        spark, "footer-merge", lambda: read_parquet(datasets["merge"], spark, mergeSchema=True)
    ) >= 1


def test_rewritten_directory_reads_its_new_footer(spark, tmp_path):
    """The ns columns come from the footer of this call, not a cache."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    pq.write_table(
        pa.table({"ts": pa.array([5_000_000_000], pa.timestamp("ns"))}),
        os.path.join(path, "part-0.parquet"),
    )
    assert read_parquet(path, spark).collect()[0]["ts"] == datetime.datetime(1970, 1, 1, 0, 0, 5)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(pa.table({"ts": pa.array([5], pa.int64())}), os.path.join(path, "part-0.parquet"))
    df = read_parquet(path, spark)
    assert dict(df.dtypes)["ts"] == "bigint"
    assert df.collect()[0]["ts"] == 5


def test_read_keeps_the_callers_session_confs(spark):
    """Runtime confs are applied once per session, not on every read."""
    path = os.path.join(SF_DIR, "region.parquet")
    keys = ("spark.sql.session.timeZone", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        read_parquet(path, spark).select(F.count("*")).collect()
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    # A session the package has not read with is configured by its first read.
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.session.timeZone", "America/New_York")
    read_parquet(path, fresh)
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
