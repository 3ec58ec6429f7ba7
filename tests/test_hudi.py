"""Pure-Python Hudi CoW support: timeline replay, append commits,
overwrite via replacecommit, mode gates, and the MoR/partitioned gates.
Reference surface: daft/io/hudi/_hudi.py:18 (read_hudi), hudi_scan.py
(latest-file-slice resolution)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _orders(spark):
    from daft_spark.io.readers import load_table

    return load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def test_hudi_append_roundtrip(spark, tmp_path):
    from daft_spark.io.hudi import read_hudi_py, write_hudi_py

    o = _orders(spark)
    path = str(tmp_path / "tbl")
    write_hudi_py(o.filter(F.col("o_orderkey") < 1000), path, mode="error")
    write_hudi_py(
        o.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)),
        path,
        mode="append",
    )
    back = read_hudi_py(path, spark)
    expect = o.filter(F.col("o_orderkey") < 2000)
    assert back.count() == expect.count()
    assert (
        back.join(expect, ["o_orderkey", "o_orderstatus", "o_totalprice"], "left_anti").count()
        == 0
    )
    # hoodie table structure on disk
    assert os.path.exists(os.path.join(path, ".hoodie", "hoodie.properties"))


def test_hudi_overwrite_replaces_file_groups(spark, tmp_path):
    from daft_spark.io.hudi import read_hudi_py, write_hudi_py

    o = _orders(spark)
    path = str(tmp_path / "tbl")
    write_hudi_py(o.filter(F.col("o_orderkey") < 500), path)
    write_hudi_py(o.filter(F.col("o_orderkey") >= 5000), path, mode="overwrite")
    back = read_hudi_py(path, spark)
    assert back.filter(F.col("o_orderkey") < 5000).count() == 0
    assert back.count() == o.filter(F.col("o_orderkey") >= 5000).count()
    # the replacecommit exists in the timeline
    assert any(
        f.endswith(".replacecommit") for f in os.listdir(os.path.join(path, ".hoodie"))
    )


def test_hudi_mode_gates_and_wrapper(spark, tmp_path):
    from daft_spark.io.hudi import write_hudi_py
    from daft_spark.io.lakehouse import read_hudi

    o = _orders(spark).limit(10)
    path = str(tmp_path / "tbl")
    write_hudi_py(o, path)
    with pytest.raises(FileExistsError):
        write_hudi_py(o, path, mode="error")
    write_hudi_py(o, path, mode="ignore")  # no-op
    assert read_hudi(path, spark).count() == 10  # wrapper routes to pure-python
    with pytest.raises(ValueError):
        write_hudi_py(o, path, mode="bogus")


def test_hudi_mor_gate(spark, tmp_path):
    from daft_spark.io.hudi import read_hudi_py, write_hudi_py

    o = _orders(spark).limit(5)
    path = str(tmp_path / "tbl")
    write_hudi_py(o, path)
    with open(os.path.join(path, ".hoodie", "20990101000000000.deltacommit"), "w"):
        pass
    with pytest.raises(NotImplementedError, match="merge-on-read"):
        read_hudi_py(path, spark)


def test_hudi_partitioned_roundtrip(spark, tmp_path):
    from daft_spark.io.hudi import read_hudi_py, write_hudi_py

    o = _orders(spark)
    path = str(tmp_path / "tbl")
    write_hudi_py(
        o.filter(F.col("o_orderkey") < 600), path, partition_by=["o_orderstatus"]
    )
    write_hudi_py(
        o.filter((F.col("o_orderkey") >= 600) & (F.col("o_orderkey") < 1200)),
        path, mode="append", partition_by=["o_orderstatus"],
    )
    back = read_hudi_py(path, spark)
    expect = o.filter(F.col("o_orderkey") < 1200)
    assert back.count() == expect.count()
    # partition columns survive in the data files
    assert sorted(back.columns) == ["o_orderkey", "o_orderstatus", "o_totalprice"]
    assert (
        back.join(expect, ["o_orderkey", "o_orderstatus", "o_totalprice"], "left_anti").count()
        == 0
    )
    # hive-style partition dirs at the table root
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(path))
    # overwrite retires ALL partitions' file groups
    write_hudi_py(o.filter(F.col("o_orderkey") >= 1400), path, mode="overwrite",
                  partition_by=["o_orderstatus"])
    back2 = read_hudi_py(path, spark)
    assert back2.count() == o.filter(F.col("o_orderkey") >= 1400).count()
    assert back2.filter(F.col("o_orderkey") < 1400).count() == 0


def test_hudi_record_key_upsert(spark, tmp_path):
    """mode='upsert': same-key rows replaced, new keys inserted, one
    replacecommit of the merged state; earlier instants preserved."""
    from pyspark.sql import types as T

    from daft_spark.io.hudi import read_hudi_py, write_hudi_py

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)],
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
        ),
    )
    path = str(tmp_path / "up")
    write_hudi_py(df, path, mode="upsert", record_key="id")  # first write = insert
    inc = spark.createDataFrame([(2, -2.0), (9, 9.0)], df.schema)
    write_hudi_py(inc, path, mode="upsert", record_key="id")
    got = {r["id"]: r["v"] for r in read_hudi_py(path, spark).collect()}
    assert got == {1: 1.0, 2: -2.0, 3: 3.0, 9: 9.0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="record_key"):
        write_hudi_py(inc, path, mode="upsert")


def test_hudi_upsert_preserves_partition_layout(spark, tmp_path):
    """Upsert without partition_by must keep the table's hive layout
    (derived from prior commits' partitionPath stats), not silently
    flatten it; an explicitly mismatched partition_by is an error."""
    import os

    import pytest
    from pyspark.sql import types as T

    from daft_spark.io.hudi import read_hudi_py, write_hudi_py

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)], schema
    )
    path = str(tmp_path / "up")
    write_hudi_py(df, path, mode="overwrite", partition_by=["grp"])
    inc = spark.createDataFrame([(2, "b", -2.0), (9, "c", 9.0)], schema)
    write_hudi_py(inc, path, mode="upsert", record_key="id")  # no partition_by
    got = {r["id"]: (r["grp"], r["v"]) for r in read_hudi_py(path, spark).collect()}
    assert got == {1: ("a", 1.0), 2: ("b", -2.0), 3: ("a", 3.0), 9: ("c", 9.0)}
    # hive dirs survived the rewrite, including the new partition
    dirs = {d for d in os.listdir(path) if d.startswith("grp=")}
    assert dirs == {"grp=a", "grp=b", "grp=c"}
    with pytest.raises(ValueError, match="partition"):
        write_hudi_py(inc, path, mode="upsert", record_key="id", partition_by=["v"])


def test_hudi_as_of_time_travel(spark, tmp_path):
    from daft_spark.io.hudi import hudi_timeline, read_hudi_py, write_hudi_py

    p = str(tmp_path / "tt")
    df1 = spark.range(10).select(F.col("id").alias("k"), F.lit("a").alias("s"))
    write_hudi_py(df1, p)
    t0 = hudi_timeline(p)[-1][0]
    # an upsert rewrites file groups; as_of must ignore the later slices
    upd = spark.range(5).select(F.col("id").alias("k"), F.lit("B").alias("s"))
    write_hudi_py(upd, p, mode="upsert", record_key="k")
    old = read_hudi_py(p, spark, as_of=t0)
    assert old.count() == 10 and old.filter(F.col("s") == "B").count() == 0
    cur = read_hudi_py(p, spark)
    assert cur.count() == 10 and cur.filter(F.col("s") == "B").count() == 5
    # pinning before the first instant has no state
    with pytest.raises(ValueError, match="no completed commits"):
        read_hudi_py(p, spark, as_of="0")


def test_hudi_append_rejects_schema_drift(spark, tmp_path):
    """Appends with extra OR missing columns are rejected: the reader's
    multi-file parquet scan needs uniform file schemas (an unpinned
    scan samples one footer, silently dropping drifted columns)."""
    import pytest

    from daft_spark.io.hudi import read_hudi_py, write_hudi_py

    p = str(tmp_path / "drift")
    write_hudi_py(
        spark.createDataFrame([(1, "a")], "id long, s string"), p, mode="overwrite"
    )
    with pytest.raises(ValueError, match="do not match the Hudi table schema"):
        write_hudi_py(
            spark.createDataFrame([(2, "b", 1.5)], "id long, s string, w double"),
            p, mode="append",
        )
    with pytest.raises(ValueError, match="do not match the Hudi table schema"):
        write_hudi_py(spark.createDataFrame([(3,)], "id long"), p, mode="append")
    write_hudi_py(
        spark.createDataFrame([(4, "d")], "id long, s string"), p, mode="append"
    )
    assert read_hudi_py(p, spark).count() == 2


# ---------------------------------------------------------------------------
# interop: REAL Hudi-written v6 fixtures (the reference's own test data,
# written by Apache Hudi/Spark — reading them proves the timeline replay
# parses the true on-disk format, not just this engine's writer output)

_FIXTURES = "/root/reference/tests/io/hudi/data"


def _extract(tmp_path, name):
    import zipfile

    zipfile.ZipFile(f"{_FIXTURES}/{name}.zip").extractall(str(tmp_path))
    return str(tmp_path / name)


@pytest.mark.parametrize(
    "name",
    [
        "v6_nonpartitioned",
        "v6_simplekeygen_nonhivestyle",
        "v6_simplekeygen_hivestyle_no_metafields",
        "v6_complexkeygen_hivestyle",
        "v6_timebasedkeygen_nonhivestyle",
    ],
)
def test_read_real_hudi_v6_fixture(spark, tmp_path, name):
    """Mirrors the reference's tests/io/hudi/test_table_read.py
    expectations over the same archives: Hudi meta columns lead the
    schema; row values (incl. dates and nested structs) decode
    exactly."""
    import datetime
    import os as _os

    if not _os.path.isdir(_FIXTURES):
        pytest.skip("reference fixtures unavailable")
    from daft_spark.io.hudi import read_hudi_py

    df = read_hudi_py(_extract(tmp_path, name), spark)
    assert df.columns[:8] == [
        "_hoodie_commit_time",
        "_hoodie_commit_seqno",
        "_hoodie_record_key",
        "_hoodie_partition_path",
        "_hoodie_file_name",
        "id",
        "name",
        "isActive",
    ]
    rows = sorted(
        df.select("name", "isActive", "dateField", "structField").collect(),
        key=lambda r: r["name"],
    )
    assert [r["name"] for r in rows] == ["Alice", "Bob", "Carol", "Diana"]
    assert [r["isActive"] for r in rows] == [False, False, True, True]
    assert [r["dateField"] for r in rows] == [
        datetime.date(2023, 4, d) for d in (1, 2, 3, 4)
    ]
    alice = rows[0]["structField"]
    assert alice["field1"] == "Alice" and alice["field2"] == 30
    assert alice["child_struct"]["child_field1"] == 123.456
    assert alice["child_struct"]["child_field2"] is True


def test_real_hudi_fixture_time_travel(spark, tmp_path):
    """as.of.instant time travel over the REAL two-commit archive: the
    first instant shows the 3-row initial insert, the second the 4-row
    state — the timeline replay pins genuine Hudi commit instants."""
    import os as _os

    if not _os.path.isdir(_FIXTURES):
        pytest.skip("reference fixtures unavailable")
    from daft_spark.io.hudi import hudi_timeline, read_hudi_py

    p = _extract(tmp_path, "v6_nonpartitioned")
    tl = hudi_timeline(p)
    assert [a for _ts, a in tl] == ["commit", "commit"]
    first = sorted(
        r["name"] for r in read_hudi_py(p, spark, as_of=tl[0][0]).collect()
    )
    assert first == ["Alice", "Bob", "Carol"]
    second = sorted(
        r["name"] for r in read_hudi_py(p, spark, as_of=tl[1][0]).collect()
    )
    assert second == ["Alice", "Bob", "Carol", "Diana"]


def test_read_real_hudi_empty_table(spark, tmp_path):
    """A created-but-never-written Hudi table reads as 0 rows with the
    create schema from hoodie.properties (reference
    test_read_empty_table), not an error."""
    import os as _os

    if not _os.path.isdir(_FIXTURES):
        pytest.skip("reference fixtures unavailable")
    from daft_spark.io.hudi import read_hudi_py

    df = read_hudi_py(_extract(tmp_path, "v6_empty"), spark)
    assert df.count() == 0
    assert df.columns == ["id", "name", "isActive"]
    assert dict(df.dtypes) == {"id": "int", "name": "string", "isActive": "boolean"}


def test_hudi_failed_write_leaves_no_staging_dir(spark, tmp_path):
    """A Hudi append whose Spark job fails publishes no instant and
    leaves no .staging- directory in the table root."""
    from daft_spark.io.hudi import read_hudi_py, write_hudi_py

    path = str(tmp_path / "tbl")
    rows = spark.range(20).select(F.col("id").alias("k"), (F.col("id") % 2).alias("g"))
    write_hudi_py(rows.filter(F.col("k") < 10), path, mode="error")
    bad = rows.filter(F.col("k") >= 10).coalesce(1).withColumn(
        "g", F.when(F.col("k") == 15, F.raise_error("boom")).otherwise(F.col("g"))
    )
    with pytest.raises(Exception, match="boom"):
        write_hudi_py(bad, path, mode="append")
    assert [f for f in os.listdir(path) if f.startswith(".staging-")] == []
    assert sorted(r["k"] for r in read_hudi_py(path, spark).collect()) == list(range(10))
