"""Pure-Python Delta Lake log: write/read roundtrip, append, overwrite
removes, time travel, atomicity guards (daft_spark/io/delta.py)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from daft_spark.io.delta import (
    _list_versions,
    read_deltalake_py,
    write_deltalake_py,
)


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.format_string("k%d", F.col("id") % 3).alias("k")
    )


def test_roundtrip_and_append(spark, tbl):
    write_deltalake_py(_df(spark, 0, 100), tbl, mode="overwrite")
    write_deltalake_py(_df(spark, 100, 150), tbl, mode="append")
    out = read_deltalake_py(tbl, spark)
    assert out.count() == 150
    assert sorted(out.columns) == ["id", "k", "v"]
    assert out.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(150))
    assert _list_versions(tbl) == [0, 1]


def test_overwrite_removes_prior_files(spark, tbl):
    write_deltalake_py(_df(spark, 0, 100), tbl, mode="overwrite")
    write_deltalake_py(_df(spark, 500, 510), tbl, mode="overwrite")
    out = read_deltalake_py(tbl, spark)
    assert out.count() == 10
    assert out.agg(F.min("id"), F.max("id")).collect()[0] == (500, 509)
    # the remove actions are actually present in the v1 commit
    with open(os.path.join(tbl, "_delta_log", f"{1:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    assert any("remove" in a for a in actions)


def test_time_travel(spark, tbl):
    write_deltalake_py(_df(spark, 0, 10), tbl, mode="overwrite")
    write_deltalake_py(_df(spark, 10, 30), tbl, mode="append")
    assert read_deltalake_py(tbl, spark, version=0).count() == 10
    assert read_deltalake_py(tbl, spark, version=1).count() == 30
    with pytest.raises(ValueError, match="version 7"):
        read_deltalake_py(tbl, spark, version=7)


def test_modes(spark, tbl):
    write_deltalake_py(_df(spark, 0, 5), tbl, mode="error")
    with pytest.raises(FileExistsError):
        write_deltalake_py(_df(spark, 0, 5), tbl, mode="error")
    write_deltalake_py(_df(spark, 0, 99), tbl, mode="ignore")  # no-op
    assert read_deltalake_py(tbl, spark).count() == 5
    with pytest.raises(ValueError, match="unsupported mode"):
        write_deltalake_py(_df(spark, 0, 5), tbl, mode="merge")


def test_not_a_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="not a Delta table"):
        read_deltalake_py(str(tmp_path), spark)


def test_schema_pinned_from_metadata(spark, tbl):
    write_deltalake_py(_df(spark, 0, 10), tbl, mode="overwrite")
    out = read_deltalake_py(tbl, spark)
    assert dict(out.dtypes)["v"] == "bigint"
    assert dict(out.dtypes)["k"] == "string"


def test_lakehouse_wrapper_falls_back(spark, tbl):
    """read_deltalake (lakehouse.py) uses the pure-python path when the
    delta-spark connector is absent (this container)."""
    from daft_spark.io.lakehouse import read_deltalake

    write_deltalake_py(_df(spark, 0, 25), tbl, mode="overwrite")
    assert read_deltalake(tbl, spark).count() == 25
    assert read_deltalake(tbl, spark, version=0).count() == 25


def test_writer_wrapper_falls_back(spark, tbl):
    from daft_spark.io.writers import write_deltalake

    write_deltalake(_df(spark, 0, 7), tbl, write_mode="overwrite")
    assert read_deltalake_py(tbl, spark).count() == 7


def test_partitioned_roundtrip(spark, tbl):
    write_deltalake_py(_df(spark, 0, 90), tbl, mode="overwrite", partition_by=["k"])
    write_deltalake_py(_df(spark, 90, 120), tbl, mode="append", partition_by=["k"])
    out = read_deltalake_py(tbl, spark)
    assert out.count() == 120
    assert sorted(out.columns) == ["id", "k", "v"]
    # partition column values restored from partitionValues, correctly
    # paired with their rows
    bad = out.filter(F.col("k") != F.format_string("k%d", F.col("id") % 3))
    assert bad.count() == 0
    # data files live under hive dirs and do NOT contain the partition col
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(tbl, "k=k0", "*.parquet"))
    assert files
    assert "k" not in pq.ParquetFile(files[0]).schema_arrow.names
    # appending with different partitioning is rejected
    with pytest.raises(ValueError, match="partition columns"):
        write_deltalake_py(_df(spark, 0, 5), tbl, mode="append")


def test_checkpoint_written_and_used(spark, tbl):
    # 11 commits -> checkpoint at version 10
    write_deltalake_py(_df(spark, 0, 10), tbl, mode="overwrite")
    for i in range(1, 11):
        write_deltalake_py(_df(spark, i * 10, i * 10 + 10), tbl, mode="append")
    log = os.path.join(tbl, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{10:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 10
    # vacuum every JSON commit at or below the checkpoint: the table
    # must still read (real long-lived Delta tables are in this state)
    for v in range(11):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert read_deltalake_py(tbl, spark).count() == 110
    # and later commits replay on top of the checkpoint
    write_deltalake_py(_df(spark, 110, 130), tbl, mode="append")
    assert read_deltalake_py(tbl, spark).count() == 130


def test_checkpoint_with_partitioned_table(spark, tbl):
    write_deltalake_py(
        _df(spark, 0, 30), tbl, mode="overwrite", partition_by=["k"], checkpoint_interval=2
    )
    write_deltalake_py(
        _df(spark, 30, 60), tbl, mode="append", partition_by=["k"], checkpoint_interval=2
    )
    write_deltalake_py(
        _df(spark, 60, 90), tbl, mode="append", partition_by=["k"], checkpoint_interval=2
    )
    log = os.path.join(tbl, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{2:020d}.checkpoint.parquet"))
    for v in range(3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    out = read_deltalake_py(tbl, spark)
    assert out.count() == 90
    assert out.filter(F.col("k") != F.format_string("k%d", F.col("id") % 3)).count() == 0


def test_delta_cow_delete_and_update(spark, tmp_path):
    """Copy-on-write DELETE/UPDATE: full-rewrite commits with correct
    three-valued predicate semantics (NULL-condition rows survive a
    DELETE and are untouched by an UPDATE); prior versions stay
    time-travelable."""
    from pyspark.sql import types as T

    from daft_spark.io.delta import (
        delete_deltalake_py,
        read_deltalake_py,
        update_deltalake_py,
        write_deltalake_py,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "b", 3.0), (4, "a", 4.0)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("k", T.StringType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    path = str(tmp_path / "dml")
    write_deltalake_py(df, path, mode="overwrite")
    # DELETE WHERE k = 'a' — the NULL-k row must survive
    delete_deltalake_py(path, spark, "k = 'a'")
    got = read_deltalake_py(path, spark)
    assert sorted(r["id"] for r in got.collect()) == [2, 3]
    # UPDATE v = v * 10 WHERE id = 3; NULL-condition rows untouched
    update_deltalake_py(path, spark, {"v": "v * 10"}, "k = 'b'")
    vals = {r["id"]: r["v"] for r in read_deltalake_py(path, spark).collect()}
    assert vals == {2: 2.0, 3: 30.0}
    # time travel to version 0 sees all four rows
    assert read_deltalake_py(path, spark, version=0).count() == 4


def test_delta_deletion_vectors_merge_on_read(spark, tmp_path):
    """DV DELETE: matching rows tombstone into a roaring-bitmap DV file
    (data files untouched), the reader drops them by row ordinal, a
    second DV delete merges with the first, and later appends are
    unaffected. Protocol upgrades to readerFeatures=[deletionVectors];
    checkpoints carry the DV descriptors (see
    test_checkpoint_carries_deletion_vectors)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        read_deltalake_py,
        write_deltalake_py,
        _snapshot,
    )
    from daft_spark.io.readers import load_table
    from tests.conftest import SF_DIR

    c = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = str(tmp_path / "tbl")
    write_deltalake_py(c, path, mode="overwrite")
    data_files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    delete_deltalake_dv_py(path, spark, "c_acctbal < 0")
    # data files untouched, a DV .bin appeared
    assert sorted(f for f in os.listdir(path) if f.endswith(".parquet")) == data_files
    assert any(f.startswith("deletion_vector_") for f in os.listdir(path))
    back = read_deltalake_py(path, spark)
    exp = c.filter(~(F.col("c_acctbal") < 0))
    assert back.count() == exp.count()
    assert back.join(exp, ["c_custkey"], "left_anti").count() == 0
    # second DV delete on the same files merges positions
    delete_deltalake_dv_py(path, spark, "c_mktsegment = 'BUILDING'")
    exp2 = exp.filter(~(F.col("c_mktsegment") == "BUILDING"))
    assert read_deltalake_py(path, spark).count() == exp2.count()
    # appended rows are never touched by the earlier DVs
    extra = c.limit(25)
    write_deltalake_py(extra, path, mode="append")
    got = read_deltalake_py(path, spark)
    assert got.count() == exp2.count() + 25
    # protocol carries the reader feature
    adds = _snapshot(path).adds
    assert any(a.get("deletionVector") for a in adds.values())
    log_dir = os.path.join(path, "_delta_log")
    protos = []
    for f in sorted(os.listdir(log_dir)):
        if f.endswith(".json"):
            with open(os.path.join(log_dir, f)) as fh:
                for line in fh:
                    a = _json.loads(line)
                    if "protocol" in a:
                        protos.append(a["protocol"])
    assert protos[-1]["minReaderVersion"] == 3
    assert protos[-1]["readerFeatures"] == ["deletionVectors"]
    # DV table refuses nothing on read; CoW overwrite compacts DVs away
    write_deltalake_py(got, path, mode="overwrite")
    adds2 = _snapshot(path).adds
    assert not any(a.get("deletionVector") for a in adds2.values())
    assert read_deltalake_py(path, spark).count() == exp2.count() + 25


def test_delta_null_partition_value_roundtrip(spark, tmp_path):
    """A NULL in the partition column itself (hive
    __HIVE_DEFAULT_PARTITION__ dir, partitionValues null) must survive
    write -> read and DV DELETE. Regression: the partition-group sort
    compared None against str and raised TypeError."""
    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        read_deltalake_py,
        write_deltalake_py,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, grp string"
    )
    path = str(tmp_path / "nullpart")
    write_deltalake_py(df, path, mode="overwrite", partition_by=["grp"])
    got = sorted((r["id"], r["grp"]) for r in read_deltalake_py(path, spark).collect())
    assert got == [(1, "a"), (2, None), (3, "b"), (4, None)]
    delete_deltalake_dv_py(path, spark, "id = 4")
    got = sorted((r["id"], r["grp"]) for r in read_deltalake_py(path, spark).collect())
    assert got == [(1, "a"), (2, None), (3, "b")]


def test_delta_dv_partitioned_and_null_semantics(spark, tmp_path):
    """DVs on a partitioned table (positions tracked per physical file
    under hive dirs) + three-valued predicate: NULL-condition rows
    survive."""
    from pyspark.sql import functions as F

    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        read_deltalake_py,
        write_deltalake_py,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "b", -5.0), (4, "b", 2.0), (5, "a", -1.0)],
        "id long, grp string, v double",
    )
    path = str(tmp_path / "p")
    write_deltalake_py(df, path, mode="overwrite", partition_by=["grp"])
    delete_deltalake_dv_py(path, spark, "v < 0")
    got = {r["id"] for r in read_deltalake_py(path, spark).collect()}
    assert got == {1, 2, 4}  # NULL v survives; -5 and -1 deleted


def test_dv_protocol_upgrade_carries_legacy_features(spark, tmp_path):
    """ADVICE r6: upgrading to table features (3,7) must carry forward
    the features implied by the prior protocol — writer v2 implies
    appendOnly + invariants (PROTOCOL.md) — so external writers keep
    enforcing them."""
    from daft_spark.io.delta import (
        _snapshot,
        delete_deltalake_dv_py,
        read_deltalake_py,
        write_deltalake_py,
    )

    path = str(tmp_path / "t")
    write_deltalake_py(_df(spark, 0, 50), path, mode="overwrite")
    delete_deltalake_dv_py(path, spark, "id < 10")
    proto = _snapshot(path).protocol
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert set(proto["writerFeatures"]) >= {
        "appendOnly", "invariants", "deletionVectors",
    }
    assert "deletionVectors" in proto["readerFeatures"]
    assert read_deltalake_py(path, spark).count() == 40


def test_dv_update_merge_on_read(spark, tmp_path):
    """UPDATE via deletion vectors: matched rows tombstoned by ordinal
    AND rewritten as appended files in one commit; base files are not
    rewritten; NULL-condition rows untouched; time travel intact;
    composes with a later DV DELETE."""
    from pyspark.sql import functions as F

    from daft_spark.io.delta import (
        read_deltalake_py,
        update_deltalake_dv_py,
        delete_deltalake_dv_py,
        write_deltalake_py,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "b", -5.0), (4, "b", 2.0), (5, "a", -1.0)],
        "id long, grp string, v double",
    )
    path = str(tmp_path / "t")
    write_deltalake_py(df, path, mode="overwrite", partition_by=["grp"])
    import glob as _glob
    base_files = set(_glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    update_deltalake_dv_py(path, spark, "v < 0", {"v": "v * -1", "grp": "'fixed'"})
    got = {r["id"]: (r["grp"], r["v"]) for r in read_deltalake_py(path, spark).collect()}
    assert got == {
        1: ("a", 10.0), 2: ("a", None),  # NULL v untouched
        3: ("fixed", 5.0), 4: ("b", 2.0), 5: ("fixed", 1.0),
    }
    # base files survive (merge-on-read, not rewrite)
    assert base_files <= set(
        _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    # time travel to v0 sees the original rows
    v0 = {r["id"]: r["v"] for r in read_deltalake_py(path, spark, version=0).collect()}
    assert v0[3] == -5.0 and v0[5] == -1.0
    # a later DV delete composes with the update's files
    delete_deltalake_dv_py(path, spark, "grp = 'fixed'")
    left = {r["id"] for r in read_deltalake_py(path, spark).collect()}
    assert left == {1, 2, 4}
    # no-match update is a no-op commit-wise
    update_deltalake_dv_py(path, spark, "v > 1e9", {"v": "0.0"})
    assert {r["id"] for r in read_deltalake_py(path, spark).collect()} == {1, 2, 4}
    # unknown SET column errors
    import pytest
    with pytest.raises(ValueError, match="SET columns"):
        update_deltalake_dv_py(path, spark, "v > 0", {"nope": "1"})


# ---------------------------------------------------------------------------
# column mapping (PROTOCOL.md §Column Mapping)


def test_column_mapping_rename_keeps_old_files_readable(spark, tmp_path):
    from daft_spark.io.delta import (
        evolve_delta_schema,
        read_deltalake_py,
        set_column_mapping_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "cm")
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    write_deltalake_py(df, p)
    set_column_mapping_delta_py(p)
    # enabling twice is a no-op
    n_versions = len(os.listdir(p + "/_delta_log"))
    set_column_mapping_delta_py(p)
    assert len(os.listdir(p + "/_delta_log")) == n_versions
    # rename: logical name changes, OLD data files keep their values
    evolve_delta_schema(p, renames={"v": "value"})
    back = read_deltalake_py(p, spark)
    assert back.columns == ["k", "value"]
    assert back.agg(F.sum("value")).first()[0] == sum(i * 2.0 for i in range(10))
    # append AFTER the rename writes physical names -> both eras read
    df2 = spark.range(10, 15).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("value")
    )
    write_deltalake_py(df2, p, mode="append")
    back = read_deltalake_py(p, spark)
    assert back.count() == 15
    assert back.agg(F.sum("value")).first()[0] == sum(i * 2.0 for i in range(15))
    # data files on disk carry the PHYSICAL column name (v), not value
    import pyarrow.parquet as pq

    newest = max(
        (f for f in os.listdir(p) if f.endswith(".parquet")),
        key=lambda f: os.path.getmtime(os.path.join(p, f)),
    )
    assert "v" in pq.read_schema(os.path.join(p, newest)).names


def test_column_mapping_add_drop_and_gates(spark, tmp_path):
    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        delete_deltalake_py,
        evolve_delta_schema,
        read_deltalake_py,
        set_column_mapping_delta_py,
        update_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "cm2")
    df = spark.range(6).select(F.col("id").alias("k"), F.lit("x").alias("s"))
    write_deltalake_py(df, p)
    with pytest.raises(NotImplementedError, match="column mapping"):
        evolve_delta_schema(p, renames={"s": "t"})
    set_column_mapping_delta_py(p)
    # add: old files read the new column as null; drop: column vanishes
    evolve_delta_schema(p, add_columns=[("extra", "long")], drop_columns=["s"])
    back = read_deltalake_py(p, spark)
    assert back.columns == ["k", "extra"]
    assert back.filter(F.col("extra").isNull()).count() == 6
    # appends must match the evolved logical schema
    write_deltalake_py(
        spark.range(6, 8).select(F.col("id").alias("k"), F.col("id").alias("extra")),
        p, mode="append",
    )
    got = {(r["k"], r["extra"]) for r in read_deltalake_py(p, spark).collect()}
    assert got == {(i, None) for i in range(6)} | {(6, 6), (7, 7)}
    # DML and overwrite are gated on mapped tables
    with pytest.raises(NotImplementedError, match="column-mapped"):
        delete_deltalake_py(p, spark, "k = 1")
    with pytest.raises(NotImplementedError, match="column-mapped"):
        delete_deltalake_dv_py(p, spark, "k = 1")
    with pytest.raises(NotImplementedError, match="column-mapped"):
        update_deltalake_py(p, spark, {"k": "k + 1"})
    with pytest.raises(NotImplementedError, match="column-mapped"):
        write_deltalake_py(df, p, mode="overwrite")


def test_column_mapping_partitioned_and_checkpoint(spark, tmp_path):
    from daft_spark.io.delta import (
        _write_checkpoint,
        evolve_delta_schema,
        read_deltalake_py,
        set_column_mapping_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "cmp")
    df = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("g")
    )
    write_deltalake_py(df, p, partition_by=["g"])
    set_column_mapping_delta_py(p)
    evolve_delta_schema(p, renames={"g": "grp", "k": "key"})
    back = read_deltalake_py(p, spark)
    assert sorted(back.columns) == ["grp", "key"]
    assert {(r["key"], r["grp"]) for r in back.collect()} == {
        (i, str(i % 2)) for i in range(8)
    }
    # append with the NEW logical partition name lands in physical dirs
    write_deltalake_py(
        spark.createDataFrame([(100, "0")], "key long, grp string"),
        p, mode="append", partition_by=["grp"],
    )
    assert read_deltalake_py(p, spark).count() == 9
    # a checkpoint must carry configuration + protocol through replay
    from daft_spark.io.delta import _list_versions

    _write_checkpoint(p, max(_list_versions(p)))
    import shutil as _sh

    for v in _list_versions(p):  # vacuum the JSON prefix entirely
        os.remove(os.path.join(p, "_delta_log", f"{v:020d}.json"))
    back2 = read_deltalake_py(p, spark)
    assert sorted(back2.columns) == ["grp", "key"]
    assert back2.count() == 9


def test_column_mapping_streaming_source(spark, tmp_path):
    from daft_spark.io.delta import (
        enable_cdf_delta_py,
        evolve_delta_schema,
        set_column_mapping_delta_py,
        table_changes_delta_py,
        write_deltalake_py,
    )
    from tests.test_streaming import _drain_to_parquet

    src = str(tmp_path / "cms")
    out = str(tmp_path / "cmso")
    ck = str(tmp_path / "cmsc")
    df = spark.range(5).select(F.col("id").alias("k"), F.lit("a").alias("s"))
    write_deltalake_py(df, src)
    set_column_mapping_delta_py(src)
    evolve_delta_schema(src, renames={"s": "tag"})
    _drain_to_parquet(spark, src, out, ck)
    rows = spark.read.parquet(out).collect()
    assert sorted(r["k"] for r in rows) == list(range(5))
    assert all(r["tag"] == "a" for r in rows)
    # the change data feed resolves the renamed column by physical name
    # too, in batch and as a stream, for files written before and after
    # the rename
    enable_cdf_delta_py(src)
    write_deltalake_py(
        spark.range(5, 7).select(F.col("id").alias("k"), F.lit("b").alias("tag")),
        src, mode="append",
    )
    want = [(i, "a") for i in range(5)] + [(5, "b"), (6, "b")]
    batch = table_changes_delta_py(src, spark, starting_version=0)
    assert sorted((r["k"], r["tag"]) for r in batch.collect()) == want
    cdf_out = str(tmp_path / "cmscdf")
    q = (
        spark.readStream.format("daft_delta_cdf").option("path", src).load()
        .writeStream.format("parquet")
        .option("path", cdf_out)
        .option("checkpointLocation", str(tmp_path / "cmscdfc"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "cdf stream did not drain"
    got = spark.read.parquet(cdf_out).collect()
    assert sorted((r["k"], r["tag"]) for r in got) == want
    assert {r["_change_type"] for r in got} == {"insert"}


# ---------------------------------------------------------------------------
# OPTIMIZE compaction


def test_optimize_compacts_small_files(spark, tmp_path):
    from daft_spark.io.delta import (
        optimize_deltalake_py,
        read_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "opt")
    for lo in range(0, 30, 10):  # three small commits
        write_deltalake_py(
            spark.range(lo, lo + 10).select(F.col("id").alias("k")),
            p, mode="append" if lo else "error",
        )
    files_before = [f for f in os.listdir(p) if f.endswith(".parquet")]
    stats = optimize_deltalake_py(p, spark)
    assert stats["removed"] >= 2 and stats["added"] >= 1
    assert stats["added"] < stats["removed"]
    back = read_deltalake_py(p, spark)
    assert sorted(r["k"] for r in back.collect()) == list(range(30))
    # the live file set shrank even though retired files stay on disk
    assert len(back.inputFiles()) < len(files_before)
    # idempotent: a second pass finds nothing (or only the one big file)
    assert optimize_deltalake_py(p, spark)["removed"] == 0
    # time travel BEFORE the optimize still sees the old layout
    old = read_deltalake_py(p, spark, version=2)
    assert sorted(r["k"] for r in old.collect()) == list(range(30))


def test_optimize_partitioned_and_dv_materialization(spark, tmp_path):
    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        optimize_deltalake_py,
        read_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "optp")
    for lo in (0, 8):
        write_deltalake_py(
            spark.range(lo, lo + 8).select(
                F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("g")
            ),
            p, mode="append" if lo else "error", partition_by=["g"],
        )
    delete_deltalake_dv_py(p, spark, "k >= 12")
    stats = optimize_deltalake_py(p, spark)
    assert stats["removed"] >= 2
    back = read_deltalake_py(p, spark)
    rows = {(r["k"], r["g"]) for r in back.collect()}
    assert rows == {(i, str(i % 2)) for i in range(12)}
    # compaction materialized the DVs: no live add carries one
    from daft_spark.io.delta import _snapshot

    adds = _snapshot(p).adds
    assert not any(a.get("deletionVector") for a in adds.values())
    # partition dirs preserved
    assert all("/g=" in f or "g=" in f for f in back.inputFiles())


def test_optimize_writes_stats_on_compacted_files(spark, tmp_path):
    """OPTIMIZE's replacement files carry per-file stats, so data
    skipping keeps pruning after a compaction."""
    import pyarrow.parquet as pq

    from daft_spark.io.delta import (
        _snapshot,
        delta_admitted_files,
        optimize_deltalake_py,
    )

    p = str(tmp_path / "opt_stats")
    for lo in (0, 25):  # one file per partition per append
        rows = spark.range(lo, lo + 25).union(spark.range(100 + lo, 125 + lo))
        write_deltalake_py(
            rows.select(
                F.col("id").alias("k"),
                F.when(F.col("id") < 100, "a").otherwise("b").alias("g"),
            ).coalesce(1),
            p, mode="append", partition_by=["g"],
        )
    assert optimize_deltalake_py(p, spark) == {"removed": 4, "added": 2}
    adds = _snapshot(p).adds
    for rel, add in adds.items():
        assert "stats" in add, rel
        rows = pq.ParquetFile(os.path.join(p, rel)).metadata.num_rows
        assert json.loads(add["stats"])["numRecords"] == rows == 50
    admitted, total = delta_admitted_files(p, [("k", "<", 50)])
    assert total == 2
    assert len(admitted) == 1 and "g=a" in admitted[0]


def test_optimize_commit_is_invisible_to_streaming(spark, tmp_path):
    from daft_spark.io.delta import optimize_deltalake_py, write_deltalake_py
    from tests.test_streaming import _drain_to_parquet

    src = str(tmp_path / "opts")
    out = str(tmp_path / "optso")
    ck = str(tmp_path / "optsc")
    for lo in (0, 5):
        write_deltalake_py(
            spark.range(lo, lo + 5).select(F.col("id").alias("k")),
            src, mode="append" if lo else "error",
        )
    _drain_to_parquet(spark, src, out, ck)
    optimize_deltalake_py(src, spark)  # dataChange=false commit
    write_deltalake_py(
        spark.range(10, 15).select(F.col("id").alias("k")), src, mode="append"
    )
    _drain_to_parquet(spark, src, out, ck)  # must NOT redeliver 0-9
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == list(range(15))


def test_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    from daft_spark.io.delta import (
        optimize_deltalake_py,
        read_deltalake_py,
        vacuum_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "vac")
    for lo in (0, 10):
        write_deltalake_py(
            spark.range(lo, lo + 10).select(F.col("id").alias("k")),
            p, mode="append" if lo else "error",
        )
    optimize_deltalake_py(p, spark)  # retires the two small files
    on_disk = lambda: [
        f for root, _d, fs in os.walk(p) if "_delta_log" not in root
        for f in fs if f.endswith(".parquet")
    ]
    before = len(on_disk())
    live = len(read_deltalake_py(p, spark).inputFiles())
    assert before > live  # OPTIMIZE left retired files on disk
    # within retention: nothing deleted; dry_run lists candidates
    assert vacuum_deltalake_py(p, retention_ms=10**12, dry_run=True) == []
    would = vacuum_deltalake_py(p, retention_ms=0, dry_run=True)
    assert len(would) == before - live and len(on_disk()) == before
    gone = vacuum_deltalake_py(p, retention_ms=0)
    assert gone == would and len(on_disk()) == live
    # current version reads intact after vacuum
    assert sorted(
        r["k"] for r in read_deltalake_py(p, spark).collect()
    ) == list(range(20))


def test_failed_write_leaves_no_staging_dir(spark, tbl):
    """An append whose Spark job fails publishes nothing and leaves no
    .staging- directory behind (VACUUM never looks inside one)."""
    write_deltalake_py(_df(spark, 0, 10), tbl, mode="overwrite")
    # one task: no sibling task is still writing when the job fails
    bad = _df(spark, 10, 20).coalesce(1).withColumn(
        "v", F.when(F.col("id") == 15, F.raise_error("boom")).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        write_deltalake_py(bad, tbl, mode="append")
    assert [f for f in os.listdir(tbl) if f.startswith(".staging-")] == []
    assert read_deltalake_py(tbl, spark).count() == 10
    assert _list_versions(tbl) == [0]


def test_dv_update_sets_from_the_old_row(spark, tmp_path):
    """Every SET expression of a DV UPDATE reads the pre-update row, as
    the copy-on-write UPDATE does: swapping two columns swaps them, in
    the table and in the change feed's post-image."""
    from daft_spark.io.delta import (
        enable_cdf_delta_py,
        table_changes_delta_py,
        update_deltalake_dv_py,
        update_deltalake_py,
    )

    df = spark.createDataFrame([(1, 10, 20), (2, 30, 40)], "id long, a long, b long")
    cow, dv = str(tmp_path / "cow"), str(tmp_path / "dv")
    write_deltalake_py(df, cow, mode="overwrite")
    write_deltalake_py(df, dv, mode="overwrite")
    enable_cdf_delta_py(dv)
    swap = {"a": "b", "b": "a"}
    update_deltalake_py(cow, spark, swap, "id = 1")
    update_deltalake_dv_py(dv, spark, "id = 1", swap)

    def rows(p):
        return sorted(
            tuple(r) for r in read_deltalake_py(p, spark).select("id", "a", "b").collect()
        )

    assert rows(dv) == rows(cow) == [(1, 20, 10), (2, 30, 40)]
    post = table_changes_delta_py(dv, spark, starting_version=2).filter(
        F.col("_change_type") == "update_postimage"
    )
    assert [(r["id"], r["a"], r["b"]) for r in post.collect()] == [(1, 20, 10)]


# ---------------------------------------------------------------------------
# change data feed (PROTOCOL.md §Change Data Files)


def test_cdf_dml_and_reconstruction(spark, tmp_path):
    from daft_spark.io.delta import (
        delete_deltalake_py,
        enable_cdf_delta_py,
        table_changes_delta_py,
        update_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "cdf")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    write_deltalake_py(df, p)  # v0
    with pytest.raises(ValueError, match="not enabled"):
        table_changes_delta_py(p, spark)
    enable_cdf_delta_py(p)  # v1 (metadata-only, no changes)
    enable_cdf_delta_py(p)  # idempotent
    write_deltalake_py(
        spark.range(10, 13).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")),
        p, mode="append",
    )  # v2: inserts (no cdc needed)
    delete_deltalake_py(p, spark, "k >= 11")  # v3: cdc deletes
    update_deltalake_py(p, spark, {"v": "v + 100"}, "k < 2")  # v4: cdc pre/post
    ch = table_changes_delta_py(p, spark, starting_version=2)
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "insert": 3, "delete": 2, "update_preimage": 2, "update_postimage": 2,
    }
    # versions stamp correctly; cdc commits serve ONLY cdc rows
    v3 = ch.filter(F.col("_commit_version") == 3)
    assert {r["k"] for r in v3.collect()} == {11, 12}
    post = ch.filter(F.col("_change_type") == "update_postimage")
    assert {r["v"] for r in post.collect()} == {100.0, 101.0}
    # the initial snapshot (v0) reconstructs as inserts when included
    all_ch = table_changes_delta_py(p, spark, starting_version=0)
    assert all_ch.filter(
        (F.col("_commit_version") == 0) & (F.col("_change_type") == "insert")
    ).count() == 10


def test_cdf_optimize_produces_no_changes(spark, tmp_path):
    from daft_spark.io.delta import (
        enable_cdf_delta_py,
        optimize_deltalake_py,
        table_changes_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "cdfopt")
    for lo in (0, 5):
        write_deltalake_py(
            spark.range(lo, lo + 5).select(F.col("id").alias("k")),
            p, mode="append" if lo else "error",
        )
    enable_cdf_delta_py(p)
    v_before = 2
    optimize_deltalake_py(p, spark)  # dataChange=false rearrangement
    ch = table_changes_delta_py(p, spark, starting_version=v_before + 1)
    assert ch.count() == 0


# ---------------------------------------------------------------------------
# MERGE INTO


def test_merge_update_delete_insert(spark, tmp_path):
    from daft_spark.io.delta import (
        merge_deltalake_py,
        read_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "merge")
    target = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    write_deltalake_py(target, p)
    source = spark.createDataFrame(
        [(2, "B", 20.0), (3, "C", -1.0), (9, "i", 9.0)], "k long, s string, v double"
    )
    merge_deltalake_py(
        p, spark, source, "t.k = s.k",
        when_matched_update={"s": "s.s", "v": "s.v"},
        when_matched_delete="s.v < 0",
    )
    got = {r["k"]: (r["s"], r["v"]) for r in read_deltalake_py(p, spark).collect()}
    assert got == {
        1: ("a", 1.0),          # unmatched target kept
        2: ("B", 20.0),         # matched -> updated
        4: ("d", 4.0),
        9: ("i", 9.0),          # unmatched source -> inserted
    }                            # 3 deleted (s.v < 0)
    # multi-match guard
    dup_source = spark.createDataFrame(
        [(2, "x", 0.0), (2, "y", 0.0)], "k long, s string, v double"
    )
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_deltalake_py(p, spark, dup_source, "t.k = s.k",
                           when_matched_update={"v": "s.v"})
    # insert mapping + no-insert variants
    merge_deltalake_py(
        p, spark,
        spark.createDataFrame([(50, 500.0)], "k long, v double"),
        "t.k = s.k",
        when_not_matched_insert={"k": "s.k", "v": "s.v"},
    )
    got2 = {r["k"]: (r["s"], r["v"]) for r in read_deltalake_py(p, spark).collect()}
    assert got2[50] == (None, 500.0)


def test_merge_emits_cdf(spark, tmp_path):
    from daft_spark.io.delta import (
        enable_cdf_delta_py,
        merge_deltalake_py,
        table_changes_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "mergecdf")
    write_deltalake_py(
        spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "k long, v double"), p
    )
    enable_cdf_delta_py(p)
    merge_deltalake_py(
        p, spark,
        spark.createDataFrame([(2, 20.0), (3, -1.0), (7, 7.0)], "k long, v double"),
        "t.k = s.k",
        when_matched_update={"v": "s.v"},
        when_matched_delete="s.v < 0",
    )
    ch = table_changes_delta_py(p, spark, starting_version=2)
    by = {
        (r["_change_type"], r["k"]): r["v"]
        for r in ch.collect()
    }
    assert by == {
        ("delete", 3): 3.0,
        ("update_preimage", 2): 2.0,
        ("update_postimage", 2): 20.0,
        ("insert", 7): 7.0,
    }


# ---------------------------------------------------------------------------
# checkpoint layout coverage: multi-part + v2 (read side)


def _rewrite_classic_checkpoint(tbl, splitter):
    """Replace the classic checkpoint with an alternative spec layout
    built by ``splitter(rows, log_dir, version)``; vacuum the JSON
    prefix so replay MUST start from the new layout."""
    import pyarrow.parquet as pq

    from daft_spark.io.delta import _list_versions, _write_checkpoint

    v = max(_list_versions(tbl))
    _write_checkpoint(tbl, v)
    log = os.path.join(tbl, "_delta_log")
    classic = os.path.join(log, f"{v:020d}.checkpoint.parquet")
    rows = pq.read_table(classic)
    splitter(rows, log, v)
    os.remove(classic)
    for ver in _list_versions(tbl):
        if ver <= v:
            os.remove(os.path.join(log, f"{ver:020d}.json"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": v, "size": rows.num_rows}, f)
    return v


def _split_multipart(rows, log, v):
    """Legacy multi-part layout: <v>.checkpoint.<o>.<p>.parquet, the
    actions spread across the parts in any way."""
    import pyarrow.parquet as pq

    mid = rows.num_rows // 2
    pq.write_table(rows.slice(0, mid), os.path.join(log, f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    pq.write_table(rows.slice(mid), os.path.join(log, f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet"))


def test_multipart_checkpoint_read(spark, tmp_path):
    from daft_spark.io.delta import read_deltalake_py, write_deltalake_py

    tbl = str(tmp_path / "mp")
    for lo in (0, 10, 20):
        write_deltalake_py(
            spark.range(lo, lo + 10).select(F.col("id").alias("k")),
            tbl, mode="append" if lo else "error",
        )

    _rewrite_classic_checkpoint(tbl, _split_multipart)
    got = read_deltalake_py(tbl, spark)
    assert sorted(r["k"] for r in got.collect()) == list(range(30))
    # later commits replay on top of the multipart checkpoint
    write_deltalake_py(
        spark.range(30, 35).select(F.col("id").alias("k")), tbl, mode="append"
    )
    assert read_deltalake_py(tbl, spark).count() == 35


def test_multipart_checkpoint_incomplete_set_ignored(spark, tmp_path):
    import pyarrow.parquet as pq

    from daft_spark.io.delta import _checkpoint_versions, write_deltalake_py

    tbl = str(tmp_path / "mpbad")
    write_deltalake_py(spark.range(5).select(F.col("id").alias("k")), tbl)
    import pyarrow as pa

    log = os.path.join(tbl, "_delta_log")
    # only part 1 of 3 exists -> the set must NOT be discovered
    pq.write_table(
        pa.table({"x": [1]}),
        os.path.join(log, f"{0:020d}.checkpoint.{1:010d}.{3:010d}.parquet"),
    )
    assert _checkpoint_versions(tbl) == []


def test_v2_checkpoint_read_json_manifest_with_sidecars(spark, tmp_path):
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from daft_spark.io.delta import read_deltalake_py, write_deltalake_py

    tbl = str(tmp_path / "v2ck")
    for lo in (0, 8):
        write_deltalake_py(
            spark.range(lo, lo + 8).select(F.col("id").alias("k")),
            tbl, mode="append" if lo else "error",
        )

    def to_v2(rows, log, v):
        # spec layout: manifest <v>.checkpoint.<uuid>.json carries the
        # non-file actions + sidecarFile pointers; adds live in
        # _delta_log/_sidecars/<uuid>.parquet
        data = rows.to_pylist()
        adds = [r for r in data if r.get("add")]
        others = [r for r in data if not r.get("add")]
        os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
        side = f"{_uuid.uuid4()}.parquet"
        add_schema = pa.schema([rows.schema.field("add")])
        pq.write_table(
            pa.table([pa.array([r["add"] for r in adds], type=rows.schema.field("add").type)], schema=add_schema),
            os.path.join(log, "_sidecars", side),
        )
        manifest = os.path.join(log, f"{v:020d}.checkpoint.{_uuid.uuid4()}.json")
        with open(manifest, "w") as f:
            f.write(json.dumps({"checkpointMetadata": {"version": v}}) + "\n")
            for r in others:
                f.write(json.dumps({k: val for k, val in r.items() if val is not None}) + "\n")
            f.write(json.dumps({"sidecarFile": {"path": side}}) + "\n")

    _rewrite_classic_checkpoint(tbl, to_v2)
    got = read_deltalake_py(tbl, spark)
    assert sorted(r["k"] for r in got.collect()) == list(range(16))
    write_deltalake_py(
        spark.range(16, 20).select(F.col("id").alias("k")), tbl, mode="append"
    )
    assert read_deltalake_py(tbl, spark).count() == 20


def test_cdf_partitioned_table(spark, tmp_path):
    """CDF on a PARTITIONED table (incl. a NULL partition value): cdc
    files land under _change_data/<hive dirs>/ with the partition
    columns dropped and carried in partitionValues; table_changes
    restores them typed. Reconstruction commits (append = inserts,
    overwrite = deletes + inserts) recover remove-side partition values
    from the prior version's state."""
    from daft_spark.io.delta import (
        delete_deltalake_py,
        enable_cdf_delta_py,
        merge_deltalake_py,
        table_changes_delta_py,
        update_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "cdfpart")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "a", 4.0)],
        "k long, grp string, v double",
    )
    write_deltalake_py(df, p, mode="overwrite", partition_by=["grp"])  # v0
    enable_cdf_delta_py(p)  # v1
    # v2: append -> reconstruction inserts (partition values from adds)
    write_deltalake_py(
        spark.createDataFrame([(5, None, 5.0)], "k long, grp string, v double"),
        p, mode="append", partition_by=["grp"],
    )
    delete_deltalake_py(p, spark, "k = 4")  # v3: cdc delete (grp='a')
    update_deltalake_py(p, spark, {"v": "v + 10"}, "grp is null")  # v4: pre/post
    merge_deltalake_py(
        p, spark,
        spark.createDataFrame([(1, "a", 100.0), (9, "z", 9.0)],
                              "k long, grp string, v double"),
        on="t.k = s.k",
        when_matched_update={"v": "s.v"},
    )  # v5: cdc update pre/post + insert
    ch = table_changes_delta_py(p, spark, starting_version=2)
    rows = {
        (r["_commit_version"], r["_change_type"], r["k"], r["grp"], r["v"])
        for r in ch.collect()
    }
    assert rows == {
        (2, "insert", 5, None, 5.0),
        (3, "delete", 4, "a", 4.0),
        (4, "update_preimage", 3, None, 3.0),
        (4, "update_preimage", 5, None, 5.0),
        (4, "update_postimage", 3, None, 13.0),
        (4, "update_postimage", 5, None, 15.0),
        (5, "update_preimage", 1, "a", 1.0),
        (5, "update_postimage", 1, "a", 100.0),
        (5, "insert", 9, "z", 9.0),
    }
    # overwrite -> reconstruction: removes read from retired files with
    # partition values recovered from the v5 state
    write_deltalake_py(
        spark.createDataFrame([(7, "c", 7.0)], "k long, grp string, v double"),
        p, mode="overwrite", partition_by=["grp"],
    )  # v6
    v6 = table_changes_delta_py(p, spark, starting_version=6)
    got = {(r["_change_type"], r["k"], r["grp"]) for r in v6.collect()}
    assert ("insert", 7, "c") in got
    assert ("delete", 3, None) in got and ("delete", 1, "a") in got
    assert sum(1 for t, _k, _g in got if t == "delete") == 5


def test_append_rejects_extra_columns(spark, tmp_path):
    """Delta schema enforcement: appending a frame with columns the
    table schema lacks must FAIL (the pinned-schema read would silently
    drop the extra data); missing nullable columns append fine and read
    as null."""
    from daft_spark.io.delta import read_deltalake_py, write_deltalake_py

    p = str(tmp_path / "enforce")
    write_deltalake_py(
        spark.createDataFrame([(1, "a")], "id long, s string"), p, mode="overwrite"
    )
    with pytest.raises(ValueError, match="not in the table schema"):
        write_deltalake_py(
            spark.createDataFrame([(2, "b", 9.5)], "id long, s string, extra double"),
            p, mode="append",
        )
    write_deltalake_py(spark.createDataFrame([(3,)], "id long"), p, mode="append")
    got = sorted(tuple(r) for r in read_deltalake_py(p, spark).collect())
    assert got == [(1, "a"), (3, None)]


def test_optimize_pins_schema_across_evolution(spark, tmp_path):
    """OPTIMIZE over a column-mapped table whose bins mix files written
    before and after an add-column evolution must keep the later
    column (regression: the unpinned multi-file read adopted one
    file's schema and dropped the other's column from the rewrite)."""
    from daft_spark.io.delta import (
        evolve_delta_schema,
        optimize_deltalake_py,
        read_deltalake_py,
        set_column_mapping_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "optevo")
    write_deltalake_py(
        spark.createDataFrame([(1, "a")], "id long, s string"), p, mode="overwrite"
    )
    set_column_mapping_delta_py(p)
    evolve_delta_schema(p, add_columns=[("w", "double")])
    write_deltalake_py(
        spark.createDataFrame([(2, "b", 2.5)], "id long, s string, w double"),
        p, mode="append",
    )
    res = optimize_deltalake_py(p, spark, target_file_bytes=1 << 30)
    assert res["removed"] >= 2 and res["added"] == 1
    got = sorted(tuple(r) for r in read_deltalake_py(p, spark).collect())
    assert got == [(1, "a", None), (2, "b", 2.5)]


def test_dml_is_file_granular_cow(spark, tmp_path):
    """A selective DELETE/UPDATE/MERGE rewrites ONLY the files that
    contain matched rows: every untouched data file survives the commit
    byte-identical and its add action carries forward (at 100x a MERGE
    touching 0.1% of files must not pay a full-table rewrite)."""
    import hashlib
    import os

    from daft_spark.io.delta import (
        _snapshot,
        delete_deltalake_py,
        merge_deltalake_py,
        read_deltalake_py,
        update_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "fgcow")
    # three appends -> three separate data files with disjoint id ranges
    for lo in (0, 100, 200):
        write_deltalake_py(
            spark.range(lo, lo + 10).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ).coalesce(1),
            p, mode="append",
        )
    adds0 = _snapshot(p).adds
    assert len(adds0) == 3

    def digests():
        adds = _snapshot(p).adds
        return {
            rel: hashlib.sha256(
                open(os.path.join(p, rel), "rb").read()
            ).hexdigest()
            for rel in adds
        }

    before = digests()

    # DELETE matching only the first file's range
    delete_deltalake_py(p, spark, "id < 5")
    after = digests()
    untouched = set(before) & set(after)
    assert len(untouched) == 2, "two files must carry forward"
    assert all(before[r] == after[r] for r in untouched), "carried files mutated"
    assert read_deltalake_py(p, spark).count() == 25

    # UPDATE matching only the middle file's range
    before = digests()
    update_deltalake_py(p, spark, {"v": "v + 1"}, "id between 100 and 104")
    after = digests()
    untouched = set(before) & set(after)
    assert len(untouched) == 2
    assert all(before[r] == after[r] for r in untouched)
    got = {r["id"]: r["v"] for r in read_deltalake_py(p, spark).collect()}
    assert got[100] == 201 and got[105] == 210 and got[200] == 400

    # MERGE matching only the third file's range (+ one insert)
    before = digests()
    src = spark.createDataFrame([(200, 9999), (500, 1000)], "id long, v long")
    merge_deltalake_py(
        p, spark, src, "t.id = s.id",
        when_matched_update={"v": "s.v"}, when_not_matched_insert=True,
    )
    after = digests()
    untouched = set(before) & set(after)
    assert len(untouched) == 2, "MERGE must rewrite only the matched file"
    assert all(before[r] == after[r] for r in untouched)
    got = {r["id"]: r["v"] for r in read_deltalake_py(p, spark).collect()}
    assert got[200] == 9999 and got[500] == 1000 and got[201] == 402
    assert len(got) == 26

    # no-op DML still commits (delta's version-per-statement behavior)
    # and carries every file forward untouched
    before = digests()
    delete_deltalake_py(p, spark, "id = -1")
    after = digests()
    assert before == after


def test_checkpoint_carries_deletion_vectors(spark, tmp_path):
    """A checkpoint written while DVs are active must carry the DV
    descriptors (spec checkpoint add schema): after the JSON prefix is
    removed (vacuumed log), a replay from the checkpoint alone still
    drops the deleted rows instead of resurrecting them. This writer
    used to SKIP checkpoints while DVs were active — correct but
    unbounded log growth on tables with long-lived DVs."""
    import os

    from daft_spark.io.delta import (
        _write_checkpoint,
        delete_deltalake_dv_py,
        read_deltalake_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "ckdv")
    write_deltalake_py(
        spark.range(100).select(F.col("id").alias("k")).coalesce(1), p
    )
    delete_deltalake_dv_py(p, spark, "k < 40")
    _write_checkpoint(p, 1)
    log = os.path.join(p, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    for f in list(os.listdir(log)):
        if f.endswith(".json"):
            v = f.split(".")[0]
            if v.isdigit() and int(v) <= 1:
                os.remove(os.path.join(log, f))
    got = sorted(r["k"] for r in read_deltalake_py(p, spark).collect())
    assert got == list(range(40, 100))


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: reads resolve to the latest commit not after
    the given wall-clock instant (commitInfo timestamps); before the
    first commit raises; version and timestamp are mutually
    exclusive."""
    import json as _json
    import os

    from daft_spark.io.delta import (
        read_deltalake_py,
        version_at_timestamp_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "tsaof")
    write_deltalake_py(spark.range(5).select(F.col("id").alias("k")), p)
    write_deltalake_py(
        spark.range(5, 9).select(F.col("id").alias("k")), p, mode="append"
    )

    def commit_ts(v):
        with open(os.path.join(p, "_delta_log", f"{v:020d}.json")) as f:
            for line in f:
                a = _json.loads(line)
                if "commitInfo" in a:
                    return a["commitInfo"]["timestamp"]

    t0, t1 = commit_ts(0), commit_ts(1)
    assert version_at_timestamp_delta_py(p, t0) == 0
    assert version_at_timestamp_delta_py(p, t1 + 10_000) == 1
    assert read_deltalake_py(p, spark, timestamp_ms=t0).count() == 5
    assert read_deltalake_py(p, spark, timestamp_ms=t1 + 10_000).count() == 9
    with pytest.raises(ValueError, match="history starts later"):
        version_at_timestamp_delta_py(p, t0 - 1_000_000)
    with pytest.raises(ValueError, match="not both"):
        read_deltalake_py(p, spark, version=0, timestamp_ms=t0)


def test_dv_dml_on_cdf_table_writes_cdc_actions(spark, tmp_path):
    """DV DELETE/UPDATE on a CDF-enabled table must carry explicit cdc
    actions in the same commit — the add/remove pair re-adds the whole
    file, so reconstruction would emit whole-file deletes + re-inserts
    of already-deleted rows (r8 advice)."""
    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        enable_cdf_delta_py,
        table_changes_delta_py,
        update_deltalake_dv_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "dvcdf")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    write_deltalake_py(df, p)  # v0
    enable_cdf_delta_py(p)  # v1
    delete_deltalake_dv_py(p, spark, "k >= 8")  # v2: DV delete + cdc
    update_deltalake_dv_py(p, spark, "k < 2", {"v": "v + 100"})  # v3
    ch = table_changes_delta_py(p, spark, starting_version=2)
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {"delete": 2, "update_preimage": 2, "update_postimage": 2}
    assert {r["k"] for r in ch.filter(F.col("_change_type") == "delete").collect()} == {8, 9}
    post = ch.filter(F.col("_change_type") == "update_postimage")
    assert {r["v"] for r in post.collect()} == {100.0, 101.0}
    # a second DV delete on the SAME files (DV merge path) only emits
    # the newly-deleted rows
    delete_deltalake_dv_py(p, spark, "k = 7")  # v4
    v4 = table_changes_delta_py(p, spark, starting_version=4)
    assert [(r["k"], r["_change_type"]) for r in v4.collect()] == [(7, "delete")]


def test_cdf_reconstructs_pre_enablement_dv_commit(spark, tmp_path):
    """A DV commit written BEFORE delta.enableChangeDataFeed has no cdc
    actions; the DV-diff reconstruction (r9 advice) serves its EXACT
    row-level change — the remove+re-add-with-DV pair is one in-place
    edit whose diff is precisely the newly-deleted positions — so the
    reader no longer refuses (r8's refusal existed because the old
    whole-file reconstruction would have been wrong)."""
    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        enable_cdf_delta_py,
        table_changes_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "dvpre")
    df = spark.range(6).select(F.col("id").alias("k"))
    write_deltalake_py(df, p)  # v0
    delete_deltalake_dv_py(p, spark, "k = 3")  # v1: DV, no CDF yet
    enable_cdf_delta_py(p)  # v2
    ch1 = table_changes_delta_py(p, spark, starting_version=1, ending_version=2)
    assert [(r["k"], r["_change_type"]) for r in ch1.collect()] == [(3, "delete")]
    # from the enablement version onward DML serves from cdc actions
    delete_deltalake_dv_py(p, spark, "k = 4")  # v3: DV + cdc
    ch = table_changes_delta_py(p, spark, starting_version=3)
    assert [(r["k"], r["_change_type"]) for r in ch.collect()] == [(4, "delete")]


def test_timestamp_travel_resolves_from_surviving_checkpoint(spark, tmp_path):
    """Log cleanup can remove JSON commits older than a checkpoint;
    timestamp travel must still resolve versions from the surviving
    checkpoint instead of raising (r8 advice)."""
    import os as _os

    from daft_spark.io.delta import (
        _list_versions,
        _write_checkpoint,
        read_deltalake_py,
        version_at_timestamp_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "ttck")
    write_deltalake_py(spark.range(3).select(F.col("id").alias("k")), p)  # v0
    write_deltalake_py(
        spark.range(3, 6).select(F.col("id").alias("k")), p, mode="append"
    )  # v1
    import json as _json

    with open(_os.path.join(p, "_delta_log", f"{1:020d}.json")) as fh:
        ts1 = next(
            a["commitInfo"]["timestamp"]
            for a in (_json.loads(x) for x in fh if x.strip())
            if "commitInfo" in a
        )
    write_deltalake_py(
        spark.range(6, 9).select(F.col("id").alias("k")), p, mode="append"
    )  # v2
    _write_checkpoint(p, 1)
    for v in (0, 1):  # cleanup: JSONs at/under the checkpoint removed
        _os.remove(_os.path.join(p, "_delta_log", f"{v:020d}.json"))
    assert _list_versions(p) == [2]
    # the instant of v1 resolves to the checkpoint version, readable
    assert version_at_timestamp_delta_py(p, ts1) == 1
    assert read_deltalake_py(p, spark, timestamp_ms=ts1).count() == 6
    # before all surviving history still raises
    with pytest.raises(ValueError, match="history starts later"):
        version_at_timestamp_delta_py(p, ts1 - 10_000_000)


def test_cdf_optimize_on_dv_table_is_not_a_change(spark, tmp_path):
    """OPTIMIZE materializes DV-carrying files with dataChange=false
    actions that still reference deletionVector descriptors on the
    remove side — the CDF readers must treat the commit as a
    rearrangement (no changes), not refuse it as a cdc-less DV commit."""
    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        enable_cdf_delta_py,
        optimize_deltalake_py,
        table_changes_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "dvopt")
    write_deltalake_py(
        spark.range(8).select(F.col("id").alias("k")), p
    )  # v0
    enable_cdf_delta_py(p)  # v1
    delete_deltalake_dv_py(p, spark, "k = 2")  # v2: DV + cdc
    optimize_deltalake_py(p, spark)  # v3: dataChange=false, retires DV file
    ch = table_changes_delta_py(p, spark, starting_version=2)
    got = [(r["k"], r["_change_type"], r["_commit_version"]) for r in ch.collect()]
    assert got == [(2, "delete", 2)]  # v3 contributes nothing and doesn't raise


def test_cdf_over_restore_on_dv_table(spark, tmp_path):
    """A RESTORE commit re-adds a DV-carrying file in place (identity
    change, dataChange=true, NO remove action, NO cdc actions); the CDF
    read must reconstruct its row-level change as the DV DIFF against
    the prior state — positions un-deleted by the restore are inserts,
    positions newly deleted are deletes — not refuse with the
    before-enablement error (r9 advice, medium)."""
    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        enable_cdf_delta_py,
        read_deltalake_py,
        restore_deltalake_py,
        table_changes_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "cdfrestore")
    df = (
        spark.range(10)
        .coalesce(1)  # one multi-row file so the restore re-add carries a DV
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    )
    write_deltalake_py(df, p)  # v0
    enable_cdf_delta_py(p)  # v1
    delete_deltalake_dv_py(p, spark, "k >= 8")  # v2: DV {8,9} (cdc written)
    delete_deltalake_dv_py(p, spark, "k >= 6")  # v3: merged DV {6..9}
    restore_deltalake_py(p, 2)  # v4: in-place re-add with v2's DV, no cdc
    ch = table_changes_delta_py(p, spark, starting_version=4)
    ins = ch.filter(F.col("_change_type") == "insert")
    # the restore resurfaces exactly the rows v3 had hidden beyond v2
    assert sorted(r["k"] for r in ins.collect()) == [6, 7]
    assert ch.filter(F.col("_change_type") == "delete").count() == 0
    assert all(r["_commit_version"] == 4 for r in ch.collect())
    assert sorted(
        r["k"] for r in read_deltalake_py(p, spark).collect()
    ) == list(range(8))
    # restoring forward to the more-deleted v3 state flips the diff:
    # the same positions become deletes
    restore_deltalake_py(p, 3)  # v5
    ch5 = table_changes_delta_py(p, spark, starting_version=5)
    dels = ch5.filter(F.col("_change_type") == "delete")
    assert sorted(r["k"] for r in dels.collect()) == [6, 7]
    assert ch5.filter(F.col("_change_type") == "insert").count() == 0
    assert sorted(
        r["k"] for r in read_deltalake_py(p, spark).collect()
    ) == list(range(6))


def test_timestamp_travel_checkpoint_with_no_add_rows(spark, tmp_path):
    """A checkpoint of a fully-deleted table carries zero add rows, so
    the add-modificationTime fallback has nothing to read; the version
    must still resolve (checkpoint file mtime as the upper bound on the
    commit time), not be silently skipped or falsely matched at ts=0
    (r9 advice)."""
    import os as _os
    import time as _time

    from daft_spark.io.delta import (
        _list_versions,
        _write_checkpoint,
        delete_deltalake_py,
        read_deltalake_py,
        version_at_timestamp_delta_py,
        write_deltalake_py,
    )

    p = str(tmp_path / "ttempty")
    write_deltalake_py(spark.range(4).select(F.col("id").alias("k")), p)  # v0
    delete_deltalake_py(p, spark, "k >= 0")  # v1: table now empty
    _write_checkpoint(p, 1)
    for v in (0, 1):
        _os.remove(_os.path.join(p, "_delta_log", f"{v:020d}.json"))
    assert _list_versions(p) == []
    now_ms = int(_time.time() * 1000) + 60_000
    # the checkpoint-only empty version resolves for a current instant
    assert version_at_timestamp_delta_py(p, now_ms) == 1
    assert read_deltalake_py(p, spark, timestamp_ms=now_ms).count() == 0
    # an instant before the checkpoint existed must NOT match via a
    # coerced ts=0 — it raises before-earliest
    with pytest.raises(ValueError, match="history starts later"):
        version_at_timestamp_delta_py(p, 1_000)


def test_delta_stats_and_admitted_planner(spark, tmp_path):
    from daft_spark.io.delta import (
        delta_admitted_files,
        write_deltalake_py,
        zorder_deltalake_py,
        read_deltalake_py,
    )

    path = str(tmp_path / "t")
    a = spark.createDataFrame([(i, f"s{i}") for i in range(100)], ["x", "s"])
    b = spark.createDataFrame([(i, f"s{i}") for i in range(100, 200)], ["x", "s"])
    write_deltalake_py(a.coalesce(1), path, mode="error")
    write_deltalake_py(b.coalesce(1), path, mode="append")
    # footer stats admit only the file whose [min,max] spans the value
    adm, total = delta_admitted_files(path, [("x", "=", 150)])
    assert total == 2 and len(adm) == 1
    # a filter on a column without usable stats admits everything
    adm2, _ = delta_admitted_files(path, [("nope", "<", 1)])
    assert len(adm2) == 2
    # unfiltered plan admits all
    adm3, _ = delta_admitted_files(path, [])
    assert len(adm3) == 2
    # zorder rewrites with dataChange=false and keeps content
    before = {tuple(r) for r in read_deltalake_py(path, spark).collect()}
    res = zorder_deltalake_py(path, spark, ["x"], target_files=2)
    assert res["removed"] == 2 and res["added"] >= 1
    after = {tuple(r) for r in read_deltalake_py(path, spark).collect()}
    assert before == after
    import pytest as _pytest

    with _pytest.raises(ValueError):
        zorder_deltalake_py(path, spark, [], target_files=2)


def test_write_with_date_timestamp_decimal_stats(spark, tmp_path):
    """Regression (r11 ADVICE high): pyarrow materializes DATE/TIMESTAMP
    (INT32/INT64 physical) and DECIMAL footer stats as datetime/Decimal
    objects; _file_stats_json must serialize them (ISO-8601 per the
    Delta protocol), not crash the write."""
    import datetime as dt
    import decimal as dec

    from daft_spark.io.delta import delta_admitted_files, _file_stats_json

    path = str(tmp_path / "dts")
    rows = [
        (i, dt.date(2024, 1, 1 + i), dt.datetime(2024, 1, 1, i),
         dec.Decimal(f"{i}.25"))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, d date, ts timestamp, m decimal(10,2)")
    write_deltalake_py(df.coalesce(1), path, mode="error")  # must not raise
    out = read_deltalake_py(path, spark)
    assert out.count() == 10
    # the stats JSON carries ISO date bounds and they prune correctly
    import glob as _g
    pf = [p for p in _g.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
          if "_delta_log" not in p][0]
    st = json.loads(_file_stats_json(pf))
    assert st["minValues"]["d"] == "2024-01-01"
    assert st["maxValues"]["d"] == "2024-01-10"
    # Spark's default parquet timestamp encoding is INT96 (no usable
    # footer stats) — skipped conservatively; if present it must be ISO.
    if "ts" in st["minValues"]:
        assert st["minValues"]["ts"].startswith("2024-01-01T00:00")
    if "m" in st["minValues"]:  # pyarrow may refuse DECIMAL footer stats
        assert st["minValues"]["m"] == 0.25 and st["maxValues"]["m"] == 9.25
    adm, total = delta_admitted_files(path, [("d", ">", "2024-02-01")])
    assert total == 1 and len(adm) == 0  # ISO string bounds prune
    adm2, _ = delta_admitted_files(path, [("d", "<", "2024-01-05")])
    assert len(adm2) == 1


def test_zorder_four_columns_no_long_overflow(spark, tmp_path):
    """Regression (r11 ADVICE low): 4+ z-order columns used to shift a
    literal past bit 62 and fail at plan time; per-column bits now
    shrink with column count (bits*ncols <= 62)."""
    from daft_spark.io.delta import (
        read_deltalake_py,
        write_deltalake_py,
        zorder_deltalake_py,
    )

    path = str(tmp_path / "z4")
    df = spark.createDataFrame(
        [(i, i * 2, i % 7, float(i), i % 3) for i in range(200)],
        ["a", "b", "c", "d", "e"],
    )
    write_deltalake_py(df.repartition(4), path, mode="error")
    res = zorder_deltalake_py(path, spark, ["a", "b", "c", "d"], target_files=2)
    assert res["added"] >= 1
    after = {tuple(r) for r in read_deltalake_py(path, spark).collect()}
    assert after == {tuple(r) for r in df.collect()}
    with pytest.raises(ValueError, match="at most 62"):
        zorder_deltalake_py(path, spark, [f"c{i}" for i in range(63)])


def test_zorder_data_skipping_majority_file_skip(spark, tmp_path):
    """r11 verdict task 5: OPTIMIZE ZORDER must MEASURABLY prune — on a
    2-column box predicate over z-ordered files, the stats planner
    skips >50% of files; the same predicate over the pre-optimize
    random layout skips (nearly) nothing."""
    import random

    from daft_spark.io.delta import (
        delta_admitted_files,
        write_deltalake_py,
        zorder_deltalake_py,
    )

    random.seed(11)
    rows = [(i, random.randrange(1000), random.randrange(1000))
            for i in range(40_000)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    path = str(tmp_path / "zt")
    # random row->file layout: every file spans ~the full x and y range
    write_deltalake_py(df.repartition(16), path, mode="error")
    box = [("x", "<", 250), ("y", "<", 250)]
    adm0, total0 = delta_admitted_files(path, box)
    assert total0 == 16 and len(adm0) >= 15  # unclustered: no skipping
    res = zorder_deltalake_py(path, spark, ["x", "y"], target_files=16)
    assert res["removed"] == 16 and res["added"] >= 8
    adm1, total1 = delta_admitted_files(path, box)
    skip_frac = 1 - len(adm1) / total1
    assert skip_frac > 0.5, (len(adm1), total1)


# ---------------------------------------------------------------------------
# one snapshot, one committer


def test_txn_replay_skipped_on_multipart_checkpoint(spark, tmp_path):
    """The exactly-once guard reads txn watermarks from the snapshot,
    so it holds whatever the newest checkpoint's layout: a replayed
    txn-stamped batch on a table whose checkpoint is multi-part is
    skipped, not appended a second time."""
    tbl = str(tmp_path / "mptxn")
    for i in range(2):
        write_deltalake_py(
            spark.range(i * 10, (i + 1) * 10).select(F.col("id").alias("k")),
            tbl, mode="append" if i else "error", txn=("app", i),
        )
    _rewrite_classic_checkpoint(tbl, _split_multipart)
    write_deltalake_py(
        spark.range(10, 20).select(F.col("id").alias("k")),
        tbl, mode="append", txn=("app", 1),
    )
    assert read_deltalake_py(tbl, spark).count() == 20


@pytest.mark.parametrize("kind", ["dv_delete", "optimize"])
def test_checkpoint_on_every_commit_kind(spark, tmp_path, kind):
    """The interval checkpoint belongs to the committer, so the 10th
    commit writes one whether it is an append, a DV DELETE or an
    OPTIMIZE."""
    from daft_spark.io.delta import (
        _checkpoint_versions,
        delete_deltalake_dv_py,
        optimize_deltalake_py,
        restore_deltalake_py,
    )

    tbl = str(tmp_path / kind)
    write_deltalake_py(_df(spark, 0, 100).repartition(4), tbl, mode="error")
    for _ in range(9):  # versions 1..9: cheap metadata-only commits
        restore_deltalake_py(tbl, 0)
    if kind == "dv_delete":
        delete_deltalake_dv_py(tbl, spark, "id % 7 = 0")
        expected = 100 - len(range(0, 100, 7))
    else:
        assert optimize_deltalake_py(tbl, spark)["removed"] == 4
        expected = 100
    assert _checkpoint_versions(tbl) == [10]
    log = os.path.join(tbl, "_delta_log")
    for v in range(11):  # the checkpoint alone must carry the state
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert read_deltalake_py(tbl, spark).count() == expected


def test_commit_on_stale_snapshot_never_clobbers(spark, tbl):
    """Publishing against a snapshot whose next version already exists
    raises the concurrent-commit error and leaves the existing commit
    byte-identical (no temp file left behind either)."""
    from daft_spark.io.delta import _commit, _commit_file, _snapshot

    write_deltalake_py(_df(spark, 0, 10), tbl, mode="overwrite")
    stale = _snapshot(tbl)
    write_deltalake_py(_df(spark, 10, 20), tbl, mode="append")
    with open(_commit_file(tbl, 1), "rb") as f:
        before = f.read()
    with pytest.raises(RuntimeError, match="concurrent Delta commit detected at version 1"):
        _commit(tbl, stale, [], "WRITE", {"mode": "append"})
    with open(_commit_file(tbl, 1), "rb") as f:
        assert f.read() == before
    assert not [f for f in os.listdir(os.path.join(tbl, "_delta_log")) if f.startswith(".tmp-")]
    assert read_deltalake_py(tbl, spark).count() == 20


def test_table_id_stable_across_metadata_commits(spark, tbl):
    """Create, SET TBLPROPERTIES, overwrite and a checkpoint all state
    one table id and creation time (PROTOCOL.md: the metaData id is the
    table's unique, stable identifier)."""
    import pyarrow.parquet as pq

    from daft_spark.io.delta import _snapshot, _write_checkpoint, enable_cdf_delta_py

    write_deltalake_py(_df(spark, 0, 10), tbl, mode="overwrite")
    enable_cdf_delta_py(tbl)
    write_deltalake_py(_df(spark, 10, 20), tbl, mode="overwrite")
    _write_checkpoint(tbl, 2)
    log = os.path.join(tbl, "_delta_log")
    metadata = []
    for v in range(3):
        with open(os.path.join(log, f"{v:020d}.json")) as f:
            metadata += [a["metaData"] for a in map(json.loads, f) if "metaData" in a]
    ck = pq.read_table(os.path.join(log, f"{2:020d}.checkpoint.parquet")).to_pylist()
    metadata += [r["metaData"] for r in ck if r["metaData"]]
    assert len(metadata) == 4
    assert len({(m["id"], m["createdTime"]) for m in metadata}) == 1
    assert _snapshot(tbl).table_id == metadata[0]["id"]


def test_stats_pruning_survives_checkpoint(spark, tmp_path):
    """Checkpointed adds keep their ``stats``: with the JSON commits
    gone, the planner still admits only the file whose range matches."""
    from daft_spark.io.delta import _write_checkpoint, delta_admitted_files

    path = str(tmp_path / "t")
    a = spark.createDataFrame([(i, f"s{i}") for i in range(100)], ["x", "s"])
    b = spark.createDataFrame([(i, f"s{i}") for i in range(100, 200)], ["x", "s"])
    write_deltalake_py(a.coalesce(1), path, mode="error")
    write_deltalake_py(b.coalesce(1), path, mode="append")
    _write_checkpoint(path, 1)
    for v in range(2):
        os.remove(os.path.join(path, "_delta_log", f"{v:020d}.json"))
    adm, total = delta_admitted_files(path, [("x", "=", 150)])
    assert total == 2 and len(adm) == 1
    assert read_deltalake_py(path, spark).count() == 200
