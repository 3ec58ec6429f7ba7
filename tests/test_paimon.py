"""Pure-Python Paimon support: snapshot/manifest walk, append and
overwrite commits, time travel, mode gates, hive-partitioned tables
with BinaryRow manifest tuples, and the primary-key gate. Reference
surface: daft/io/__init__.py lakehouse reader set (read_paimon)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _orders(spark):
    from daft_spark.io.readers import load_table

    return load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def test_paimon_append_roundtrip(spark, tmp_path):
    from daft_spark.io.paimon import read_paimon_py, write_paimon_py

    o = _orders(spark)
    path = str(tmp_path / "tbl")
    write_paimon_py(o.filter(F.col("o_orderkey") < 1000), path, mode="error")
    write_paimon_py(
        o.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)),
        path,
        mode="append",
    )
    back = read_paimon_py(path, spark)
    expect = o.filter(F.col("o_orderkey") < 2000)
    assert back.count() == expect.count()
    assert (
        back.join(expect, ["o_orderkey", "o_orderstatus", "o_totalprice"], "left_anti").count()
        == 0
    )
    # paimon table structure on disk
    assert os.path.exists(os.path.join(path, "schema", "schema-0"))
    assert os.path.exists(os.path.join(path, "snapshot", "LATEST"))
    assert os.path.exists(os.path.join(path, "snapshot", "snapshot-2"))
    with open(os.path.join(path, "snapshot", "snapshot-2")) as f:
        snap = json.load(f)
    assert snap["commitKind"] == "APPEND"
    assert snap["totalRecordCount"] == expect.count()


def test_paimon_overwrite_retires_prior_files(spark, tmp_path):
    from daft_spark.io.paimon import read_paimon_py, write_paimon_py

    o = _orders(spark)
    path = str(tmp_path / "tbl")
    write_paimon_py(o.filter(F.col("o_orderkey") < 500), path)
    write_paimon_py(o.filter(F.col("o_orderkey") >= 5000), path, mode="overwrite")
    back = read_paimon_py(path, spark)
    assert back.filter(F.col("o_orderkey") < 5000).count() == 0
    assert back.count() == o.filter(F.col("o_orderkey") >= 5000).count()
    with open(os.path.join(path, "snapshot", "snapshot-2")) as f:
        assert json.load(f)["commitKind"] == "OVERWRITE"


def test_paimon_time_travel(spark, tmp_path):
    from daft_spark.io.paimon import read_paimon_py, write_paimon_py

    o = _orders(spark)
    path = str(tmp_path / "tbl")
    write_paimon_py(o.filter(F.col("o_orderkey") < 300), path)
    write_paimon_py(o.filter((F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 600)), path)
    assert read_paimon_py(path, spark, snapshot=1).count() == o.filter(
        F.col("o_orderkey") < 300
    ).count()
    assert read_paimon_py(path, spark).count() == o.filter(F.col("o_orderkey") < 600).count()


def test_paimon_mode_gates_and_wrapper(spark, tmp_path):
    from daft_spark.io.lakehouse import read_paimon
    from daft_spark.io.paimon import write_paimon_py

    o = _orders(spark).limit(10)
    path = str(tmp_path / "tbl")
    write_paimon_py(o, path)
    with pytest.raises(FileExistsError):
        write_paimon_py(o, path, mode="error")
    write_paimon_py(o, path, mode="ignore")  # no-op
    assert read_paimon(path, spark).count() == 10  # wrapper routes to pure-python
    with pytest.raises(ValueError):
        write_paimon_py(o, path, mode="bogus")
    with pytest.raises(ValueError):
        write_paimon_py(
            o.select(F.col("o_orderkey").alias("renamed")), path, mode="append"
        )


def test_paimon_unsupported_table_gates(spark, tmp_path):
    from daft_spark.io.paimon import write_paimon_py

    o = _orders(spark).limit(5)
    # partitioning on a non-partitionable type is gated at write time
    with pytest.raises(NotImplementedError, match="not supported"):
        write_paimon_py(o, str(tmp_path / "t1"), partition_by=["o_totalprice"])
    # delete commits require a primary-key table
    with pytest.raises(ValueError, match="primary_key"):
        write_paimon_py(o, str(tmp_path / "t2"), delete=True)


def test_binary_row_codec_roundtrip():
    from daft_spark.io.paimon import binary_row_decode, binary_row_encode

    cases = [
        ([42, "ok"], ["INT", "STRING"]),
        ([None, "a longer-than-seven-bytes string"], ["BIGINT", "STRING"]),
        ([True, None, -7], ["BOOLEAN", "STRING", "INT"]),
        ([2**40, "éß"], ["BIGINT", "STRING"]),  # multi-byte utf8 compact
        ([], []),
    ]
    for values, types in cases:
        assert binary_row_decode(binary_row_encode(values, types), types) == values
    # compact string boundary: 7 bytes inline, 8 bytes via the var part
    for s in ("seven77", "eight888"):
        assert binary_row_decode(binary_row_encode([s], ["STRING"]), ["STRING"]) == [s]
    # Flink writes each integer type at its OWN width (4/2/1 bytes for
    # INT/SMALLINT/TINYINT): byte layout must match, and negative values
    # must decode signed at that width (-1 as 8-byte LE would read
    # 4294967295 out of a genuine Flink-written row)
    enc = binary_row_encode([-1], ["INT"])
    nb = len(enc) - 8
    assert enc[nb : nb + 8] == b"\xff\xff\xff\xff\x00\x00\x00\x00"
    assert binary_row_decode(enc, ["INT"]) == [-1]
    for v, t, w in [(-1, "SMALLINT", 2), (-5, "TINYINT", 1), (-9, "BIGINT", 8)]:
        e = binary_row_encode([v], [t])
        assert e[nb + w : nb + 8] == b"\x00" * (8 - w)
        assert binary_row_decode(e, [t]) == [v]


def test_paimon_partitioned_roundtrip(spark, tmp_path):
    """Hive-partitioned append-only tables: partition columns dropped
    from data files, BinaryRow tuples in manifest entries, restored on
    read; appends and overwrite keep working; time travel preserved."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from daft_spark.io.paimon import read_paimon_py, write_paimon_py

    o = _orders(spark).select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = str(tmp_path / "ptbl")
    first = o.filter(F.col("o_orderkey") < 500)
    write_paimon_py(first, path, partition_by=["o_orderstatus"])
    # data files live under hive dirs and do NOT contain the partition column
    sample = glob.glob(path + "/o_orderstatus=*/bucket-0/*.parquet")
    assert sample, "expected hive-partitioned data dirs"
    assert "o_orderstatus" not in pq.read_schema(sample[0]).names
    back = read_paimon_py(path, spark)
    assert sorted(back.columns) == sorted(o.columns)
    assert back.count() == first.count()
    assert back.join(first, ["o_orderkey", "o_orderstatus", "o_totalprice"], "left_anti").count() == 0
    # append extends; partition keys must match
    second = o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 800))
    write_paimon_py(second, path, partition_by=["o_orderstatus"])
    assert read_paimon_py(path, spark).count() == first.count() + second.count()
    with pytest.raises(ValueError, match="partition keys"):
        write_paimon_py(second, path, partition_by=[])
    # time travel back to snapshot 1
    assert read_paimon_py(path, spark, snapshot=1).count() == first.count()
    # overwrite retires all partitions
    write_paimon_py(o.limit(10), path, mode="overwrite", partition_by=["o_orderstatus"])
    assert read_paimon_py(path, spark).count() == 10


def test_paimon_primary_key_upsert_delete(spark, tmp_path):
    """Primary-key tables: KeyValue system columns in the data files,
    merge-on-read with latest _SEQUENCE_NUMBER winning, DELETE
    tombstones, time travel to pre-upsert state, and the
    duplicate-keys-in-batch / key-constraint errors."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from daft_spark.io.paimon import read_paimon_py, write_paimon_py

    o = _orders(spark).select("o_orderkey", "o_orderstatus", "o_totalprice")
    base = o.filter(F.col("o_orderkey") < 300)
    path = str(tmp_path / "pk")
    write_paimon_py(base, path, primary_key=["o_orderkey"])
    # system columns present in the files, keys first
    f0 = glob.glob(path + "/bucket-0/*.parquet")[0]
    names = pq.read_schema(f0).names
    assert names[:3] == ["_KEY_o_orderkey", "_SEQUENCE_NUMBER", "_VALUE_KIND"]
    assert read_paimon_py(path, spark).count() == base.count()
    # upsert: new totalprice for 50 keys, 10 brand-new keys
    upd = base.filter(F.col("o_orderkey") < 50).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    new = o.filter((F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 310))
    write_paimon_py(upd.unionAll(new), path, primary_key=["o_orderkey"])
    merged = read_paimon_py(path, spark)
    assert merged.count() == base.count() + new.count()
    assert merged.filter(F.col("o_totalprice") == -1.0).count() == upd.count()
    # delete tombstones remove keys
    write_paimon_py(upd, path, primary_key=["o_orderkey"], delete=True)
    after = read_paimon_py(path, spark)
    assert after.count() == base.count() + new.count() - upd.count()
    assert after.filter(F.col("o_totalprice") == -1.0).count() == 0
    # time travel to snapshot 1 = original rows
    assert read_paimon_py(path, spark, snapshot=1).count() == base.count()
    # duplicate keys in one batch rejected
    with pytest.raises(ValueError, match="duplicate primary keys"):
        write_paimon_py(base.unionAll(base.limit(1)), path, primary_key=["o_orderkey"])
    # primary key must contain partition keys
    with pytest.raises(ValueError, match="must contain every partition key"):
        write_paimon_py(
            base, str(tmp_path / "pk2"),
            partition_by=["o_orderstatus"], primary_key=["o_orderkey"],
        )
    # partitioned + PK works when the key includes the partition column
    p3 = str(tmp_path / "pk3")
    write_paimon_py(
        base, p3, partition_by=["o_orderstatus"],
        primary_key=["o_orderkey", "o_orderstatus"],
    )
    write_paimon_py(
        upd, p3, partition_by=["o_orderstatus"],
        primary_key=["o_orderkey", "o_orderstatus"],
    )
    got = read_paimon_py(p3, spark)
    assert got.count() == base.count()
    assert got.filter(F.col("o_totalprice") == -1.0).count() == upd.count()


def test_paimon_compaction(spark, tmp_path):
    """Full compaction: the merged state is rewritten as one COMPACT
    snapshot retiring all pre-compact files; reads are unchanged,
    pre-compact snapshots stay time-travelable, and later upserts keep
    merging on top of the compacted files."""
    import json as _json

    from pyspark.sql import functions as F

    from daft_spark.io.paimon import (
        _latest_snapshot_id,
        _live_entries,
        _load_snapshot,
        compact_paimon_py,
        read_paimon_py,
        write_paimon_py,
    )

    o = _orders(spark).select("o_orderkey", "o_orderstatus", "o_totalprice")
    base = o.filter(F.col("o_orderkey") < 200)
    upd = base.filter(F.col("o_orderkey") < 40).withColumn("o_totalprice", F.lit(-1.0))
    path = str(tmp_path / "cpk")
    write_paimon_py(base, path, primary_key=["o_orderkey"])
    write_paimon_py(upd, path, primary_key=["o_orderkey"])
    write_paimon_py(upd.filter(F.col("o_orderkey") < 10), path,
                    primary_key=["o_orderkey"], delete=True)
    before = read_paimon_py(path, spark).orderBy("o_orderkey").collect()
    files_before = len(_live_entries(path, _load_snapshot(path, _latest_snapshot_id(path))))
    compact_paimon_py(path, spark, target_partitions=1)
    sid = _latest_snapshot_id(path)
    with open(f"{path}/snapshot/snapshot-{sid}") as f:
        assert _json.load(f)["commitKind"] == "COMPACT"
    after = read_paimon_py(path, spark).orderBy("o_orderkey").collect()
    assert after == before
    files_after = len(_live_entries(path, _load_snapshot(path, sid)))
    assert files_after < files_before
    assert files_after == 1
    # time travel to the pre-compact upsert state still merges correctly
    assert len(read_paimon_py(path, spark, snapshot=2).orderBy("o_orderkey").collect()) == 200
    # upserts continue on top of the compacted snapshot
    write_paimon_py(upd.filter((F.col("o_orderkey") >= 20) & (F.col("o_orderkey") < 30))
                    .withColumn("o_totalprice", F.lit(-2.0)),
                    path, primary_key=["o_orderkey"])
    got = read_paimon_py(path, spark)
    assert got.filter(F.col("o_totalprice") == -2.0).count() == 10
    assert got.count() == len(after)


def test_paimon_and_iceberg_null_partition_values(spark, tmp_path):
    """NULL partition values roundtrip through the hive default-name
    directory, the BinaryRow null bit (Paimon), and the manifest
    partition tuple (Iceberg); a PK upsert targeting the null group
    still merges (window grouping treats the null key as one group).
    Also: BinaryRow arity > 56 exercises the second null-bitset word."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from daft_spark.io.iceberg import read_iceberg_py, write_iceberg_py
    from daft_spark.io.paimon import (
        binary_row_decode,
        binary_row_encode,
        read_paimon_py,
        write_paimon_py,
    )

    vals = [i if i % 3 else None for i in range(60)]
    types = ["BIGINT"] * 60
    assert binary_row_decode(binary_row_encode(vals, types), types) == vals

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "b", 3.0), (4, None, 4.0)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("grp", T.StringType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    expect = sorted(tuple(r) for r in df.collect())

    p = str(tmp_path / "np")
    write_paimon_py(df, p, partition_by=["grp"])
    assert sorted(tuple(r) for r in read_paimon_py(p, spark).collect()) == expect

    p2 = str(tmp_path / "ni")
    write_iceberg_py(df, p2, partition_by=["grp"])
    assert sorted(tuple(r) for r in read_iceberg_py(p2, spark).collect()) == expect

    p3 = str(tmp_path / "npk")
    write_paimon_py(df, p3, partition_by=["grp"], primary_key=["id", "grp"])
    upd = spark.createDataFrame([(2, None, -9.0)], df.schema)
    write_paimon_py(upd, p3, partition_by=["grp"], primary_key=["id", "grp"])
    got = {r["id"]: r["v"] for r in read_paimon_py(p3, spark).collect()}
    assert got[2] == -9.0 and len(got) == 4


def test_paimon_append_past_lagging_latest_hint(spark, tmp_path):
    """A commit that published snapshot-<N+1> but crashed before it
    rotated LATEST: readers and the next append probe past the hint
    instead of reading stale state or failing forever on the taken
    snapshot name."""
    from daft_spark.io.paimon import read_paimon_py, write_paimon_py

    def keys(lo):
        return spark.range(lo, lo + 10).select(F.col("id").alias("k"))

    path = str(tmp_path / "lag")
    write_paimon_py(keys(0), path, mode="error")
    write_paimon_py(keys(100), path, mode="append")
    with open(os.path.join(path, "snapshot", "LATEST"), "w") as f:
        f.write("1")
    write_paimon_py(keys(200), path, mode="append")
    got = sorted(r["k"] for r in read_paimon_py(path, spark).collect())
    assert got == list(range(10)) + list(range(100, 110)) + list(range(200, 210))
    assert os.path.exists(os.path.join(path, "snapshot", "snapshot-3"))
