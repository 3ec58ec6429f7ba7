"""Pure-Python Iceberg v2 support: the generic Avro OCF codec, the
write -> read roundtrip (multi-snapshot), time travel, overwrite
semantics, and the error gates for unsupported features.

Reference surface: daft/io/iceberg/_iceberg.py:130 (read_iceberg),
daft/io/iceberg/iceberg_write.py (write path). The reference uses
pyiceberg for the metadata walk; this implementation does the same
walk with its own avro codec (daft_spark/io/avro.py).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# avro codec


def test_avro_ocf_roundtrip(tmp_path):
    from daft_spark.io.avro import read_ocf, write_ocf

    schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "opt", "type": ["null", "long"], "default": None},
            {"name": "f", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "int"}],
                },
            },
            {"name": "nested2", "type": "inner"},  # named-type reference
        ],
    }
    recs = [
        {
            "s": "héllo",
            "n": -(1 << 40),
            "opt": None,
            "f": 2.5,
            "flag": True,
            "raw": b"\x00\xff",
            "arr": [1, -2, 3],
            "m": {"a": "b", "c": "d"},
            "nested": {"x": 7},
            "nested2": {"x": -7},
        },
        {
            "s": "",
            "n": 0,
            "opt": 42,
            "f": -0.125,
            "flag": False,
            "raw": b"",
            "arr": [],
            "m": {},
            "nested": {"x": 0},
            "nested2": {"x": 1},
        },
    ]
    p = str(tmp_path / "t.avro")
    write_ocf(p, schema, recs, metadata={"k": "v"})
    rschema, meta, out = read_ocf(p)
    assert out == recs
    assert meta["k"] == b"v"
    assert rschema["name"] == "rec"


def test_avro_deflate_codec(tmp_path):
    """Reader must handle deflate blocks (what real Iceberg writers
    emit by default)."""
    import zlib

    from daft_spark.io.avro import MAGIC, _write_bytes, _write_long, read_ocf
    import io as _io

    schema = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    body = _io.BytesIO()
    for v in (1, 2, 3):
        _write_long(body, v)
    out = _io.BytesIO()
    out.write(MAGIC)
    _write_long(out, 2)
    _write_bytes(out, b"avro.schema")
    _write_bytes(out, json.dumps(schema).encode())
    _write_bytes(out, b"avro.codec")
    _write_bytes(out, b"deflate")
    _write_long(out, 0)
    sync = b"0123456789abcdef"
    out.write(sync)
    _write_long(out, 3)
    _write_bytes(out, zlib.compress(body.getvalue())[2:-4])  # raw deflate
    out.write(sync)
    p = str(tmp_path / "d.avro")
    with open(p, "wb") as f:
        f.write(out.getvalue())
    _, _, recs = read_ocf(p)
    assert recs == [{"x": 1}, {"x": 2}, {"x": 3}]


# ---------------------------------------------------------------------------
# iceberg table roundtrip


def _orders(spark):
    from daft_spark.io.readers import load_table

    return load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def test_iceberg_write_read_roundtrip(spark, tmp_path):
    from daft_spark.io.iceberg import read_iceberg_py, write_iceberg_py

    o = _orders(spark)
    path = str(tmp_path / "tbl")
    write_iceberg_py(o.filter(F.col("o_orderkey") < 1000), path, mode="error")
    write_iceberg_py(
        o.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)),
        path,
        mode="append",
    )
    back = read_iceberg_py(path, spark)
    expect = o.filter(F.col("o_orderkey") < 2000)
    assert back.count() == expect.count()
    assert back.schema == expect.schema
    assert (
        back.join(expect, ["o_orderkey", "o_orderstatus", "o_totalprice"], "left_anti").count()
        == 0
    )


def test_iceberg_overwrite_and_time_travel(spark, tmp_path):
    from daft_spark.io.iceberg import _latest_metadata, read_iceberg_py, write_iceberg_py

    o = _orders(spark)
    path = str(tmp_path / "tbl")
    write_iceberg_py(o.filter(F.col("o_orderkey") < 500), path)
    meta1 = _latest_metadata(path)
    snap1 = meta1["current-snapshot-id"]
    n1 = read_iceberg_py(path, spark).count()
    write_iceberg_py(o.filter(F.col("o_orderkey") >= 5000), path, mode="overwrite")
    # current state = second slice only
    cur = read_iceberg_py(path, spark)
    assert cur.filter(F.col("o_orderkey") < 5000).count() == 0
    # time travel back to snapshot 1
    old = read_iceberg_py(path, spark, snapshot_id=snap1)
    assert old.count() == n1
    assert old.filter(F.col("o_orderkey") >= 500).count() == 0


def test_iceberg_mode_gates(spark, tmp_path):
    from daft_spark.io.iceberg import read_iceberg_py, write_iceberg_py

    o = _orders(spark).limit(10)
    path = str(tmp_path / "tbl")
    write_iceberg_py(o, path)
    with pytest.raises(FileExistsError):
        write_iceberg_py(o, path, mode="error")
    n = read_iceberg_py(path, spark).count()
    write_iceberg_py(o, path, mode="ignore")  # no-op
    assert read_iceberg_py(path, spark).count() == n
    with pytest.raises(ValueError):
        write_iceberg_py(o, path, mode="bogus")


def test_iceberg_schema_fidelity(spark, tmp_path):
    """Types must survive the Spark -> Iceberg JSON -> Spark roundtrip,
    including decimal, date, timestamp_ntz, array, map, struct."""
    from pyspark.sql import types as T

    from daft_spark.io.iceberg import _iceberg_type_to_spark, schema_to_iceberg

    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.DecimalType(18, 2), True),
            T.StructField("c", T.DateType(), False),
            T.StructField("d", T.TimestampNTZType(), True),
            T.StructField("e", T.ArrayType(T.DoubleType(), True), True),
            T.StructField("f", T.MapType(T.StringType(), T.LongType(), True), True),
            T.StructField(
                "g",
                T.StructType([T.StructField("x", T.StringType(), True)]),
                True,
            ),
        ]
    )
    ice = schema_to_iceberg(schema)
    # every field and nested element got a distinct id
    assert ice["last-column-id"] >= 7
    back = _iceberg_type_to_spark({"type": "struct", "fields": ice["fields"]})
    assert back == schema


def test_iceberg_rejects_unsupported(spark, tmp_path):
    from daft_spark.io.iceberg import read_iceberg_py, write_iceberg_py

    o = _orders(spark).limit(5)
    path = str(tmp_path / "tbl")
    write_iceberg_py(o, path)
    # forge a v3 metadata file
    md = os.path.join(path, "metadata")
    with open(os.path.join(md, "version-hint.text")) as f:
        v = int(f.read())
    with open(os.path.join(md, f"v{v}.metadata.json")) as f:
        meta = json.load(f)
    meta["format-version"] = 3
    with open(os.path.join(md, f"v{v + 1}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(md, "version-hint.text"), "w") as f:
        f.write(str(v + 1))
    with pytest.raises(NotImplementedError):
        read_iceberg_py(path, spark)


def test_lakehouse_wrappers_route_to_pure_python(spark, tmp_path):
    """read_iceberg/write_iceberg must route filesystem paths through
    the pure-Python implementation."""
    from daft_spark.io.lakehouse import read_iceberg
    from daft_spark.io.writers import write_iceberg

    o = _orders(spark).limit(20)
    path = str(tmp_path / "tbl")
    write_iceberg(o, path, write_mode="append")
    assert read_iceberg(path, spark).count() == 20


def test_iceberg_any_partition_spec_readable(spark, tmp_path):
    """Tables of ANY partition spec read fine: Iceberg data files carry
    the partition SOURCE columns (identity and hidden transforms alike),
    so the plain parquet scan reconstructs full rows — only manifest
    pruning is lost."""
    from daft_spark.io.iceberg import read_iceberg_py, write_iceberg_py

    o = _orders(spark).limit(50)
    path = str(tmp_path / "tbl")
    write_iceberg_py(o, path)
    md = os.path.join(path, "metadata")
    with open(os.path.join(md, "version-hint.text")) as f:
        v = int(f.read())
    with open(os.path.join(md, f"v{v}.metadata.json")) as f:
        meta = json.load(f)

    def _republish(spec_fields, new_v):
        meta["partition-specs"] = [{"spec-id": 0, "fields": spec_fields}]
        with open(os.path.join(md, f"v{new_v}.metadata.json"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(md, "version-hint.text"), "w") as f:
            f.write(str(new_v))

    _republish(
        [{"name": "o_orderstatus", "transform": "identity",
          "source-id": 2, "field-id": 1000}], v + 1,
    )
    assert read_iceberg_py(path, spark).count() == 50
    _republish(
        [{"name": "o_orderkey_bucket", "transform": "bucket[16]",
          "source-id": 1, "field-id": 1001}], v + 2,
    )
    assert read_iceberg_py(path, spark).count() == 50


def test_iceberg_hidden_partition_transforms_roundtrip(spark, tmp_path):
    """bucket/truncate/temporal transform writes: hidden partition
    values drive the file layout and manifest tuples while the source
    columns stay in the data files; reads reconstruct the full rows."""
    from daft_spark.io.iceberg import read_iceberg_py, write_iceberg_py
    from daft_spark.io.readers import load_table

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    ).filter(F.col("o_orderkey") < 600)
    path = str(tmp_path / "tbl")
    write_iceberg_py(
        o, path, mode="overwrite",
        partition_by=["bucket(4, o_orderkey)", "years(o_orderdate)"],
    )
    back = read_iceberg_py(path, spark)
    assert back.count() == o.count()
    assert sorted(back.columns) == sorted(o.columns)
    assert back.join(o, ["o_orderkey"], "left_anti").count() == 0
    # spec records the transform terms; layout uses the derived names
    import glob as _glob

    meta = sorted(_glob.glob(path + "/metadata/v*.metadata.json"))[-1]
    with open(meta) as f:
        spec = json.load(f)["partition-specs"][0]["fields"]
    assert [(s["name"], s["transform"]) for s in spec] == [
        ("o_orderkey_bucket", "bucket[4]"),
        ("o_orderdate_year", "year"),
    ]
    assert any(d.startswith("o_orderkey_bucket=") for d in os.listdir(path + "/data"))
    # append with a matching transform spec extends the table
    extra = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    ).filter((F.col("o_orderkey") >= 600) & (F.col("o_orderkey") < 900))
    write_iceberg_py(
        extra, path, mode="append",
        partition_by=["bucket(4, o_orderkey)", "years(o_orderdate)"],
    )
    assert read_iceberg_py(path, spark).count() == o.count() + extra.count()
    # mismatched transform spec rejected
    with pytest.raises(ValueError, match="partition spec"):
        write_iceberg_py(
            extra.limit(5), path, mode="append",
            partition_by=["bucket(8, o_orderkey)"],
        )
    # string truncate
    path2 = str(tmp_path / "tbl2")
    write_iceberg_py(
        o.limit(100), path2, partition_by=["truncate(1, o_orderstatus)"]
    )
    assert read_iceberg_py(path2, spark).count() == 100


def test_identity_partitioned_write_and_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from daft_spark.io.iceberg import read_iceberg_py, write_iceberg_py
    from daft_spark.io.readers import load_table
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = str(tmp_path / "tbl")
    write_iceberg_py(
        o.filter(F.col("o_orderkey") < 700), path, mode="overwrite",
        partition_by=["o_orderstatus"],
    )
    write_iceberg_py(
        o.filter((F.col("o_orderkey") >= 700) & (F.col("o_orderkey") < 1400)),
        path, mode="append", partition_by=["o_orderstatus"],
    )
    back = read_iceberg_py(path, spark)
    expect = o.filter(F.col("o_orderkey") < 1400)
    assert back.count() == expect.count()
    # partition columns survive IN the data files (native-writer layout)
    assert sorted(back.columns) == ["o_orderkey", "o_orderstatus", "o_totalprice"]
    assert (
        back.join(expect, ["o_orderkey", "o_orderstatus", "o_totalprice"], "left_anti").count()
        == 0
    )
    # hive-style data layout + identity spec in metadata
    import json as _json
    import os as _os

    assert any(d.startswith("o_orderstatus=") for d in _os.listdir(path + "/data"))
    import glob as _glob

    meta = sorted(_glob.glob(path + "/metadata/v*.metadata.json"))[-1]
    with open(meta) as f:
        spec = _json.load(f)["partition-specs"][0]["fields"]
    assert [(s["name"], s["transform"]) for s in spec] == [("o_orderstatus", "identity")]
    # appending with an explicit DIFFERENT spec is rejected; omitting
    # partition_by adopts the table's default spec (the spec is table
    # state, not a per-write argument)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition spec"):
        write_iceberg_py(o.limit(5), path, mode="append", partition_by=[])
    before = read_iceberg_py(path, spark).count()
    write_iceberg_py(
        o.filter((F.col("o_orderkey") >= 1400) & (F.col("o_orderkey") < 1450)),
        path, mode="append",
    )
    adopted = read_iceberg_py(path, spark)
    assert adopted.count() == before + o.filter(
        (F.col("o_orderkey") >= 1400) & (F.col("o_orderkey") < 1450)
    ).count()


def test_iceberg_equality_deletes_merge_on_read(spark, tmp_path):
    """Row-level deletes via v2 equality delete files: matching rows
    vanish from OLDER data files only (sequence rule), later appends
    resurrect the key, time travel sees the pre-delete state, and the
    distinct delete values land in a content=1 deletes manifest."""
    from daft_spark.io.iceberg import (
        delete_iceberg_py,
        read_iceberg_py,
        write_iceberg_py,
    )
    from daft_spark.io.readers import load_table

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") < 400)
    path = str(tmp_path / "dtbl")
    write_iceberg_py(base, path)
    # delete 100 keys by equality on o_orderkey
    doomed = base.filter(F.col("o_orderkey") < 100)
    delete_iceberg_py(doomed, path, equality_by=["o_orderkey"])
    got = read_iceberg_py(path, spark)
    assert got.count() == base.count() - doomed.count()
    assert got.filter(F.col("o_orderkey") < 100).count() == 0
    # rows appended AFTER the delete are unaffected (strictly-older rule)
    write_iceberg_py(doomed.limit(20), path, mode="append")
    got2 = read_iceberg_py(path, spark)
    assert got2.filter(F.col("o_orderkey") < 100).count() == 20
    assert got2.count() == base.count() - doomed.count() + 20
    # time travel to the first snapshot predates the delete
    import glob
    import json as _json

    meta = sorted(glob.glob(path + "/metadata/v*.metadata.json"))[0]
    with open(meta) as f:
        first_snap = _json.load(f)["current-snapshot-id"]
    assert read_iceberg_py(path, spark, snapshot_id=first_snap).count() == base.count()
    # second delete stacks on everything older — the 5 keys exist only
    # in the resurrected batch (their base rows were already deleted),
    # so exactly 5 rows disappear
    delete_iceberg_py(doomed.limit(5), path, equality_by=["o_orderkey"])
    got3 = read_iceberg_py(path, spark)
    assert got3.count() == got2.count() - 5
    assert got3.filter(F.col("o_orderkey").isin(
        [r[0] for r in doomed.limit(5).select("o_orderkey").collect()]
    )).count() == 0
    # unknown equality column rejected
    with pytest.raises(ValueError, match="not in table schema"):
        delete_iceberg_py(doomed, path, equality_by=["nope"])


def test_iceberg_equality_delete_null_semantics(spark, tmp_path):
    """Equality deletes use IS NOT DISTINCT FROM semantics: a delete
    row with a NULL key value deletes rows whose column IS NULL (a
    plain equality anti-join would never match them)."""
    from pyspark.sql import types as T

    from daft_spark.io.iceberg import (
        delete_iceberg_py,
        read_iceberg_py,
        write_iceberg_py,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("k", T.StringType()),
            ]
        ),
    )
    path = str(tmp_path / "nd")
    write_iceberg_py(df, path)
    dels = spark.createDataFrame([(0, None)], df.schema).select("k")
    delete_iceberg_py(dels, path, equality_by=["k"])
    got = read_iceberg_py(path, spark)
    assert sorted(r["id"] for r in got.collect()) == [1, 3]


# ---------------------------------------------------------------------------
# round 6: spec-compliant transforms, partition pruning, position deletes


def test_bucket_transform_matches_iceberg_spec_vectors():
    """The write path's bucket hash must be the SPEC hash (murmur3
    seed 0 over the single-value binary form), not Spark's F.hash —
    validated against the Iceberg spec's published Appendix B vectors
    so externally-written tables prune identically."""
    import datetime

    import numpy as np

    from daft_spark.io.iceberg_transforms import (
        bucket_value,
        day_value,
        murmur3_32,
        murmur3_32_long_vec,
    )

    def h_long(v):
        return murmur3_32(int(v).to_bytes(8, "little", signed=True))

    assert h_long(34) == 2017239379  # int and long 34
    assert murmur3_32(b"iceberg") == 1210000089  # string
    assert h_long(day_value(datetime.date(2017, 11, 16))) == -653330422  # date
    ts = datetime.datetime(2017, 11, 16, 22, 31, 8)
    us = int((ts - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    assert h_long(us) == -2047944441  # timestamp micros
    assert murmur3_32(bytes([0, 1, 2, 3])) == -188683207  # fixed/binary
    # vectorized path == scalar path on tricky values
    vals = np.array([34, -1, 0, 2**40, -(2**40), (1 << 62)], dtype=np.int64)
    assert [int(x) for x in murmur3_32_long_vec(vals)] == [
        h_long(int(v)) for v in vals
    ]
    assert bucket_value("iceberg", 16) == (1210000089 & 0x7FFFFFFF) % 16


def test_iceberg_written_bucket_tuples_are_spec_values(spark, tmp_path):
    """Manifest partition tuples for bucket/day transforms equal the
    spec transform of the source values (what pyiceberg/Trino would
    compute) — an external reader pruning on them keeps the right
    files."""
    from daft_spark.io.avro import read_ocf
    from daft_spark.io.iceberg import write_iceberg_py, _latest_metadata, current_snapshot, _to_local
    from daft_spark.io.iceberg_transforms import bucket_value, day_value
    from daft_spark.io.readers import load_table

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    ).filter(F.col("o_orderkey") < 200)
    path = str(tmp_path / "tbl")
    write_iceberg_py(
        o, path, mode="overwrite",
        partition_by=["bucket(8, o_orderkey)", "days(o_orderdate)"],
    )
    rows = o.collect()
    expected = {
        (bucket_value(r.o_orderkey, 8), day_value(r.o_orderdate)) for r in rows
    }
    meta = _latest_metadata(path)
    snap = current_snapshot(meta)
    _, _, manifests = read_ocf(_to_local(snap["manifest-list"], path))
    got = set()
    for m in manifests:
        _, _, entries = read_ocf(_to_local(m["manifest_path"], path))
        for e in entries:
            p = e["data_file"]["partition"]
            got.add((p["o_orderkey_bucket"], p["o_orderdate_day"]))
    assert got == expected


def test_iceberg_partition_pruning_reads_matching_files_only(spark, tmp_path):
    """A partition-filtered read must hand Spark ONLY the matching
    manifest entries' files (identity + day transforms), while the
    residual filter keeps row-level exactness."""
    from daft_spark.io.iceberg import read_iceberg_py, write_iceberg_py
    from daft_spark.io.readers import load_table

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    path = str(tmp_path / "tbl")
    write_iceberg_py(
        o, path, mode="overwrite",
        partition_by=["o_orderstatus", "years(o_orderdate)"],
    )
    full_files = set(read_iceberg_py(path, spark).inputFiles())
    pruned = read_iceberg_py(path, spark, filters=[("o_orderstatus", "=", "F")])
    pruned_files = set(pruned.inputFiles())
    assert pruned_files < full_files
    assert all("o_orderstatus=F" in f for f in pruned_files)
    expect = o.filter(F.col("o_orderstatus") == "F")
    assert pruned.count() == expect.count()
    # range filter over the temporal transform prunes years
    import datetime

    cut = datetime.date(1999, 1, 1)
    pr2 = read_iceberg_py(path, spark, filters=[("o_orderdate", ">=", cut)])
    assert set(pr2.inputFiles()) < full_files
    assert pr2.count() == o.filter(F.col("o_orderdate") >= F.lit(cut)).count()
    # bucket transform: equality prunes to <= 1/N of the files
    path2 = str(tmp_path / "tbl2")
    write_iceberg_py(o, path2, mode="overwrite", partition_by=["bucket(4, o_orderkey)"])
    all2 = set(read_iceberg_py(path2, spark).inputFiles())
    pb = read_iceberg_py(path2, spark, filters=[("o_orderkey", "=", 7)])
    assert set(pb.inputFiles()) < all2
    assert pb.count() == 1


def test_iceberg_position_deletes_merge_on_read(spark, tmp_path):
    """Position-delete MoR: rows matching the predicate are tombstoned
    by (file path, row index) without rewriting data files; later
    appends are unaffected; deletes compose with reads across
    snapshots."""
    from daft_spark.io.iceberg import (
        position_delete_iceberg_py,
        read_iceberg_py,
        write_iceberg_py,
    )
    from daft_spark.io.readers import load_table

    c = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    path = str(tmp_path / "tbl")
    write_iceberg_py(c, path, mode="overwrite")
    n0 = c.count()
    position_delete_iceberg_py(path, spark, "c_acctbal < 0")
    back = read_iceberg_py(path, spark)
    exp = c.filter(~(F.col("c_acctbal") < 0))
    assert back.count() == exp.count() < n0
    assert back.join(exp, ["c_custkey"], "left_anti").count() == 0
    # data files untouched (MoR, not CoW): original parquet count stable
    data_files = [f for f in os.listdir(path + "/data") if "deletes" not in f]
    # rows appended AFTER the delete are not affected even if they match
    neg = c.filter(F.col("c_acctbal") < 0).limit(7)
    write_iceberg_py(neg, path, mode="append")
    again = read_iceberg_py(path, spark)
    assert again.count() == exp.count() + 7
    assert [f for f in os.listdir(path + "/data") if "deletes" not in f] != data_files
    # a second position delete applies to both generations
    position_delete_iceberg_py(path, spark, "c_acctbal < 0")
    assert read_iceberg_py(path, spark).count() == exp.count()


def test_iceberg_delete_manifests_reference_unpartitioned_spec(spark, tmp_path):
    """Global deletes carry an empty partition tuple, so their manifest
    must reference an UNPARTITIONED spec id — on a partitioned table,
    spec 0 has fields and a spec-compliant reader could not reconcile
    the entry."""
    from daft_spark.io.avro import read_ocf
    from daft_spark.io.iceberg import (
        _latest_metadata,
        _to_local,
        current_snapshot,
        delete_iceberg_py,
        read_iceberg_py,
        write_iceberg_py,
    )
    from daft_spark.io.readers import load_table

    c = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    path = str(tmp_path / "tbl")
    write_iceberg_py(c, path, mode="overwrite", partition_by=["c_mktsegment"])
    doomed = c.filter(F.col("c_custkey") % 10 == 3).select("c_custkey")
    delete_iceberg_py(doomed, path, ["c_custkey"])
    meta = _latest_metadata(path)
    specs = {s["spec-id"]: s["fields"] for s in meta["partition-specs"]}
    snap = current_snapshot(meta)
    _, _, manifests = read_ocf(_to_local(snap["manifest-list"], path))
    delete_manifests = [m for m in manifests if m.get("content") == 1]
    assert delete_manifests
    for m in delete_manifests:
        assert specs[m["partition_spec_id"]] == []  # unpartitioned spec
    assert specs[0] != []  # the table's own spec keeps its fields
    back = read_iceberg_py(path, spark)
    assert back.filter(F.col("c_custkey") % 10 == 3).count() == 0


def test_iceberg_python_datasource_pushdown(spark, tmp_path):
    """format("daft_iceberg"): Catalyst pushes the filter into the
    source (pushFilters), the reader prunes manifest entries to the
    matching files (one input partition per pruned file), deletes apply
    per-file, and Spark re-applies the predicate row-level (every
    filter returned unhandled)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from daft_spark.io.iceberg import (
        delete_iceberg_py,
        write_iceberg_py,
    )
    from daft_spark.io.iceberg_source import IcebergReader, IcebergSource
    from daft_spark.io.readers import load_table

    try:
        spark.dataSource.register(IcebergSource)
    except Exception:
        pass
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = str(tmp_path / "tbl")
    write_iceberg_py(o, path, mode="overwrite", partition_by=["o_orderstatus"])

    # end-to-end: the registered format answers filtered queries exactly
    df = spark.read.format("daft_iceberg").option("path", path).load()
    assert df.count() == o.count()
    got = df.filter(F.col("o_orderstatus") == "F")
    assert got.count() == o.filter(F.col("o_orderstatus") == "F").count()

    # reader-level: pushFilters reduces the partition (file) list and
    # reports every filter back as unhandled
    def n_files(reader):
        return sum(len(p.value[0]) for p in reader.partitions())

    r = IcebergReader({"path": path})
    full = n_files(r)
    r2 = IcebergReader({"path": path})
    unhandled = list(r2.pushFilters([EqualTo(("o_orderstatus",), "F"),
                                     GreaterThan(("o_totalprice",), 0.0)]))
    assert len(unhandled) == 2
    pruned = n_files(r2)
    assert 0 < pruned < full

    # merge-on-read through the source
    delete_iceberg_py(
        o.filter(F.col("o_orderkey") < 50).select("o_orderkey"), path, ["o_orderkey"]
    )
    df2 = spark.read.format("daft_iceberg").option("path", path).load()
    assert df2.filter(F.col("o_orderkey") < 50).count() == 0
    assert df2.count() == o.filter(F.col("o_orderkey") >= 50).count()


def test_iceberg_datasource_all_files_pruned_returns_empty(spark, tmp_path):
    """ADVICE r6: when pruning drops every data file (or the filter
    matches nothing), the registered source must return 0 rows — not
    crash on Spark's default partition for an empty partitions() list."""
    from daft_spark.io.iceberg import write_iceberg_py
    from daft_spark.io.iceberg_source import IcebergSource
    from daft_spark.io.readers import load_table

    try:
        spark.dataSource.register(IcebergSource)
    except Exception:
        pass
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderstatus")
    path = str(tmp_path / "tbl")
    write_iceberg_py(o, path, mode="overwrite", partition_by=["o_orderstatus"])
    df = spark.read.format("daft_iceberg").option("path", path).load()
    assert df.filter(F.col("o_orderstatus") == "Z").count() == 0


def test_iceberg_datasource_bulk_deletes_vectorized(spark, tmp_path):
    """10k-row position + equality delete files apply through the
    vectorized mask path (is_in over encoded keys / row ordinals) and
    stay exact. Bounded-time guard: the old per-row kernel loop was
    O(delete_rows x file_rows) pyarrow calls."""
    import time as _time

    from daft_spark.io.iceberg import delete_iceberg_py, write_iceberg_py
    from daft_spark.io.iceberg_source import IcebergSource

    try:
        spark.dataSource.register(IcebergSource)
    except Exception:
        pass
    n = 20000
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("m")
    )
    path = str(tmp_path / "tbl")
    write_iceberg_py(df, path, mode="overwrite")
    # equality-delete half the keys (10k delete rows)
    delete_iceberg_py(
        df.filter(F.col("k") < n // 2).select("k"), path, ["k"]
    )
    t0 = _time.time()
    got = spark.read.format("daft_iceberg").option("path", path).load()
    assert got.count() == n // 2
    assert got.agg(F.min("k")).first()[0] == n // 2
    assert _time.time() - t0 < 60


def test_iceberg_column_stats_written_and_pruned(spark, tmp_path):
    """Write path records lower/upper bounds (single-value binary) per
    data file; the metadata walk skips files on range filters over an
    UNPARTITIONED table; string bounds are truncated at 16 with a
    valid (incremented) upper; absent/foreign bounds never exclude."""
    from daft_spark.io.iceberg import (
        _latest_metadata,
        _live_files_and_deletes,
        current_snapshot,
        read_iceberg_py,
        write_iceberg_py,
    )
    from daft_spark.io.avro import read_ocf
    from daft_spark.io.iceberg_transforms import single_value_decode

    df = spark.range(50000).select(
        F.col("id").alias("k"),
        # 16-char strings: inside the truncation width, so bounds stay exact
        F.concat(F.lit("val_"), F.format_string("%012d", F.col("id"))).alias("s"),
        # >16-char strings sharing a long prefix: bounds get truncated
        F.concat(F.lit("longprefix_constant_"), F.col("id").cast("string")).alias(
            "s2"
        ),
    )
    path = str(tmp_path / "t")
    write_iceberg_py(df.repartitionByRange(5, "k"), path, mode="overwrite")
    meta = _latest_metadata(path)
    # bounds present in the manifest, decodable, and truncated for strings
    snap = current_snapshot(meta)
    _, _, manifests = read_ocf(snap["manifest-list"])
    _, _, entries = read_ocf(manifests[0]["manifest_path"])
    d = entries[0]["data_file"]
    lbs = {r["key"]: r["value"] for r in d["lower_bounds"]}
    ubs = {r["key"]: r["value"] for r in d["upper_bounds"]}
    assert set(lbs) == {1, 2, 3} and set(ubs) == {1, 2, 3}
    lo_k = single_value_decode(lbs[1], "long")
    hi_k = single_value_decode(ubs[1], "long")
    assert isinstance(lo_k, int) and lo_k <= hi_k
    assert len(lbs[3]) == 16  # long-string lower truncated to width
    # truncated-and-incremented upper still bounds every value in the file
    assert single_value_decode(ubs[3], "string") > "longprefix_const"
    # range filter prunes files
    total, _ = _live_files_and_deletes(meta, path, None, None)
    kept, _ = _live_files_and_deletes(meta, path, None, [("k", "<", 100)])
    assert len(total) == 5 and len(kept) == 1
    # equality on the in-width string column keeps only one file
    kept_s, _ = _live_files_and_deletes(
        meta, path, None, [("s", "=", "val_000000042000")]
    )
    assert len(kept_s) == 1
    # the shared->truncated s2 bounds must NOT wrongly exclude a match
    kept_s2, _ = _live_files_and_deletes(
        meta, path, None, [("s2", "=", "longprefix_constant_42000")]
    )
    assert len(kept_s2) == 5  # truncated bounds are non-selective here, by design
    got = read_iceberg_py(path, spark, filters=[("k", "<", 100)])
    assert got.filter(F.col("k") < 100).count() == 100
    # full read unaffected
    assert read_iceberg_py(path, spark).count() == 50000


def test_iceberg_stats_pruning_sound_on_appends_and_deletes(spark, tmp_path):
    """Stats pruning composes with merge-on-read: equality deletes
    still apply to kept files, and appended snapshots' bounds are
    honored independently per manifest."""
    from daft_spark.io.iceberg import (
        delete_iceberg_py,
        read_iceberg_py,
        write_iceberg_py,
    )

    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("m"))
    path = str(tmp_path / "t")
    write_iceberg_py(df.filter(F.col("k") < 500).repartitionByRange(2, "k"), path,
                     mode="overwrite")
    write_iceberg_py(df.filter(F.col("k") >= 500).repartitionByRange(2, "k"), path,
                     mode="append")
    delete_iceberg_py(df.filter(F.col("k").between(100, 199)).select("k"), path, ["k"])
    got = read_iceberg_py(path, spark, filters=[("k", "<", 300)])
    assert got.filter(F.col("k") < 300).count() == 200  # 0-99 + 200-299
    assert read_iceberg_py(path, spark).count() == 900


def test_iceberg_null_count_stats_and_isnull_pruning(spark, tmp_path):
    """value/null counts (spec ids 109/110) are recorded per file and
    drive IS NULL / IS NOT NULL pruning plus all-null comparison
    exclusion; Catalyst's IsNull/IsNotNull filters reach the pruning
    walk through the registered daft_iceberg source."""
    from daft_spark.io.iceberg import (
        _latest_metadata,
        _live_files_and_deletes,
        read_iceberg_py,
        write_iceberg_py,
    )
    from daft_spark.io.iceberg_source import IcebergSource

    try:
        spark.dataSource.register(IcebergSource)
    except Exception:
        pass
    # file A: v never null; file B: v always null (union of two writes)
    a = spark.range(1000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    ).coalesce(1)
    b = spark.range(1000, 2000).select(
        F.col("id").alias("k"), F.lit(None).cast("double").alias("v")
    ).coalesce(1)
    path = str(tmp_path / "t")
    write_iceberg_py(a, path, mode="overwrite")
    write_iceberg_py(b, path, mode="append")
    meta = _latest_metadata(path)
    total, _ = _live_files_and_deletes(meta, path, None, None)
    assert len(total) == 2
    only_null, _ = _live_files_and_deletes(meta, path, None, [("v", "isnull", None)])
    assert len(only_null) == 1  # file A (nulls=0) pruned
    only_val, _ = _live_files_and_deletes(meta, path, None, [("v", "isnotnull", None)])
    assert len(only_val) == 1  # file B (all null) pruned
    cmp_pruned, _ = _live_files_and_deletes(meta, path, None, [("v", ">", 10.0)])
    assert len(cmp_pruned) == 1  # all-null file can't satisfy a comparison
    # results stay exact through both read paths
    assert read_iceberg_py(path, spark, filters=[("v", "isnull", None)]).filter(
        F.col("v").isNull()
    ).count() == 1000
    # fresh load() per query: Spark caches the planned read per relation
    # (see test_iceberg_datasource_plan_cache_staleness)
    load = lambda: spark.read.format("daft_iceberg").option("path", path).load()
    assert load().filter(F.col("v").isNull()).count() == 1000
    assert load().filter(F.col("v").isNotNull()).count() == 1000
    assert load().count() == 2000


def test_iceberg_datasource_plan_cache_staleness(spark, tmp_path):
    """Documents a SPARK 4.1 engine limitation, not a source bug: the
    planned read of a Python data source is cached on the relation and
    only re-planned when the next query pushes filters. Reusing one
    load() DataFrame for a filtered action and then an unfiltered one
    replays the stale filtered plan. A fresh load() per query is always
    correct. If this test ever fails on a future Spark because the
    SECOND assertion returns 2000, Spark fixed the caching — then drop
    the docstring warning in io/iceberg_source.py."""
    from daft_spark.io.iceberg import write_iceberg_py
    from daft_spark.io.iceberg_source import IcebergSource

    try:
        spark.dataSource.register(IcebergSource)
    except Exception:
        pass
    a = spark.range(1000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    ).coalesce(1)
    b = spark.range(1000, 2000).select(
        F.col("id").alias("k"), F.lit(None).cast("double").alias("v")
    ).coalesce(1)
    path = str(tmp_path / "t")
    write_iceberg_py(a, path, mode="overwrite")
    write_iceberg_py(b, path, mode="append")
    df = spark.read.format("daft_iceberg").option("path", path).load()
    assert df.filter(F.col("v").isNotNull()).count() == 1000
    # the stale filtered plan leaks into the unfiltered re-use
    assert df.count() in (1000, 2000)  # 1000 on Spark 4.1 (cached plan)
    # fresh relation always correct
    df2 = spark.read.format("daft_iceberg").option("path", path).load()
    assert df2.count() == 2000


# ---------------------------------------------------------------------------
# schema evolution (spec §Schema Evolution / §Column Projection)


def _evo_table(spark, tmp_path):
    from daft_spark.io.iceberg import write_iceberg_py

    p = str(tmp_path / "evo")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k long, v long, s string"
    )
    write_iceberg_py(df, p)
    return p


def test_iceberg_writes_parquet_field_ids(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    p = _evo_table(spark, tmp_path)
    f = glob.glob(p + "/data/*.parquet")[0]
    ids = {
        fl.name: (fl.metadata or {}).get(b"PARQUET:field_id")
        for fl in pq.ParquetFile(f).schema_arrow
    }
    assert ids == {"k": b"1", "v": b"2", "s": b"3"}


def test_iceberg_schema_evolution_rename_add_drop(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        evolve_iceberg_schema,
        read_iceberg_py,
        write_iceberg_py,
    )

    p = _evo_table(spark, tmp_path)
    evolve_iceberg_schema(
        p, renames={"v": "value"}, add_columns=[("w", "double")], drop_columns=["s"]
    )
    out = read_iceberg_py(p, spark).orderBy("k")
    assert out.columns == ["k", "value", "w"]
    rows = out.collect()
    # rename resolves OLD files by field id (values preserved); added
    # column reads null for files written before the evolution
    assert [(r["k"], r["value"], r["w"]) for r in rows] == [
        (1, 10, None),
        (2, 20, None),
        (3, 30, None),
    ]
    # metadata: new schema entry appended, old schema kept, ids stable
    meta = _latest_metadata(p)
    assert meta["current-schema-id"] == 1 and len(meta["schemas"]) == 2
    cur = meta["schemas"][1]
    by_name = {f["name"]: f["id"] for f in cur["fields"]}
    assert by_name["value"] == 2  # rename kept the id
    assert by_name["w"] == 4  # add minted a fresh id above last-column-id

    # append with the evolved schema: new file provides w, old files null
    write_iceberg_py(
        spark.createDataFrame([(9, 90, 4.5)], "k long, value long, w double"),
        p,
        mode="append",
    )
    rows2 = read_iceberg_py(p, spark).orderBy("k").collect()
    assert [(r["k"], r["value"], r["w"]) for r in rows2] == [
        (1, 10, None),
        (2, 20, None),
        (3, 30, None),
        (9, 90, 4.5),
    ]
    # mismatched append is rejected with guidance
    with pytest.raises(ValueError, match="evolve the schema"):
        write_iceberg_py(
            spark.createDataFrame([(9, 90)], "k long, v long"), p, mode="append"
        )


def test_iceberg_schema_evolution_datasource_path(spark, tmp_path):
    from daft_spark.context import configure
    from daft_spark.io.iceberg import evolve_iceberg_schema, write_iceberg_py

    p = _evo_table(spark, tmp_path)
    evolve_iceberg_schema(
        p, renames={"v": "value"}, add_columns=[("w", "double")], drop_columns=["s"]
    )
    write_iceberg_py(
        spark.createDataFrame([(9, 90, 4.5)], "k long, value long, w double"),
        p,
        mode="append",
    )
    configure(spark)
    out = (
        spark.read.format("daft_iceberg")
        .option("path", p)
        .load()
        .orderBy("k")
        .collect()
    )
    assert [(r["k"], r["value"], r["w"]) for r in out] == [
        (1, 10, None),
        (2, 20, None),
        (3, 30, None),
        (9, 90, 4.5),
    ]
    # filter pushdown on the RENAMED column still prunes + filters
    hit = (
        spark.read.format("daft_iceberg")
        .option("path", p)
        .load()
        .filter("value >= 90")
        .collect()
    )
    assert [(r["k"], r["w"]) for r in hit] == [(9, 4.5)]


def test_iceberg_evolution_validation_errors(spark, tmp_path):
    from daft_spark.io.iceberg import evolve_iceberg_schema, write_iceberg_py

    p = str(tmp_path / "evo_part")
    df = spark.createDataFrame([(1, "x", 5)], "k long, region string, v long")
    write_iceberg_py(df, p, partition_by=["region"])
    with pytest.raises(ValueError, match="partition source"):
        evolve_iceberg_schema(p, drop_columns=["region"])
    with pytest.raises(ValueError, match="not in schema"):
        evolve_iceberg_schema(p, renames={"zz": "yy"})
    with pytest.raises(ValueError, match="already exists"):
        evolve_iceberg_schema(p, renames={"v": "region"})
    with pytest.raises(ValueError, match="already exists"):
        evolve_iceberg_schema(p, add_columns=[("v", "double")])


def test_iceberg_overwrite_after_evolution_mints_fresh_ids(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        evolve_iceberg_schema,
        read_iceberg_py,
        write_iceberg_py,
    )

    p = _evo_table(spark, tmp_path)
    evolve_iceberg_schema(p, renames={"v": "value"})
    # overwrite with a DIFFERENT shape: new schema entry, ids above all priors
    write_iceberg_py(
        spark.createDataFrame([(7, "z")], "a long, b string"), p, mode="overwrite"
    )
    meta = _latest_metadata(p)
    cur = [s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]][0]
    prior_max = max(
        f["id"] for s in meta["schemas"][:-1] for f in s["fields"]
    )
    assert all(f["id"] > prior_max for f in cur["fields"])
    rows = read_iceberg_py(p, spark).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(7, "z")]
    # same-shape overwrite REUSES the current schema (no new entry)
    n_before = len(_latest_metadata(p)["schemas"])
    write_iceberg_py(
        spark.createDataFrame([(8, "y")], "a long, b string"), p, mode="overwrite"
    )
    assert len(_latest_metadata(p)["schemas"]) == n_before


# ---------------------------------------------------------------------------
# partition evolution (spec §Partition Evolution)


def test_partition_evolution_old_and_new_specs_coexist(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        evolve_iceberg_partition_spec,
        read_iceberg_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "pe")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(10)], "k long, g string, v double"
    )
    # v1 of the table: unpartitioned
    write_iceberg_py(df, p)
    evolve_iceberg_partition_spec(p, ["g"])
    meta = _latest_metadata(p)
    assert meta["default-spec-id"] == 1
    assert [s["spec-id"] for s in meta["partition-specs"]] == [0, 1]
    # append adopts the evolved spec -> hive layout for NEW files only
    df2 = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(10, 20)],
        "k long, g string, v double",
    )
    write_iceberg_py(df2, p, mode="append")
    assert any(d.startswith("g=") for d in os.listdir(p + "/data"))
    back = read_iceberg_py(p, spark)
    assert back.count() == 20
    assert {r["k"] for r in back.collect()} == set(range(20))
    # manifests record their own spec ids
    meta = _latest_metadata(p)
    from daft_spark.io.avro import read_ocf
    from daft_spark.io.iceberg import current_snapshot

    _, _, manifests = read_ocf(current_snapshot(meta)["manifest-list"])
    assert sorted(m["partition_spec_id"] for m in manifests) == [0, 1]
    # pruning on the evolved column keeps ALL old-spec files (no tuple
    # to prune on) but only matching new-spec files
    pruned = read_iceberg_py(p, spark, filters=[("g", "=", "a")])
    got = {r["k"] for r in pruned.collect()}
    assert got == {i for i in range(20) if i % 2 == 0}
    new_files = [f for f in pruned.inputFiles() if "/data/g=" in f]
    assert new_files and all("g=a" in f for f in new_files)


def test_partition_evolution_field_id_reuse_and_noop(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        evolve_iceberg_partition_spec,
        write_iceberg_py,
    )

    p = str(tmp_path / "pe2")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(6)], "k long, g string, v double"
    )
    write_iceberg_py(df, p, partition_by=["g"])
    v0_specs = _latest_metadata(p)["partition-specs"]
    # no-op evolution: same spec, no new metadata entry
    evolve_iceberg_partition_spec(p, ["g"])
    assert _latest_metadata(p)["partition-specs"] == v0_specs
    # widen the spec: g keeps its field-id, the bucket field mints a new one
    evolve_iceberg_partition_spec(p, ["g", "bucket(4, k)"])
    meta = _latest_metadata(p)
    new_spec = [s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]][0]
    by_name = {f["name"]: f for f in new_spec["fields"]}
    assert by_name["g"]["field-id"] == v0_specs[0]["fields"][0]["field-id"]
    assert by_name["k_bucket"]["field-id"] == meta["last-partition-id"]
    # evolving BACK to a previously-seen spec reuses its spec-id
    evolve_iceberg_partition_spec(p, ["g"])
    assert _latest_metadata(p)["default-spec-id"] == v0_specs[0]["spec-id"]
    # partition source columns still cannot be dropped
    from daft_spark.io.iceberg import evolve_iceberg_schema

    with pytest.raises(ValueError, match="partition source"):
        evolve_iceberg_schema(p, drop_columns=["g"])


def test_partition_evolution_time_travel_keeps_old_reads(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        evolve_iceberg_partition_spec,
        read_iceberg_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "pe3")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(8)], "k long, g string"
    )
    write_iceberg_py(df, p, partition_by=["g"])
    snap0 = _latest_metadata(p)["current-snapshot-id"]
    evolve_iceberg_partition_spec(p, [])
    write_iceberg_py(
        spark.createDataFrame([(100, "c")], "k long, g string"), p, mode="append"
    )
    # the pinned old snapshot still resolves its spec and prunes on it
    old = read_iceberg_py(p, spark, snapshot_id=snap0, filters=[("g", "=", "a")])
    assert {r["k"] for r in old.collect()} == {0, 2, 4, 6}
    assert read_iceberg_py(p, spark).count() == 9


def test_expire_snapshots_prunes_metadata_and_files(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        expire_iceberg_snapshots,
        read_iceberg_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "exp")
    df = lambda lo: spark.range(lo, lo + 5).select(F.col("id").alias("k"))
    write_iceberg_py(df(0), p)
    snap0 = _latest_metadata(p)["current-snapshot-id"]
    write_iceberg_py(df(5), p, mode="overwrite")  # orphanes snap0's file
    write_iceberg_py(df(10), p, mode="append")
    count_files = lambda: len(
        [f for f in os.listdir(p + "/data") if f.endswith(".parquet")]
    )
    files_before = count_files()
    snap0_files = len(read_iceberg_py(p, spark, snapshot_id=snap0).inputFiles())
    with pytest.raises(ValueError):
        expire_iceberg_snapshots(p)  # needs a retention policy
    stats = expire_iceberg_snapshots(p, keep_last=2)
    assert stats["expired_snapshots"] == 1 and stats["deleted_files"] >= 2
    # snap0's data files are gone; kept snapshots' files survive
    assert count_files() == files_before - snap0_files
    meta = _latest_metadata(p)
    assert len(meta["snapshots"]) == 2
    assert all(e["snapshot-id"] != snap0 for e in meta["snapshot-log"])
    # current read intact; time travel to the expired snapshot raises
    assert sorted(r["k"] for r in read_iceberg_py(p, spark).collect()) == list(
        range(5, 15)
    )
    with pytest.raises(ValueError, match="not found"):
        read_iceberg_py(p, spark, snapshot_id=snap0).collect()
    # expiring again is a no-op
    assert expire_iceberg_snapshots(p, keep_last=2)["expired_snapshots"] == 0


def test_rewrite_data_files_compacts_and_materializes_deletes(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        delete_iceberg_py,
        position_delete_iceberg_py,
        read_iceberg_py,
        rewrite_iceberg_data_files,
        write_iceberg_py,
    )

    p = str(tmp_path / "rw")
    mk = lambda lo: spark.range(lo, lo + 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")
    )
    for lo in (0, 10, 20):
        write_iceberg_py(mk(lo), p, mode="append" if lo else "error")
    # pending deletes of both kinds get materialized by the rewrite
    delete_iceberg_py(
        spark.createDataFrame([(5,)], "k long"), p, equality_by=["k"]
    )
    position_delete_iceberg_py(p, spark, "k = 12")
    snap_before = _latest_metadata(p)["current-snapshot-id"]
    files_before = len(read_iceberg_py(p, spark).inputFiles())
    stats = rewrite_iceberg_data_files(p, spark)
    assert stats["removed"] >= 2 and stats["added"] >= 1
    assert stats["added"] < stats["removed"]
    back = read_iceberg_py(p, spark)
    expect = {i for i in range(30)} - {5, 12}
    assert {r["k"] for r in back.collect()} == expect
    assert len(back.inputFiles()) < files_before
    # old snapshot still reads the pre-compaction layout
    old = read_iceberg_py(p, spark, snapshot_id=snap_before)
    assert {r["k"] for r in old.collect()} == expect
    # idempotent second pass (everything fits one file now)
    assert rewrite_iceberg_data_files(p, spark)["removed"] == 0


def test_rewrite_data_files_partitioned_respects_tuples(spark, tmp_path):
    from daft_spark.io.iceberg import (
        read_iceberg_py,
        rewrite_iceberg_data_files,
        write_iceberg_py,
    )

    p = str(tmp_path / "rwp")
    mk = lambda lo: spark.range(lo, lo + 8).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("g")
    )
    write_iceberg_py(mk(0), p, partition_by=["g"])
    write_iceberg_py(mk(8), p, mode="append")
    stats = rewrite_iceberg_data_files(p, spark)
    assert stats["removed"] >= 2
    back = read_iceberg_py(p, spark)
    assert {(r["k"], r["g"]) for r in back.collect()} == {
        (i, str(i % 2)) for i in range(16)
    }
    # partition pruning still works over the compacted files
    pruned = read_iceberg_py(p, spark, filters=[("g", "=", "1")])
    assert {r["k"] for r in pruned.collect()} == {i for i in range(16) if i % 2}
    assert all("g=1" in f for f in pruned.inputFiles())


def test_iceberg_refs_tags_and_branches(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        drop_iceberg_ref,
        expire_iceberg_snapshots,
        read_iceberg_py,
        set_iceberg_ref,
        write_iceberg_py,
    )

    p = str(tmp_path / "refs")
    mk = lambda lo: spark.range(lo, lo + 5).select(F.col("id").alias("k"))
    write_iceberg_py(mk(0), p)
    set_iceberg_ref(p, "v1", ref_type="tag")
    write_iceberg_py(mk(5), p, mode="overwrite")
    set_iceberg_ref(p, "audit", ref_type="branch")
    write_iceberg_py(mk(10), p, mode="append")
    # tag pins the first snapshot; branch pins the second; main = head
    assert {r["k"] for r in read_iceberg_py(p, spark, ref="v1").collect()} == set(range(5))
    assert {r["k"] for r in read_iceberg_py(p, spark, ref="audit").collect()} == set(range(5, 10))
    assert {r["k"] for r in read_iceberg_py(p, spark, ref="main").collect()} == set(range(5, 15))
    with pytest.raises(ValueError, match="not found"):
        read_iceberg_py(p, spark, ref="nope")
    with pytest.raises(ValueError, match="not both"):
        read_iceberg_py(p, spark, snapshot_id=1, ref="v1")
    with pytest.raises(ValueError):
        set_iceberg_ref(p, "bad", snapshot_id=123456)
    # refs PROTECT their snapshots from expiration
    stats = expire_iceberg_snapshots(p, keep_last=1)
    assert stats["expired_snapshots"] == 0  # all three are ref'd or current
    drop_iceberg_ref(p, "v1")
    stats = expire_iceberg_snapshots(p, keep_last=1)
    assert stats["expired_snapshots"] == 1  # the tagged one is now expirable
    with pytest.raises(ValueError, match="not found"):
        read_iceberg_py(p, spark, ref="v1")
    # the branch survives
    assert read_iceberg_py(p, spark, ref="audit").count() == 5
    meta = _latest_metadata(p)
    assert meta["refs"]["audit"]["type"] == "branch"


def test_iceberg_datasource_ref_and_snapshot_options(spark, tmp_path):
    from daft_spark.context import configure
    from daft_spark.io.iceberg import set_iceberg_ref, write_iceberg_py

    configure(spark)
    p = str(tmp_path / "dsrefs")
    write_iceberg_py(
        spark.range(5).select(F.col("id").alias("k")), p
    )
    set_iceberg_ref(p, "v1", ref_type="tag")
    write_iceberg_py(
        spark.range(5, 12).select(F.col("id").alias("k")), p, mode="overwrite"
    )
    head = spark.read.format("daft_iceberg").option("path", p).load()
    assert head.count() == 7
    pinned = (
        spark.read.format("daft_iceberg").option("path", p).option("ref", "v1").load()
    )
    assert sorted(r["k"] for r in pinned.collect()) == list(range(5))
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("daft_iceberg").option("path", p)
            .option("ref", "v1").option("snapshot_id", "1").load().count()
        )


def test_iceberg_metadata_tables(spark, tmp_path):
    from daft_spark.io.iceberg import (
        delete_iceberg_py,
        iceberg_metadata_table,
        set_iceberg_ref,
        write_iceberg_py,
    )

    p = str(tmp_path / "inspect")
    write_iceberg_py(spark.range(10).select(F.col("id").alias("k")), p)
    set_iceberg_ref(p, "tagged", ref_type="tag", max_ref_age_ms=12345)
    write_iceberg_py(
        spark.range(10, 20).select(F.col("id").alias("k")), p, mode="append"
    )
    delete_iceberg_py(spark.createDataFrame([(3,)], "k long"), p, equality_by=["k"])
    snaps = iceberg_metadata_table(p, spark, "snapshots").collect()
    assert [r["operation"] for r in snaps] == ["append", "append", "delete"] or len(snaps) == 3
    hist = iceberg_metadata_table(p, spark, "history").collect()
    assert len(hist) == 3
    assert hist[-1]["snapshot_id"] == snaps[-1]["snapshot_id"]
    refs = iceberg_metadata_table(p, spark, "refs").collect()
    assert len(refs) == 1 and refs[0]["name"] == "tagged"
    assert refs[0]["max_ref_age_ms"] == 12345
    mans = iceberg_metadata_table(p, spark, "manifests").collect()
    # two data manifests + one delete manifest
    assert sorted(m["content"] for m in mans) == [0, 0, 1]
    files = iceberg_metadata_table(p, spark, "files")
    data_rows = files.filter(F.col("content") == 0).agg(F.sum("record_count")).first()[0]
    assert data_rows == 20  # record counts are pre-delete (MoR)
    assert files.filter(F.col("content") == 2).count() >= 1  # the eq-delete file
    with pytest.raises(ValueError, match="unknown metadata table"):
        iceberg_metadata_table(p, spark, "bogus")


def test_iceberg_single_commit_upsert(spark, tmp_path):
    from daft_spark.io.iceberg import (
        _latest_metadata,
        read_iceberg_py,
        upsert_iceberg_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "ups")
    base = spark.createDataFrame(
        [(i, f"old{i}") for i in range(8)], "k long, s string"
    )
    write_iceberg_py(base, p)
    snaps_before = len(_latest_metadata(p)["snapshots"])
    up = spark.createDataFrame(
        [(2, "new2"), (5, "new5"), (100, "new100")], "k long, s string"
    )
    upsert_iceberg_py(up, p, equality_by=["k"])
    # exactly ONE new snapshot (atomic upsert)
    meta = _latest_metadata(p)
    assert len(meta["snapshots"]) == snaps_before + 1
    got = {r["k"]: r["s"] for r in read_iceberg_py(p, spark).collect()}
    assert got == {
        **{i: f"old{i}" for i in range(8) if i not in (2, 5)},
        2: "new2", 5: "new5", 100: "new100",
    }
    # time travel to the base snapshot is intact
    snap0 = meta["snapshots"][0]["snapshot-id"]
    assert read_iceberg_py(p, spark, snapshot_id=snap0).count() == 8
    # repeated upsert keeps converging (latest wins)
    upsert_iceberg_py(
        spark.createDataFrame([(2, "final2")], "k long, s string"), p, ["k"]
    )
    got2 = {r["k"]: r["s"] for r in read_iceberg_py(p, spark).collect()}
    assert got2[2] == "final2" and len(got2) == 9
    # key-column validation + new-table gate
    with pytest.raises(ValueError, match="not in table schema"):
        upsert_iceberg_py(up, p, equality_by=["nope"])
    with pytest.raises(ValueError, match="existing table"):
        upsert_iceberg_py(up, str(tmp_path / "fresh"), equality_by=["k"])


def test_iceberg_upsert_on_partitioned_table(spark, tmp_path):
    from daft_spark.io.iceberg import (
        read_iceberg_py,
        upsert_iceberg_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "upsp")
    base = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(8)], "k long, g string, v double"
    )
    write_iceberg_py(base, p, partition_by=["g"])
    # upsert adopts the default spec; the global delete rides the
    # unpartitioned spec
    upsert_iceberg_py(
        spark.createDataFrame([(0, "a", 100.0), (9, "b", 9.0)],
                              "k long, g string, v double"),
        p, equality_by=["k"],
    )
    got = {r["k"]: r["v"] for r in read_iceberg_py(p, spark).collect()}
    assert got[0] == 100.0 and got[9] == 9.0 and len(got) == 9
    # compaction materializes the upsert's delete debt
    from daft_spark.io.iceberg import rewrite_iceberg_data_files

    rewrite_iceberg_data_files(p, spark)
    got2 = {r["k"]: r["v"] for r in read_iceberg_py(p, spark).collect()}
    assert got2 == got


# ---------------------------------------------------------------------------
# streaming Iceberg source (readStream.format("daft_iceberg"))


def _drain_iceberg_stream(spark, src, out, ck, **opts):
    from daft_spark.context import configure

    configure(spark)
    reader = spark.readStream.format("daft_iceberg").option("path", src)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "iceberg stream did not drain"


def test_iceberg_stream_snapshot_then_incremental(spark, tmp_path):
    from daft_spark.io.iceberg import write_iceberg_py

    src = str(tmp_path / "isrc")
    out = str(tmp_path / "iout")
    ck = str(tmp_path / "ick")
    mk = lambda lo: spark.range(lo, lo + 6).select(F.col("id").alias("k"))
    write_iceberg_py(mk(0), src)
    write_iceberg_py(mk(6), src, mode="append")
    _drain_iceberg_stream(spark, src, out, ck)
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == list(range(12))
    # resume: only the NEW append's rows stream
    write_iceberg_py(mk(12), src, mode="append")
    _drain_iceberg_stream(spark, src, out, ck)
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == list(range(18))


def test_iceberg_stream_snapshot_applies_deletes_and_skips_replace(spark, tmp_path):
    from daft_spark.io.iceberg import (
        delete_iceberg_py,
        rewrite_iceberg_data_files,
        write_iceberg_py,
    )

    src = str(tmp_path / "isrc2")
    out = str(tmp_path / "iout2")
    ck = str(tmp_path / "ick2")
    mk = lambda lo: spark.range(lo, lo + 6).select(F.col("id").alias("k"))
    write_iceberg_py(mk(0), src)
    delete_iceberg_py(spark.createDataFrame([(2,)], "k long"), src, ["k"])
    # snapshot batch applies the MoR delete
    _drain_iceberg_stream(spark, src, out, ck)
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [0, 1, 3, 4, 5]
    # a replace (compaction) snapshot streams NOTHING; later appends do
    write_iceberg_py(mk(6), src, mode="append")
    rewrite_iceberg_data_files(src, spark)
    write_iceberg_py(mk(12), src, mode="append")
    _drain_iceberg_stream(spark, src, out, ck)
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 3, 4, 5] + list(range(6, 18))


def test_iceberg_stream_delete_snapshot_policy(spark, tmp_path):
    from daft_spark.io.iceberg import delete_iceberg_py, write_iceberg_py
    from daft_spark.io.iceberg_source import IcebergStreamReader

    src = str(tmp_path / "isrc3")
    mk = lambda lo: spark.range(lo, lo + 4).select(F.col("id").alias("k"))
    write_iceberg_py(mk(0), src)  # seq 1
    delete_iceberg_py(spark.createDataFrame([(1,)], "k long"), src, ["k"])  # seq 2
    write_iceberg_py(mk(4), src, mode="append")  # seq 3
    r = IcebergStreamReader({"path": src}, None)
    with pytest.raises(RuntimeError, match="streaming-skip-delete-snapshots"):
        r._appended_files(1, 3)
    r2 = IcebergStreamReader(
        {"path": src, "streaming-skip-delete-snapshots": "true"}, None
    )
    files = r2._appended_files(1, 3)
    assert files and all(p.endswith(".parquet") for p, _s in files)


def test_iceberg_feature_composition_stress(spark, tmp_path):
    """Stacked-feature interaction test: identity partitioning ->
    schema evolution (rename/add) -> evolved append -> tag -> equality
    delete -> partition evolution (bucket) -> new-spec append ->
    position delete -> compaction -> expiration. The table must read
    correctly after every step, the tag must keep serving the
    pre-delete state throughout, and compaction must not change
    results. Interactions (old-spec manifests under a new default
    spec, field-id resolution of pre-evolution files during the
    merged-scan compaction, delete sequence ordering across specs)
    only surface when the features stack."""
    from daft_spark.io.iceberg import (
        delete_iceberg_py,
        evolve_iceberg_partition_spec,
        evolve_iceberg_schema,
        expire_iceberg_snapshots,
        position_delete_iceberg_py,
        read_iceberg_py,
        rewrite_iceberg_data_files,
        set_iceberg_ref,
        write_iceberg_py,
    )

    p = str(tmp_path / "stress")
    write_iceberg_py(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)],
            "k long, cat string, v long",
        ),
        p, mode="overwrite", partition_by=["cat"],
    )
    evolve_iceberg_schema(p, renames={"v": "val"}, add_columns=[("w", "double")])
    write_iceberg_py(
        spark.createDataFrame([(5, "c", 50, 1.5)], "k long, cat string, val long, w double"),
        p, mode="append", partition_by=["cat"],
    )
    set_iceberg_ref(p, "pre-delete", ref_type="tag")
    pre_delete_state = [
        (1, "a", 10, None), (2, "a", 20, None), (3, "b", 30, None),
        (4, "b", 40, None), (5, "c", 50, 1.5),
    ]

    def state(**kw):
        return [
            (r["k"], r["cat"], r["val"], r["w"])
            for r in read_iceberg_py(p, spark, **kw).orderBy("k").collect()
        ]

    assert state() == pre_delete_state
    delete_iceberg_py(spark.createDataFrame([(2,)], "k long"), p, equality_by=["k"])
    assert state() == [x for x in pre_delete_state if x[0] != 2]
    # partition evolution: future appends bucket on k, old files keep
    # their identity(cat) spec
    evolve_iceberg_partition_spec(p, ["bucket(4, k)"])
    write_iceberg_py(
        spark.createDataFrame([(6, "c", 60, 2.5)], "k long, cat string, val long, w double"),
        p, mode="append",  # adopts the new default spec
    )
    position_delete_iceberg_py(p, spark, "k = 3")
    expect = [(1, "a", 10, None), (4, "b", 40, None), (5, "c", 50, 1.5), (6, "c", 60, 2.5)]
    assert state() == expect
    # the tag still serves the pre-delete, pre-evolution-append state
    assert state(ref="pre-delete") == pre_delete_state
    # compaction materializes the deletes without changing results
    res = rewrite_iceberg_data_files(p, spark, target_file_bytes=1 << 30)
    assert res["removed"] >= 2
    assert state() == expect
    # expiration keeps the current snapshot and the tagged one
    expire_iceberg_snapshots(p, keep_last=1)
    assert state() == expect
    assert state(ref="pre-delete") == pre_delete_state


def test_iceberg_sort_orders(spark, tmp_path):
    """sort_by records a spec §Sorting order in table metadata (carried
    forward across commits; equivalent orders reuse their id) and
    physically sorts rows within written files — tightening the
    per-file stats bounds the pruner consults."""
    import pyarrow.parquet as pq

    from daft_spark.io.iceberg import (
        _latest_metadata,
        read_iceberg_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "sorted")
    df = spark.range(1000).select(
        (999 - F.col("id")).alias("k"), (F.col("id") % 7).alias("v")
    )
    write_iceberg_py(df.repartition(4), p, mode="overwrite", sort_by=["k"])
    meta = _latest_metadata(p)
    assert meta["default-sort-order-id"] == 1
    assert meta["sort-orders"][1]["fields"] == [
        {"transform": "identity", "source-id": 1,
         "direction": "asc", "null-order": "nulls-first"}
    ]
    # rows inside each data file are sorted by k
    data_dir = os.path.join(p, "data")
    files = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert files
    for f in files:
        ks = pq.read_table(os.path.join(data_dir, f), columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks)
    # append with the same order reuses id 1; with none keeps default
    write_iceberg_py(
        spark.range(1000, 1100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ),
        p, mode="append", sort_by=["k"],
    )
    meta = _latest_metadata(p)
    assert meta["default-sort-order-id"] == 1 and len(meta["sort-orders"]) == 2
    assert read_iceberg_py(p, spark).count() == 1100
    # a different shape appends a NEW order id
    write_iceberg_py(
        spark.range(2000, 2010).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ),
        p, mode="append", sort_by=["v desc", "k"],
    )
    meta = _latest_metadata(p)
    assert meta["default-sort-order-id"] == 2 and len(meta["sort-orders"]) == 3
    assert meta["sort-orders"][2]["fields"][0]["direction"] == "desc"
    with pytest.raises(ValueError, match="sort_by column"):
        write_iceberg_py(df, str(tmp_path / "bad"), sort_by=["missing"])


def test_branch_write_isolation_and_fast_forward(spark, tmp_path):
    """Branch appends are invisible on main and vice versa; the WAP
    publish fast-forwards main to the branch head when main is still
    the fork point, and refuses when main has moved past it."""
    import pytest

    from daft_spark.io.iceberg import (
        fast_forward_iceberg_main,
        read_iceberg_py,
        set_iceberg_ref,
        write_iceberg_branch_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "wap")
    base = spark.range(10).select(F.col("id").alias("k"))
    write_iceberg_py(base, p)
    with pytest.raises(ValueError, match="branch 'wap' not found"):
        write_iceberg_branch_py(base, p, "wap")
    set_iceberg_ref(p, "wap", ref_type="branch")
    write_iceberg_branch_py(
        spark.range(100, 105).select(F.col("id").alias("k")), p, "wap"
    )
    write_iceberg_branch_py(
        spark.range(200, 205).select(F.col("id").alias("k")), p, "wap"
    )
    assert sorted(r["k"] for r in read_iceberg_py(p, spark).collect()) == list(
        range(10)
    )
    got = sorted(r["k"] for r in read_iceberg_py(p, spark, ref="wap").collect())
    assert got == list(range(10)) + list(range(100, 105)) + list(range(200, 205))
    # publish: main is the fork point -> fast-forward succeeds
    fast_forward_iceberg_main(p, "wap")
    assert sorted(r["k"] for r in read_iceberg_py(p, spark).collect()) == got
    # main moves past the branch -> fast-forward must refuse
    write_iceberg_py(
        spark.range(300, 302).select(F.col("id").alias("k")), p, mode="append"
    )
    with pytest.raises(ValueError, match="not an ancestor"):
        fast_forward_iceberg_main(p, "wap")
    # a tag is not a branch
    set_iceberg_ref(p, "v1", ref_type="tag")
    with pytest.raises(ValueError, match="branch 'v1' not found"):
        write_iceberg_branch_py(base, p, "v1")


def test_cherry_pick_publishes_branch_appends_onto_moved_main(spark, tmp_path):
    """When main has moved past the fork (fast-forward refuses), each
    branch APPEND cherry-picks onto main as a new snapshot carrying
    source-snapshot-id — the WAP publish path for diverged state. A
    non-append snapshot refuses."""
    import pytest

    from daft_spark.io.iceberg import (
        _latest_metadata,
        cherry_pick_iceberg_snapshot,
        fast_forward_iceberg_main,
        read_iceberg_py,
        set_iceberg_ref,
        write_iceberg_branch_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "cherry")
    write_iceberg_py(spark.range(10).select(F.col("id").alias("k")), p)
    set_iceberg_ref(p, "wap", ref_type="branch")
    write_iceberg_branch_py(
        spark.range(100, 103).select(F.col("id").alias("k")), p, "wap"
    )
    # main moves past the fork
    write_iceberg_py(
        spark.range(200, 205).select(F.col("id").alias("k")), p, mode="append"
    )
    with pytest.raises(ValueError, match="not an ancestor"):
        fast_forward_iceberg_main(p, "wap")
    meta = _latest_metadata(p)
    branch_head = meta["refs"]["wap"]["snapshot-id"]
    cherry_pick_iceberg_snapshot(p, branch_head)
    got = sorted(r["k"] for r in read_iceberg_py(p, spark).collect())
    assert got == list(range(10)) + list(range(100, 103)) + list(range(200, 205))
    meta = _latest_metadata(p)
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert cur["summary"]["source-snapshot-id"] == str(branch_head)
    # an overwrite snapshot refuses to cherry-pick
    write_iceberg_py(
        spark.range(3).select(F.col("id").alias("k")), p, mode="overwrite"
    )
    ow = _latest_metadata(p)["current-snapshot-id"]
    with pytest.raises(ValueError, match="not an append"):
        cherry_pick_iceberg_snapshot(p, ow)


def test_iceberg_as_of_timestamp_time_travel(spark, tmp_path):
    """AS OF TIMESTAMP via the snapshot-log: reads resolve to the
    snapshot current at that instant; before the first entry raises;
    snapshot_id and timestamp are mutually exclusive."""
    import pytest

    from daft_spark.io.iceberg import (
        _latest_metadata,
        read_iceberg_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "icets")
    write_iceberg_py(spark.range(5).select(F.col("id").alias("k")), p)
    write_iceberg_py(
        spark.range(5, 9).select(F.col("id").alias("k")), p, mode="append"
    )
    log = _latest_metadata(p)["snapshot-log"]
    t0, t1 = log[0]["timestamp-ms"], log[1]["timestamp-ms"]
    assert read_iceberg_py(p, spark, as_of_timestamp_ms=t0).count() == 5
    assert read_iceberg_py(p, spark, as_of_timestamp_ms=t1 + 10_000).count() == 9
    with pytest.raises(ValueError, match="history starts later"):
        read_iceberg_py(p, spark, as_of_timestamp_ms=t0 - 1_000_000)
    with pytest.raises(ValueError, match="not both"):
        read_iceberg_py(p, spark, snapshot_id=1, as_of_timestamp_ms=t0)


def test_incremental_and_stream_walk_main_ancestry_not_seq_range(spark, tmp_path):
    """Branch-only snapshots share the table-wide sequence space; an
    incremental or streaming read of main must walk parent-snapshot-id
    ancestry (SnapshotUtil.ancestorsBetween) so WAP branch rows never
    leak and a cherry-picked snapshot's rows arrive exactly once."""
    import pytest

    from daft_spark.io.iceberg import (
        _latest_metadata,
        cherry_pick_iceberg_snapshot,
        read_iceberg_incremental,
        set_iceberg_ref,
        write_iceberg_branch_py,
        write_iceberg_py,
    )

    p = str(tmp_path / "anc")
    mk = lambda lo, n: spark.range(lo, lo + n).select(F.col("id").alias("k"))
    write_iceberg_py(mk(0, 5), p)
    snap1 = _latest_metadata(p)["current-snapshot-id"]
    set_iceberg_ref(p, "wap", ref_type="branch")
    # branch-only append takes the NEXT sequence number
    write_iceberg_branch_py(mk(100, 3), p, "wap")
    # main moves past the fork
    write_iceberg_py(mk(10, 4), p, mode="append")
    # incremental from snap1 on main: ONLY the main append, no branch rows
    got = sorted(
        r["k"] for r in read_iceberg_incremental(p, spark, snap1).collect()
    )
    assert got == list(range(10, 14))
    # streaming first batch: main state only
    out, ck = str(tmp_path / "aout"), str(tmp_path / "ack")
    _drain_iceberg_stream(spark, p, out, ck)
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == (
        list(range(5)) + list(range(10, 14))
    )
    # cherry-pick publishes the branch rows -> delivered exactly ONCE,
    # both to the resumed stream and to a fresh incremental scan
    branch_head = _latest_metadata(p)["refs"]["wap"]["snapshot-id"]
    cherry_pick_iceberg_snapshot(p, branch_head)
    _drain_iceberg_stream(spark, p, out, ck)
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == list(range(5)) + list(range(10, 14)) + [100, 101, 102]
    got = sorted(
        r["k"] for r in read_iceberg_incremental(p, spark, snap1).collect()
    )
    assert got == list(range(10, 14)) + [100, 101, 102]
    # a start snapshot that only exists on the branch refuses
    with pytest.raises(Exception, match="not an ancestor"):
        read_iceberg_incremental(p, spark, branch_head).collect()


def test_incremental_ancestry_fallback_for_parentless_snapshots(spark, tmp_path):
    """Tables written before parent-snapshot-id stamping (pre-r9 by this
    engine, or any writer that omitted the optional field) must still
    serve incremental and streaming reads: ancestry falls back to the
    snapshot-log (main-head history) where explicit parent pointers are
    absent (r9 advice)."""
    import glob as _glob
    import json as _json

    from daft_spark.io.iceberg import (
        _latest_metadata,
        read_iceberg_incremental,
        write_iceberg_py,
    )

    p = str(tmp_path / "noparents")
    mk = lambda lo, n: spark.range(lo, lo + n).select(F.col("id").alias("k"))
    write_iceberg_py(mk(0, 5), p)
    snap1 = _latest_metadata(p)["current-snapshot-id"]
    write_iceberg_py(mk(10, 4), p, mode="append")
    write_iceberg_py(mk(20, 2), p, mode="append")
    # simulate pre-r9 metadata: strip every parent pointer in the
    # CURRENT metadata file (the one readers load)
    metas = sorted(
        _glob.glob(os.path.join(p, "metadata", "v*.metadata.json")),
        key=lambda f: int(os.path.basename(f)[1:].split(".")[0]),
    )
    with open(metas[-1]) as f:
        meta = _json.load(f)
    for s in meta["snapshots"]:
        s.pop("parent-snapshot-id", None)
    with open(metas[-1], "w") as f:
        _json.dump(meta, f)
    got = sorted(
        r["k"] for r in read_iceberg_incremental(p, spark, snap1).collect()
    )
    assert got == list(range(10, 14)) + [20, 21]
    # streaming snapshot batch over the same parentless metadata
    out, ck = str(tmp_path / "npout"), str(tmp_path / "npck")
    _drain_iceberg_stream(spark, p, out, ck)
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == (
        list(range(5)) + list(range(10, 14)) + [20, 21]
    )


def test_ancestry_fallback_rollback_does_not_fabricate_parent(spark, tmp_path):
    """A rollback (Iceberg setCurrentSnapshot) re-appends an OLD
    snapshot-id to snapshot-log. On parent-less (pre-r9) metadata the
    snapshot-log fallback must use the FIRST occurrence of an id — with
    latest-occurrence-wins the root snapshot would get the rolled-back
    head as a fabricated 'parent', leaking rolled-back snapshot files
    into ancestor-based reads (r10 advice)."""
    import glob as _glob
    import json as _json

    from daft_spark.io.iceberg import (
        read_iceberg_py,
        write_iceberg_py,
    )
    from daft_spark.io.iceberg_source import _main_ancestors

    p = str(tmp_path / "rollback")
    mk = lambda lo, n: spark.range(lo, lo + n).select(F.col("id").alias("k"))
    write_iceberg_py(mk(0, 3), p)  # snapshot A (root)
    write_iceberg_py(mk(10, 3), p, mode="append")  # snapshot B
    metas = sorted(
        _glob.glob(os.path.join(p, "metadata", "v*.metadata.json")),
        key=lambda f: int(os.path.basename(f)[1:].split(".")[0]),
    )
    with open(metas[-1]) as f:
        meta = _json.load(f)
    snap_a, snap_b = (s["snapshot-id"] for s in meta["snapshots"])
    # simulate an external pre-r9 writer's rollback to A: strip parent
    # pointers, point current at A, and re-append A to snapshot-log
    for s in meta["snapshots"]:
        s.pop("parent-snapshot-id", None)
    meta["current-snapshot-id"] = snap_a
    meta["snapshot-log"] = list(meta["snapshot-log"]) + [
        {"snapshot-id": snap_a, "timestamp-ms": meta["last-updated-ms"] + 1}
    ]
    with open(metas[-1], "w") as f:
        _json.dump(meta, f)
    chain = [s["snapshot-id"] for s in _main_ancestors(meta)]
    assert chain == [snap_a], (
        f"rolled-back head {snap_b} leaked into the ancestry: {chain}"
    )
    # and the table read at the rolled-back head serves only A's rows
    assert sorted(r["k"] for r in read_iceberg_py(p, spark).collect()) == [
        0, 1, 2,
    ]


# ---------------------------------------------------------------------------
# one committer: a commit names the base it read, only blind appends rebase


def _keys(spark, lo, n=10):
    return spark.range(lo, lo + n).select(F.col("id").alias("k"))


def _read_keys(spark, path):
    from daft_spark.io.iceberg import read_iceberg_py

    return sorted(r["k"] for r in read_iceberg_py(path, spark).collect())


def test_append_staged_on_stale_base_keeps_both(spark, tmp_path, monkeypatch):
    """Writer A reads v1 and stages an append; writer B appends and
    publishes; then A publishes. A's commit must not be built on v1 —
    that silently drops B's rows — but rebase onto B's snapshot."""
    import daft_spark.io.iceberg as ice

    p = str(tmp_path / "stale")
    ice.write_iceberg_py(_keys(spark, 0), p)
    real, raced = ice._parquet_column_stats, []

    def racing(*a, **k):
        if not raced:  # B lands while A is between its read and its publish
            raced.append(1)
            ice.write_iceberg_py(_keys(spark, 100), p, mode="append")
        return real(*a, **k)

    monkeypatch.setattr(ice, "_parquet_column_stats", racing)
    ice.write_iceberg_py(_keys(spark, 200), p, mode="append")
    monkeypatch.undo()
    assert raced
    assert _read_keys(spark, p) == (
        list(range(10)) + list(range(100, 110)) + list(range(200, 210))
    )
    seqs = [s["sequence-number"] for s in ice._latest_metadata(p)["snapshots"]]
    assert seqs == [1, 2, 3]


def test_append_past_lagging_version_hint(spark, tmp_path):
    """A commit that linked v<N+1>.metadata.json but crashed before it
    rotated version-hint.text: readers and the next append probe past
    the hint instead of reading stale state or failing forever on the
    taken version."""
    from daft_spark.io.iceberg import write_iceberg_py

    p = str(tmp_path / "lag")
    write_iceberg_py(_keys(spark, 0), p)
    write_iceberg_py(_keys(spark, 100), p, mode="append")
    with open(os.path.join(p, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    assert _read_keys(spark, p) == list(range(10)) + list(range(100, 110))
    write_iceberg_py(_keys(spark, 200), p, mode="append")
    assert _read_keys(spark, p) == (
        list(range(10)) + list(range(100, 110)) + list(range(200, 210))
    )
    assert os.path.exists(os.path.join(p, "metadata", "v3.metadata.json"))


def test_expire_rerun_after_crash_before_publish(spark, tmp_path, monkeypatch):
    """A crash between expiry's file deletes and its metadata publish
    must not leave metadata naming deleted files: the pruned metadata
    is committed first, so a crash leaves the table readable and a
    re-run completes."""
    import types

    import daft_spark.io.iceberg as ice

    p = str(tmp_path / "exp")
    ice.write_iceberg_py(_keys(spark, 0), p)
    ice.write_iceberg_py(_keys(spark, 100), p, mode="append")
    ice.write_iceberg_py(_keys(spark, 200), p, mode="append")
    armed = [True]

    def once(real):
        def crash(*a, **k):
            if armed[0]:
                armed[0] = False
                raise OSError("crash before the metadata publish")
            return real(*a, **k)

        return crash

    monkeypatch.setattr(
        ice,
        "json",
        types.SimpleNamespace(
            **{**vars(json), "dump": once(json.dump), "dumps": once(json.dumps)}
        ),
    )
    with pytest.raises(OSError, match="crash before"):
        ice.expire_iceberg_snapshots(p, keep_last=1)
    monkeypatch.undo()
    expected = list(range(10)) + list(range(100, 110)) + list(range(200, 210))
    assert _read_keys(spark, p) == expected
    out = ice.expire_iceberg_snapshots(p, keep_last=1)
    assert out["expired_snapshots"] == 2
    assert len(ice._latest_metadata(p)["snapshots"]) == 1
    assert _read_keys(spark, p) == expected


def test_concurrent_blind_appends_all_land(spark, tmp_path):
    """N threads x M blind appends (more writers than cores): every
    append lands exactly once — losers of the publish race rebase on
    the new head and retry."""
    import sys
    import threading

    from daft_spark.io.iceberg import _latest_metadata, write_iceberg_py

    p = str(tmp_path / "many")
    write_iceberg_py(_keys(spark, 0, 1), p)
    n_threads, per_thread = 5, 2
    errs: list[BaseException] = []

    def writer(t):
        try:
            for j in range(per_thread):
                lo = 1000 * (t + 1) + 10 * j
                write_iceberg_py(_keys(spark, lo, 3), p, mode="append")
        except BaseException as e:  # noqa: BLE001 - re-raised by the assert
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errs, errs
    meta = _latest_metadata(p)
    assert len(meta["snapshots"]) == 1 + n_threads * per_thread
    seqs = [s["sequence-number"] for s in meta["snapshots"]]
    assert sorted(seqs) == list(range(1, 2 + n_threads * per_thread))
    expected = [0] + sorted(
        1000 * (t + 1) + 10 * j + i
        for t in range(n_threads)
        for j in range(per_thread)
        for i in range(3)
    )
    assert _read_keys(spark, p) == expected


@pytest.mark.parametrize("op", ["equality_delete", "evolve_schema", "rewrite", "set_ref"])
def test_commit_on_moved_base_raises(spark, tmp_path, monkeypatch, op):
    """Only a blind append may rebase: any other commit whose base moved
    between its read and its publish raises, and the other writer's
    commit survives untouched."""
    import daft_spark.io.iceberg as ice
    from daft_spark.io.publish import ConcurrentCommitError

    p = str(tmp_path / op)
    ice.write_iceberg_py(_keys(spark, 0, 20).repartition(2), p)
    real, raced = ice._load_metadata, []

    def racing_load(path):
        out = real(path)
        if not raced:  # another writer lands right after this read
            raced.append(1)
            ice.write_iceberg_py(_keys(spark, 100, 5), p, mode="append")
        return out

    ops = {
        "equality_delete": lambda: ice.delete_iceberg_py(
            _keys(spark, 0, 3), p, ["k"]
        ),
        "evolve_schema": lambda: ice.evolve_iceberg_schema(
            p, add_columns=[("extra", "string")]
        ),
        "rewrite": lambda: ice.rewrite_iceberg_data_files(p, spark),
        "set_ref": lambda: ice.set_iceberg_ref(p, "audit"),
    }
    monkeypatch.setattr(ice, "_load_metadata", racing_load)
    with pytest.raises(ConcurrentCommitError, match="concurrent Iceberg commit"):
        ops[op]()
    monkeypatch.undo()
    meta = ice._latest_metadata(p)
    assert [s["summary"]["operation"] for s in meta["snapshots"]] == ["append"] * 2
    assert len(meta["schemas"]) == 1 and not meta["refs"]
    assert _read_keys(spark, p) == list(range(20)) + list(range(100, 105))


def test_rest_same_parent_commits_one_409_then_lands(spark, tmp_path):
    """Two threads POST commits staged on the same parent: the server
    publishes exactly one of them first; the other gets 409
    CommitFailedException, rebases on the new head and lands."""
    import threading

    from daft_spark.io.iceberg import _latest_metadata, _stage_write
    from daft_spark.io.iceberg_rest import IcebergRestCatalogServer, RestError
    from daft_spark.session import Catalog

    with IcebergRestCatalogServer(str(tmp_path / "wh")) as srv:
        cat = Catalog.from_iceberg(srv.uri)
        cat.create_namespace("ns")
        cat.create_table("ns.t", _keys(spark, 0, 5))
        tpath = srv._httpd.catalog._path("ns.t")
        staged = [
            _stage_write(_keys(spark, lo, 5), tpath, cat._load("ns.t"), "append")
            for lo in (100, 200)
        ]
        assert (
            staged[0].base["current-snapshot-id"]
            == staged[1].base["current-snapshot-id"]
        )
        codes, lock, errs = [], threading.Lock(), []
        real = cat.commit_table

        def recording(identifier, requirements, updates):
            try:
                out = real(identifier, requirements, updates)
            except RestError as e:
                with lock:
                    codes.append(e.code)
                raise
            with lock:
                codes.append(200)
            return out

        cat.commit_table = recording
        barrier = threading.Barrier(2)

        def commit(s):
            try:
                barrier.wait(timeout=60)
                cat._commit_append("ns.t", s)
            except BaseException as e:  # noqa: BLE001 - re-raised by the assert
                errs.append(e)

        threads = [threading.Thread(target=commit, args=(s,)) for s in staged]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert not errs, errs
        assert sorted(codes) == [200, 200, 409]
        meta = _latest_metadata(tpath)
        assert [s["sequence-number"] for s in meta["snapshots"]] == [1, 2, 3]
        assert _read_keys(spark, tpath) == (
            list(range(5)) + list(range(100, 105)) + list(range(200, 205))
        )
