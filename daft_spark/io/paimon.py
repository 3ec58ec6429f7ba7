"""Pure-Python Apache Paimon table support — no connector JAR required.

Parity target: the reference exposes read_paimon next to its other
lakehouse readers (reference ``daft/io/__init__.py:21-43``). Paimon is
an open spec (https://paimon.apache.org/docs/master/concepts/spec/):

    table/
      schema/schema-<id>                JSON table schema
      snapshot/LATEST                   hint: latest snapshot id
      snapshot/snapshot-<id>            JSON commit pointer
      manifest/manifest-list-<uuid>-<n> Avro OCF: ManifestFileMeta[]
      manifest/manifest-<uuid>-<n>      Avro OCF: ManifestEntry[]
      bucket-<b>/data-<uuid>-<n>.parquet

A snapshot points at a BASE manifest list (state as of the previous
commit) and a DELTA manifest list (this commit's changes); replaying
every manifest's ADD(0)/DELETE(1) entries yields the live file set.

Bounded subset implemented (mirroring io/delta.py / iceberg.py /
hudi.py; Avro via the same io/avro.py codec Iceberg uses):

- ``write_paimon_py(df, path, mode, partition_by=None)``: append /
  overwrite (DELETE entries retiring every prior live file, commitKind
  OVERWRITE) / error / ignore, for append-only ("unaware bucket",
  bucket = -1) tables — unpartitioned or hive-partitioned: the
  partition columns are dropped from the data files (the Paimon
  layout) and each file's tuple is encoded as a Flink BinaryRow in its
  manifest entry (binary_row_encode — 8-bit header + null bits, 8-byte
  slots, compact <=7-byte strings, little-endian). Data written with
  Spark's parquet writer and renamed to Paimon data-file names. A
  commit names the snapshot it read and link-publishes ``snapshot-<N+1>``
  with the no-clobber ``publish_once`` (io/publish.py): a writer whose
  snapshot went stale raises instead of replacing another writer's
  snapshot. ``LATEST`` is only a lower bound — readers probe forward
  past it. Each commit's base manifest list carries forward the
  previous snapshot's base + delta metas, so readers only ever consult
  the latest snapshot.
- ``read_paimon_py(path, spark, snapshot=None)``: schema + snapshot +
  manifest walk to the live parquet files, handed to Spark's parquet
  reader — pushdowns, split planning and AQE as usual; partition
  columns restored from each entry's BinaryRow tuple (one scan per
  live partition, unioned). ``snapshot`` time travels to an earlier id.

Primary-key tables (``primary_key=``): upsert/delete commits carry the
KeyValue system columns (``_KEY_<pk>``, ``_SEQUENCE_NUMBER`` = the
commit's snapshot id, ``_VALUE_KIND`` 0=ADD 1=DELETE) in L0 data
files; the reader merges on read — one shuffle on the key,
latest-sequence-wins, tombstones drop — Paimon's deduplicate merge
engine. ``compact_paimon_py`` rewrites the merged state as one COMPACT
snapshot retiring every pre-compact file (full compaction — the
leveled-LSM incremental variant is out of scope). Out of scope (raise
cleanly): changelog producers, ORC data files. At 100 TB the metadata walk is
driver-side KB work; the data plane is an ordinary multi-file parquet
scan (plus the one merge exchange for primary-key tables).
"""

from __future__ import annotations

import itertools
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from daft_spark.io.avro import read_ocf, write_ocf
from daft_spark.io.publish import HIVE_NULL, publish_once, stage_files

# ---------------------------------------------------------------------------
# type mapping: Spark <-> Paimon SQL-style type strings

_SPARK_TO_PAIMON = {
    T.LongType: "BIGINT",
    T.IntegerType: "INT",
    T.ShortType: "SMALLINT",
    T.ByteType: "TINYINT",
    T.StringType: "STRING",
    T.DoubleType: "DOUBLE",
    T.FloatType: "FLOAT",
    T.BooleanType: "BOOLEAN",
    T.BinaryType: "BYTES",
    T.DateType: "DATE",
    T.TimestampNTZType: "TIMESTAMP(6)",
    T.TimestampType: "TIMESTAMP(6) WITH LOCAL TIME ZONE",
}


def _spark_type_to_paimon(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision}, {dt.scale})"
    for cls, name in _SPARK_TO_PAIMON.items():
        if isinstance(dt, cls):
            return name
    raise NotImplementedError(
        f"Spark type {dt.simpleString()} has no Paimon mapping in this "
        "pure-Python writer (nested types need the Paimon Spark connector)"
    )


def _paimon_type_to_spark(t: str) -> T.DataType:
    base = t.replace(" NOT NULL", "").strip()
    if base.startswith("DECIMAL"):
        p, s = base[base.index("(") + 1 : base.index(")")].split(",")
        return T.DecimalType(int(p), int(s))
    if base.startswith("TIMESTAMP") and "LOCAL TIME ZONE" in base:
        return T.TimestampType()
    if base.startswith("TIMESTAMP"):
        return T.TimestampNTZType()
    for cls, name in _SPARK_TO_PAIMON.items():
        if name == base:
            return cls()
    raise NotImplementedError(f"Paimon type {t!r} has no Spark mapping")


# ---------------------------------------------------------------------------
# Avro schemas for the metadata tree (field names follow the public
# Paimon manifest representation; our codec embeds the writer schema in
# each OCF so the read side is self-describing)

_SIMPLE_STATS = {
    "type": "record",
    "name": "SimpleStats",
    "fields": [
        {"name": "_MIN_VALUES", "type": "bytes"},
        {"name": "_MAX_VALUES", "type": "bytes"},
        {"name": "_NULL_COUNTS", "type": ["null", {"type": "array", "items": "long"}]},
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "ManifestFileMeta",
    "fields": [
        {"name": "_FILE_NAME", "type": "string"},
        {"name": "_FILE_SIZE", "type": "long"},
        {"name": "_NUM_ADDED_FILES", "type": "long"},
        {"name": "_NUM_DELETED_FILES", "type": "long"},
        {"name": "_PARTITION_STATS", "type": _SIMPLE_STATS},
        {"name": "_SCHEMA_ID", "type": "long"},
    ],
}

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "ManifestEntry",
    "fields": [
        {"name": "_KIND", "type": "int"},  # 0 = ADD, 1 = DELETE
        {"name": "_PARTITION", "type": "bytes"},  # BinaryRow; empty when unpartitioned
        {"name": "_BUCKET", "type": "int"},
        {"name": "_TOTAL_BUCKETS", "type": "int"},
        {
            "name": "_FILE",
            "type": {
                "type": "record",
                "name": "DataFileMeta",
                "fields": [
                    {"name": "_FILE_NAME", "type": "string"},
                    {"name": "_FILE_SIZE", "type": "long"},
                    {"name": "_ROW_COUNT", "type": "long"},
                    {"name": "_MIN_SEQUENCE_NUMBER", "type": "long"},
                    {"name": "_MAX_SEQUENCE_NUMBER", "type": "long"},
                    {"name": "_SCHEMA_ID", "type": "long"},
                    {"name": "_LEVEL", "type": "int"},
                    {"name": "_EXTRA_FILES", "type": {"type": "array", "items": "string"}},
                    {"name": "_CREATION_TIME", "type": "long"},
                ],
            },
        },
    ],
}

_EMPTY_STATS = {"_MIN_VALUES": b"", "_MAX_VALUES": b"", "_NULL_COUNTS": None}


# ---------------------------------------------------------------------------
# BinaryRow codec — the Flink binary row format Paimon serializes
# manifest partition tuples with (public format: an 8-bit header plus
# per-field null bits rounded to 8-byte words, one 8-byte fixed slot
# per field, variable-length data appended 8-byte aligned; strings of
# <= 7 bytes packed into the slot with 0x80|len in the high byte,
# longer ones referenced as (offset << 32 | len); little-endian, the
# de-facto byte order of JVM deployments). Only the partitionable
# types are implemented: INT/BIGINT -> slot integer, BOOLEAN -> slot
# byte, STRING -> compact-or-offset utf8.


def _binrow_nullbits_width(arity: int) -> int:
    return ((arity + 63 + 8) // 64) * 8


def binary_row_encode(values: list, types: list[str]) -> bytes:
    nb = _binrow_nullbits_width(len(values))
    fixed = bytearray(nb + 8 * len(values))
    var = bytearray()
    for i, (v, t) in enumerate(zip(values, types)):
        slot = nb + 8 * i
        if v is None:
            bit = i + 8  # 8 header bits precede the field null bits
            fixed[bit // 8] |= 1 << (bit % 8)
            continue
        base = t.split("(")[0].strip().upper()
        if base in ("INT", "BIGINT", "SMALLINT", "TINYINT"):
            # Flink's BinaryRowWriter writes each integer type at its
            # OWN width (4/8/2/1 bytes little-endian signed) with the
            # rest of the 8-byte slot zero — decoding a negative INT as
            # an 8-byte long would read 4294967295 instead of -1.
            w = {"INT": 4, "BIGINT": 8, "SMALLINT": 2, "TINYINT": 1}[base]
            fixed[slot : slot + w] = int(v).to_bytes(w, "little", signed=True)
        elif base == "BOOLEAN":
            fixed[slot] = 1 if v else 0
        elif base in ("STRING", "VARCHAR", "CHAR"):
            raw = str(v).encode("utf-8")
            if len(raw) <= 7:
                packed = bytearray(8)
                packed[: len(raw)] = raw
                packed[7] = 0x80 | len(raw)
                fixed[slot : slot + 8] = packed
            else:
                offset = len(fixed) + len(var)
                var.extend(raw)
                if len(raw) % 8:
                    var.extend(b"\x00" * (8 - len(raw) % 8))
                fixed[slot : slot + 8] = (
                    ((offset << 32) | len(raw)).to_bytes(8, "little")
                )
        else:
            raise NotImplementedError(f"BinaryRow partition type {t!r}")
    return bytes(fixed) + bytes(var)


def binary_row_decode(data: bytes, types: list[str]) -> list:
    arity = len(types)
    nb = _binrow_nullbits_width(arity)
    out: list = []
    for i, t in enumerate(types):
        bit = i + 8
        if data[bit // 8] & (1 << (bit % 8)):
            out.append(None)
            continue
        slot = nb + 8 * i
        word = data[slot : slot + 8]
        base = t.split("(")[0].strip().upper()
        if base in ("INT", "BIGINT", "SMALLINT", "TINYINT"):
            w = {"INT": 4, "BIGINT": 8, "SMALLINT": 2, "TINYINT": 1}[base]
            out.append(int.from_bytes(word[:w], "little", signed=True))
        elif base == "BOOLEAN":
            out.append(word[0] != 0)
        elif base in ("STRING", "VARCHAR", "CHAR"):
            if word[7] & 0x80:
                n = word[7] & 0x7F
                out.append(word[:n].decode("utf-8"))
            else:
                packed = int.from_bytes(word, "little")
                offset, n = packed >> 32, packed & 0xFFFFFFFF
                out.append(data[offset : offset + n].decode("utf-8"))
        else:
            raise NotImplementedError(f"BinaryRow partition type {t!r}")
    return out


def _part_dir(keys: list[str], values: list) -> str:
    """Canonical hive-style partition path segment for a decoded tuple —
    the writer MOVES staged files into exactly these directories, so the
    reader reconstructs file locations from manifest partition bytes
    alone (no dependence on Spark's own path escaping)."""
    from urllib.parse import quote

    segs = []
    for k, v in zip(keys, values):
        if v is None:
            segs.append(f"{k}={HIVE_NULL}")
        elif isinstance(v, bool):
            segs.append(f"{k}={'true' if v else 'false'}")
        else:
            segs.append(f"{k}={quote(str(v), safe='')}")
    return os.path.join(*segs) if segs else ""


# ---------------------------------------------------------------------------
# layout helpers


def _schema_dir(path: str) -> str:
    return os.path.join(path, "schema")


def _snapshot_dir(path: str) -> str:
    return os.path.join(path, "snapshot")


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "manifest")


def _latest_schema(path: str) -> dict:
    sd = _schema_dir(path)
    ids = [int(f.split("-", 1)[1]) for f in os.listdir(sd) if f.startswith("schema-")]
    if not ids:
        raise FileNotFoundError(f"no schema files under {sd}")
    with open(os.path.join(sd, f"schema-{max(ids)}")) as f:
        return json.load(f)


def _latest_snapshot_id(path: str) -> int | None:
    sd = _snapshot_dir(path)
    if not os.path.isdir(sd):
        return None
    sid = None
    hint = os.path.join(sd, "LATEST")
    if os.path.exists(hint):
        with open(hint) as f:
            txt = f.read().strip()
        token = txt.rsplit("-", 1)[-1] if "-" in txt else txt
        if token.isdigit():
            sid = int(token)
    if sid is None or not os.path.exists(os.path.join(sd, f"snapshot-{sid}")):
        ids = [
            int(f.split("-", 1)[1])
            for f in os.listdir(sd)
            if f.startswith("snapshot-") and f.split("-", 1)[1].isdigit()
        ]
        if not ids:
            return None
        sid = max(ids)
    # LATEST is a lower bound: a commit that published snapshot-<N+1>
    # but did not rotate the hint yet is still the latest snapshot
    while os.path.exists(os.path.join(sd, f"snapshot-{sid + 1}")):
        sid += 1
    return sid


def _load_snapshot(path: str, snapshot_id: int) -> dict:
    p = os.path.join(_snapshot_dir(path), f"snapshot-{snapshot_id}")
    if not os.path.exists(p):
        raise FileNotFoundError(f"Paimon snapshot {snapshot_id} not found at {p}")
    with open(p) as f:
        return json.load(f)


def _manifest_metas(path: str, snapshot: dict) -> list[dict]:
    metas: list[dict] = []
    for key in ("baseManifestList", "deltaManifestList"):
        name = snapshot.get(key)
        if not name:
            continue
        _, _, records = read_ocf(os.path.join(_manifest_dir(path), name))
        metas.extend(records)
    return metas


def _live_entries(path: str, snapshot: dict) -> list[dict]:
    """Replay every manifest's ADD/DELETE entries to the live set of
    {partition (BinaryRow bytes), bucket, name} records."""
    live: dict[tuple[bytes, int, str], dict] = {}
    for meta in _manifest_metas(path, snapshot):
        _, _, entries = read_ocf(os.path.join(_manifest_dir(path), meta["_FILE_NAME"]))
        for e in entries:
            key = (e["_PARTITION"], e["_BUCKET"], e["_FILE"]["_FILE_NAME"])
            if e["_KIND"] == 0:
                live[key] = {
                    "partition": e["_PARTITION"],
                    "bucket": e["_BUCKET"],
                    "name": e["_FILE"]["_FILE_NAME"],
                }
            else:
                live.pop(key, None)
    return [live[k] for k in sorted(live)]


def _entry_path(path: str, schema: dict, entry: dict) -> str:
    keys = schema.get("partitionKeys") or []
    if not keys:
        return os.path.join(path, f"bucket-{entry['bucket']}", entry["name"])
    ftypes = {f["name"]: f["type"] for f in schema["fields"]}
    values = binary_row_decode(entry["partition"], [ftypes[k] for k in keys])
    return os.path.join(
        path, _part_dir(keys, values), f"bucket-{entry['bucket']}", entry["name"]
    )


# ---------------------------------------------------------------------------
# public API


def read_paimon_py(
    path: str, spark: SparkSession, snapshot: int | None = None
) -> DataFrame:
    """Read an append-only OR primary-key Paimon table (unpartitioned
    or partitioned) by walking schema -> snapshot -> manifest lists ->
    manifests. The result is a plain multi-file parquet scan; partition
    columns — absent from data files per the Paimon layout — are
    restored from each manifest entry's BinaryRow partition tuple (one
    scan per live partition, unioned; driver-side plan cost O(live
    partitions)). Primary-key tables are merged on read: one shuffle on
    the key, latest ``_SEQUENCE_NUMBER`` wins, DELETE rows
    (``_VALUE_KIND`` = 1) tombstone the key — the deduplicate merge
    engine over L0 files. ``snapshot`` time travels."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if not os.path.isdir(_schema_dir(path)):
        raise FileNotFoundError(f"not a Paimon table (no schema/ under {path})")
    schema = _latest_schema(path)
    sid = snapshot if snapshot is not None else _latest_snapshot_id(path)
    if sid is None:
        raise ValueError(f"Paimon table at {path} has no snapshots")
    entries = _live_entries(path, _load_snapshot(path, sid))
    spark_schema = T.StructType(
        [
            T.StructField(f["name"], _paimon_type_to_spark(f["type"]), "NOT NULL" not in f["type"])
            for f in schema["fields"]
        ]
    )
    pks = schema.get("primaryKeys") or []
    if not entries:
        return spark.createDataFrame([], spark_schema)
    keys = schema.get("partitionKeys") or []
    sys_fields = (
        [
            T.StructField("_SEQUENCE_NUMBER", T.LongType(), False),
            T.StructField("_VALUE_KIND", T.IntegerType(), False),
        ]
        if pks
        else []
    )
    ftypes = {f["name"]: f["type"] for f in schema["fields"]}
    phys = T.StructType(
        [f for f in spark_schema.fields if f.name not in keys] + sys_fields
    )
    if not keys:
        out = spark.read.schema(phys).parquet(
            *[_entry_path(path, schema, e) for e in entries]
        )
    else:
        part_spark = {k: _paimon_type_to_spark(ftypes[k]) for k in keys}
        groups: dict[bytes, list[str]] = {}
        for e in entries:
            groups.setdefault(e["partition"], []).append(_entry_path(path, schema, e))
        parts = []
        cols = [f.name for f in spark_schema.fields] + [f.name for f in sys_fields]
        for pbytes, files in sorted(groups.items()):
            values = binary_row_decode(pbytes, [ftypes[k] for k in keys])
            df = spark.read.schema(phys).parquet(*files)
            for k, v in zip(keys, values):
                df = df.withColumn(k, F.lit(v).cast(part_spark[k]))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
    if not pks:
        return out
    w = Window.partitionBy(*pks).orderBy(F.col("_SEQUENCE_NUMBER").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("_VALUE_KIND") == 0))
        .select(*[f.name for f in spark_schema.fields])
    )


def write_paimon_py(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    primary_key: list[str] | None = None,
    delete: bool = False,
    _commit_kind: str | None = None,
) -> None:
    """Write ``df`` as one Paimon commit: parquet data files under
    [<k>=<v>/...]bucket-0 plus manifest / manifest-list / snapshot
    metadata. ``partition_by`` declares hive-partitioned layout: the
    partition columns are dropped from the data files (the Paimon
    layout) and each file's tuple is BinaryRow-encoded into its
    manifest entry. ``primary_key`` declares an upsert table: data
    files carry the KeyValue system columns (``_KEY_<pk>`` copies,
    ``_SEQUENCE_NUMBER`` = the commit's snapshot id, ``_VALUE_KIND``)
    and the reader merges latest-sequence-wins; ``delete=True``
    commits the rows as DELETE tombstones for their keys. Modes:
    append, overwrite, error, ignore."""
    if mode not in ("append", "overwrite", "error", "ignore"):
        raise ValueError(f"unsupported mode {mode!r}")
    partition_by = list(partition_by or [])
    primary_key = list(primary_key or [])
    if delete and not primary_key:
        raise ValueError("delete=True requires a primary_key table")
    for c in primary_key:
        if c not in df.columns:
            raise ValueError(f"primary key column {c!r} not in schema")
    if primary_key and not set(partition_by) <= set(primary_key):
        raise ValueError(
            "the primary key must contain every partition key "
            f"({partition_by} vs {primary_key}) — the Paimon constraint that "
            "makes a key unique table-wide"
        )
    prior_id = _latest_snapshot_id(path) if os.path.isdir(_snapshot_dir(path)) else None
    if prior_id is not None and mode == "error":
        raise FileExistsError(f"Paimon table already exists at {path}")
    if prior_id is not None and mode == "ignore":
        return

    for d in (_schema_dir(path), _snapshot_dir(path), _manifest_dir(path)):
        os.makedirs(d, exist_ok=True)

    # schema-0 on first write; later writes must match it
    fields = [
        {"id": i, "name": f.name, "type": _spark_type_to_paimon(f.dataType) + ("" if f.nullable else " NOT NULL")}
        for i, f in enumerate(df.schema.fields)
    ]
    ptypes = {f["name"]: f["type"] for f in fields}
    for c in partition_by:
        if c not in ptypes:
            raise ValueError(f"partition column {c!r} not in schema")
        base = ptypes[c].split("(")[0].replace(" NOT NULL", "").strip().upper()
        if base not in ("INT", "BIGINT", "SMALLINT", "TINYINT", "BOOLEAN", "STRING", "VARCHAR", "CHAR"):
            raise NotImplementedError(
                f"Paimon partitioning on column {c!r} of type {ptypes[c]} is "
                "not supported (int/bigint/boolean/string only)"
            )
    schema_file = os.path.join(_schema_dir(path), "schema-0")
    if not os.path.exists(schema_file):
        with open(schema_file, "w") as f:
            json.dump(
                {
                    "version": 3,
                    "id": 0,
                    "fields": fields,
                    "highestFieldId": len(fields) - 1,
                    "partitionKeys": partition_by,
                    "primaryKeys": primary_key,
                    "options": {"bucket": "-1"},
                    "comment": "",
                    "timeMillis": int(time.time() * 1000),
                },
                f,
            )
    else:
        existing = _latest_schema(path)
        if [f["name"] for f in existing["fields"]] != [f["name"] for f in fields]:
            raise ValueError(
                f"schema mismatch appending to Paimon table at {path}: "
                f"{[f['name'] for f in existing['fields']]} vs {[f['name'] for f in fields]}"
            )
        if (existing.get("partitionKeys") or []) != partition_by:
            raise ValueError(
                f"partition keys {partition_by} do not match the table's "
                f"existing keys {existing.get('partitionKeys') or []}"
            )
        if (existing.get("primaryKeys") or []) != primary_key:
            raise ValueError(
                f"primary keys {primary_key} do not match the table's "
                f"existing keys {existing.get('primaryKeys') or []}"
            )

    # data files: stage with Spark's parquet writer (partitionBy drops
    # the partition columns from the files — the Paimon layout), then
    # move each into <canonical partition dir>/bucket-0
    import pyarrow.parquet as pq

    def _typed(raw: str | None, t: str):
        if raw is None:
            return None
        base = t.split("(")[0].replace(" NOT NULL", "").strip().upper()
        if base in ("INT", "BIGINT", "SMALLINT", "TINYINT"):
            return int(raw)
        if base == "BOOLEAN":
            return raw.lower() == "true"
        return raw

    def _values(raw: dict) -> list:
        return [_typed(raw.get(c), ptypes[c]) for c in partition_by]

    new_id = (prior_id or 0) + 1
    staged_df = df
    if primary_key:
        from pyspark.sql import functions as F

        # one row per key per commit keeps the merge deterministic (two
        # rows with equal key AND sequence have no defined winner)
        dups = (
            df.groupBy(*primary_key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .count()
        )
        if dups:
            raise ValueError(
                f"batch contains duplicate primary keys {primary_key}; "
                "deduplicate before committing"
            )
        # KeyValue system columns, Paimon column order: keys first
        staged_df = df.select(
            *[F.col(c).alias(f"_KEY_{c}") for c in primary_key],
            F.lit(new_id).cast("long").alias("_SEQUENCE_NUMBER"),
            F.lit(1 if delete else 0).cast("int").alias("_VALUE_KIND"),
            *df.columns,
        )

    names = (f"data-{uuid.uuid4().hex}-{i}.parquet" for i in itertools.count())
    staged = stage_files(
        staged_df,
        path,
        partition_by,
        lambda _rel_dir, raw: os.path.join(
            path, _part_dir(partition_by, _values(raw)), "bucket-0", next(names)
        ),
    )
    seq_base = new_id if primary_key else int(time.time() * 1000)
    entries: list[dict] = []
    for dst, raw in staged:
        values = _values(raw)
        entries.append(
            {
                "_KIND": 0,
                "_PARTITION": (
                    binary_row_encode(values, [ptypes[c] for c in partition_by])
                    if partition_by
                    else b""
                ),
                "_BUCKET": 0,
                "_TOTAL_BUCKETS": -1,
                "_FILE": {
                    "_FILE_NAME": os.path.basename(dst),
                    "_FILE_SIZE": os.path.getsize(dst),
                    "_ROW_COUNT": pq.ParquetFile(dst).metadata.num_rows,
                    "_MIN_SEQUENCE_NUMBER": seq_base,
                    "_MAX_SEQUENCE_NUMBER": seq_base,
                    "_SCHEMA_ID": 0,
                    "_LEVEL": 0,
                    "_EXTRA_FILES": [],
                    "_CREATION_TIME": seq_base,
                },
            }
        )
    delta_rows = sum(e["_FILE"]["_ROW_COUNT"] for e in entries)

    overwriting = mode == "overwrite" and prior_id is not None
    prior_snapshot = _load_snapshot(path, prior_id) if prior_id is not None else None
    if overwriting:
        # retire every prior live file in this commit's delta manifest
        prior_schema = _latest_schema(path)
        for prev in _live_entries(path, prior_snapshot):
            p = _entry_path(path, prior_schema, prev)
            entries.insert(
                0,
                {
                    "_KIND": 1,
                    "_PARTITION": prev["partition"],
                    "_BUCKET": prev["bucket"],
                    "_TOTAL_BUCKETS": -1,
                    "_FILE": {
                        "_FILE_NAME": prev["name"],
                        "_FILE_SIZE": os.path.getsize(p),
                        "_ROW_COUNT": 0,
                        "_MIN_SEQUENCE_NUMBER": 0,
                        "_MAX_SEQUENCE_NUMBER": 0,
                        "_SCHEMA_ID": 0,
                        "_LEVEL": 0,
                        "_EXTRA_FILES": [],
                        "_CREATION_TIME": seq_base,
                    },
                },
            )

    run = uuid.uuid4().hex
    manifest_name = f"manifest-{run}-0"
    write_ocf(os.path.join(_manifest_dir(path), manifest_name), _MANIFEST_SCHEMA, entries)
    delta_meta = {
        "_FILE_NAME": manifest_name,
        "_FILE_SIZE": os.path.getsize(os.path.join(_manifest_dir(path), manifest_name)),
        "_NUM_ADDED_FILES": sum(1 for e in entries if e["_KIND"] == 0),
        "_NUM_DELETED_FILES": sum(1 for e in entries if e["_KIND"] == 1),
        "_PARTITION_STATS": _EMPTY_STATS,
        "_SCHEMA_ID": 0,
    }

    # base = previous snapshot's base + delta metas (empty after overwrite,
    # whose delta already carries the DELETE entries for prior files)
    base_metas = (
        [] if overwriting or prior_snapshot is None else _manifest_metas(path, prior_snapshot)
    )
    base_name = f"manifest-list-{run}-0"
    delta_name = f"manifest-list-{run}-1"
    write_ocf(os.path.join(_manifest_dir(path), base_name), _MANIFEST_LIST_SCHEMA, base_metas)
    write_ocf(os.path.join(_manifest_dir(path), delta_name), _MANIFEST_LIST_SCHEMA, [delta_meta])

    prior_total = 0 if overwriting or prior_snapshot is None else prior_snapshot.get("totalRecordCount", 0)
    snapshot = {
        "version": 3,
        "id": new_id,
        "schemaId": 0,
        "baseManifestList": base_name,
        "deltaManifestList": delta_name,
        "changelogManifestList": None,
        "commitUser": "daft-spark",
        "commitIdentifier": new_id,
        "commitKind": _commit_kind or ("OVERWRITE" if overwriting else "APPEND"),
        "timeMillis": int(time.time() * 1000),
        "logOffsets": {},
        "totalRecordCount": prior_total + delta_rows,
        "deltaRecordCount": delta_rows,
    }
    # the snapshot file is the commit point
    publish_once(
        os.path.join(_snapshot_dir(path), f"snapshot-{new_id}"),
        json.dumps(snapshot),
        f"concurrent Paimon commit at snapshot {new_id} ({path})",
    )
    for hint, value in (("LATEST", new_id), ("EARLIEST", 1)):
        hp = os.path.join(_snapshot_dir(path), hint)
        if hint == "EARLIEST" and os.path.exists(hp):
            continue
        tmp = os.path.join(_snapshot_dir(path), f".tmp-hint-{run}")
        with open(tmp, "w") as f:
            f.write(str(value))
        os.replace(tmp, hp)


def compact_paimon_py(
    path: str, spark: SparkSession, target_partitions: int | None = None
) -> None:
    """Full compaction: materialize the table's merged current state
    (for primary-key tables the merge-on-read result — latest sequence
    wins, tombstones dropped) and commit it back as ONE snapshot whose
    delta manifest retires every pre-compact live file (commitKind
    COMPACT). Afterwards reads consult only the compacted files, so the
    per-read merge shrinks back to a no-op until new upserts arrive;
    prior snapshots stay time-travelable because nothing is physically
    deleted. ``target_partitions`` coalesces the rewrite (compaction
    exists to reduce file counts — the default keeps Spark's write
    parallelism)."""
    schema = _latest_schema(path)
    keys = schema.get("partitionKeys") or []
    pks = schema.get("primaryKeys") or []
    merged = read_paimon_py(path, spark)
    if target_partitions is not None:
        merged = merged.coalesce(max(1, target_partitions))
    # Staging materializes the merged frame BEFORE the retire manifest
    # is built, and pre-compact files stay on disk (Paimon never
    # deletes until snapshot expiry), so the lazy self-read is safe.
    write_paimon_py(
        merged, path, mode="overwrite",
        partition_by=keys, primary_key=pks, _commit_kind="COMPACT",
    )
