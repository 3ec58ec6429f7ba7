"""Pure-Python Apache Iceberg v2 table support — no connector JAR or
pyiceberg required.

Parity target: the reference reads Iceberg via pyiceberg (reference
``daft/io/iceberg/_iceberg.py:130`` read_iceberg, ``iceberg_write.py``
for the write path). This container has neither the Spark runtime JAR
nor pyiceberg, but Iceberg is an open spec
(https://iceberg.apache.org/spec/): a table is

    <table>/metadata/v<N>.metadata.json   (+ version-hint.text)
    <table>/metadata/snap-*.avro          manifest lists
    <table>/metadata/*-m*.avro            manifests
    <table>/data/*.parquet                data files

This module implements the bounded subset a batch engine needs, using
the sibling pure-Python Avro codec (``daft_spark.io.avro``):

- ``write_iceberg_py(df, path, mode, partition_by=None)``: append /
  overwrite / error / ignore on v2 tables — unpartitioned,
  identity-partitioned, or HIDDEN-partitioned (``bucket(N, col)``,
  ``truncate(W, col)``, ``days/months/years(col)`` transform terms).
  Data files are written with Spark's parquet writer; partitioning
  stages through ``partitionBy`` on a DERIVED column (a duplicate for
  identity, the transform value otherwise) so the source columns stay
  IN the data files (what native Iceberg writers produce — hive layout
  alone would drop them) while the directory layout yields each file's
  partition tuple for its manifest entry. Each commit writes one
  manifest and a new manifest list (an append re-references the head's
  manifests untouched) and then publishes new metadata.
- ``read_iceberg_py(path, spark, snapshot_id=None)``: resolve current
  (or time-travel) snapshot from metadata.json, walk manifest-list ->
  manifests -> live data files, and hand the file list to Spark's
  parquet reader with the schema pinned from the Iceberg schema — so
  filter/column pushdown, split planning, and AQE apply exactly as for
  raw parquet.

- ``delete_iceberg_py(df, path, equality_by)``: row-level deletes as
  v2 EQUALITY DELETE files (content=2 entries + equality_ids in a
  content=1 deletes manifest); the reader applies them merge-on-read —
  data files grouped by data sequence number, each group anti-joined
  against the strictly-newer delete values (the v2 sequencing rule).
- ``position_delete_iceberg_py``: v2 POSITION DELETE files keyed by
  (file_path, row ordinal), applied with the same sequencing rule.
- Manifest pruning: partition tuples (identity + spec-hash bucket +
  truncate/day/month/year via iceberg_transforms) AND per-file column
  stats — value/null counts (spec ids 109/110) and lower/upper bounds
  (125/128, single-value binary) recorded on write and consulted on
  read, so selective filters skip files even on unpartitioned tables.

Every metadata change goes through three pieces. ``_load_metadata``
returns (version, metadata) of the newest ``v<N>.metadata.json``;
``version-hint.text`` is only a lower bound it probes forward from.
``_apply_updates`` applies a list of REST ``updateTable`` actions
(add-snapshot, set-snapshot-ref, remove-snapshots, add-schema, ...) to
a base metadata; it is the only builder of a metadata dict. ``_commit``
applies them to the base the caller read and link-publishes
``v<base+1>.metadata.json`` (io/publish.py): a commit names the base it
read, and a stale base finds its target taken and raises. Only a blind
append (``_commit_snapshot``) rebases onto the new head and retries —
the Iceberg spec's optimistic concurrency, and the rule the Delta log
follows (io/delta.py). The REST catalog server commits through the same
``_commit``.

Out of scope (raise cleanly): format v3 and non-local filesystems.

At 100 TB the metadata walk is driver-side KB/MB work (exactly how
pyiceberg plans scans); the data plane stays a multi-file parquet scan.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from daft_spark.io.avro import read_ocf, write_ocf
from daft_spark.io.publish import ConcurrentCommitError, publish_once, stage_files

# ---------------------------------------------------------------------------
# schema conversion (Spark StructType <-> Iceberg schema JSON)

_PRIMITIVES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
}
_TO_ICEBERG = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.DateType: "date",
    T.TimestampNTZType: "timestamp",
    T.TimestampType: "timestamptz",
    T.StringType: "string",
    T.BinaryType: "binary",
}


class _IdGen:
    def __init__(self, start: int = 0):
        self.n = start

    def next(self) -> int:
        self.n += 1
        return self.n


def _spark_type_to_iceberg(dt: T.DataType, ids: _IdGen):
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [
                {
                    "id": ids.next(),
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _spark_type_to_iceberg(f.dataType, ids),
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": ids.next(),
            "element": _spark_type_to_iceberg(dt.elementType, ids),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "key-id": ids.next(),
            "key": _spark_type_to_iceberg(dt.keyType, ids),
            "value-id": ids.next(),
            "value": _spark_type_to_iceberg(dt.valueType, ids),
            "value-required": not dt.valueContainsNull,
        }
    for cls, name in _TO_ICEBERG.items():
        if isinstance(dt, cls):
            return name
    raise NotImplementedError(f"no Iceberg mapping for Spark type {dt}")


def _iceberg_type_to_spark(t) -> T.DataType:
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : t.index(")")].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed"):
            return T.BinaryType()
        if t == "uuid":
            return T.StringType()
        raise NotImplementedError(f"Iceberg type {t!r}")
    if t["type"] == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"], _iceberg_type_to_spark(f["type"]), not f["required"]
                )
                for f in t["fields"]
            ]
        )
    if t["type"] == "list":
        return T.ArrayType(_iceberg_type_to_spark(t["element"]), not t["element-required"])
    if t["type"] == "map":
        return T.MapType(
            _iceberg_type_to_spark(t["key"]),
            _iceberg_type_to_spark(t["value"]),
            not t["value-required"],
        )
    raise NotImplementedError(f"Iceberg type {t!r}")


def schema_to_iceberg(schema: T.StructType, start_id: int = 0) -> dict:
    """``start_id`` floors the minted field ids — an overwrite of an
    evolved table mints its new ids ABOVE the table's last-column-id so
    they never collide with ids recorded in older schemas/manifests."""
    ids = _IdGen(start_id)
    fields = [
        {
            "id": ids.next(),
            "name": f.name,
            "required": not f.nullable,
            "type": _spark_type_to_iceberg(f.dataType, ids),
        }
        for f in schema.fields
    ]
    return {"type": "struct", "schema-id": 0, "fields": fields, "last-column-id": ids.n}


def _optionalize_schema(ice_schema: dict) -> dict:
    """Written tables declare every column OPTIONAL. Spark DataFrame
    nullability is plan-derived and transient (Spark itself projects
    parquet columns as nullable on read), so persisting required-ness
    from one write's plan would poison later appends whose legal nulls
    then violate the required constraint. Map keys stay required (spec:
    map keys are always required)."""

    def conv(t):
        if isinstance(t, dict) and t.get("type") == "struct":
            return {
                **t,
                "fields": [
                    {**f, "required": False, "type": conv(f["type"])}
                    for f in t["fields"]
                ],
            }
        if isinstance(t, dict) and t.get("type") == "list":
            return {**t, "element-required": False, "element": conv(t["element"])}
        if isinstance(t, dict) and t.get("type") == "map":
            return {**t, "value-required": False, "value": conv(t["value"])}
        return t

    return conv(ice_schema)


def _type_sig(t):
    """Structural type signature with field ids stripped — compares an
    incoming write schema against the table's current schema."""
    if isinstance(t, str):
        return t
    if t["type"] == "struct":
        return (
            "struct",
            tuple((f["name"], _type_sig(f["type"]), f["required"]) for f in t["fields"]),
        )
    if t["type"] == "list":
        return ("list", _type_sig(t["element"]), t["element-required"])
    if t["type"] == "map":
        return ("map", _type_sig(t["key"]), _type_sig(t["value"]), t["value-required"])
    return ("?", json.dumps(t, sort_keys=True))


# ---------------------------------------------------------------------------
# manifest / manifest-list Avro schemas (Iceberg spec field ids)

# identity partitions supported on these column types; the avro type
# carries the partition value in the manifest's partition struct
_PARTITIONABLE_AVRO = {
    T.StringType: "string",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.BooleanType: "boolean",
}


def _partition_record_schema(partition_fields: list[tuple[str, str]]) -> dict:
    """r102 partition struct for the manifest avro — one (nullable)
    field per identity partition column."""
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": name, "type": ["null", avro_t], "default": None, "field-id": 1000 + i}
            for i, (name, avro_t) in enumerate(partition_fields)
        ],
    }


def _bounds_map_schema(name: str, kid: int, vid: int, vtype: str = "bytes") -> dict:
    """Iceberg stores ``map<int, binary|long>`` in manifest avro as an
    array of key/value records with logicalType map (string-keyed
    native avro maps can't carry int keys)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": vtype, "field-id": vid},
            ],
        },
    }


def _data_file_schema(partition_fields: list[tuple[str, str]]) -> dict:
    return {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "type": _partition_record_schema(partition_fields),
                "field-id": 102,
            },
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            # per-file column stats (spec field ids 109/110/125/128):
            # value/null counts answer IS [NOT] NULL; single-value binary
            # lower/upper keyed by schema field id let an UNPARTITIONED
            # table skip files on a selective filter
            {
                "name": "value_counts",
                "type": ["null", _bounds_map_schema("k119_v120", 119, 120, "long")],
                "default": None,
                "field-id": 109,
            },
            {
                "name": "null_value_counts",
                "type": ["null", _bounds_map_schema("k121_v122", 121, 122, "long")],
                "default": None,
                "field-id": 110,
            },
            {
                "name": "lower_bounds",
                "type": ["null", _bounds_map_schema("k126_v127", 126, 127)],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _bounds_map_schema("k129_v130", 129, 130)],
                "default": None,
                "field-id": 128,
            },
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "default": None,
                "field-id": 135,
            },
        ],
    }


def _manifest_entry_schema(partition_fields: list[tuple[str, str]]) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
            {"name": "data_file", "type": _data_file_schema(partition_fields), "field-id": 2},
        ],
    }


_MANIFEST_ENTRY_SCHEMA = _manifest_entry_schema([])

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _metadata_file(path: str, version: int) -> str:
    return os.path.join(_meta_dir(path), f"v{version}.metadata.json")


def _load_metadata(path: str) -> tuple[int, dict]:
    """(version, metadata) of the table's newest ``v<N>.metadata.json``.
    ``version-hint.text`` is only a lower bound: a commit links its
    metadata file before it rotates the hint, so the loader probes
    forward from the hint (or from the highest listed version when the
    hint is missing or points nowhere)."""
    md = _meta_dir(path)
    try:
        with open(os.path.join(md, "version-hint.text")) as f:
            v = int(f.read().strip())
    except (OSError, ValueError):
        v = None
    if v is None or not os.path.exists(_metadata_file(path, v)):
        if not os.path.isdir(md):
            raise FileNotFoundError(f"not an Iceberg table (no metadata/ under {path})")
        stems = [
            f[1 : -len(".metadata.json")]
            for f in os.listdir(md)
            if f.startswith("v") and f.endswith(".metadata.json")
        ]
        versions = [int(n) for n in stems if n.isdigit()]
        if not versions:
            raise FileNotFoundError(f"no v*.metadata.json under {md}")
        v = max(versions)
    while os.path.exists(_metadata_file(path, v + 1)):
        v += 1
    with open(_metadata_file(path, v)) as f:
        return v, json.load(f)


def _latest_metadata(path: str) -> dict:
    return _load_metadata(path)[1]


def _to_local(p: str, table_path: str) -> str:
    """Manifest paths are absolute URIs in the spec; resolve file:// and
    re-root paths written by another copy of the table directory."""
    if p.startswith("file://"):
        p = p[7:]
    if os.path.exists(p):
        return p
    # re-root: find the /metadata/ or /data/ suffix under table_path
    for marker in ("/metadata/", "/data/"):
        if marker in p:
            cand = os.path.join(table_path, marker.strip("/"), p.split(marker, 1)[1])
            if os.path.exists(cand):
                return cand
    return p


def current_snapshot(meta: dict, snapshot_id: int | None = None) -> dict | None:
    snaps = meta.get("snapshots", [])
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"snapshot {snapshot_id} not found")
    cur = meta.get("current-snapshot-id")
    if cur in (None, -1):
        return None
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    return None


def _live_files_and_deletes(
    meta: dict,
    table_path: str,
    snapshot_id: int | None = None,
    filters: list[tuple] | None = None,
) -> tuple[list[dict], list[dict]]:
    """Walk manifest-list -> manifests to the live DATA files and
    DELETE files (equality + position), each tagged with its data
    sequence number (entries inherit the manifest's when their own is
    null — the v2 inheritance rule).

    ``filters`` — [(column, op, literal), ...], AND semantics — prunes
    DATA entries whose manifest partition tuple provably excludes every
    row (identity/truncate/day/month/year ranges; bucket on equality;
    iceberg_transforms.entry_matches), mirroring the reference's
    pyiceberg-planned scans with pushed partition filters (reference
    daft/io/iceberg/_iceberg.py:130, pushdown struct
    src/daft-scan/src/pushdowns.rs:16-36). Delete entries are never
    pruned: a kept data file's deletes must all be seen."""
    from daft_spark.io.iceberg_transforms import entry_matches

    snap = current_snapshot(meta, snapshot_id)
    if snap is None:
        return [], []
    specs_by_id = {
        s.get("spec-id", 0): s.get("fields", [])
        for s in meta.get("partition-specs", [])
    }
    source_names: dict[int, str] = {}
    fields_by_name: dict[str, tuple[int, object]] = {}
    if filters:
        id2name = _field_names_by_id(meta)
        source_names = dict(id2name)
        fields_by_name = _fields_by_name(meta)
    _, _, manifests = read_ocf(_to_local(snap["manifest-list"], table_path))
    data: list[dict] = []
    deletes: list[dict] = []
    for m in manifests:
        mseq = m.get("sequence_number", 0)
        spec_fields = specs_by_id.get(m.get("partition_spec_id", 0), [])
        _, _, entries = read_ocf(_to_local(m["manifest_path"], table_path))
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            dfile = e["data_file"]
            if dfile["file_format"].lower() != "parquet":
                raise NotImplementedError(f"file format {dfile['file_format']}")
            seq = e.get("sequence_number")
            seq = mseq if seq is None else seq
            content = dfile.get("content", 0)
            rec = {
                "path": _to_local(dfile["file_path"], table_path),
                "seq": seq,
                "size": dfile.get("file_size_in_bytes") or 0,
            }
            if content == 0:
                if filters and not entry_matches(
                    dict(dfile.get("partition") or {}),
                    spec_fields,
                    source_names,
                    filters,
                ):
                    continue
                # file-level column stats: skip files whose lower/upper
                # bounds provably exclude the filter (unpartitioned
                # tables and intra-partition skipping)
                if filters and _stats_exclude(dfile, filters, fields_by_name):
                    continue
                data.append(rec)
            elif content == 2:
                rec["equality_ids"] = list(dfile.get("equality_ids") or [])
                deletes.append(rec)
            elif content == 1:
                rec["content"] = 1
                deletes.append(rec)
            else:
                raise NotImplementedError(f"unknown Iceberg file content {content}")
    data.sort(key=lambda r: r["path"])
    deletes.sort(key=lambda r: r["path"])
    return data, deletes


def _current_ice_schema(meta: dict) -> dict:
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas", []):
        if s.get("schema-id") == sid:
            return s
    if "schema" in meta:  # v1 layout
        return meta["schema"]
    raise ValueError("Iceberg metadata has no resolvable schema")


def _current_schema(meta: dict) -> T.StructType:
    return _iceberg_type_to_spark(_current_ice_schema(meta))


def _schema_with_field_ids(ice_schema: dict) -> T.StructType:
    """Spark read/write schema carrying ``parquet.field.id`` metadata —
    the spec's field-id-based column resolution (Iceberg spec §Column
    Projection: "Columns in data files are matched by field id"), using
    Spark's native parquet field-id support
    (``spark.sql.parquet.fieldId.read/write.enabled``) instead of
    name matching. Top-level and nested-struct fields carry ids;
    list/map element ids can't ride Spark StructField metadata, so
    evolution is supported for struct-shaped columns (documented
    limitation)."""

    def conv(t, fid=None):
        if isinstance(t, dict) and t.get("type") == "struct":
            return T.StructType(
                [
                    T.StructField(
                        f["name"],
                        conv(f["type"], f["id"]),
                        not f["required"],
                        {"parquet.field.id": f["id"]},
                    )
                    for f in t["fields"]
                ]
            )
        return _iceberg_type_to_spark(t)

    return conv(ice_schema)


def _files_have_field_ids(paths: list[str]) -> bool:
    """True when the (sampled) parquet files embed PARQUET:field_id —
    the gate for id-based column resolution. Files written without ids
    (this engine pre-evolution, plain Spark writers) must keep NAME
    matching: under id-matching an id-less file reads as all-null."""
    import pyarrow.parquet as pq

    for p in paths:
        sa = pq.ParquetFile(p).schema_arrow
        if not sa or not all(
            f.metadata and b"PARQUET:field_id" in f.metadata for f in sa
        ):
            return False
    return True


def snapshot_at_timestamp_iceberg(meta: dict, timestamp_ms: int) -> int:
    """AS OF TIMESTAMP resolution (Spark-Iceberg's TIMESTAMP AS OF /
    as-of-timestamp option): the snapshot current at that wall-clock
    instant, from the snapshot-log (the spec's history of
    current-snapshot transitions). Raises before the first entry."""
    best = None
    for e in meta.get("snapshot-log", []):
        if int(e.get("timestamp-ms", 0)) <= int(timestamp_ms):
            if best is None or int(e["timestamp-ms"]) >= int(best["timestamp-ms"]):
                best = e
    if best is None:
        raise ValueError(
            f"no Iceberg snapshot at or before timestamp {timestamp_ms} "
            "(table history starts later)"
        )
    return best["snapshot-id"]


def read_iceberg_py(
    path: str,
    spark: SparkSession,
    snapshot_id: int | None = None,
    filters: list[tuple] | None = None,
    ref: str | None = None,
    as_of_timestamp_ms: int | None = None,
) -> DataFrame:
    """Read an Iceberg v1/v2 table (partitioned or not) by walking its
    metadata tree; ``snapshot_id`` time-travels; ``as_of_timestamp_ms``
    is AS OF TIMESTAMP via the snapshot-log.

    ``filters`` — [(column, op, literal), ...] with AND semantics —
    does BOTH halves of predicate pushdown: manifest-entry partition
    pruning (only files whose partition tuple can match are handed to
    Spark — a partition-filtered read of a 100 TB table lists only the
    matching partitions' files) and a residual ``df.filter`` so the
    returned frame is exactly ``table WHERE filters`` regardless of
    transform granularity. Merge-on-read applies v2 equality deletes
    (strictly-older data files) and position deletes (same-or-older
    data files, matched on normalized file path + row index via
    Spark's ``_metadata`` column)."""
    from pyspark.sql import functions as F

    meta = _latest_metadata(path)
    if meta.get("format-version", 1) > 2:
        raise NotImplementedError("Iceberg format v3+ not supported")
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or ref, not both")
        snapshot_id = resolve_iceberg_ref(meta, ref)
    if as_of_timestamp_ms is not None:
        if snapshot_id is not None:
            raise ValueError(
                "pass snapshot_id/ref or as_of_timestamp_ms, not both"
            )
        snapshot_id = snapshot_at_timestamp_iceberg(meta, as_of_timestamp_ms)
    schema = _current_schema(meta)
    ice = _current_ice_schema(meta)
    id_schema = _schema_with_field_ids(ice)

    def schema_for(files: list[str]) -> T.StructType:
        # Field-id column resolution (spec §Column Projection) when the
        # commit's files embed parquet field ids — renamed columns
        # resolve by id, columns added after the file was written come
        # back null (fieldId.read.ignoreMissing). Id-less files (legacy
        # writers) keep name matching. Sampling one file per commit
        # group is sound: files of one commit share one writer.
        if _files_have_field_ids(files[:1]):
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
            spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
            return id_schema
        return schema

    data, deletes = _live_files_and_deletes(meta, path, snapshot_id, filters)
    if not data:
        return spark.createDataFrame([], schema)
    out = _merged_scan(spark, meta, schema, id_schema, data, deletes, schema_for)
    return _apply_residual(out, filters)


def _merged_scan(spark, meta, schema, id_schema, data, deletes, schema_for):
    """Union of per-sequence-group scans with v2 merge-on-read delete
    application (equality: strictly-older rule; position: same-or-older
    rule, matched on normalized path + _metadata.row_index). Factored
    so compaction (rewrite_iceberg_data_files) can scan an arbitrary
    SUBSET of data files under the same semantics as a table read."""
    from pyspark.sql import functions as F

    if not deletes:
        # split by id-ness (sampled per commit/seq group), one scan per kind
        by_seq: dict[int, list[str]] = {}
        for r in data:
            by_seq.setdefault(r["seq"], []).append(r["path"])
        kinds: dict[bool, list[str]] = {}
        for _seq, files in sorted(by_seq.items()):
            kinds.setdefault(_files_have_field_ids(files[:1]), []).extend(files)
        outs = []
        for has_ids, files in sorted(kinds.items()):
            if has_ids:
                spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
                spark.conf.set(
                    "spark.sql.parquet.fieldId.read.ignoreMissing", "true"
                )
            outs.append(
                spark.read.schema(id_schema if has_ids else schema).parquet(*files)
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionAll(o)
        return out
    eq_deletes = [d for d in deletes if d.get("content", 2) == 2]
    pos_deletes = [d for d in deletes if d.get("content") == 1]
    eq_cols: list[str] = []
    del_schema = None
    if eq_deletes:
        eq_sets = {tuple(sorted(d["equality_ids"])) for d in eq_deletes}
        if len(eq_sets) > 1:
            raise NotImplementedError(
                f"mixed equality-id sets in delete files ({sorted(eq_sets)}); "
                "this reader supports one equality key per table"
            )
        id2name = _field_names_by_id(meta)
        eq_cols = [id2name[i] for i in sorted(next(iter(eq_sets)))]
        del_schema = T.StructType([f for f in schema.fields if f.name in eq_cols])
    pos_schema = T.StructType(
        [T.StructField("file_path", T.StringType()), T.StructField("pos", T.LongType())]
    )
    groups: dict[int, list[str]] = {}
    for r in data:
        groups.setdefault(r["seq"], []).append(r["path"])
    parts = []
    for seq, files in sorted(groups.items()):
        df = spark.read.schema(schema_for(files)).parquet(*files)
        pos_applicable = [d["path"] for d in pos_deletes if d["seq"] >= seq]
        if pos_applicable:
            # Row identity = (normalized file path, ordinal row index).
            # _metadata.row_index is the parquet row ordinal Spark
            # tracks natively; paths normalize file:// URIs so delete
            # files written by this engine or an external one agree.
            df = df.select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ).alias("__fp"),
                F.col("_metadata.row_index").alias("__pos"),
            )
            pdels = (
                spark.read.schema(pos_schema)
                .parquet(*pos_applicable)
                .select(
                    F.regexp_replace(F.col("file_path"), "^file:/+", "/").alias(
                        "__fp"
                    ),
                    F.col("pos").alias("__pos"),
                )
                .distinct()
            )
            df = df.join(pdels, ["__fp", "__pos"], "left_anti").drop("__fp", "__pos")
        eq_applicable = [d["path"] for d in eq_deletes if d["seq"] > seq]
        if eq_applicable:
            dels = spark.read.schema(del_schema).parquet(*eq_applicable).distinct()
            # NULL-SAFE equality: the spec matches delete values with
            # IS NOT DISTINCT FROM semantics (a null delete value
            # deletes rows whose column is null), which a plain
            # column-name anti-join would silently never match.
            cond = None
            for c in eq_cols:
                e = df[c].eqNullSafe(dels[c])
                cond = e if cond is None else cond & e
            df = df.join(dels, cond, "left_anti")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _apply_residual(df: DataFrame, filters: list[tuple] | None) -> DataFrame:
    """Exact post-scan application of the pushed filters (partition
    pruning is file-granular; the residual keeps row-level semantics).
    Also strips the parquet.field.id read-schema metadata so the
    returned frame's schema equals a plain parquet read's."""
    from pyspark.sql import functions as F

    if any(f.metadata for f in df.schema.fields):
        df = df.select(
            *[F.col(f.name).alias(f.name, metadata={}) for f in df.schema.fields]
        )
    if not filters:
        return df
    for col, op, val in filters:
        c = F.col(col)
        if op in ("=", "=="):
            df = df.filter(c == val)
        elif op == "!=":
            df = df.filter(c != val)
        elif op == "<":
            df = df.filter(c < val)
        elif op == "<=":
            df = df.filter(c <= val)
        elif op == ">":
            df = df.filter(c > val)
        elif op == ">=":
            df = df.filter(c >= val)
        elif op == "in":
            df = df.filter(c.isin(list(val)))
        elif op == "isnull":
            df = df.filter(c.isNull())
        elif op == "isnotnull":
            df = df.filter(c.isNotNull())
        else:
            raise ValueError(f"unsupported filter op {op!r}")
    return df


def _field_names_by_id(meta: dict) -> dict[int, str]:
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas", []):
        if s.get("schema-id") == sid:
            return {f["id"]: f["name"] for f in s["fields"]}
    if "schema" in meta:
        return {f["id"]: f["name"] for f in meta["schema"]["fields"]}
    raise ValueError("Iceberg metadata has no resolvable schema")


def _fields_by_name(meta: dict) -> dict[str, tuple[int, object]]:
    """name -> (field id, iceberg type) for the current schema's
    top-level fields (type is a string for primitives, dict for
    nested — stats pruning only uses the primitive ones)."""
    sid = meta.get("current-schema-id", 0)
    fields = None
    for s in meta.get("schemas", []):
        if s.get("schema-id") == sid:
            fields = s["fields"]
            break
    if fields is None and "schema" in meta:
        fields = meta["schema"]["fields"]
    if fields is None:
        raise ValueError("Iceberg metadata has no resolvable schema")
    return {f["name"]: (f["id"], f["type"]) for f in fields}


def _bounds_to_dict(raw) -> dict[int, bytes]:
    """Manifest lower/upper bounds decode as a list of {key, value}
    records (the array-encoded map) — normalize to {field_id: bytes}."""
    if not raw:
        return {}
    return {r["key"]: r["value"] for r in raw if r.get("value") is not None}


def _stats_exclude(dfile: dict, filters: list[tuple], fields_by_name: dict) -> bool:
    """True when some filter PROVABLY excludes every row of the file
    given its per-column lower/upper bounds. Missing/undecodable bounds
    never exclude. Mirrors the reference's pyiceberg-planned file
    skipping on manifest metrics (daft/io/iceberg/_iceberg.py:130;
    pushdown struct src/daft-scan/src/pushdowns.rs:16-36)."""
    from daft_spark.io.iceberg_transforms import single_value_decode, stats_admit

    lbs = _bounds_to_dict(dfile.get("lower_bounds"))
    ubs = _bounds_to_dict(dfile.get("upper_bounds"))
    vcs = _bounds_to_dict(dfile.get("value_counts"))
    ncs = _bounds_to_dict(dfile.get("null_value_counts"))
    if not lbs and not ubs and not vcs:
        return False
    for col, op, val in filters:
        ent = fields_by_name.get(col)
        if ent is None or not isinstance(ent[1], str):
            continue
        fid, ice_type = ent
        vc, nc = vcs.get(fid), ncs.get(fid)
        if op == "isnull":
            if nc == 0:
                return True  # no nulls in this file
            continue
        if op == "isnotnull":
            if vc is not None and nc is not None and vc > 0 and nc >= vc:
                return True  # every value is null
            continue
        # all-null columns satisfy no comparison operator
        if vc is not None and nc is not None and vc > 0 and nc >= vc:
            return True
        lo = single_value_decode(lbs.get(fid), ice_type)
        hi = single_value_decode(ubs.get(fid), ice_type)
        if lo is None and hi is None:
            continue
        if not stats_admit(lo, hi, op, val):
            return True
    return False


def _parquet_column_stats(
    path: str, ids_by_name: dict[str, int], types_by_name: dict[str, object]
):
    """Per-file column stats lifted from the parquet footer:
    value/null counts plus min/max re-encoded as Iceberg lower/upper
    bounds (single-value binary; string/binary truncated to 16 with
    upper-increment, the UnicodeUtil/BinaryUtil approach, so bounds
    stay small AND valid). Columns whose footer lacks exact min/max in
    a non-all-null row group (INT96 timestamps, NaN floats, nested)
    omit bounds — absent stats never prune. Returns
    (value_counts, null_value_counts, lower, upper) avro map-record
    lists (None when empty)."""
    import math

    import pyarrow.parquet as pq

    from daft_spark.io.iceberg_transforms import (
        single_value_bytes,
        truncate_lower,
        truncate_upper,
    )

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    values: dict[str, int] = {}
    bad: set[str] = set()
    bad_nulls: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            ice_type = types_by_name.get(name)
            if name not in ids_by_name or not isinstance(ice_type, str):
                continue
            st = col.statistics
            # counts (spec: value_counts includes nulls) are valid even
            # when min/max aren't
            values[name] = values.get(name, 0) + g.num_rows
            if st is not None and st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                bad_nulls.add(name)
            if name in bad:
                continue
            if st is None or not st.has_min_max:
                # an all-null row group legitimately has no min/max;
                # other rows' bounds still hold for the whole file
                if st is not None and st.has_null_count and st.null_count == g.num_rows:
                    continue
                bad.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                bad.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            try:
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            except TypeError:
                bad.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
    lower, upper = [], []
    for name, mn in mins.items():
        fid, ice_type = ids_by_name[name], types_by_name[name]
        lb = single_value_bytes(truncate_lower(mn), ice_type)
        if lb is not None:
            lower.append({"key": fid, "value": lb})
        mx = truncate_upper(maxs[name])
        ub = None if mx is None else single_value_bytes(mx, ice_type)
        if ub is not None:
            upper.append({"key": fid, "value": ub})
    value_counts = [
        {"key": ids_by_name[n], "value": c} for n, c in values.items()
    ]
    null_counts = [
        {"key": ids_by_name[n], "value": c}
        for n, c in nulls.items()
        if n not in bad_nulls
    ]
    return (
        (value_counts or None),
        (null_counts or None),
        (lower or None),
        (upper or None),
    )


def _bucket_column(col: str, n: int, dt):
    """Spec-compliant ``bucket[n]`` as a Column: the long-form types
    (int/long/date/timestamp) reduce to epoch-relative longs JVM-side,
    then one Arrow-vectorized pandas UDF applies the spec murmur3;
    strings/binary hash their raw bytes per row inside the same Arrow
    batch path. Partition derivation is a write-time-only expression,
    so the Python hop costs one pass over the staged batch."""
    from pyspark.sql import functions as F

    if isinstance(dt, (T.StringType, T.BinaryType)):

        @F.pandas_udf("int")
        def _bucket_bytes(s: pd.Series) -> pd.Series:
            from daft_spark.io.iceberg_transforms import murmur3_32

            def one(v):
                if v is None:
                    return None
                b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
                return (murmur3_32(b) & 0x7FFFFFFF) % n

            return s.map(one).astype("Int32")

        return _bucket_bytes(F.col(col))

    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        pre = F.col(col).cast("long")
    elif isinstance(dt, T.DateType):
        pre = F.datediff(F.col(col), F.to_date(F.lit("1970-01-01"))).cast("long")
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        pre = F.unix_micros(F.col(col).cast("timestamp"))
    else:
        raise NotImplementedError(f"bucket transform on column {col!r} of type {dt}")

    @F.pandas_udf("int")
    def _bucket_long(s: pd.Series) -> pd.Series:
        import numpy as np

        from daft_spark.io.iceberg_transforms import murmur3_32_long_vec

        mask = s.isna().to_numpy()
        vals = s.fillna(0).astype("int64").to_numpy()
        h = murmur3_32_long_vec(vals).astype("int64")
        out = pd.Series(((h & 0x7FFFFFFF) % n).astype("int32"), dtype="Int32")
        out[np.flatnonzero(mask)] = None
        return out

    return _bucket_long(pre)


def _parse_partition_term(term: str, field_types: dict) -> dict:
    """Parse one partition_by term into its Iceberg partition field:
    ``"col"`` (identity), ``"bucket(N, col)"``, ``"truncate(W, col)"``,
    ``"days(col)"``/``"day(col)"``, ``"months(col)"``, ``"years(col)"``.

    Returns {name, transform, source, avro_t, expr, parse}: the hidden
    partition value is DERIVED (``expr``) for file layout and manifest
    tuples while the source column stays untouched in the data files —
    Iceberg's hidden-partitioning contract. Bucket uses the SPEC hash
    (murmur3_x86_32 seed 0 over the value's single-value binary form,
    iceberg_transforms.py — validated against the spec's Appendix B
    test vectors), so external Iceberg readers prune correctly on the
    written tuples. Temporal transforms follow the spec's
    epoch-relative integers (day/month/year since 1970), computed from
    epoch micros / date arithmetic so the values are independent of
    the Spark session time zone."""
    import re

    from pyspark.sql import functions as F

    m = re.match(r"\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$", term)
    if m:
        kind, arg, col = m.group(1), int(m.group(2)), m.group(3)
        dt = field_types.get(col)
        if kind == "bucket":
            return {
                "name": f"{col}_bucket",
                "transform": f"bucket[{arg}]",
                "source": col,
                "avro_t": "int",
                "expr": _bucket_column(col, arg, dt),
                "parse": int,
            }
        if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
            return {
                "name": f"{col}_trunc",
                "transform": f"truncate[{arg}]",
                "source": col,
                "avro_t": "long" if isinstance(dt, T.LongType) else "int",
                "expr": F.col(col) - F.pmod(F.col(col), F.lit(arg)),
                "parse": int,
            }
        if isinstance(dt, T.StringType):
            return {
                "name": f"{col}_trunc",
                "transform": f"truncate[{arg}]",
                "source": col,
                "avro_t": "string",
                "expr": F.substring(F.col(col), 1, arg),
                "parse": str,
            }
        raise NotImplementedError(f"truncate on column {col!r} of type {dt}")
    m = re.match(r"\s*(days?|months?|years?)\s*\(\s*(\w+)\s*\)\s*$", term)
    if m:
        kind, col = m.group(1).rstrip("s"), m.group(2)
        c = F.col(col)
        # Session-TZ-independent epoch date: DateType is calendar-safe
        # as is; timestamps go through unix_micros (a fixed instant) and
        # land on the UTC calendar day — F.year/F.month/F.datediff on a
        # DATE never consult the session time zone.
        dt = field_types.get(col)
        if isinstance(dt, T.DateType):
            d = c
        else:
            d = F.date_add(
                F.to_date(F.lit("1970-01-01")),
                F.floor(
                    F.unix_micros(c.cast("timestamp")) / F.lit(86_400_000_000)
                ).cast("int"),
            )
        exprs = {
            "day": (F.datediff(d, F.to_date(F.lit("1970-01-01"))), "day"),
            "month": ((F.year(d) - 1970) * 12 + F.month(d) - 1, "month"),
            "year": (F.year(d) - 1970, "year"),
        }
        expr, tname = exprs[kind]
        return {
            "name": f"{col}_{kind}",
            "transform": tname,
            "source": col,
            "avro_t": "int",
            "expr": expr.cast("int"),
            "parse": int,
        }
    col = term.strip()
    dt = field_types.get(col)
    avro_t = next(
        (a for cls, a in _PARTITIONABLE_AVRO.items() if isinstance(dt, cls)), None
    )
    if avro_t is None:
        raise NotImplementedError(
            f"identity partitioning on column {col!r} of type {dt} is not "
            "supported (string/int/long/boolean only)"
        )
    parse = (lambda v: v.lower() == "true") if avro_t == "boolean" else (
        int if avro_t in ("int", "long") else str
    )
    return {
        "name": col,
        "transform": "identity",
        "source": col,
        "avro_t": avro_t,
        "expr": F.col(col),
        "parse": parse,
    }


def _parse_sort_term(term: str) -> dict:
    """One sort_by term — "col", "col desc", "col asc nulls last" —
    into the spec's sort-field shape (identity transform; spec default
    null orders: nulls-first for asc, nulls-last for desc)."""
    parts = term.strip().split()
    col = parts[0]
    rest = " ".join(p.lower() for p in parts[1:])
    direction = "desc" if rest.startswith("desc") else "asc"
    if "nulls last" in rest:
        null_order = "nulls-last"
    elif "nulls first" in rest:
        null_order = "nulls-first"
    else:
        null_order = "nulls-first" if direction == "asc" else "nulls-last"
    return {"col": col, "direction": direction, "null-order": null_order}


def write_iceberg_py(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    _upsert_by: list[str] | None = None,
    summary_props: dict | None = None,
    set_properties: dict | None = None,
) -> None:
    """Write ``df`` as one Iceberg v2 commit: parquet data files, one
    manifest, a manifest list, then metadata v(N+1) on the version N it
    read (_commit_snapshot: only a blind append survives another writer
    publishing first). ``partition_by`` declares the partition spec —
    identity column names and/or hidden
    transforms (``bucket(N, col)``, ``truncate(W, col)``, ``days(col)``,
    ``months(col)``, ``years(col)``, see _parse_partition_term); data
    files keep the source columns (staged through partitionBy on
    derived columns) and each file's partition tuple is recorded in its
    manifest entry. ``sort_by`` (["col", "col desc nulls last", ...])
    records a SORT ORDER (spec §Sorting) in the table metadata and
    physically sorts rows within each written file — tightening the
    per-file lower/upper bounds the stats pruner consults, the reason
    sorted layouts exist. Prior sort orders are carried forward;
    equivalent orders reuse their order-id. ``set_properties`` merges
    into the table properties in the same commit (streaming sinks keep
    their idempotence record there: snapshot summaries expire with
    their snapshots, properties don't)."""
    if mode not in ("append", "overwrite", "error", "ignore"):
        raise ValueError(f"unsupported mode {mode!r}")
    try:
        base = _load_metadata(path)
    except FileNotFoundError:
        base = (0, None)
    if base[1] is not None and mode == "error":
        raise FileExistsError(f"Iceberg table already exists at {path}")
    if base[1] is not None and mode == "ignore":
        return
    staged = _stage_write(
        df, path, base, mode, partition_by, sort_by, _upsert_by, summary_props
    )
    if set_properties:
        staged.updates.append(
            {
                "action": "set-properties",
                "updates": {str(k): str(v) for k, v in set_properties.items()},
            }
        )
    _commit_snapshot(
        staged, lambda: _load_metadata(path), functools.partial(_commit, path)
    )


class _Staged(NamedTuple):
    """A write whose data files and manifests sit in the table but
    whose snapshot is not committed yet."""

    path: str
    version: int | None  # base version, as the loader returned it
    base: dict | None  # metadata the write was staged on (None: new table)
    snapshot: dict  # snapshot-id, summary, schema-id
    manifests: list[dict]  # manifest-list entries this write added
    updates: list[dict]  # schema / spec / sort-order / property actions
    overwrite: bool


def _stage_write(
    df: DataFrame,
    path: str,
    base: tuple[int | None, dict | None],
    mode: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    upsert_by: list[str] | None = None,
    summary_props: dict | None = None,
) -> _Staged:
    """Everything of write_iceberg_py up to the commit, against ``base``
    = (version, metadata) as a loader returned it: data files under
    data/, their manifests, and the metadata actions the write needs."""
    from pyspark.sql import functions as F

    version, prior = base
    # An append with no explicit partition_by ADOPTS the table's default
    # spec (the spec is table state, not a per-write argument — real
    # writers behave this way, and it is what makes partition evolution
    # usable: evolve once, keep appending).
    adopted_fields: list[dict] | None = None
    if partition_by is None and prior is not None and mode == "append":
        adopted_fields = _default_spec(prior).get("fields", [])
        id2name = _field_names_by_id(prior)
        partition_by = [_term_from_spec_field(f, id2name) for f in adopted_fields]
    partition_by = list(partition_by or [])
    field_types = {f.name: f.dataType for f in df.schema.fields}
    terms = [_parse_partition_term(t, field_types) for t in partition_by]
    for t in terms:
        if t["source"] not in field_types:
            raise ValueError(f"partition source column {t['source']!r} not in schema")
    if adopted_fields is not None:
        # keep the table's spec-field names (they can differ from the
        # derived ones, e.g. after a source-column rename)
        for t, f in zip(terms, adopted_fields):
            t["name"] = f["name"]
    part_fields = [(t["name"], t["avro_t"]) for t in terms]
    if prior is not None and mode == "append":
        prior_spec = _default_spec(prior)
        prior_pairs = [(f["name"], f["transform"]) for f in prior_spec.get("fields", [])]
        new_pairs = [(t["name"], t["transform"]) for t in terms]
        if prior_pairs != new_pairs:
            raise ValueError(
                f"partition spec {new_pairs} does not match the table's "
                f"default spec {prior_pairs} — evolve it first "
                "(evolve_iceberg_partition_spec)"
            )

    snapshot_id = uuid.uuid4().int % (1 << 62)
    updates: list[dict] = []

    # Schema + field ids: appends REUSE the table's current schema (and
    # its stable field ids — the spec's evolution invariant) rather than
    # re-deriving ids positionally. A create or an overwrite with a new
    # shape adds a schema whose ids are minted above last-column-id
    # (spec: ids are never reused), keeping older schemas resolvable
    # for old snapshots; an overwrite with the same shape keeps it.
    if prior is not None and mode == "append":
        ice_schema = _current_ice_schema(prior)
        cur_names = [f["name"] for f in ice_schema["fields"]]
        if sorted(cur_names) != sorted(df.columns):
            raise ValueError(
                f"append columns {sorted(df.columns)} do not match the "
                f"table schema {sorted(cur_names)} — evolve the schema "
                "first (evolve_iceberg_schema)"
            )
        df = df.select(*cur_names)
    else:
        fresh = _optionalize_schema(
            schema_to_iceberg(df.schema, start_id=(prior or {}).get("last-column-id", 0))
        )
        ice_schema = _current_ice_schema(prior) if prior is not None else None
        if ice_schema is None or [
            (f["name"], _type_sig(f["type"])) for f in ice_schema["fields"]
        ] != [(f["name"], _type_sig(f["type"])) for f in fresh["fields"]]:
            prev = (prior or {}).get("schemas") or []
            sid = max((s.get("schema-id", 0) for s in prev), default=-1) + 1
            ice_schema = dict(fresh, **{"schema-id": sid})
            updates += [
                {
                    "action": "add-schema",
                    "schema": ice_schema,
                    "last-column-id": ice_schema["last-column-id"],
                },
                {"action": "set-current-schema", "schema-id": sid},
            ]

    # Stage data files via Spark's parquet writer, move under data/.
    # partitionBy consumes DERIVED columns (_p_<name> — a duplicate for
    # identity, the transform value for hidden partitioning) so the
    # source columns survive in the data files — exactly what native
    # Iceberg writers produce — while the hive dirs tell us each file's
    # partition tuple. Every source column carries its Iceberg field id
    # into the parquet footer (PARQUET:field_id, written by Spark's
    # fieldId.write path) so readers can resolve columns by id after
    # renames — spec §Column Projection.
    staged = df
    for fld in ice_schema["fields"]:
        staged = staged.withMetadata(fld["name"], {"parquet.field.id": fld["id"]})
    for t in terms:
        staged = staged.withColumn(f"_p_{t['name']}", t["expr"])
    sort_terms = [_parse_sort_term(s) for s in (sort_by or [])]
    for s in sort_terms:
        if s["col"] not in {f["name"] for f in ice_schema["fields"]}:
            raise ValueError(f"sort_by column {s['col']!r} not in schema")
    if sort_terms:
        def _sort_col(s):
            c = F.col(s["col"])
            if s["direction"] == "asc":
                return c.asc_nulls_first() if s["null-order"] == "nulls-first" else c.asc_nulls_last()
            return c.desc_nulls_first() if s["null-order"] == "nulls-first" else c.desc_nulls_last()

        sort_cols = [_sort_col(s) for s in sort_terms]
        if terms:
            pcols = [F.col(f"_p_{t['name']}") for t in terms]
            staged = staged.repartition(*pcols).sortWithinPartitions(
                *[c.asc_nulls_first() for c in pcols], *sort_cols
            )
        else:
            staged = staged.sortWithinPartitions(*sort_cols)
    data_dir = os.path.join(path, "data")
    staged_files = stage_files(
        staged,
        path,
        [f"_p_{t['name']}" for t in terms],
        # the hive dirs name the derived _p_<name> columns, data/ the
        # partition fields themselves
        lambda rel_dir, _values: os.path.join(
            data_dir,
            os.sep.join(seg[3:] for seg in rel_dir.split(os.sep)),
            f"{uuid.uuid4().hex}.parquet",
        ),
    )
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(_meta_dir(path), exist_ok=True)

    schema_field_ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
    schema_field_types = {f["name"]: f["type"] for f in ice_schema["fields"]}
    entries = []
    for dst, raw in staged_files:
        partition = {}
        for t in terms:
            v = raw.get(f"_p_{t['name']}")
            partition[t["name"]] = None if v is None else t["parse"](v)
        entries.append(
            _file_entry(
                snapshot_id,
                dst,
                partition=partition,
                stats=_parquet_column_stats(dst, schema_field_ids, schema_field_types),
            )
        )

    # Spec catalog: reuse an identical existing spec (its id and field
    # ids) or add the next spec-id; ALL specs stay in the metadata so
    # older manifests — written under earlier specs — remain resolvable
    # (partition evolution, spec §Partition Evolution).
    spec_id, spec_fields, spec_updates = _spec_updates(terms, schema_field_ids, prior)
    updates += spec_updates
    manifests = [
        _write_manifest(
            path, entries, _manifest_entry_schema(part_fields), ice_schema,
            spec_id, spec_fields,
        )
    ]

    if upsert_by:
        # single-commit UPSERT (the Flink CDC shape): an equality-delete
        # manifest shares this snapshot's sequence number — the spec's
        # strictly-older rule deletes every PRIOR row with the key while
        # the same-sequence inserts above survive their own delete
        if prior is None or mode != "append":
            raise ValueError("upsert requires an existing table and mode='append'")
        eq_cols = list(upsert_by)
        missing = [c for c in eq_cols if c not in schema_field_ids]
        if missing:
            raise ValueError(f"upsert key columns not in table schema: {missing}")
        delete_entries = _stage_delete_files(
            df.select(*eq_cols).distinct(), path, snapshot_id, 2,
            [schema_field_ids[c] for c in eq_cols],
        )
        specs = prior.get("partition-specs", []) + [
            u["spec"] for u in spec_updates if u["action"] == "add-spec"
        ]
        dspec_id, dspec_updates = _unpartitioned_spec(specs)
        updates += dspec_updates
        manifests.append(
            _write_manifest(
                path, delete_entries, _manifest_entry_schema([]), ice_schema,
                dspec_id, [], content=1,
            )
        )

    # Sort orders are table state: prior orders carry forward; a
    # sort_by matching an existing order reuses its id, a new shape
    # gets the next id and becomes the default.
    if sort_terms:
        want = [
            {
                "transform": "identity",
                "source-id": schema_field_ids[s["col"]],
                "direction": s["direction"],
                "null-order": s["null-order"],
            }
            for s in sort_terms
        ]
        orders = (prior or {}).get("sort-orders") or [_UNSORTED]
        match = next((o for o in orders if o.get("fields") == want), None)
        if match is not None:
            order_id = match["order-id"]
        else:
            order_id = max(o.get("order-id", 0) for o in orders) + 1
            updates.append(
                {
                    "action": "add-sort-order",
                    "sort-order": {"order-id": order_id, "fields": want},
                }
            )
        if order_id != (prior or {}).get("default-sort-order-id", 0):
            updates.append({"action": "set-default-sort-order", "sort-order-id": order_id})

    snapshot = {
        "snapshot-id": snapshot_id,
        # summary is the spec's string map; extra props are how
        # streaming sinks stamp their batch identity (exactly-once)
        "summary": {
            "operation": "overwrite" if mode == "overwrite" else "append",
            **{str(k): str(v) for k, v in (summary_props or {}).items()},
        },
        "schema-id": ice_schema.get("schema-id", 0),
    }
    return _Staged(
        path, version, prior, snapshot, manifests, updates, mode == "overwrite"
    )


# rebase attempts of a blind append; each costs one manifest-list write
_APPEND_RETRIES = 10


def _commit_snapshot(staged: _Staged, load, commit) -> None:
    """Commit a staged write as main's new snapshot on the base it was
    staged on: ``commit(version, base, updates)`` publishes, ``load()``
    returns a fresh (version, base). Only a blind append — an append to
    an existing table that adds data manifests and nothing else (no
    deletes, schema, spec, sort order or properties) — may rebase: when
    its publish loses to another writer it reloads, rebuilds its
    manifest list on the new head and retries, up to _APPEND_RETRIES
    times. Data files never conflict, and the staged manifests are
    reused as they are. Any other write on a moved base raises. The
    file path and the REST catalog client share this loop."""
    blind = (
        staged.base is not None
        and not staged.overwrite
        and not staged.updates
        and all(m["content"] == 0 for m in staged.manifests)
    )
    version, base = staged.version, staged.base
    for attempt in range(_APPEND_RETRIES + 1):
        snap = _build_snapshot(
            staged.path,
            staged.snapshot,
            staged.manifests,
            current_snapshot(base) if base is not None else None,
            (base or {}).get("last-sequence-number", 0) + 1,
            carried=[] if staged.overwrite else None,
        )
        try:
            commit(version, base, [*staged.updates, *_add_snapshot(snap)])
            return
        except ConcurrentCommitError:
            os.remove(snap["manifest-list"])  # listed by no metadata
            if not blind or attempt == _APPEND_RETRIES:
                raise
        version, base = load()


def _file_entry(
    snapshot_id: int,
    dst: str,
    content: int = 0,
    partition: dict | None = None,
    stats: tuple = (None, None, None, None),
    equality_ids: list[int] | None = None,
) -> dict:
    """The ADDED manifest entry of one data (content 0), position delete
    (1) or equality delete (2) file; its sequence number is inherited
    from the manifest."""
    value_counts, null_counts, lower, upper = stats
    return {
        "status": 1,  # ADDED
        "snapshot_id": snapshot_id,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": content,
            "file_path": dst,
            "file_format": "PARQUET",
            "partition": partition or {},
            "record_count": _parquet_rows(dst),
            "file_size_in_bytes": os.path.getsize(dst),
            "value_counts": value_counts,
            "null_value_counts": null_counts,
            "lower_bounds": lower,
            "upper_bounds": upper,
            "equality_ids": equality_ids,
        },
    }


def _stage_delete_files(
    df: DataFrame,
    path: str,
    snapshot_id: int,
    content: int,
    equality_ids: list[int] | None = None,
) -> list[dict]:
    """Write ``df`` as unpartitioned delete files under data/ and return
    their manifest entries: content 2 (equality, ``df`` holds the
    distinct key values) or 1 (position, ``df`` holds file_path/pos;
    empty files are dropped)."""
    suffix = "-deletes" if content == 2 else "-pos-deletes"
    data_dir = os.path.join(path, "data")
    staged = stage_files(
        df,
        path,
        [],
        lambda *_: os.path.join(data_dir, f"{uuid.uuid4().hex}{suffix}.parquet"),
    )
    entries = []
    for dst, _ in staged:
        if content == 1 and _parquet_rows(dst) == 0:
            os.remove(dst)
            continue
        entries.append(_file_entry(snapshot_id, dst, content, equality_ids=equality_ids))
    return entries


def _write_manifest(
    path: str,
    entries: list[dict],
    entry_schema: dict,
    ice_schema: dict,
    spec_id: int,
    spec_fields: list[dict],
    content: int = 0,
) -> dict:
    """Write ``entries`` as one manifest (``content`` 0 data, 1 deletes)
    and return its manifest-list entry. Its sequence numbers and
    added_snapshot_id are left to _build_snapshot, which stamps them for
    the snapshot that lists it."""
    mpath = os.path.join(_meta_dir(path), f"{uuid.uuid4().hex}-m0.avro")
    write_ocf(
        mpath,
        entry_schema,
        entries,
        metadata={
            "schema": json.dumps(ice_schema),
            "partition-spec": json.dumps(spec_fields),
            "partition-spec-id": str(spec_id),
            "format-version": "2",
            "content": "deletes" if content else "data",
        },
    )
    added = [e for e in entries if e["status"] == 1]
    existing = [e for e in entries if e["status"] == 0]
    return {
        "manifest_path": mpath,
        "manifest_length": os.path.getsize(mpath),
        "partition_spec_id": spec_id,
        "content": content,
        "added_data_files_count": len(added),
        "existing_data_files_count": len(existing),
        "deleted_data_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in added),
        "existing_rows_count": sum(e["data_file"]["record_count"] for e in existing),
        "deleted_rows_count": 0,
    }


def evolve_iceberg_schema(
    path: str,
    *,
    renames: dict[str, str] | None = None,
    add_columns: list[tuple[str, object]] | None = None,
    drop_columns: list[str] | None = None,
) -> None:
    """Metadata-only schema evolution commit (Iceberg spec §Schema
    Evolution): ``renames`` keep the field id (readers resolve old data
    files by id, so renamed columns keep their values), ``add_columns``
    mint fresh ids above last-column-id (old files read the new column
    as null — ids are never reused), ``drop_columns`` remove the field
    (the data stays in the files but no reader projects it). Top-level
    columns only; new columns are always optional (v2 has no default
    values, so a required add would break existing files).

    Appends a NEW schema entry (schema-id = max+1) and flips
    current-schema-id — existing snapshots keep their original
    schema-id, exactly how pyiceberg's UpdateSchema commits land.
    """
    renames = dict(renames or {})
    add_columns = list(add_columns or [])
    drop_columns = list(drop_columns or [])
    version, prior = _load_metadata(path)
    cur = _current_ice_schema(prior)
    fields = [dict(f) for f in cur["fields"]]
    names = {f["name"] for f in fields}

    for old, new in renames.items():
        if old not in names:
            raise ValueError(f"rename source column {old!r} not in schema")
        if new in names and new != old:
            raise ValueError(f"rename target column {new!r} already exists")
    part_source_ids = {
        pf["source-id"]
        for spec in prior.get("partition-specs", [])
        for pf in spec.get("fields", [])
    }
    for c in drop_columns:
        f = next((f for f in fields if f["name"] == c), None)
        if f is None:
            raise ValueError(f"drop column {c!r} not in schema")
        if f["id"] in part_source_ids:
            raise ValueError(f"cannot drop partition source column {c!r}")

    out_fields = []
    for f in fields:
        if f["name"] in drop_columns:
            continue
        if f["name"] in renames:
            f = dict(f, name=renames[f["name"]])
        out_fields.append(f)

    last_id = prior.get("last-column-id", max((f["id"] for f in fields), default=0))
    ids = _IdGen(last_id)
    existing = {f["name"] for f in out_fields}
    for name, dtype in add_columns:
        if name in existing:
            raise ValueError(f"add column {name!r} already exists")
        if isinstance(dtype, str):
            from pyspark.sql.types import _parse_datatype_string

            dtype = _parse_datatype_string(dtype)
        out_fields.append(
            {
                "id": ids.next(),
                "name": name,
                "required": False,
                "type": _spark_type_to_iceberg(dtype, ids),
            }
        )
        existing.add(name)

    prev_schemas = prior.get("schemas") or [cur]
    sid = max((s.get("schema-id", 0) for s in prev_schemas), default=-1) + 1
    new_schema = {
        "type": "struct",
        "schema-id": sid,
        "fields": out_fields,
        "last-column-id": ids.n,
    }
    _commit(
        path,
        version,
        prior,
        [
            {"action": "add-schema", "schema": new_schema, "last-column-id": ids.n},
            {"action": "set-current-schema", "schema-id": sid},
        ],
    )


def _default_spec(meta: dict) -> dict:
    sid = meta.get("default-spec-id", 0)
    for s in meta.get("partition-specs", []):
        if s.get("spec-id", 0) == sid:
            return s
    return {"spec-id": sid, "fields": []}


def _term_from_spec_field(fld: dict, id2name: dict[int, str]) -> str:
    """Render a partition-spec field back into a partition_by term
    (used when an append adopts the table's default spec)."""
    import re

    src = id2name.get(fld["source-id"])
    if src is None:
        raise ValueError(
            f"partition source field id {fld['source-id']} not in the current schema"
        )
    tr = fld["transform"]
    if tr == "identity":
        return src
    m = re.match(r"(bucket|truncate)\[(\d+)\]$", tr)
    if m:
        return f"{m.group(1)}({m.group(2)}, {src})"
    if tr in ("day", "month", "year"):
        return f"{tr}s({src})"
    raise NotImplementedError(f"partition transform {tr!r}")


def _parse_spec_term(term: str, ice_fields: list[dict]) -> dict:
    """_parse_partition_term's metadata-only sibling: validates a
    partition term against the ICEBERG schema (no DataFrame in hand)
    and returns {name, transform, source} for spec construction."""
    import re

    types = {f["name"]: f["type"] for f in ice_fields if isinstance(f["type"], str)}

    def base(col):
        t = types.get(col)
        if t is None:
            raise ValueError(f"partition source column {col!r} not in schema")
        return t

    m = re.match(r"\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$", term)
    if m:
        kind, arg, col = m.group(1), int(m.group(2)), m.group(3)
        t = base(col)
        if kind == "bucket":
            if t not in ("int", "long", "date", "string", "binary") and not t.startswith(
                "timestamp"
            ):
                raise NotImplementedError(f"bucket on {col!r} of type {t}")
            return {"name": f"{col}_bucket", "transform": f"bucket[{arg}]", "source": col}
        if t not in ("int", "long", "string"):
            raise NotImplementedError(f"truncate on {col!r} of type {t}")
        return {"name": f"{col}_trunc", "transform": f"truncate[{arg}]", "source": col}
    m = re.match(r"\s*(days?|months?|years?)\s*\(\s*(\w+)\s*\)\s*$", term)
    if m:
        kind, col = m.group(1).rstrip("s"), m.group(2)
        t = base(col)
        if t != "date" and not t.startswith("timestamp"):
            raise NotImplementedError(f"{kind} transform on {col!r} of type {t}")
        return {"name": f"{col}_{kind}", "transform": kind, "source": col}
    col = term.strip()
    t = base(col)
    if t not in ("string", "int", "long", "boolean"):
        raise NotImplementedError(
            f"identity partitioning on column {col!r} of type {t} is not "
            "supported (string/int/long/boolean only)"
        )
    return {"name": col, "transform": "identity", "source": col}


def _spec_updates(
    terms, schema_field_ids, meta: dict | None
) -> tuple[int, list[dict], list[dict]]:
    """(spec_id, spec fields, actions) making ``terms`` the default
    spec of ``meta``. An existing spec with the same field list is
    reused verbatim; otherwise an add-spec mints the next spec-id, and
    each field reuses the field-id of an equivalent (source-id,
    transform) field from ANY older spec — the spec's partition-field-id
    rules (ids are never reused for different fields, always reused for
    the same one). No actions when the spec is already the default."""
    candidate = [
        (t["name"], t["transform"], schema_field_ids[t["source"]]) for t in terms
    ]
    specs = list((meta or {}).get("partition-specs") or [])
    default = (meta or {}).get("default-spec-id", 0)
    for s in specs:
        have = [(f["name"], f["transform"], f["source-id"]) for f in s.get("fields", [])]
        if have == candidate:
            sid = s.get("spec-id", 0)
            return sid, s.get("fields", []), (
                [] if sid == default else [{"action": "set-default-spec", "spec-id": sid}]
            )
    last = max(
        (f["field-id"] for sp in specs for f in sp.get("fields", [])), default=999
    )
    by_key: dict[tuple, int] = {}
    for sp in specs:
        for f in sp.get("fields", []):
            by_key.setdefault((f["source-id"], f["transform"]), f["field-id"])
    fields = []
    for name, transform, source_id in candidate:
        fid = by_key.get((source_id, transform))
        if fid is None:
            last += 1
            fid = last
        fields.append(
            {"name": name, "transform": transform, "source-id": source_id, "field-id": fid}
        )
    sid = max((s.get("spec-id", 0) for s in specs), default=-1) + 1
    return sid, fields, [
        {"action": "add-spec", "spec": {"spec-id": sid, "fields": fields}},
        {"action": "set-default-spec", "spec-id": sid},
    ]


_UNSORTED = {"order-id": 0, "fields": []}


def _new_table_metadata(path: str) -> dict:
    """The empty base a table's first commit applies its actions to."""
    return {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": path,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": 0,
        "current-schema-id": 0,
        "schemas": [],
        "default-spec-id": 0,
        "partition-specs": [],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [_UNSORTED],
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
        "refs": {},
        "properties": {},
    }


def _apply_updates(base: dict, updates: list[dict]) -> dict:
    """Apply REST ``updateTable`` actions to a copy of ``base`` — the one
    builder of every metadata dict that reaches disk. ``main`` is the
    current snapshot (set-snapshot-ref on it moves current-snapshot-id
    and logs the move); other refs live in ``refs``. Raises ValueError
    on an unknown action, snapshot or ref."""
    meta = dict(base)
    meta["last-updated-ms"] = int(time.time() * 1000)
    for u in updates:
        action = u.get("action")
        if action == "add-snapshot":
            snap = u["snapshot"]
            meta["snapshots"] = [*meta.get("snapshots", []), snap]
            meta["last-sequence-number"] = max(
                meta.get("last-sequence-number", 0), snap.get("sequence-number", 0)
            )
            meta["last-updated-ms"] = snap["timestamp-ms"]
        elif action == "set-snapshot-ref":
            name, sid = u["ref-name"], u["snapshot-id"]
            if all(s["snapshot-id"] != sid for s in meta.get("snapshots", [])):
                raise ValueError(f"snapshot {sid} not found")
            if name == "main":
                meta["current-snapshot-id"] = sid
                meta["snapshot-log"] = [
                    *meta.get("snapshot-log", []),
                    {"snapshot-id": sid, "timestamp-ms": meta["last-updated-ms"]},
                ]
            else:
                ref = {k: v for k, v in u.items() if k not in ("action", "ref-name")}
                meta["refs"] = {**(meta.get("refs") or {}), name: ref}
        elif action == "remove-snapshot-ref":
            refs = dict(meta.get("refs") or {})
            if refs.pop(u["ref-name"], None) is None:
                raise ValueError(f"ref {u['ref-name']!r} not found")
            meta["refs"] = refs
        elif action == "remove-snapshots":
            gone = set(u["snapshot-ids"])
            meta["snapshots"] = [
                s for s in meta.get("snapshots", []) if s["snapshot-id"] not in gone
            ]
            meta["snapshot-log"] = [
                e for e in meta.get("snapshot-log", []) if e.get("snapshot-id") not in gone
            ]
        elif action == "add-schema":
            meta["schemas"] = [*meta.get("schemas", []), u["schema"]]
            meta["last-column-id"] = max(
                meta.get("last-column-id", 0), u["last-column-id"]
            )
        elif action == "set-current-schema":
            meta["current-schema-id"] = u["schema-id"]
        elif action == "add-spec":
            spec = u["spec"]
            meta["partition-specs"] = [*meta.get("partition-specs", []), spec]
            meta["last-partition-id"] = max(
                [meta.get("last-partition-id", 999)]
                + [f["field-id"] for f in spec["fields"]]
            )
        elif action == "set-default-spec":
            meta["default-spec-id"] = u["spec-id"]
        elif action == "add-sort-order":
            meta["sort-orders"] = [*meta.get("sort-orders", []), u["sort-order"]]
        elif action == "set-default-sort-order":
            meta["default-sort-order-id"] = u["sort-order-id"]
        elif action == "set-properties":
            meta["properties"] = {**(meta.get("properties") or {}), **u["updates"]}
        else:
            raise ValueError(f"unsupported update {action!r}")
    return meta


def _commit(
    path: str, version: int, base: dict | None, updates: list[dict]
) -> tuple[int, dict]:
    """The only writer of Iceberg metadata: apply ``updates`` to
    ``base``, the metadata read at ``version`` (None and 0 create the
    table), publish the result as ``v<version+1>.metadata.json`` with
    the no-clobber link, then rotate version-hint.text. The version is
    never taken from the hint: a commit whose base went stale finds its
    target taken and raises ConcurrentCommitError. Returns the new
    (version, metadata)."""
    meta = _apply_updates(base if base is not None else _new_table_metadata(path), updates)
    md = _meta_dir(path)
    os.makedirs(md, exist_ok=True)
    version += 1
    publish_once(
        _metadata_file(path, version),
        json.dumps(meta),
        f"concurrent Iceberg commit detected at v{version} ({path})",
    )
    hint_tmp = os.path.join(md, f".hint-{uuid.uuid4().hex}")
    with open(hint_tmp, "w") as f:
        f.write(str(version))
    os.replace(hint_tmp, os.path.join(md, "version-hint.text"))
    return version, meta


def evolve_iceberg_partition_spec(path: str, partition_by: list[str] | None) -> None:
    """Metadata-only PARTITION EVOLUTION commit (Iceberg spec
    §Partition Evolution): the new spec becomes the default for FUTURE
    writes; existing data files keep their original spec — each
    manifest records its partition_spec_id and the scan planner prunes
    every manifest with ITS OWN spec (_live_files_and_deletes), so old
    and new layouts coexist in one table. Equivalent (source-id,
    transform) fields keep their field-id across specs; new fields mint
    ids above last-partition-id. No-op when the default spec already
    matches. Reference: pyiceberg-managed tables evolve specs this way
    and daft plans through the resulting metadata
    (daft/io/iceberg/_iceberg.py:130)."""
    version, prior = _load_metadata(path)
    cur = _current_ice_schema(prior)
    terms = [_parse_spec_term(t, cur["fields"]) for t in (partition_by or [])]
    schema_field_ids = {f["name"]: f["id"] for f in cur["fields"]}
    _sid, _fields, updates = _spec_updates(terms, schema_field_ids, prior)
    if updates:
        _commit(path, version, prior, updates)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def delete_iceberg_py(df: DataFrame, path: str, equality_by: list[str]) -> None:
    """Commit row-level DELETEs as Iceberg v2 EQUALITY DELETE files:
    every table row whose ``equality_by`` columns match one of ``df``'s
    rows is deleted (merge-on-read — readers drop matches from data
    files with an older data sequence number; nothing is rewritten).
    The delete file is a parquet of the DISTINCT equality values, its
    manifest entry carries content=2 + equality_ids, and its manifest
    is registered with content=1 in the manifest list."""
    version, prior = _load_metadata(path)
    if prior.get("format-version", 1) > 2:
        raise NotImplementedError("Iceberg format v3+ not supported")
    equality_by = list(equality_by)
    if not equality_by:
        raise ValueError("equality_by must name at least one column")
    cur = _current_ice_schema(prior)
    name2id = {f["name"]: f["id"] for f in cur["fields"]}
    for c in equality_by:
        if c not in name2id:
            raise ValueError(f"equality column {c!r} not in table schema")
    entries = _stage_delete_files(
        df.select(*equality_by).distinct(),
        path,
        uuid.uuid4().int % (1 << 62),
        2,
        [name2id[c] for c in equality_by],
    )
    _commit_delete_manifest(path, version, prior, entries)


def _unpartitioned_spec(specs: list[dict]) -> tuple[int, list[dict]]:
    """(spec-id, actions) of an empty (unpartitioned) partition spec,
    with an add-spec when the table has none. Global deletes carry an
    EMPTY partition tuple; on a partitioned table the declared spec 0
    has fields, so a spec-compliant reader could not reconcile the entry
    with its spec — the spec the delete manifest references must itself
    be unpartitioned (Iceberg spec: delete files may use any registered
    spec; an empty tuple belongs to an empty spec)."""
    for s in specs:
        if not s.get("fields"):
            return s.get("spec-id", 0), []
    new_id = max((s.get("spec-id", 0) for s in specs), default=-1) + 1
    return new_id, [{"action": "add-spec", "spec": {"spec-id": new_id, "fields": []}}]


def _commit_delete_manifest(
    path: str, version: int, prior: dict, entries: list[dict]
) -> None:
    """Shared tail of the equality/position delete writers: one deletes
    manifest under an unpartitioned spec, listed ahead of the head's
    manifests in a new snapshot, committed on the base the deletes were
    computed from."""
    spec_id, updates = _unpartitioned_spec(prior.get("partition-specs", []))
    manifest = _write_manifest(
        path, entries, _manifest_entry_schema([]), _current_ice_schema(prior),
        spec_id, [], content=1,
    )
    snap = _build_snapshot(
        path,
        {
            "snapshot-id": entries[0]["snapshot_id"],
            "summary": {"operation": "delete"},
            "schema-id": prior.get("current-schema-id", 0),
        },
        [manifest],
        current_snapshot(prior),
        prior.get("last-sequence-number", 0) + 1,
    )
    _commit(path, version, prior, [*updates, *_add_snapshot(snap)])


def position_delete_iceberg_py(path: str, spark: SparkSession, where: str) -> None:
    """Commit row-level DELETEs as Iceberg v2 POSITION DELETE files:
    rows of the CURRENT table matching ``where`` (a SQL boolean over
    the table's columns) are tombstoned by (file_path, pos) — nothing
    is rewritten, and readers drop the positions merge-on-read (spec:
    position deletes apply to data files with a same-or-older data
    sequence number). Row positions come from Spark's native
    ``_metadata.row_index``; paths are stored in normalized local form
    so they match the manifest entries' file paths.

    Counterpart of the reference's Iceberg MoR support via its
    connector libraries (daft/io/iceberg/_iceberg.py); the delete
    artifact layout is the public v2 spec."""
    from pyspark.sql import functions as F

    version, prior = _load_metadata(path)
    if prior.get("format-version", 1) > 2:
        raise NotImplementedError("Iceberg format v3+ not supported")
    schema = _current_schema(prior)
    data, _deletes = _live_files_and_deletes(prior, path)
    if not data:
        return
    src = spark.read.schema(schema).parquet(*[r["path"] for r in data])
    hits = (
        src.select(
            "*",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias(
                "__fp"
            ),
            F.col("_metadata.row_index").alias("__pos"),
        )
        .filter(where)
        .select(F.col("__fp").alias("file_path"), F.col("__pos").alias("pos"))
        .orderBy("file_path", "pos")  # spec: sorted by file_path then pos
    )
    entries = _stage_delete_files(hits, path, uuid.uuid4().int % (1 << 62), 1)
    if not entries:
        return  # nothing matched; no commit
    _commit_delete_manifest(path, version, prior, entries)


def expire_iceberg_snapshots(
    path: str,
    *,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
) -> dict:
    """Snapshot EXPIRATION (the spec's snapshot-retention maintenance,
    pyiceberg/Spark ``expireSnapshots``): drops snapshots beyond
    ``keep_last`` and/or older than ``older_than_ms`` from the metadata
    (the current snapshot is always kept), commits that, and only then
    deletes every manifest list, manifest, and data/delete file
    referenced ONLY by expired snapshots — a crash in between leaves
    orphan files, never metadata that names deleted ones, so a re-run
    completes. Returns counts. Without this, a
    frequently-committed 100 TB table accretes unbounded metadata and
    unreachable data files. Time travel to an expired snapshot_id
    raises afterwards — the retention contract."""
    if keep_last is None and older_than_ms is None:
        raise ValueError("expire_iceberg_snapshots needs keep_last and/or older_than_ms")
    version, meta = _load_metadata(path)
    snaps = list(meta.get("snapshots", []))
    current = meta.get("current-snapshot-id")
    by_time = sorted(snaps, key=lambda s: (s.get("timestamp-ms", 0), s["snapshot-id"]))
    keep_ids = {current}
    # named refs (tags/branches) protect their snapshots (spec §Refs)
    keep_ids.update(
        r["snapshot-id"] for r in (meta.get("refs") or {}).values()
    )
    if keep_last is not None:
        keep_ids.update(s["snapshot-id"] for s in by_time[-max(1, keep_last):])
    if older_than_ms is not None:
        keep_ids.update(
            s["snapshot-id"] for s in snaps if s.get("timestamp-ms", 0) >= older_than_ms
        )
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return {"expired_snapshots": 0, "deleted_files": 0}

    def refs(snapshot) -> tuple[str, set[str], set[str]]:
        """(manifest-list path, manifest paths, data/delete file paths)."""
        mlist = _to_local(snapshot["manifest-list"], path)
        manifests: set[str] = set()
        files: set[str] = set()
        _, _, entries = read_ocf(mlist)
        for m in entries:
            mp = _to_local(m["manifest_path"], path)
            manifests.add(mp)
            _, _, mentries = read_ocf(mp)
            for e in mentries:
                files.add(_to_local(e["data_file"]["file_path"], path))
        return mlist, manifests, files

    kept_manifests: set[str] = set()
    kept_files: set[str] = set()
    for s in snaps:
        if s["snapshot-id"] in keep_ids:
            _ml, ms, fs = refs(s)
            kept_manifests |= ms
            kept_files |= fs
    doomed: set[str] = set()
    for s in expired:
        mlist, ms, fs = refs(s)
        doomed |= (fs - kept_files) | (ms - kept_manifests) | {mlist}

    _commit(
        path,
        version,
        meta,
        [{"action": "remove-snapshots", "snapshot-ids": [s["snapshot-id"] for s in expired]}],
    )
    deleted = 0
    for f in sorted(doomed):
        if os.path.exists(f):
            os.remove(f)
            deleted += 1
    return {"expired_snapshots": len(expired), "deleted_files": deleted}


def _avro_part_fields(entry_schema: dict) -> list[tuple[str, str]]:
    """Recover the (name, avro type) partition fields embedded in a
    manifest's entry schema — lets compaction write replacement
    manifests whose partition struct matches the source spec exactly."""
    for f in entry_schema["fields"]:
        if f["name"] != "data_file":
            continue
        for g in f["type"]["fields"]:
            if g["name"] == "partition":
                out = []
                for pf in g["type"]["fields"]:
                    t = pf["type"]
                    if isinstance(t, list):
                        t = next(x for x in t if x != "null")
                    out.append((pf["name"], t))
                return out
    return []


def rewrite_iceberg_data_files(
    path: str, spark: SparkSession, target_file_bytes: int = 128 * 1024 * 1024
) -> dict:
    """COMPACTION (the spec's ``replace`` snapshot; Iceberg's
    RewriteDataFiles maintenance action): per (spec, partition tuple),
    live data files smaller than ``target_file_bytes`` are greedily
    binned and each bin of 2+ files rewritten as ONE file. Pending
    equality/position deletes are MATERIALIZED into the rewrite (the
    same merge-on-read scan a table read performs — _merged_scan), so
    the replacement file carries no delete debt; untouched files keep
    their original data sequence numbers via explicit per-entry
    sequence numbers in the rewritten survivor manifests (inheritance
    never mis-stamps them). Old snapshots keep reading the old layout;
    expire_iceberg_snapshots reclaims it. Returns
    {"removed", "added", "manifests_rewritten"}.

    Stale delete files whose targets were all compacted stay in the
    delete manifests (they match nothing) until snapshots expire —
    the same residue real compaction leaves until
    RewritePositionDeleteFiles runs."""
    from pyspark.sql import functions as F

    version, meta = _load_metadata(path)
    if meta.get("format-version", 1) > 2:
        raise NotImplementedError("Iceberg format v3+ not supported")
    snap = current_snapshot(meta)
    if snap is None:
        return {"removed": 0, "added": 0, "manifests_rewritten": 0}
    schema = _current_schema(meta)
    ice = _current_ice_schema(meta)
    id_schema = _schema_with_field_ids(ice)
    _live, deletes = _live_files_and_deletes(meta, path)
    _, _, manifests = read_ocf(_to_local(snap["manifest-list"], path))
    data_manifests: list[tuple[dict, dict, list]] = []
    carried: list[dict] = []  # delete manifests pass through verbatim
    for m in manifests:
        if m.get("content", 0) == 1:
            carried.append(m)
            continue
        esch, _md, entries = read_ocf(_to_local(m["manifest_path"], path))
        data_manifests.append((m, esch, entries))

    # candidate bins: live small files grouped by (spec id, partition tuple)
    groups: dict[tuple, list[dict]] = {}
    for mi, (m, _esch, entries) in enumerate(data_manifests):
        mseq = m.get("sequence_number", 0)
        for e in entries:
            if e["status"] == 2 or e["data_file"].get("content", 0) != 0:
                continue
            f = e["data_file"]
            seq = e.get("sequence_number")
            key = (
                m.get("partition_spec_id", 0),
                json.dumps(f.get("partition") or {}, sort_keys=True, default=str),
            )
            groups.setdefault(key, []).append(
                {
                    "mi": mi,
                    "file_path": f["file_path"],
                    "path": _to_local(f["file_path"], path),
                    "seq": mseq if seq is None else seq,
                    "size": int(f.get("file_size_in_bytes") or 0),
                    "partition": dict(f.get("partition") or {}),
                }
            )
    bins: list[tuple[tuple, list[dict]]] = []
    for key, recs in sorted(groups.items()):
        small = sorted(
            (r for r in recs if r["size"] < target_file_bytes),
            key=lambda r: r["path"],
        )
        cur: list[dict] = []
        sz = 0
        for r in small:
            if cur and sz + r["size"] > target_file_bytes:
                bins.append((key, cur))
                cur, sz = [], 0
            cur.append(r)
            sz += r["size"]
        if cur:
            bins.append((key, cur))
    bins = [(k, b) for k, b in bins if len(b) >= 2]
    if not bins:
        return {"removed": 0, "added": 0, "manifests_rewritten": 0}

    def schema_for(files: list[str]) -> T.StructType:
        if _files_have_field_ids(files[:1]):
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
            spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
            return id_schema
        return schema

    snapshot_id = uuid.uuid4().int % (1 << 62)
    seq = meta.get("last-sequence-number", 0) + 1
    schema_field_ids = {f["name"]: f["id"] for f in ice["fields"]}
    schema_field_types = {f["name"]: f["type"] for f in ice["fields"]}

    replaced: set[str] = set()
    new_entries_by_spec: dict[int, list[dict]] = {}
    part_fields_by_spec: dict[int, list[tuple[str, str]]] = {}
    for (spec_id, _pv_json), bin_recs in bins:
        replaced.update(r["file_path"] for r in bin_recs)
        part_fields_by_spec.setdefault(
            spec_id, _avro_part_fields(data_manifests[bin_recs[0]["mi"]][1])
        )
        df = _merged_scan(
            spark,
            meta,
            schema,
            id_schema,
            [{"path": r["path"], "seq": r["seq"], "size": r["size"]} for r in bin_recs],
            deletes,
            schema_for,
        )
        df = _apply_residual(df, None)  # strip read-schema field-id metadata
        staged = df
        for fld in ice["fields"]:
            staged = staged.withMetadata(fld["name"], {"parquet.field.id": fld["id"]})
        rel_dir = os.path.dirname(os.path.relpath(bin_recs[0]["path"], path))
        [(dst, _)] = stage_files(
            staged.coalesce(1),
            path,
            [],
            lambda *_: os.path.join(
                path, rel_dir, f"{uuid.uuid4().hex}-compacted.parquet"
            ),
        )
        new_entries_by_spec.setdefault(spec_id, []).append(
            _file_entry(
                snapshot_id,
                dst,
                partition=bin_recs[0]["partition"],
                stats=_parquet_column_stats(dst, schema_field_ids, schema_field_types),
            )
        )

    specs_by_id = {
        s.get("spec-id", 0): s.get("fields", [])
        for s in meta.get("partition-specs", [])
    }
    new_manifests = [
        _write_manifest(
            path,
            entries,
            _manifest_entry_schema(part_fields_by_spec[spec_id]),
            ice,
            spec_id,
            specs_by_id.get(spec_id, []),
        )
        for spec_id, entries in sorted(new_entries_by_spec.items())
    ]

    rewritten = 0
    for m, esch, entries in data_manifests:
        touched = any(
            e["status"] != 2 and e["data_file"]["file_path"] in replaced
            for e in entries
        )
        if not touched:
            carried.append(m)
            continue
        rewritten += 1
        mseq = m.get("sequence_number", 0)
        survivors = []
        for e in entries:
            if e["status"] == 2 or e["data_file"]["file_path"] in replaced:
                continue
            eseq = e.get("sequence_number")
            eseq = mseq if eseq is None else eseq
            fseq = e.get("file_sequence_number")
            survivors.append(
                dict(
                    e,
                    status=0,  # EXISTING
                    sequence_number=eseq,  # explicit: inheritance from the
                    file_sequence_number=mseq if fseq is None else fseq,
                    # new manifest's seq would mis-stamp old files
                )
            )
        if not survivors:
            continue  # every entry replaced: the manifest drops out
        spec_id = m.get("partition_spec_id", 0)
        carried.append(
            dict(
                _write_manifest(
                    path, survivors, esch, ice, spec_id, specs_by_id.get(spec_id, [])
                ),
                sequence_number=seq,
                min_sequence_number=min(s["sequence_number"] for s in survivors),
                added_snapshot_id=snapshot_id,
            )
        )

    snap = _build_snapshot(
        path,
        {
            "snapshot-id": snapshot_id,
            "summary": {"operation": "replace"},
            "schema-id": meta.get("current-schema-id", 0),
        },
        new_manifests,
        current_snapshot(meta),
        seq,
        carried=carried,
    )
    _commit(path, version, meta, _add_snapshot(snap))
    return {
        "removed": len(replaced),
        "added": sum(len(v) for v in new_entries_by_spec.values()),
        "manifests_rewritten": rewritten,
    }


def read_iceberg_incremental(
    path: str,
    spark: SparkSession,
    start_snapshot_id: int,
    end_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental APPEND scan — the Spark-Iceberg connector's
    ``start-snapshot-id``/``end-snapshot-id`` read options: rows added
    by snapshots AFTER ``start_snapshot_id`` (exclusive) up to
    ``end_snapshot_id`` (inclusive; default the current snapshot).
    ``replace`` snapshots (compaction) rearrange existing rows and are
    skipped; an overwrite/delete snapshot in range raises — an
    incremental append scan across them would be wrong, exactly the
    real connector's restriction. The CDC/processing pattern this
    serves: checkpoint the snapshot id you last processed, read
    everything appended since, repeat — no full-table rescans."""
    from daft_spark.context import configure

    configure(spark)
    r = (
        spark.read.format("daft_iceberg")
        .option("path", path)
        .option("start-snapshot-id", str(int(start_snapshot_id)))
    )
    if end_snapshot_id is not None:
        r = r.option("end-snapshot-id", str(int(end_snapshot_id)))
    return r.load()


def last_streaming_batch_iceberg(path: str, app_id: str) -> int:
    """Largest streaming batch id a given app has committed to this
    table, or -1. Primary record: the TABLE PROPERTY
    ``daft-spark.streaming.<app>.max-batch-id``, updated in the same
    metadata publish as each batch's snapshot — it survives
    expire_iceberg_snapshots (snapshot summaries don't) and reads O(1)
    per batch instead of rescanning every snapshot (r8 advice). The
    per-snapshot SUMMARY stamps (``streaming-app-id`` /
    ``streaming-batch-id``, Spark's Iceberg sink convention) remain as
    provenance and as the fallback for tables written before the
    property existed."""
    meta = _latest_metadata(path)
    prop = (meta.get("properties") or {}).get(
        f"daft-spark.streaming.{app_id}.max-batch-id"
    )
    if prop is not None:
        try:
            return int(prop)
        except (TypeError, ValueError):
            pass
    best = -1
    for s in meta.get("snapshots", []):
        summ = s.get("summary") or {}
        if summ.get("streaming-app-id") == app_id:
            try:
                best = max(best, int(summ.get("streaming-batch-id", -1)))
            except (TypeError, ValueError):
                continue
    return best


def set_iceberg_ref(
    path: str,
    name: str,
    *,
    ref_type: str = "tag",
    snapshot_id: int | None = None,
    max_ref_age_ms: int | None = None,
) -> None:
    """Named REFS (Iceberg spec §Snapshot References): a ``tag`` pins a
    snapshot id permanently, a ``branch`` names a movable head — the
    read options the reference exposes on Iceberg tables
    (daft/catalog/__glue.py GlueIcebergTable._read_options:
    snapshot_id/branch/tag). Defaults to the current snapshot.
    Metadata-only commit into the ``refs`` map; referenced snapshots
    are protected from expire_iceberg_snapshots."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref type must be 'tag' or 'branch', got {ref_type!r}")
    version, meta = _load_metadata(path)
    update = {
        "action": "set-snapshot-ref",
        "ref-name": name,
        "snapshot-id": (
            snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
        ),
        "type": ref_type,
    }
    if max_ref_age_ms is not None:
        update["max-ref-age-ms"] = int(max_ref_age_ms)
    _commit(path, version, meta, [update])


def _add_snapshot(snap: dict, ref: str = "main", **ref_fields) -> list[dict]:
    """The actions that add ``snap`` and point ``ref`` (a branch) at it;
    ``ref_fields`` carry the ref's retention settings."""
    return [
        {"action": "add-snapshot", "snapshot": snap},
        {
            "action": "set-snapshot-ref",
            "ref-name": ref,
            "type": "branch",
            **ref_fields,
            "snapshot-id": snap["snapshot-id"],
        },
    ]


def _build_snapshot(
    path: str,
    snap: dict,
    new_manifests: list[dict],
    head: dict | None,
    seq: int,
    carried: list[dict] | None = None,
) -> dict:
    """The snapshot a commit adds on ``head``: ``snap`` (id, summary,
    schema-id) with sequence number ``seq`` and one new manifest list —
    this commit's ``new_manifests``, stamped with ``seq`` and the
    snapshot's id, ahead of ``carried`` (default: ``head``'s manifests;
    an overwrite carries none). The manifest avro FILES never rewrite —
    per-entry sequence numbers inherit from the manifest-list entry, so
    rebasing onto a moved head is one small avro write. Every
    snapshot-adding commit builds its snapshot here."""
    if carried is None:
        carried = [] if head is None else read_ocf(_to_local(head["manifest-list"], path))[2]
    sid = snap["snapshot-id"]
    # added_snapshot_id moves to this snapshot: cherry-pick mints a NEW
    # snapshot id, and incremental/streaming readers attribute a
    # manifest's added files to the snapshot whose id it carries — left
    # at the source id, a resumed stream would skip the published rows.
    stamped = [
        dict(m, sequence_number=seq, min_sequence_number=seq, added_snapshot_id=sid)
        for m in new_manifests
    ]
    mlist = os.path.join(_meta_dir(path), f"snap-{sid}-{seq}-{uuid.uuid4().hex}.avro")
    write_ocf(
        mlist, _MANIFEST_FILE_SCHEMA, stamped + list(carried), metadata={"format-version": "2"}
    )
    out = dict(snap)
    out.pop("parent-snapshot-id", None)
    out["sequence-number"] = seq
    out["timestamp-ms"] = int(time.time() * 1000)
    out["manifest-list"] = mlist
    # parent-snapshot-id is the spec's ancestry pointer — incremental /
    # streaming reads walk it (ancestorsBetween); absent only on a
    # table's first snapshot. Overwrites still chain: history stays linear.
    if head is not None:
        out["parent-snapshot-id"] = head["snapshot-id"]
    return out


def cherry_pick_iceberg_snapshot(path: str, snapshot_id: int) -> None:
    """Apply a branch/staged APPEND snapshot onto main as a NEW
    snapshot (Iceberg's ``cherrypick_snapshot`` — the WAP publish when
    main has moved past the fork and fast-forward refuses). The source
    snapshot's OWN manifests (added_snapshot_id == its id) rebase onto
    main's head; the new snapshot's summary records
    ``source-snapshot-id``. Only append snapshots cherry-pick — a
    delete/overwrite re-applied on changed state is not well-defined,
    and this engine does not fake it."""
    version, meta = _load_metadata(path)
    src = current_snapshot(meta, snapshot_id)
    if (src.get("summary") or {}).get("operation") != "append":
        raise ValueError(
            f"snapshot {snapshot_id} is not an append — only append "
            "snapshots can be cherry-picked"
        )
    _, _, entries = read_ocf(_to_local(src["manifest-list"], path))
    own = [m for m in entries if m.get("added_snapshot_id") == snapshot_id]
    head = current_snapshot(meta)
    # double-apply guard (real Iceberg rejects already-published
    # snapshots): if any of the source's own manifests already sit in
    # main's current manifest list, re-applying would duplicate rows
    if head is not None:
        _, _, head_entries = read_ocf(_to_local(head["manifest-list"], path))
        head_paths = {m.get("manifest_path") for m in head_entries}
        if any(m.get("manifest_path") in head_paths for m in own):
            raise ValueError(
                f"snapshot {snapshot_id} is already published on main — "
                "cherry-picking it again would duplicate its rows"
            )
    snap = dict(
        src,
        **{
            "snapshot-id": uuid.uuid4().int % (1 << 62),
            "summary": {
                **(src.get("summary") or {}),
                "source-snapshot-id": str(snapshot_id),
            },
        },
    )
    snap = _build_snapshot(
        path, snap, own, head, int(meta.get("last-sequence-number", 0)) + 1
    )
    _commit(path, version, meta, _add_snapshot(snap))


def write_iceberg_branch_py(df: DataFrame, path: str, branch: str) -> None:
    """Append to a named BRANCH without moving main — the
    write-audit-publish pattern (stage experimental/audit writes on a
    branch, validate, then fast-forward main). The append stages
    exactly like a main append (data files + new manifests in shared
    storage), then its snapshot is built on the branch head: its
    manifest list is (this commit's new manifests) + (the branch head's
    manifests) under the next table-wide sequence number, and only
    ``refs[branch]`` moves in the published metadata.
    Main readers never see the branch's rows; branch readers never see
    main commits made after the fork. Zero data movement beyond the
    append itself."""
    version, meta = _load_metadata(path)
    entry = (meta.get("refs") or {}).get(branch)
    if entry is None or entry.get("type") != "branch":
        raise ValueError(
            f"branch {branch!r} not found — create it with "
            "set_iceberg_ref(path, name, ref_type='branch')"
        )
    staged = _stage_write(df, path, (version, meta), "append")
    snap = _build_snapshot(
        path,
        staged.snapshot,
        staged.manifests,
        current_snapshot(meta, entry["snapshot-id"]),
        int(meta.get("last-sequence-number", 0)) + 1,
    )
    _commit(path, version, meta, [*staged.updates, *_add_snapshot(snap, branch, **entry)])


def fast_forward_iceberg_main(path: str, branch: str) -> None:
    """Publish a branch: fast-forward main's current snapshot to the
    branch head (the WAP publish step). Requires main's current
    snapshot to be an ANCESTOR of the branch head — a true
    fast-forward; anything else needs a merge/cherry-pick, which this
    engine does not fake."""
    version, meta = _load_metadata(path)
    refs = meta.get("refs") or {}
    entry = refs.get(branch)
    if entry is None or entry.get("type") != "branch":
        raise ValueError(f"branch {branch!r} not found")
    head_id = entry["snapshot-id"]
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    cur = meta.get("current-snapshot-id")
    ancestor, walk = False, head_id
    while walk is not None:
        if walk == cur:
            ancestor = True
            break
        walk = by_id.get(walk, {}).get("parent-snapshot-id")
    if cur not in (None, -1) and not ancestor:
        raise ValueError(
            f"main ({cur}) is not an ancestor of branch {branch!r} head "
            f"({head_id}) — cannot fast-forward"
        )
    _commit(
        path,
        version,
        meta,
        [
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": head_id,
            }
        ],
    )


def drop_iceberg_ref(path: str, name: str) -> None:
    version, meta = _load_metadata(path)
    _commit(path, version, meta, [{"action": "remove-snapshot-ref", "ref-name": name}])


def resolve_iceberg_ref(meta: dict, ref: str) -> int:
    """ref name -> snapshot id ("main" is the spec's implicit branch
    for the current snapshot when no explicit ref shadows it)."""
    refs = meta.get("refs") or {}
    if ref in refs:
        return refs[ref]["snapshot-id"]
    if ref == "main" and meta.get("current-snapshot-id") not in (None, -1):
        return meta["current-snapshot-id"]
    raise ValueError(f"ref {ref!r} not found (have {sorted(refs)})")


def iceberg_metadata_table(path: str, spark: SparkSession, kind: str) -> DataFrame:
    """Metadata INSPECTION tables (Iceberg's ``table.snapshots`` /
    ``files`` / ``manifests`` / ``history`` / ``refs`` surface — what
    pyiceberg's inspect API and Spark's ``SELECT * FROM t.snapshots``
    expose). Each returns a DataFrame over the CURRENT metadata:

    - snapshots: committed_at, snapshot_id, sequence_number, operation
    - history: made_current_at, snapshot_id
    - refs: name, type, snapshot_id, max_ref_age_ms
    - manifests: path, length, partition_spec_id, content,
      added_snapshot_id, added/existing/deleted data file counts
    - files: content, file_path, file_format, record_count,
      file_size_in_bytes, sequence_number (live files of the current
      snapshot, deletes included)

    Driver-side metadata walk (KBs per snapshot at any scale); the
    result is a small local DataFrame."""
    from pyspark.sql import Row

    meta = _latest_metadata(path)
    if kind == "snapshots":
        rows = [
            Row(
                committed_at=int(s.get("timestamp-ms", 0)),
                snapshot_id=int(s["snapshot-id"]),
                sequence_number=int(s.get("sequence-number", 0)),
                operation=str((s.get("summary") or {}).get("operation", "")),
            )
            for s in meta.get("snapshots", [])
        ]
        schema = "committed_at long, snapshot_id long, sequence_number long, operation string"
    elif kind == "history":
        rows = [
            Row(
                made_current_at=int(e.get("timestamp-ms", 0)),
                snapshot_id=int(e["snapshot-id"]),
            )
            for e in meta.get("snapshot-log", [])
        ]
        schema = "made_current_at long, snapshot_id long"
    elif kind == "refs":
        rows = [
            Row(
                name=n,
                type=str(r.get("type", "")),
                snapshot_id=int(r["snapshot-id"]),
                max_ref_age_ms=(
                    int(r["max-ref-age-ms"]) if r.get("max-ref-age-ms") else None
                ),
            )
            for n, r in sorted((meta.get("refs") or {}).items())
        ]
        schema = "name string, type string, snapshot_id long, max_ref_age_ms long"
    elif kind == "manifests":
        snap = current_snapshot(meta)
        manifests = []
        if snap is not None:
            _, _, manifests = read_ocf(_to_local(snap["manifest-list"], path))
        rows = [
            Row(
                path=str(m["manifest_path"]),
                length=int(m.get("manifest_length", 0)),
                partition_spec_id=int(m.get("partition_spec_id", 0)),
                content=int(m.get("content", 0)),
                added_snapshot_id=int(m.get("added_snapshot_id", 0)),
                added_data_files_count=int(m.get("added_data_files_count", 0)),
                existing_data_files_count=int(m.get("existing_data_files_count", 0)),
                deleted_data_files_count=int(m.get("deleted_data_files_count", 0)),
            )
            for m in manifests
        ]
        schema = (
            "path string, length long, partition_spec_id int, content int, "
            "added_snapshot_id long, added_data_files_count int, "
            "existing_data_files_count int, deleted_data_files_count int"
        )
    elif kind == "files":
        snap = current_snapshot(meta)
        rows = []
        if snap is not None:
            _, _, manifests = read_ocf(_to_local(snap["manifest-list"], path))
            for m in manifests:
                mseq = m.get("sequence_number", 0)
                _, _, entries = read_ocf(_to_local(m["manifest_path"], path))
                for e in entries:
                    if e["status"] == 2:
                        continue
                    f = e["data_file"]
                    seq = e.get("sequence_number")
                    rows.append(
                        Row(
                            content=int(f.get("content", 0)),
                            file_path=str(f["file_path"]),
                            file_format=str(f.get("file_format", "PARQUET")),
                            record_count=int(f.get("record_count", 0)),
                            file_size_in_bytes=int(f.get("file_size_in_bytes", 0)),
                            sequence_number=int(mseq if seq is None else seq),
                        )
                    )
        schema = (
            "content int, file_path string, file_format string, "
            "record_count long, file_size_in_bytes long, sequence_number long"
        )
    else:
        raise ValueError(
            f"unknown metadata table {kind!r} "
            "(snapshots, history, refs, manifests, files)"
        )
    return spark.createDataFrame(rows, schema)


def upsert_iceberg_py(df: DataFrame, path: str, equality_by: list[str]) -> None:
    """Row-level MoR UPSERT in ONE snapshot (the commit shape Flink's
    Iceberg CDC sink produces): an equality-delete file over ``df``'s
    ``equality_by`` keys and ``df``'s rows as new data files share a
    single commit and data sequence number. The spec's strictly-older
    rule (equality deletes apply only to files with a SMALLER sequence)
    deletes every prior row with a matching key while the same-commit
    inserts survive — so a reader never sees the intermediate
    deleted-but-not-reinserted state a two-commit upsert would expose.
    Nothing is rewritten; rewrite_iceberg_data_files later materializes
    the delete debt."""
    write_iceberg_py(df, path, mode="append", _upsert_by=equality_by)
