"""Pure-Python Delta Lake table support — no connector JAR required.

Parity target: the reference reads Delta tables without Spark via the
``deltalake`` (delta-rs) package (reference ``daft/io/delta_lake/
_deltalake.py:22`` read_deltalake, ``daft/dataframe/dataframe.py``
write_deltalake). This container has neither delta-spark JARs nor
delta-rs, but the Delta transaction protocol is an open spec
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md): a table is
a directory of parquet data files plus ``_delta_log/<version>.json``
commits, each a newline-delimited list of actions (protocol, metaData,
add, remove, txn, cdc, commitInfo).

Every public call goes through three internal pieces:

- ``_snapshot(path, version=None)`` replays the log ONCE — the newest
  checkpoint at or below ``version`` (any layout, ``_checkpoint_rows``)
  plus the later JSON commits (``_commit_actions_at``) — into a
  ``_Snapshot``: version, schema, partition columns, live adds,
  configuration, protocol and the txn watermark per appId.
- ``_commit(path, snapshot, actions, operation, params)`` is the only
  writer of ``_delta_log/<v>.json``: it appends the commitInfo, stages
  the commit to a temp file and publishes it as ``snapshot.version +
  1`` with ``os.link`` (which, unlike rename, never replaces an
  existing file) — a writer whose snapshot went stale fails with
  "concurrent Delta commit" instead of stacking on top of the other
  writer. Every 10th version it writes a classic single-file parquet
  checkpoint + ``_last_checkpoint``, whatever kind of commit it is.
- ``_scan(...)`` is the one parquet scan of a set of add actions:
  partition columns restored from ``partitionValues``, column-mapped
  files resolved by physical name, and deletion vectors applied
  merge-on-read by one broadcast anti-join on the row tag
  ``(_metadata.file_path, _metadata.row_index)``. A table without DVs
  reads as a plain multi-file parquet scan.

Supported: append / overwrite / error / ignore writes, time travel
(version and timestamp), partitioned tables, copy-on-write and
deletion-vector DELETE / UPDATE, MERGE, OPTIMIZE (bin-packing and
Z-order), VACUUM, RESTORE, the change data feed, idempotent txn-stamped
writes, column mapping for read / append / schema evolution (DML on
mapped tables is gated), and checkpoint READ of every spec layout:
classic single-file, legacy multi-part (<v>.checkpoint.<o>.<p>.parquet,
complete sets only) and V2 (<v>.checkpoint.<uuid>.{json,parquet}
manifests with sidecar files under _delta_log/_sidecars/).

Out of scope (raise cleanly): other v3 reader features,
nested-column mapping.

At 100 TB the log replay is driver-side metadata work (KBs per commit);
the data path is an ordinary multi-file parquet scan with the usual
pushdowns, so scale behavior is identical to reading raw parquet.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from daft_spark.io.publish import STAGING_PREFIX, publish_once, stage_files

_LOG_DIR = "_delta_log"
_MAX_SUPPORTED = {"minReaderVersion": 1, "minWriterVersion": 2}
_ENGINE_INFO = "daft_spark pure-python delta writer"

# PROTOCOL.md: legacy protocol versions imply feature sets; an upgrade
# to table features (reader 3 / writer 7) must carry these forward so
# external writers keep enforcing them.
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}


def _upgraded_dv_protocol(prior: dict) -> dict:
    """The protocol action for a deletion-vector upgrade: (3, 7) with
    deletionVectors PLUS every feature the table's previous protocol
    implied (explicit feature lists carried as-is; legacy versions
    expanded via the PROTOCOL.md implication tables)."""
    r, w = prior.get("minReaderVersion", 1), prior.get("minWriterVersion", 2)
    reader_feats = set(prior.get("readerFeatures") or [])
    writer_feats = set(prior.get("writerFeatures") or [])
    if w < 7:
        for v in range(2, w + 1):
            writer_feats.update(_LEGACY_WRITER_FEATURES.get(v, ()))
    if r < 3:
        for v in range(2, r + 1):
            reader_feats.update(_LEGACY_READER_FEATURES.get(v, ()))
    reader_feats.add("deletionVectors")
    writer_feats.add("deletionVectors")
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(reader_feats),
        "writerFeatures": sorted(writer_feats),
    }


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def _commit_file(table_path: str, version: int) -> str:
    return os.path.join(_log_path(table_path), f"{version:020d}.json")


def _list_versions(table_path: str) -> list[int]:
    log = _log_path(table_path)
    if not os.path.isdir(log):
        return []
    out = []
    for f in os.listdir(log):
        if f.endswith(".json") and f[:-5].isdigit():
            out.append(int(f[:-5]))
    return sorted(out)


def _checkpoint_files(table_path: str) -> dict[int, tuple[str, list[str]]]:
    """version -> (kind, files) for every discoverable checkpoint:
    ``classic`` (<v>.checkpoint.parquet), ``multipart`` (the legacy
    <v>.checkpoint.<o>.<p>.parquet series, complete sets only) and
    ``v2`` (<v>.checkpoint.<uuid>.{json,parquet} manifests with
    _sidecars/). A v2/classic checkpoint wins over a partial multipart
    set at the same version."""
    import re

    log = _log_path(table_path)
    if not os.path.isdir(log):
        return {}
    classic: dict[int, str] = {}
    v2: dict[int, str] = {}
    multi: dict[int, dict[int, tuple[int, str]]] = {}
    for f in os.listdir(log):
        m = re.fullmatch(r"(\d+)\.checkpoint\.parquet", f)
        if m:
            classic[int(m.group(1))] = f
            continue
        m = re.fullmatch(r"(\d+)\.checkpoint\.(\d+)\.(\d+)\.parquet", f)
        if m:
            v, o, p_ = int(m.group(1)), int(m.group(2)), int(m.group(3))
            multi.setdefault(v, {})[o] = (p_, f)
            continue
        m = re.fullmatch(r"(\d+)\.checkpoint\.[0-9a-fA-F-]{8,}\.(json|parquet)", f)
        if m:
            v2[int(m.group(1))] = f
    out: dict[int, tuple[str, list[str]]] = {}
    for v, parts in multi.items():
        total = next(iter(parts.values()))[0]
        if len(parts) == total and set(parts) == set(range(1, total + 1)):
            out[v] = ("multipart", [parts[i][1] for i in range(1, total + 1)])
    for v, f in classic.items():
        out[v] = ("classic", [f])
    for v, f in v2.items():
        out[v] = ("v2", [f])
    return out


def _checkpoint_versions(table_path: str) -> list[int]:
    return sorted(_checkpoint_files(table_path))


def _table_versions(table_path: str) -> list[int]:
    """Every version with a JSON commit or a checkpoint (a vacuumed
    JSON prefix survives as its checkpoint); empty when no table."""
    return sorted(set(_list_versions(table_path)) | set(_checkpoint_versions(table_path)))


def _check_protocol(p: dict) -> None:
    """Reader v1 always; v2/v3 only when every reader feature is one we
    implement (deletionVectors). Anything else raises rather than
    silently misreading."""
    v = p.get("minReaderVersion", 1)
    if v <= _MAX_SUPPORTED["minReaderVersion"]:
        return
    if v == 2:
        return  # legacy columnMapping reader version (no feature lists)
    feats = set(p.get("readerFeatures") or [])
    if v <= 3 and feats <= {"deletionVectors", "columnMapping"}:
        return
    raise NotImplementedError(
        f"Delta minReaderVersion {v} with readerFeatures {sorted(feats)} is "
        "not supported by this pure-Python reader (deletionVectors + "
        "columnMapping only); use delta-spark"
    )


def _json_lines(file_path: str) -> list[dict]:
    with open(file_path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _commit_actions_at(table_path: str, version: int) -> list[dict]:
    """The actions of JSON commit ``version`` (FileNotFoundError when
    only its checkpoint survives)."""
    return _json_lines(_commit_file(table_path, version))


def _checkpoint_rows(table_path: str, version: int) -> list[dict]:
    """Action rows of the checkpoint at ``version``, whatever its
    layout: classic single-file, legacy MULTI-PART (all parts unioned —
    the spec lets actions land in any part), or V2 (manifest json/
    parquet holding checkpointMetadata + non-file actions plus
    sidecarFile pointers into _delta_log/_sidecars/, whose parquet
    carries the add/remove actions)."""
    import pyarrow.parquet as pq

    log = _log_path(table_path)
    kind, files = _checkpoint_files(table_path)[version]
    if kind in ("classic", "multipart"):
        rows: list[dict] = []
        for f in files:
            rows.extend(pq.read_table(os.path.join(log, f)).to_pylist())
        return rows
    # v2 manifest
    manifest = os.path.join(log, files[0])
    if manifest.endswith(".json"):
        rows = _json_lines(manifest)
    else:
        rows = pq.read_table(manifest).to_pylist()
    out: list[dict] = []
    for row in rows:
        sidecar = row.get("sidecarFile")
        if sidecar and sidecar.get("path"):
            sp = os.path.join(log, "_sidecars", os.path.basename(sidecar["path"]))
            out.extend(pq.read_table(sp).to_pylist())
        elif row.get("checkpointMetadata"):
            continue  # v2 marker action, no replay state
        else:
            out.append(row)
    return out


class _Snapshot(NamedTuple):
    """Table state at one version: what every read and commit starts
    from. ``adds`` maps data-file path -> add action (sorted by path);
    ``txns`` maps appId -> its highest committed txn version.
    ``table_id`` and ``created_time`` are the metaData ``id`` and
    ``createdTime``, which every later metaData action keeps."""

    version: int
    schema_json: str
    partition_cols: list[str]
    adds: dict[str, dict]
    configuration: dict
    protocol: dict
    txns: dict[str, int]
    table_id: str
    created_time: int


def _snapshot(table_path: str, version: int | None = None) -> _Snapshot:
    """Replay the log up to and including ``version`` (default: latest).
    Replay starts from the newest checkpoint at or below the target
    version when one exists (JSON commits older than the checkpoint may
    have been vacuumed). Checkpoint rows and JSON actions go through
    the same loop: a checkpoint row is a dict with every action column
    (absent ones None; arrow MAP columns read back as tuple lists)."""
    versions = _list_versions(table_path)
    ckpts = _checkpoint_versions(table_path)
    known = sorted(set(versions) | set(ckpts))
    if not known:
        raise FileNotFoundError(
            f"not a Delta table (no {_LOG_DIR}/*.json under {table_path})"
        )
    if version is None:
        version = known[-1]
    elif version not in known:
        raise ValueError(f"version {version} not found in Delta log (have {known})")
    usable = [c for c in ckpts if c <= version]
    start_after = usable[-1] if usable else -1
    rows = _checkpoint_rows(table_path, start_after) if usable else []
    for v in versions:
        if start_after < v <= version:
            rows.extend(_commit_actions_at(table_path, v))

    schema_json: str | None = None
    partition_cols: list[str] = []
    configuration: dict = {}
    metadata: dict = {}
    protocol: dict = dict(_MAX_SUPPORTED)
    adds: dict[str, dict] = {}
    txns: dict[str, int] = {}
    for row in rows:
        p = row.get("protocol")
        if p and p.get("minReaderVersion") is not None:
            protocol = {k: v for k, v in p.items() if v is not None}
            _check_protocol(protocol)
        md = row.get("metaData")
        if md:
            metadata = md
            schema_json = md["schemaString"]
            partition_cols = list(md.get("partitionColumns") or [])
            configuration = dict(md.get("configuration") or {})
        add = row.get("add")
        if add:
            entry = {k: v for k, v in add.items() if v is not None}
            entry["partitionValues"] = dict(add.get("partitionValues") or {})
            dv = entry.pop("deletionVector", None)
            # parquet null-struct rows read back as a dict of Nones
            if dv and dv.get("storageType"):
                entry["deletionVector"] = {k: v for k, v in dv.items() if v is not None}
            adds[add["path"]] = entry
        rm = row.get("remove")
        if rm:
            adds.pop(rm["path"], None)
        txn = row.get("txn")
        if txn and txn.get("appId") is not None:
            app = txn["appId"]
            txns[app] = max(txns.get(app, -1), int(txn.get("version", -1)))
    if schema_json is None:
        raise ValueError(f"Delta log under {table_path} has no metaData action")
    return _Snapshot(
        version,
        schema_json,
        partition_cols,
        {k: adds[k] for k in sorted(adds)},
        configuration,
        protocol,
        txns,
        metadata.get("id") or str(uuid.uuid4()),
        int(metadata.get("createdTime") or 0),
    )


def _commit(
    table_path: str,
    snapshot: _Snapshot | None,
    actions: list[dict],
    operation: str,
    params: dict | None = None,
    checkpoint_interval: int = 10,
) -> None:
    """Publish ``actions`` plus a commitInfo as version ``snapshot.version
    + 1`` (0 for a new table: ``snapshot`` None) through the no-clobber
    ``publish_once``: a writer whose snapshot went stale raises instead
    of clobbering or stacking on another writer's commit. Every
    ``checkpoint_interval`` versions a checkpoint follows, whatever the
    commit kind."""
    version = 0 if snapshot is None else snapshot.version + 1
    info: dict = {"timestamp": int(time.time() * 1000), "operation": operation}
    if params is not None:
        info["operationParameters"] = params
    info["engineInfo"] = _ENGINE_INFO
    os.makedirs(_log_path(table_path), exist_ok=True)
    publish_once(
        _commit_file(table_path, version),
        "".join(json.dumps(a) + "\n" for a in [*actions, {"commitInfo": info}]),
        f"concurrent Delta commit detected at version {version} ({table_path})",
    )
    if checkpoint_interval and version > 0 and version % checkpoint_interval == 0:
        _write_checkpoint(table_path, version)


def _metadata_action(
    snap: _Snapshot | None, schema_json: str, partition_cols: list[str],
    configuration: dict,
) -> dict:
    """A metaData action. The table ``id`` and ``createdTime`` are minted
    once, by the commit that creates the table (``snap`` None), and kept
    by every later one (PROTOCOL.md: the id is unique and stable)."""
    return {
        "metaData": {
            "id": snap.table_id if snap else str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": partition_cols,
            "configuration": configuration,
            "createdTime": snap.created_time if snap else int(time.time() * 1000),
        }
    }


def _mapping_info(schema_json: str, config: dict):
    """(mode, logical->physical, physical->logical) for a column-mapped
    table (PROTOCOL.md §Column Mapping); mode None when disabled.
    Physical names come from each field's delta.columnMapping.
    physicalName metadata. Resolution is by physical NAME for both
    modes — delta-spark writes physicalName annotations in id mode too,
    and this writer always does. Nested mapped columns are gated."""
    mode = (config or {}).get("delta.columnMapping.mode")
    if mode in (None, "", "none"):
        return None, {}, {}
    if mode not in ("name", "id"):
        raise NotImplementedError(f"delta.columnMapping.mode {mode!r} is not supported")
    l2p: dict[str, str] = {}
    p2l: dict[str, str] = {}
    for f in json.loads(schema_json)["fields"]:
        if not isinstance(f.get("type"), str):
            raise NotImplementedError(
                "column mapping over nested columns is not supported by this "
                "pure-Python reader"
            )
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        l2p[f["name"]] = phys
        p2l[phys] = f["name"]
    return mode, l2p, p2l


def _pv_sorted(groups: dict) -> list:
    """Partition-value groups in deterministic order. Keys are tuples
    of str-or-None (Delta serializes partition values as strings; null
    -> absent/None) — plain sorted() raises TypeError on a None vs str
    comparison, so nulls order first explicitly."""
    return sorted(
        groups.items(),
        key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
    )


def version_at_timestamp_delta_py(path: str, timestamp_ms: int) -> int:
    """TIMESTAMP AS OF resolution (delta-spark's timestampAsOf): the
    latest version whose commit timestamp (commitInfo.timestamp,
    falling back to the commit file's mtime) is <= ``timestamp_ms``.
    Raises when the table's first commit is later than the timestamp,
    matching delta-spark's before-earliest-version error."""
    best = None
    json_versions = set(_list_versions(path))
    # Checkpoint-only versions survive log cleanup (_snapshot reads
    # them without their JSON commits) — timestamp travel must resolve
    # from them too, not error with "history starts later" when the
    # instant predates the oldest surviving JSON.
    ckpt_files = _checkpoint_files(path)
    for v in sorted(json_versions | set(ckpt_files)):
        ts = None
        if v in json_versions:
            try:
                ts = next(
                    (
                        a["commitInfo"].get("timestamp")
                        for a in _commit_actions_at(path, v)
                        if "commitInfo" in a
                    ),
                    None,
                )
                if ts is None:
                    ts = int(os.path.getmtime(_commit_file(path, v)) * 1000)
            except FileNotFoundError:
                pass  # cleaned between listing and read — fall through
        if ts is None and v in ckpt_files:
            # The JSON commit (and its commitInfo timestamp) is gone;
            # the closest surviving record of WHEN this state existed
            # is its data files' modificationTime in the checkpoint
            # rows (<= the commit's wall time — the checkpoint file's
            # own mtime is when the checkpoint was written, which can
            # be arbitrarily later).
            mods = [
                int(r["add"]["modificationTime"])
                for r in _checkpoint_rows(path, v)
                if r.get("add")
                and r["add"].get("modificationTime") is not None
            ]
            if mods:
                ts = max(mods)
            else:
                # No usable add timestamps (fully-deleted table state,
                # or adds without modificationTime — the field is
                # technically required but absent rows must not coerce
                # to 0 and falsely match every instant). The checkpoint
                # file's own mtime is an UPPER bound on the commit's
                # wall time: if even that is within the target instant,
                # the version certainly existed by then.
                _kind, files = ckpt_files[v]
                try:
                    ts = min(
                        int(os.path.getmtime(fp) * 1000) for fp in files
                    )
                except (FileNotFoundError, ValueError):
                    pass  # cleaned concurrently — skip this version
        if ts is not None and int(ts) <= int(timestamp_ms):
            best = v
    if best is None:
        raise ValueError(
            f"no Delta commit at or before timestamp {timestamp_ms} "
            f"(table history starts later)"
        )
    return best


def read_deltalake_py(
    path: str,
    spark: SparkSession,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """Read a Delta table by replaying its checkpoint + JSON log.

    The result is a plain multi-file parquet scan — filter/column
    pushdown, split planning, and AQE all apply exactly as for
    read_parquet. ``version`` time-travels (reference read_deltalake's
    ``version`` kwarg); ``timestamp_ms`` is TIMESTAMP AS OF — the
    state at the latest commit not after that wall-clock instant
    (delta-spark's timestampAsOf). For partitioned tables the partition columns
    (absent from the data files, per the Delta spec) are restored from
    each add action's partitionValues: one scan per live partition
    combination, unioned."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version or timestamp_ms, not both")
        version = version_at_timestamp_delta_py(path, timestamp_ms)
    snap = _snapshot(path, version)
    _mode, l2p, p2l = _mapping_info(snap.schema_json, snap.configuration)
    # a clean logical schema (mapping annotations stripped) for results
    schema = StructType(
        [
            StructField(f.name, f.dataType, f.nullable)
            for f in StructType.fromJson(json.loads(snap.schema_json)).fields
        ]
    )
    if not snap.adds:
        return spark.createDataFrame([], schema)
    # metaData tracks partition columns by PHYSICAL name on mapped
    # tables (spec: partition values use physical names); tolerate
    # logical-keyed metadata too
    partition_cols = [p2l.get(c, c) for c in snap.partition_cols]
    return _scan(spark, path, snap.adds, schema, partition_cols, l2p=l2p)


def _scan(
    spark: SparkSession,
    table_path: str,
    adds: dict,
    schema: StructType,
    partition_cols: list[str],
    *,
    l2p: dict | None = None,
    keep: dict[str, list[int]] | None = None,
    tag: bool = False,
) -> DataFrame:
    """The one scan of Delta data files every read path shares: the
    files of ``adds`` (path relative to the table -> add action) read
    as ``schema``, one parquet scan per partition-value group with the
    partition columns restored from partitionValues (Delta serializes
    them as strings, null -> absent), unioned. ``l2p`` resolves
    column-mapped files and partition values by physical name.

    Deletion vectors apply merge-on-read: each row is tagged (__fp,
    __pos) = (normalized _metadata.file_path, _metadata.row_index) and
    ONE broadcast left-anti join drops the DV positions (a
    metadata-sized frame). ``keep`` (path -> row ordinals) instead
    keeps exactly the listed rows of the listed files. ``tag`` keeps
    the row tag in the output, for DML keyed on it. With no DVs, no
    ``keep`` and no ``tag`` the result is a plain parquet scan."""
    from pyspark.sql import functions as F

    l2p = l2p or {}
    keep = keep or {}
    types = {f.name: f.dataType for f in schema.fields}
    file_schema = StructType(
        [
            StructField(l2p.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
            if f.name not in partition_cols
        ]
    )
    dv_rows = [
        (_abs_path(table_path, rel), int(p))
        for rel, add in adds.items()
        if add.get("deletionVector")
        for p in _dv_read(table_path, add["deletionVector"])
    ]
    keep_rows = [
        (_abs_path(table_path, rel), int(p)) for rel, ps in keep.items() for p in ps
    ]
    tagged = bool(tag or dv_rows or keep)
    tag_cols = ["__fp", "__pos"] if tagged else []
    groups: dict[tuple, list[str]] = {}
    for rel, add in adds.items():
        pv = add.get("partitionValues") or {}
        key = tuple(pv.get(l2p.get(c, c), pv.get(c)) for c in partition_cols)
        groups.setdefault(key, []).append(os.path.join(table_path, rel))
    out = None
    for key, files in _pv_sorted(groups):
        df = spark.read.schema(file_schema).parquet(*files)
        if tagged:
            df = df.select(
                "*",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias(
                    "__fp"
                ),
                F.col("_metadata.row_index").alias("__pos"),
            )
        if partition_cols or l2p:
            restored = dict(zip(partition_cols, key))
            df = df.select(
                *[
                    F.lit(restored[f.name]).cast(types[f.name]).alias(f.name)
                    if f.name in restored
                    else F.col(l2p.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ],
                *tag_cols,
            )
        out = df if out is None else out.unionAll(df)
    if dv_rows:
        out = out.join(
            F.broadcast(_positions_frame(spark, dv_rows)), tag_cols, "left_anti"
        )
    if keep:
        kf = _positions_frame(spark, keep_rows).withColumn("__keep", F.lit(True))
        keep_files = sorted(_abs_path(table_path, rel) for rel in keep)
        out = (
            out.join(F.broadcast(kf), tag_cols, "left_outer")
            .filter(~F.col("__fp").isin(*keep_files) | F.col("__keep").isNotNull())
            .drop("__keep")
        )
    if not tag:
        return out.drop(*tag_cols) if tagged else out
    if dv_rows or keep:
        # using-column joins move the keys first; restore the order
        out = out.select(*[f.name for f in schema.fields], *tag_cols)
    return out


def _abs_path(table_path: str, rel: str) -> str:
    """A data file's absolute path: the key of the (__fp, __pos) row tag."""
    return os.path.abspath(os.path.join(table_path, rel))


def _positions_frame(spark: SparkSession, rows: list[tuple[str, int]]) -> DataFrame:
    from pyspark.sql.types import LongType, StringType

    sch = StructType(
        [StructField("__fp", StringType()), StructField("__pos", LongType())]
    )
    return spark.createDataFrame(rows, sch)


def _dv_read(table_path: str, desc: dict) -> list[int]:
    """Positions stored in one deletion-vector descriptor (storageType
    'p' = absolute path). File framing per the Delta spec: version byte
    1 at offset 0; at ``offset``: 4B big-endian data size, the
    RoaringBitmapArray bytes, 4B big-endian CRC32 of those bytes."""
    import struct
    import zlib

    from daft_spark.io.roaring import deserialize_rbm64

    st = desc.get("storageType")
    if st != "p":
        raise NotImplementedError(
            f"deletion vector storageType {st!r} not supported (only 'p')"
        )
    dv_path = desc["pathOrInlineDv"]
    with open(dv_path, "rb") as f:
        data = f.read()
    off = desc["offset"]
    (size,) = struct.unpack_from(">I", data, off)
    body = data[off + 4 : off + 4 + size]
    (crc,) = struct.unpack_from(">I", data, off + 4 + size)
    if zlib.crc32(body) & 0xFFFFFFFF != crc:
        raise ValueError(f"deletion vector checksum mismatch in {dv_path}")
    return deserialize_rbm64(body)


def _dv_write(table_path: str, positions) -> dict:
    """Write one deletion-vector file (version byte + size/data/CRC32
    framing) and return its add-action descriptor."""
    import struct
    import zlib

    from daft_spark.io.roaring import serialize_rbm64

    vals = sorted(set(int(p) for p in positions))
    body = serialize_rbm64(vals)
    name = f"deletion_vector_{uuid.uuid4().hex}.bin"
    dst = os.path.join(table_path, name)
    with open(dst, "wb") as f:
        f.write(b"\x01")  # format version
        offset = f.tell()
        f.write(struct.pack(">I", len(body)))
        f.write(body)
        f.write(struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))
    return {
        "storageType": "p",
        "pathOrInlineDv": dst,
        "offset": offset,
        "sizeInBytes": len(body),
        "cardinality": len(vals),
    }


def _dml_scan(spark: SparkSession, path: str, snap: _Snapshot, adds: dict | None = None):
    """Row-tagged, DV-applied scan of ``adds`` (default: every live add)
    under the table schema — the substrate of the file-granular DML
    passes: pass 1 scans all adds to find the files containing changed
    rows; pass 2 re-scans ONLY the affected adds for the rewrite
    (delta-spark's two-pass copy-on-write shape). None when there is
    nothing to scan."""
    adds = snap.adds if adds is None else adds
    if not adds:
        return None
    schema = StructType.fromJson(json.loads(snap.schema_json))
    return _scan(spark, path, adds, schema, snap.partition_cols, tag=True)


def _affected_adds(path: str, adds: dict, affected_abs: list[str]) -> dict:
    """The adds whose absolute paths (the __fp values pass 1 collected)
    appear in ``affected_abs``."""
    aff = set(affected_abs)
    return {rel: a for rel, a in adds.items() if _abs_path(path, rel) in aff}


def delete_deltalake_dv_py(path: str, spark: SparkSession, condition: str) -> None:
    """Merge-on-read DELETE via DELETION VECTORS: rows matching the SQL
    ``condition`` are tombstoned by parquet row ordinal into roaring
    bitmaps — no data file is rewritten (the commit retires each
    affected add and re-adds the same file with a deletionVector
    descriptor, upgrading the protocol to readerFeatures=
    [deletionVectors]). Existing DVs merge with the new positions.
    NULL-condition rows survive (three-valued DELETE). Prior versions
    stay time-travelable."""
    from pyspark.sql import functions as F

    snap = _snapshot(path)
    _gate_column_mapping(snap)
    if not snap.adds:
        return
    # Match against the CURRENT state (existing DVs applied) so already-
    # deleted rows don't churn; capture (file, ordinal) via _metadata.
    t = _dml_scan(spark, path, snap)
    matched = t.filter(F.expr(condition).eqNullSafe(F.lit(True)))
    by_file = _dv_write_distributed(matched, path, snap.adds)
    if not by_file:
        return
    extra: list[dict] = []
    if _cdf_enabled(snap.configuration):
        # CDF tables get explicit cdc actions in the SAME commit (the
        # delta-spark contract) — a DV commit's add/remove pair re-adds
        # the whole file, so change feeds can never be reconstructed
        # from it.
        deleted = matched.drop("__fp", "__pos").withColumn(
            "_change_type", F.lit("delete")
        )
        extra = _write_cdc_file(path, deleted, snap.partition_cols)
    _dv_commit(path, snap, by_file, extra, "DELETE", condition)


def _dv_write_distributed(matched, path: str, adds: dict) -> dict[str, dict]:
    """Aggregate matched ordinals per file and write each affected
    file's deletion-vector file FROM THE EXECUTOR TASK holding that
    file's aggregate (merging any pre-existing DV); the driver collects
    only (file, descriptor) rows. A DELETE touching every file of a
    huge table thus routes one metadata-sized row per file through the
    driver, never the position lists themselves. Requires the table
    path to be shared storage, which Delta assumes anyway."""
    import pandas as pd
    from pyspark.sql import functions as F

    old_descs = {
        _abs_path(path, rel): add["deletionVector"]
        for rel, add in adds.items()
        if add.get("deletionVector")
    }

    def _write(batches):
        for pdf in batches:
            fps, descs = [], []
            for fp, positions in zip(pdf["__fp"], pdf["__positions"]):
                pos = [int(p) for p in positions]
                old = old_descs.get(fp)
                if old:
                    pos += _dv_read(path, old)
                fps.append(fp)
                descs.append(json.dumps(_dv_write(path, pos)))
            yield pd.DataFrame({"__fp": fps, "__desc": descs})

    rows = (
        matched.groupBy("__fp")
        .agg(F.sort_array(F.collect_list("__pos")).alias("__positions"))
        .mapInPandas(_write, "__fp string, __desc string")
        .collect()
    )
    return {r["__fp"]: json.loads(r["__desc"]) for r in rows}


def _dv_commit(
    path: str,
    snap: _Snapshot,
    by_file: dict[str, dict],
    extra_actions: list[dict],
    op: str,
    condition: str,
) -> None:
    """One DV commit: protocol upgrade, remove + re-add-with-DV for
    each affected file (descriptors pre-written executor-side by
    _dv_write_distributed, pre-existing DVs already merged), then any
    extra add actions (e.g. UPDATE's rewritten rows)."""
    now_ms = int(time.time() * 1000)
    abs_to_rel = {_abs_path(path, rel): rel for rel in snap.adds}
    actions: list[dict] = [{"protocol": _upgraded_dv_protocol(snap.protocol)}]
    for abs_path, desc in sorted(by_file.items()):
        rel = abs_to_rel[abs_path]
        add = snap.adds[rel]
        actions.append(
            {"remove": {"path": rel, "deletionTimestamp": now_ms, "dataChange": True}}
        )
        new_add = {
            "path": rel,
            "partitionValues": add.get("partitionValues") or {},
            "size": add.get("size") or 0,
            "modificationTime": now_ms,
            "dataChange": True,
            "deletionVector": desc,
        }
        actions.append({"add": new_add})
    actions.extend(extra_actions)
    _commit(path, snap, actions, op, {"predicate": condition, "mode": "mor-dv"})


def update_deltalake_dv_py(
    path: str, spark: SparkSession, condition: str, set_exprs: dict[str, str]
) -> None:
    """Merge-on-read UPDATE via DELETION VECTORS: rows matching
    ``condition`` are tombstoned by parquet ordinal (no data file
    rewritten) and their updated versions — ``set_exprs`` maps column
    name to a SQL expression over the old row — are appended as NEW
    data files in the SAME commit, exactly how DV-enabled engines run
    UPDATE. NULL-condition rows are untouched (three-valued UPDATE);
    prior versions stay time-travelable. Reference surface: the
    reference reads such tables through deltalake
    (daft/io/delta_lake/_deltalake.py:22); the commit layout follows
    the public Delta PROTOCOL.md deletion-vector rules."""
    from pyspark.sql import functions as F

    snap = _snapshot(path)
    _gate_column_mapping(snap)
    schema = StructType.fromJson(json.loads(snap.schema_json))
    if not snap.adds:
        return
    bad = set(set_exprs) - {f.name for f in schema.fields}
    if bad:
        raise ValueError(f"SET columns not in table schema: {sorted(bad)}")
    t = _dml_scan(spark, path, snap)
    matched = t.filter(F.expr(condition).eqNullSafe(F.lit(True)))
    by_file = _dv_write_distributed(matched, path, snap.adds)
    if not by_file:
        return
    # one select: every SET expression reads the old row
    updated = matched.select(
        *[
            F.expr(set_exprs[f.name]).cast(f.dataType).alias(f.name)
            if f.name in set_exprs
            else F.col(f.name)
            for f in schema.fields
        ]
    )
    # Stage the rewritten rows exactly like write_deltalake_py does
    # (hive layout when partitioned), producing the commit's add actions.
    new_adds = _stage_data_files(
        updated, path, snap.version + 1, snap.partition_cols, int(time.time() * 1000)
    )
    if _cdf_enabled(snap.configuration):
        # pre/post images as explicit cdc actions (delta-spark's UPDATE
        # on CDF tables) — see delete_deltalake_dv_py for why DV commits
        # can't serve change feeds from add/remove reconstruction.
        pre = matched.drop("__fp", "__pos").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = updated.withColumn("_change_type", F.lit("update_postimage"))
        new_adds = new_adds + _write_cdc_file(
            path, pre.unionByName(post), snap.partition_cols
        )
    _dv_commit(path, snap, by_file, new_adds, "UPDATE", condition)


def last_txn_version(path: str, app_id: str) -> int:
    """Highest ``txn`` action version committed for ``app_id`` (-1 when
    none) — the Delta protocol's application-transaction mechanism for
    idempotent writers (PROTOCOL.md "Transaction Identifiers"), read
    from the latest snapshot (checkpoint of any layout + later JSON
    commits)."""
    if not _table_versions(path):
        return -1
    return _snapshot(path).txns.get(app_id, -1)


def _stage_data_files(
    df: DataFrame,
    path: str,
    version: int,
    partition_by: list[str],
    now_ms: int,
) -> list[dict]:
    """Stage ``df`` as data files under unique names in the table root
    (Delta data files are immutable and never share names across
    commits) and return their add actions. Hive layout when
    ``partition_by`` is set, with the partition columns dropped from
    the files and carried in each add's partitionValues, per the spec."""
    staged = stage_files(
        df,
        path,
        partition_by,
        lambda rel_dir, _values: os.path.join(
            path, rel_dir, f"part-{version:05d}-{uuid.uuid4().hex}.parquet"
        ),
    )
    return [_add_action(path, dst, pvals, now_ms) for dst, pvals in staged]


def _add_action(
    path: str, dst: str, pvals: dict, now_ms: int, data_change: bool = True
) -> dict:
    """The add action of the data file ``dst``, with the per-file stats
    data skipping reads (delta-spark writes these by default) — a
    conservative footer lift that never blocks the write."""
    add = {
        "path": os.path.relpath(dst, path),
        "partitionValues": pvals,
        "size": os.path.getsize(dst),
        "modificationTime": now_ms,
        "dataChange": data_change,
    }
    st = _file_stats_json(dst)
    if st:
        add["stats"] = st
    return {"add": add}


def _cow_commit(
    path: str,
    snap: _Snapshot,
    affected_abs: list[str],
    rewritten: DataFrame | None,
    op: str,
    params: dict,
    extra_actions: list[dict] | None,
) -> None:
    """File-granular copy-on-write commit: retire ONLY the affected
    files, stage their surviving/updated rows (plus any merge-inserted
    rows) as new files, and carry every other add action forward
    untouched via log replay — at scale a DML statement touching 0.1%
    of a table's files rewrites 0.1% of the table, not all of it.
    Zero-row staged files are dropped. A no-op statement still commits
    (commitInfo-only), matching delta-spark's version-per-statement
    behavior."""
    import pyarrow.parquet as pq

    now_ms = int(time.time() * 1000)
    add_actions: list[dict] = []
    if rewritten is not None:
        staged = _stage_data_files(
            rewritten, path, snap.version + 1, snap.partition_cols, now_ms
        )
        for a in staged:
            dst = os.path.join(path, a["add"]["path"])
            if pq.ParquetFile(dst).metadata.num_rows == 0:
                os.remove(dst)
                continue
            add_actions.append(a)
    abs_to_rel = {_abs_path(path, rel): rel for rel in snap.adds}
    actions: list[dict] = [
        {
            "remove": {
                "path": abs_to_rel[fp],
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
        }
        for fp in sorted(affected_abs)
    ]
    actions.extend(add_actions)
    actions.extend(extra_actions or [])
    _commit(path, snap, actions, op, params)


def write_deltalake_py(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    checkpoint_interval: int = 10,
    txn: tuple[str, int] | None = None,
    _extra_actions: list[dict] | None = None,
) -> None:
    """Write ``df`` as a Delta commit: parquet data files + one atomic
    JSON log entry. Modes: append, overwrite, error, ignore.
    ``partition_by`` writes hive-layout partitioned data files with
    the partition columns recorded in partitionValues (and dropped from
    the files, per the spec). Every ``checkpoint_interval`` commits a
    classic single-file parquet checkpoint + _last_checkpoint is
    emitted so the JSON prefix of the log becomes vacuumable.
    ``txn=(app_id, version)`` stamps the commit with a transaction
    identifier (PROTOCOL.md) and SKIPS the write when that version is
    already committed — the idempotence contract streaming sinks replay
    on (see streaming.write_stream_delta)."""
    if mode not in ("append", "overwrite", "error", "ignore"):
        raise ValueError(f"unsupported mode {mode!r}")
    snap = _snapshot(path) if _table_versions(path) else None
    if txn is not None and snap is not None:
        if snap.txns.get(str(txn[0]), -1) >= int(txn[1]):
            return  # already committed (replayed micro-batch)
    if snap is not None and mode == "error":
        raise FileExistsError(f"Delta table already exists at {path}")
    if snap is not None and mode == "ignore":
        return
    partition_by = list(partition_by or [])
    prior_cfg: dict = {}
    if snap is not None:
        from pyspark.sql import functions as F

        prior_cfg = snap.configuration
        table_cols = [f["name"] for f in json.loads(snap.schema_json)["fields"]]
        map_mode, l2p, _p2l = _mapping_info(snap.schema_json, prior_cfg)
        if map_mode is not None:
            # column-mapped tables: stage files under PHYSICAL names and
            # key partitionValues by them (PROTOCOL.md column-mapping
            # writer requirements); the logical schema stays in metaData
            if mode == "overwrite":
                raise NotImplementedError(
                    "overwrite of a column-mapped Delta table is not supported"
                )
            if sorted(df.columns) != sorted(table_cols):
                raise ValueError(
                    f"append columns {sorted(df.columns)} do not match the "
                    f"mapped table schema {sorted(table_cols)} — evolve it first "
                    "(evolve_delta_schema)"
                )
            df = df.select(*[F.col(c).alias(l2p[c]) for c in table_cols])
            partition_by = [l2p.get(c, c) for c in partition_by]
        if mode == "append" and snap.partition_cols != partition_by:
            raise ValueError(
                f"partition columns {partition_by} do not match the table's "
                f"existing partitioning {snap.partition_cols}"
            )
        if mode == "append" and map_mode is None:
            # Delta schema enforcement: extra columns are rejected
            # (delta-spark raises unless mergeSchema; silently dropping
            # them on the pinned-schema read would lose data). Missing
            # columns are fine — the reader fills nulls, the spec's
            # nullable-column semantics.
            extra = [c for c in df.columns if c not in table_cols]
            if extra:
                raise ValueError(
                    f"append columns {extra} are not in the table schema "
                    f"{sorted(table_cols)}; overwrite to change the schema"
                )

    now_ms = int(time.time() * 1000)
    version = 0 if snap is None else snap.version + 1
    adds = _stage_data_files(df, path, version, partition_by, now_ms)

    actions: list[dict] = []
    if snap is None:
        actions.append({"protocol": dict(_MAX_SUPPORTED)})
    if snap is None or mode == "overwrite":
        # table properties (CDF flag etc.) survive overwrites
        actions.append(_metadata_action(snap, df.schema.json(), partition_by, prior_cfg))
    if snap is not None and mode == "overwrite":
        actions.extend(
            {"remove": {"path": rel, "deletionTimestamp": now_ms, "dataChange": True}}
            for rel in snap.adds
        )
    actions.extend(adds)
    if _extra_actions:
        actions.extend(_extra_actions)  # e.g. cdc actions (same commit)
    if txn is not None:
        actions.append(
            {
                "txn": {
                    "appId": str(txn[0]),
                    "version": int(txn[1]),
                    "lastUpdated": now_ms,
                }
            }
        )
    _commit(path, snap, actions, "WRITE", {"mode": mode}, checkpoint_interval)


def _write_checkpoint(table_path: str, version: int) -> None:
    """Materialize the replayed state at ``version`` as a classic
    single-file parquet checkpoint + _last_checkpoint pointer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = _snapshot(table_path, version)
    protocol = snap.protocol
    ck_protocol = {
        "minReaderVersion": protocol.get("minReaderVersion", 1),
        "minWriterVersion": protocol.get("minWriterVersion", 2),
        "readerFeatures": protocol.get("readerFeatures"),
        "writerFeatures": protocol.get("writerFeatures"),
    }
    rows: list[dict] = [
        {"protocol": ck_protocol, "metaData": None, "add": None},
        {
            "protocol": None,
            **_metadata_action(
                snap, snap.schema_json, snap.partition_cols, snap.configuration
            ),
            "add": None,
        },
    ]
    for rel, add in snap.adds.items():
        # deletionVector rides along per the spec's checkpoint add
        # schema — without it a checkpointed replay would resurrect
        # DV-deleted rows (this writer used to SKIP checkpoints while
        # DVs were active, which let the JSON log grow unboundedly on
        # tables with long-lived DVs)
        dv = add.get("deletionVector")
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": {
                    "path": rel,
                    "partitionValues": add.get("partitionValues") or {},
                    "size": int(add.get("size", 0)),
                    "modificationTime": int(add.get("modificationTime", 0)),
                    "dataChange": True,
                    "stats": add.get("stats"),
                    "deletionVector": (
                        {
                            "storageType": dv["storageType"],
                            "pathOrInlineDv": dv["pathOrInlineDv"],
                            "offset": dv.get("offset"),
                            "sizeInBytes": int(dv.get("sizeInBytes", 0)),
                            "cardinality": int(dv.get("cardinality", 0)),
                        }
                        if dv
                        else None
                    ),
                },
            }
        )
    # spec: a checkpoint must carry the newest txn action per appId,
    # or idempotent writers lose their watermark once the JSON prefix
    # is vacuumed
    for app_id, txn_version in sorted(snap.txns.items()):
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": None,
                "txn": {"appId": app_id, "version": txn_version},
            }
        )
    # dict-valued fields are MAP<string,string> in real Delta checkpoints
    # (an empty plain struct is also unwritable to parquet)
    map_ss = pa.map_(pa.string(), pa.string())
    ck_schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string()), ("options", map_ss)])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", map_ss),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", map_ss),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        # the JSON string form (PROTOCOL.md: checkpoint
                        # add.stats), so pruning survives a checkpoint
                        ("stats", pa.string()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
        ]
    )
    out = os.path.join(_log_path(table_path), f"{version:020d}.checkpoint.parquet")
    tmp = out + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(pa.Table.from_pylist(rows, schema=ck_schema), tmp)
    os.rename(tmp, out)
    last = os.path.join(_log_path(table_path), "_last_checkpoint")
    tmp = last + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)
    os.rename(tmp, last)


def _gate_column_mapping(snap: _Snapshot) -> None:
    if _mapping_info(snap.schema_json, snap.configuration)[0] is not None:
        raise NotImplementedError(
            "DML on a column-mapped Delta table is not supported by this "
            "pure-Python writer (read/append/schema evolution only)"
        )


def set_column_mapping_delta_py(path: str, mode: str = "name") -> None:
    """Enable COLUMN MAPPING on an existing table (Delta PROTOCOL.md
    §Column Mapping) in one commit: the protocol upgrades to the legacy
    columnMapping versions (minReader 2 / minWriter 5 — or keeps the
    feature lists and adds ``columnMapping`` when the table already
    uses table features), and metaData is rewritten with every
    top-level field annotated with ``delta.columnMapping.id`` +
    ``physicalName``. Existing columns keep their current name as the
    physical name — the delta-spark upgrade convention, so existing
    data files stay readable without rewrite; columns added later mint
    ``col-<uuid>`` physical names. ``partitionColumns`` values are the
    physical names (the log tracks partition values by physical name).
    Reference reads mapped tables through delta-rs
    (daft/io/delta_lake/_deltalake.py)."""
    if mode not in ("name", "id"):
        raise ValueError(f"unsupported column mapping mode {mode!r}")
    snap = _snapshot(path)
    schema_json, cfg, proto = snap.schema_json, snap.configuration, snap.protocol
    if _mapping_info(schema_json, cfg)[0] is not None:
        return  # already enabled
    fields = json.loads(schema_json)["fields"]
    out_fields = []
    for i, f in enumerate(fields):
        if not isinstance(f.get("type"), str):
            raise NotImplementedError(
                "column mapping over nested columns is not supported"
            )
        md = dict(f.get("metadata") or {})
        md["delta.columnMapping.id"] = i + 1
        md["delta.columnMapping.physicalName"] = f["name"]
        out_fields.append(dict(f, metadata=md))
    new_cfg = dict(cfg)
    new_cfg["delta.columnMapping.mode"] = mode
    new_cfg["delta.columnMapping.maxColumnId"] = str(len(fields))
    new_proto = {
        "minReaderVersion": max(2, proto.get("minReaderVersion", 1)),
        "minWriterVersion": max(5, proto.get("minWriterVersion", 2)),
    }
    if proto.get("readerFeatures") is not None or proto.get("writerFeatures") is not None:
        # feature-list protocol (3,7): add columnMapping to both lists
        new_proto["minReaderVersion"] = max(3, new_proto["minReaderVersion"])
        new_proto["minWriterVersion"] = max(7, new_proto["minWriterVersion"])
        new_proto["readerFeatures"] = sorted(
            set(proto.get("readerFeatures") or []) | {"columnMapping"}
        )
        new_proto["writerFeatures"] = sorted(
            set(proto.get("writerFeatures") or []) | {"columnMapping"}
        )
    _commit(
        path,
        snap,
        [
            {"protocol": new_proto},
            _metadata_action(
                snap,
                json.dumps({"type": "struct", "fields": out_fields}),
                snap.partition_cols,
                new_cfg,
            ),
        ],
        "UPGRADE COLUMN MAPPING",
    )


def evolve_delta_schema(
    path: str,
    *,
    renames: dict[str, str] | None = None,
    add_columns: list[tuple[str, str]] | None = None,
    drop_columns: list[str] | None = None,
) -> None:
    """Metadata-only Delta schema evolution — the rename/add/drop
    operations PROTOCOL.md permits once column mapping is enabled
    (set_column_mapping_delta_py). Renames and drops change LOGICAL
    names only: physical names and mapping ids in the data files never
    change, so old files keep resolving (the Delta analogue of
    evolve_iceberg_schema's field-id contract). ``add_columns`` take
    Delta JSON type strings ("long", "string", "double", ...) and mint
    ids above maxColumnId with fresh col-<uuid> physical names — old
    files read them as null."""
    renames = dict(renames or {})
    add_columns = list(add_columns or [])
    drop_columns = list(drop_columns or [])
    snap = _snapshot(path)
    cfg = snap.configuration
    mode, _l2p, _p2l = _mapping_info(snap.schema_json, cfg)
    if mode is None:
        raise NotImplementedError(
            "Delta schema evolution requires column mapping "
            "(set_column_mapping_delta_py)"
        )
    fields = [dict(f) for f in json.loads(snap.schema_json)["fields"]]
    names = {f["name"] for f in fields}
    for old, new in renames.items():
        if old not in names:
            raise ValueError(f"rename source column {old!r} not in schema")
        if new in names and new != old:
            raise ValueError(f"rename target column {new!r} already exists")
    part_phys = set(snap.partition_cols)
    for c in drop_columns:
        f = next((f for f in fields if f["name"] == c), None)
        if f is None:
            raise ValueError(f"drop column {c!r} not in schema")
        if (f.get("metadata") or {}).get("delta.columnMapping.physicalName", c) in part_phys:
            raise ValueError(f"cannot drop partition column {c!r}")
    out_fields = []
    for f in fields:
        if f["name"] in drop_columns:
            continue
        if f["name"] in renames:
            f = dict(f, name=renames[f["name"]])
        out_fields.append(f)
    max_id = int(cfg.get("delta.columnMapping.maxColumnId", len(fields)))
    existing = {f["name"] for f in out_fields}
    for name, type_str in add_columns:
        if name in existing:
            raise ValueError(f"add column {name!r} already exists")
        max_id += 1
        out_fields.append(
            {
                "name": name,
                "type": type_str,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": max_id,
                    "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
                },
            }
        )
        existing.add(name)
    new_cfg = dict(cfg)
    new_cfg["delta.columnMapping.maxColumnId"] = str(max_id)
    schema_json = json.dumps({"type": "struct", "fields": out_fields})
    _commit(
        path,
        snap,
        [_metadata_action(snap, schema_json, snap.partition_cols, new_cfg)],
        "CHANGE COLUMN",
    )


def optimize_deltalake_py(
    path: str, spark: SparkSession, target_file_bytes: int = 128 * 1024 * 1024
) -> dict:
    """OPTIMIZE (bin-packing compaction): per partition, data files
    smaller than ``target_file_bytes`` are greedily binned up to the
    target and each bin of 2+ files is rewritten as ONE file. The
    commit retires the bin's files and adds the replacement with
    ``dataChange=false`` on BOTH actions — the Delta contract that
    tells streaming sources the commit rearranges existing rows rather
    than changing data (io/delta_source.py skips such commits).
    Files carrying deletion vectors are materialized on the way
    (tombstoned rows dropped, the replacement file has no DV) — the
    compaction that retires DV debt. Returns {"removed": n, "added": m}.
    The reference has no OPTIMIZE (delta-rs exposes it out-of-band);
    this follows PROTOCOL.md's dataChange semantics.

    Scale note: each bin is rewritten by a Spark job over just that
    bin's files; the driver only carries file metadata."""
    snap = _snapshot(path)
    # Pin each bin read to the table's PHYSICAL file schema: files
    # written before a schema evolution lack later columns, and an
    # unpinned multi-file read would adopt one file's schema and
    # silently drop the others' columns from the rewrite.
    _mode, l2p, p2l = _mapping_info(snap.schema_json, snap.configuration)
    part_logical = {p2l.get(c, c) for c in snap.partition_cols}
    file_schema = StructType(
        [
            StructField(l2p.get(f.name, f.name), f.dataType, True)
            for f in StructType.fromJson(json.loads(snap.schema_json)).fields
            if f.name not in part_logical  # not in the data files
        ]
    )
    by_part: dict[tuple, list[tuple[str, dict]]] = {}
    for rel, add in snap.adds.items():
        if int(add.get("size") or 0) >= target_file_bytes:
            continue
        pv = add.get("partitionValues") or {}
        by_part.setdefault(tuple(sorted(pv.items())), []).append((rel, add))
    bins: list[list[tuple[str, dict]]] = []
    for _pv, files in sorted(by_part.items()):
        cur: list[tuple[str, dict]] = []
        cur_sz = 0
        for rel, add in sorted(files):
            sz = int(add.get("size") or 0)
            if cur and cur_sz + sz > target_file_bytes:
                bins.append(cur)
                cur, cur_sz = [], 0
            cur.append((rel, add))
            cur_sz += sz
        bins.append(cur)
    bins = [b for b in bins if len(b) >= 2]
    if not bins:
        return {"removed": 0, "added": 0}

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    removed = added = 0
    for bin_files in bins:
        # file-level rewrite: physical columns, DVs applied, no
        # partition restore (the bin shares one partition directory)
        scan = _scan(spark, path, dict(bin_files), file_schema, [])
        part_dir = os.path.dirname(bin_files[0][0])
        [(dst, _)] = stage_files(
            scan.coalesce(1),
            path,
            [],
            lambda *_: os.path.join(
                path, part_dir, f"part-opt-{uuid.uuid4().hex}.parquet"
            ),
        )
        for rel, _a in bin_files:
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": False,
                    }
                }
            )
            removed += 1
        actions.append(
            _add_action(
                path,
                dst,
                bin_files[0][1].get("partitionValues") or {},
                now_ms,
                data_change=False,
            )
        )
        added += 1
    _commit(path, snap, actions, "OPTIMIZE", {"targetSize": str(target_file_bytes)})
    return {"removed": removed, "added": added}


def vacuum_deltalake_py(
    path: str, retention_ms: int = 7 * 24 * 3600 * 1000, dry_run: bool = False
) -> list[str]:
    """VACUUM: physically delete data files no longer referenced by the
    CURRENT table version whose tombstone (remove.deletionTimestamp,
    falling back to file mtime for untracked orphans) is older than
    ``retention_ms`` — the Delta maintenance op that actually reclaims
    storage after OPTIMIZE/DELETE/overwrite. Time travel to versions
    needing the removed files breaks afterwards, exactly the documented
    VACUUM trade-off. DV files referenced by live adds survive. Returns
    the deleted (or would-delete, with ``dry_run``) relative paths."""
    live = set(_snapshot(path).adds)
    removed_at: dict[str, int] = {}
    for v in _list_versions(path):
        for action in _commit_actions_at(path, v):
            if "remove" in action:
                removed_at[action["remove"]["path"]] = int(
                    action["remove"].get("deletionTimestamp") or 0
                )
    now_ms = int(time.time() * 1000)
    out: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != _LOG_DIR and not d.startswith(STAGING_PREFIX)]
        for f in files:
            if not f.endswith(".parquet"):
                continue  # DV .bin files etc. are never vacuum targets
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            if rel in live:
                continue
            cutoff = removed_at.get(rel, int(os.path.getmtime(full) * 1000))
            if now_ms - cutoff < retention_ms:
                continue
            out.append(rel)
            if not dry_run:
                os.remove(full)
    return sorted(out)


def delete_deltalake_py(path: str, spark: SparkSession, condition: str) -> None:
    """Copy-on-write DELETE, file-granular: pass 1 scans the table and
    collects the FILES containing rows where ``condition`` IS TRUE;
    pass 2 rewrites ONLY those files without the matched rows (merging
    away any deletion vectors on them). Untouched data files stay
    byte-identical and their add actions carry forward via log replay —
    at 100× a DELETE matching 0.1% of files rewrites 0.1% of the table.
    NULL-condition rows survive (SQL three-valued DELETE keeps rows
    where the predicate is not TRUE). Prior versions stay
    time-travelable."""
    from pyspark.sql import functions as F

    snap = _snapshot(path)
    _gate_column_mapping(snap)
    params = {"predicate": condition}
    t = _dml_scan(spark, path, snap)
    cond = F.expr(condition).eqNullSafe(F.lit(True))
    affected = (
        []
        if t is None
        else sorted(
            r["__fp"] for r in t.filter(cond).select("__fp").distinct().collect()
        )
    )
    if not affected:
        _cow_commit(path, snap, [], None, "DELETE", params, None)
        return
    aff = _dml_scan(spark, path, snap, _affected_adds(path, snap.adds, affected))
    surviving = aff.filter(~cond).drop("__fp", "__pos")
    extra = None
    if _cdf_enabled(snap.configuration):
        deleted = (
            aff.filter(cond)
            .drop("__fp", "__pos")
            .withColumn("_change_type", F.lit("delete"))
        )
        extra = _write_cdc_file(path, deleted, snap.partition_cols)
    _cow_commit(path, snap, affected, surviving, "DELETE", params, extra)


def update_deltalake_py(
    path: str, spark: SparkSession, set_exprs: dict, condition: str = "true"
) -> None:
    """Copy-on-write UPDATE, file-granular: pass 1 collects the FILES
    containing rows matching ``condition``; pass 2 rewrites ONLY those
    files with each ``set_exprs`` column replaced by its SQL expression
    (evaluated against the pre-update row) on the matching rows.
    Untouched data files stay byte-identical and their add actions
    carry forward. Prior versions stay time-travelable."""
    from pyspark.sql import functions as F

    snap = _snapshot(path)
    _gate_column_mapping(snap)
    params = {"predicate": condition}
    tcols = [f["name"] for f in json.loads(snap.schema_json)["fields"]]
    # metaData is NOT rewritten by a file-granular commit, so SET
    # expressions must land in the table's declared column types
    ttypes = {
        f.name: f.dataType
        for f in StructType.fromJson(json.loads(snap.schema_json)).fields
    }
    for c in set_exprs:
        if c not in tcols:
            raise ValueError(f"update target column {c!r} not in table schema")
    t = _dml_scan(spark, path, snap)
    cond = F.expr(condition).eqNullSafe(F.lit(True))
    affected = (
        []
        if t is None
        else sorted(
            r["__fp"] for r in t.filter(cond).select("__fp").distinct().collect()
        )
    )
    if not affected:
        _cow_commit(path, snap, [], None, "UPDATE", params, None)
        return
    aff = _dml_scan(spark, path, snap, _affected_adds(path, snap.adds, affected))
    updated = aff.select(
        *[
            F.when(cond, F.expr(str(set_exprs[c])).cast(ttypes[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else F.col(c)
            for c in tcols
        ]
    )
    extra = None
    if _cdf_enabled(snap.configuration):
        pre = (
            aff.filter(cond)
            .select(*tcols)
            .withColumn("_change_type", F.lit("update_preimage"))
        )
        post = aff.filter(cond).select(
            *[
                F.expr(str(set_exprs[c])).cast(ttypes[c]).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in tcols
            ]
        ).withColumn("_change_type", F.lit("update_postimage"))
        extra = _write_cdc_file(path, pre.unionAll(post), snap.partition_cols)
    _cow_commit(path, snap, affected, updated, "UPDATE", params, extra)


# ---------------------------------------------------------------------------
# Change Data Feed (PROTOCOL.md §Add CDC File / Change Data Files)


def _cdf_enabled(cfg: dict) -> bool:
    return str((cfg or {}).get("delta.enableChangeDataFeed", "")).lower() == "true"


def restore_deltalake_py(path: str, version: int) -> None:
    """RESTORE TABLE ... TO VERSION AS OF ``version`` (delta-spark's
    RESTORE): ONE metadata commit whose remove/add actions flip the
    current file set back to the target version's — data files still
    on disk are re-referenced, never rewritten or copied, so a restore
    of a 100 TB table moves zero data. The target version's metaData
    (schema, partitioning, configuration) is restated when it differs.
    History is preserved: the restore is a NEW version on top, and the
    versions in between stay time-travelable. Restoring past a VACUUM
    that deleted the target's files fails on read — the documented
    trade-off delta-spark shares."""
    target = _snapshot(path, version)
    cur = _snapshot(path)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    # configuration is metadata too: a restore past enable_cdf (or any
    # SET TBLPROPERTIES) must bring the target version's properties
    # back, exactly as delta-spark's RESTORE does
    if (target.schema_json, target.partition_cols, target.configuration) != (
        cur.schema_json,
        cur.partition_cols,
        cur.configuration,
    ):
        actions.append(
            _metadata_action(
                cur, target.schema_json, target.partition_cols, target.configuration
            )
        )

    def _identity(add: dict) -> tuple:
        # stable across replay representations: JSON adds keep
        # dataChange/stats keys, checkpoint-replayed adds are trimmed —
        # compare only what defines the file's live content
        dv = add.get("deletionVector") or {}
        return (
            add.get("size"),
            dv.get("pathOrInlineDv"),
            dv.get("offset"),
            dv.get("cardinality"),
        )

    for rel in cur.adds:
        if rel not in target.adds:
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    for rel, add in target.adds.items():
        if rel not in cur.adds or _identity(cur.adds[rel]) != _identity(add):
            restored = dict(add)
            restored["modificationTime"] = now_ms
            restored["dataChange"] = True
            actions.append({"add": restored})
    _commit(path, cur, actions, "RESTORE", {"version": str(version)})


def enable_cdf_delta_py(path: str) -> None:
    """Enable the CHANGE DATA FEED on an existing table: one
    metadata-only commit setting ``delta.enableChangeDataFeed=true``
    and raising minWriterVersion to 4 (the legacy changeDataFeed writer
    version; feature-list tables get the ``changeDataFeed`` writer
    feature instead). From then on DML commits carry explicit ``cdc``
    actions under ``_change_data/`` and ``table_changes_delta_py``
    serves per-version row-level changes."""
    snap = _snapshot(path)
    proto = snap.protocol
    if _cdf_enabled(snap.configuration):
        return
    new_cfg = dict(snap.configuration)
    new_cfg["delta.enableChangeDataFeed"] = "true"
    new_proto = dict(proto)
    if proto.get("writerFeatures") is not None:
        new_proto["writerFeatures"] = sorted(
            set(proto["writerFeatures"]) | {"changeDataFeed"}
        )
    else:
        new_proto["minWriterVersion"] = max(4, proto.get("minWriterVersion", 2))
    _commit(
        path,
        snap,
        [
            {"protocol": new_proto},
            _metadata_action(snap, snap.schema_json, snap.partition_cols, new_cfg),
        ],
        "SET TBLPROPERTIES",
    )


def _write_cdc_file(path: str, cdc_df: DataFrame, partition_cols: list[str]) -> list[dict]:
    """Stage change-data parquet files (table columns + _change_type)
    under _change_data/ and return their ``cdc`` actions
    (dataChange=false — CDC rows restate a change, they are not new
    data). Partitioned tables follow the data-file rules: hive-layout
    dirs under _change_data/, partition columns dropped from the files
    and carried in each action's partitionValues."""
    staged = stage_files(
        cdc_df.coalesce(1),
        path,
        partition_cols,
        lambda rel_dir, _values: os.path.join(
            path, "_change_data", rel_dir, f"cdc-{uuid.uuid4().hex}.parquet"
        ),
    )
    os.makedirs(os.path.join(path, "_change_data"), exist_ok=True)
    return [
        {
            "cdc": {
                "path": os.path.relpath(dst, path),
                "partitionValues": pvals,
                "size": os.path.getsize(dst),
                "dataChange": False,
            }
        }
        for dst, pvals in staged
    ]


def _commit_changes(
    path: str, version: int, partition_cols: list[str]
) -> tuple[int, list[tuple]]:
    """The row-level changes of JSON commit ``version``: (commit
    timestamp, [(kind, rel, partitionValues, deletionVector|None,
    keep_positions|None)]) with kind 'cdc' (the file carries
    _change_type), 'insert' or 'delete' — the change data feed's
    per-commit planning, shared by table_changes_delta_py and the
    streaming CDF source. Per the spec's reader rules a commit WITH cdc
    actions serves exactly those files; a cdc-less commit reconstructs:
    dataChange adds are inserts, dataChange removes are deletes (read
    from the still-on-disk retired files, the reason VACUUM retention
    exists), and dataChange=false commits (OPTIMIZE) change nothing.

    Reconstruction is DV-aware. A file re-added in place (a RESTORE
    re-adds an identity-changed file with NO remove action; DV DML
    before the feed was enabled pairs a remove with a re-add) changes
    by its DV DIFF against the prior state: positions deleted before
    but not after resurface as inserts, positions deleted after but
    not before become deletes — exactly those ordinals, never
    whole-file churn. Plain appends skip the prior-state replay."""
    cdc, adds, removes = [], [], []
    ts, op = 0, ""
    for action in _commit_actions_at(path, version):
        if "cdc" in action:
            cdc.append((action["cdc"]["path"], action["cdc"].get("partitionValues")))
        elif "add" in action and action["add"].get("dataChange", True):
            a = action["add"]
            adds.append((a["path"], a.get("partitionValues"), a.get("deletionVector")))
        elif "remove" in action and action["remove"].get("dataChange", True):
            r = action["remove"]
            removes.append((r["path"], r.get("partitionValues"), r.get("deletionVector")))
        elif "commitInfo" in action:
            ts = int(action["commitInfo"].get("timestamp") or 0)
            op = str(action["commitInfo"].get("operation") or "")
    if cdc:
        return ts, [("cdc", rel, pv or {}, None, None) for rel, pv in cdc]
    need_prior = version > 0 and (
        bool(removes) or any(dv for _r, _pv, dv in adds) or op.upper() == "RESTORE"
    )
    prior_adds = _snapshot(path, version - 1).adds if need_prior else {}
    out: list[tuple] = []
    for rel, pv, dv in adds:
        prior = prior_adds.get(rel)
        if prior is None:
            # new (or resurfacing) file: its visible content inserts,
            # MoR-applying any DV it carries
            out.append(("insert", rel, pv or {}, dv, None))
            continue
        old_dv = prior.get("deletionVector")
        old_pos = set(_dv_read(path, old_dv)) if old_dv else set()
        new_pos = set(_dv_read(path, dv)) if dv else set()
        if old_pos - new_pos:
            out.append(("insert", rel, pv or {}, None, sorted(old_pos - new_pos)))
        if new_pos - old_pos:
            out.append(("delete", rel, pv or {}, None, sorted(new_pos - old_pos)))
    add_rels = {rel for rel, _pv, _dv in adds}
    for rel, pv, dv in removes:
        if rel in add_rels:
            continue  # in-place edit: covered by the DV diff above
        if not os.path.exists(os.path.join(path, rel)):
            raise FileNotFoundError(
                f"change feed at version {version} needs vacuumed file {rel!r}"
            )
        # remove actions may omit partitionValues and (in this writer)
        # never carry the retired file's deletionVector; recover both
        # from the prior state so deletes reflect the rows that were
        # actually visible
        prior = prior_adds.get(rel)
        if prior is None and pv is None and partition_cols:
            raise ValueError(
                f"change feed at version {version}: removed file "
                f"{rel!r} not present at version {version - 1}"
            )
        if prior is not None:
            if dv is None:
                dv = prior.get("deletionVector")
            if pv is None:
                pv = prior.get("partitionValues")
        out.append(("delete", rel, pv or {}, dv, None))
    return ts, out


def table_changes_delta_py(
    path: str,
    spark: SparkSession,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED read (the readChangeFeed/table_changes surface):
    row-level changes between two versions (inclusive), each stamped
    with _change_type / _commit_version / _commit_timestamp, planned
    per commit by _commit_changes. Requires
    delta.enableChangeDataFeed=true."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType

    snap = _snapshot(path)
    if not _cdf_enabled(snap.configuration):
        raise ValueError(
            "change data feed is not enabled on this table "
            "(enable_cdf_delta_py / delta.enableChangeDataFeed)"
        )
    # column-mapped tables: files and partitionValues use physical names
    _mode, l2p, p2l = _mapping_info(snap.schema_json, snap.configuration)
    partition_cols = [p2l.get(c, c) for c in snap.partition_cols]
    schema = StructType.fromJson(json.loads(snap.schema_json))
    cdc_schema = StructType(
        list(schema.fields) + [StructField("_change_type", StringType())]
    )
    cdc_cols = [f.name for f in cdc_schema.fields]

    def _restore(entries, change_type=None):
        """[(rel, pvals, dv_desc|None, keep_positions|None)] ->
        DataFrame in cdc_schema column order. Partitioned tables: data
        AND cdc files omit the partition columns (spec: cdc files follow
        the data-file rules); _scan restores them from partitionValues.
        Files carrying a deletion-vector descriptor are read MoR-style;
        entries with an explicit keep_positions list instead SELECT
        exactly those row ordinals (the DV-diff reconstruction of an
        in-place re-add)."""
        adds = {
            rel: {"partitionValues": pv or {}, "deletionVector": dv}
            for rel, pv, dv, _keep in entries
        }
        keep = {rel: ks for rel, _pv, _dv, ks in entries if ks is not None}
        if change_type is None:  # cdc files carry _change_type
            return _scan(
                spark, path, adds, cdc_schema, partition_cols, l2p=l2p, keep=keep
            )
        df = _scan(spark, path, adds, schema, partition_cols, l2p=l2p, keep=keep)
        return df.withColumn("_change_type", F.lit(change_type)).select(*cdc_cols)

    versions = [
        v for v in _list_versions(path)
        if v >= starting_version and (ending_version is None or v <= ending_version)
    ]
    parts = []
    for v in versions:
        ts, changes = _commit_changes(path, v, partition_cols)
        if not changes:
            continue
        pieces = []
        for kind in ("cdc", "insert", "delete"):
            entries = [c[1:] for c in changes if c[0] == kind]
            if entries:
                pieces.append(_restore(entries, None if kind == "cdc" else kind))
        df = pieces[0]
        for p_ in pieces[1:]:
            df = df.unionAll(p_)
        parts.append(
            df.withColumn("_commit_version", F.lit(v).cast("long"))
            .withColumn("_commit_timestamp", F.lit(ts).cast("long"))
        )
    if not parts:
        return spark.createDataFrame(
            [],
            StructType(
                list(cdc_schema.fields)
                + [
                    StructField("_commit_version", LongType()),
                    StructField("_commit_timestamp", LongType()),
                ]
            ),
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionAll(p_)
    return out


def merge_deltalake_py(
    path: str,
    spark: SparkSession,
    source: DataFrame,
    on: str,
    *,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: bool | str = False,
    when_not_matched_insert: bool | dict[str, str] = True,
) -> None:
    """MERGE INTO (the Delta upsert statement), copy-on-write. ``on``
    is a SQL condition over aliases ``t`` (target) and ``s`` (source);
    matched target rows are deleted when ``when_matched_delete`` (True,
    or a SQL condition over t/s) fires, else updated per
    ``when_matched_update`` (column -> SQL expr over t/s); unmatched
    source rows are inserted (``when_not_matched_insert``: True inserts
    the source's target-schema columns, a dict maps target column ->
    expr over s). Unmatched target rows pass through. Like Delta, a
    target row matching MULTIPLE source rows is an error (the
    nondeterministic-merge guard). One commit; with the change data
    feed enabled it carries exact cdc rows (delete / update pre+post /
    insert). Prior versions stay time-travelable.

    FILE-GRANULAR copy-on-write (delta-spark's two-pass shape): pass 1
    inner-joins target and source and folds per-(file, row) match
    counts to ONE driver row per file containing a fired matched
    clause; pass 2 rewrites only those files (left-joining the source
    back for the per-row update/delete) plus new files for the
    inserts. Every untouched data file stays byte-identical and its
    add action carries forward via log replay."""
    from pyspark.sql import functions as F

    snap = _snapshot(path)
    _gate_column_mapping(snap)
    tcols = [f["name"] for f in json.loads(snap.schema_json)["fields"]]
    t = _dml_scan(spark, path, snap)
    s = source.withColumn("__smatch", F.lit(1)).alias("s")
    cond = F.expr(on)
    if when_matched_delete is True:
        del_cond = F.lit(True)
    elif when_matched_delete:
        del_cond = F.expr(str(when_matched_delete)).eqNullSafe(F.lit(True))
    else:
        del_cond = F.lit(False)

    def tgt(c):
        return F.col(f"t.{c}")

    upd = dict(when_matched_update or {})
    bad = set(upd) - set(tcols)
    if bad:
        raise ValueError(f"MERGE update targets not in table schema: {sorted(bad)}")
    # metaData is NOT rewritten by a file-granular commit — update
    # expressions must land in the table's declared column types
    ttypes = {
        f.name: f.dataType
        for f in StructType.fromJson(json.loads(snap.schema_json)).fields
    }
    row_changes = del_cond | F.lit(bool(upd))

    # Pass 1: per-file match stats — maxn > 1 is the nondeterministic-
    # merge guard, chg marks files a matched clause fires in. The
    # driver sees one row per file with a match, not one per row.
    affected: list[str] = []
    if t is not None:
        stats = (
            t.alias("t")
            .join(s, cond, "inner")
            .select(
                F.col("t.__fp").alias("__fp"),
                F.col("t.__pos").alias("__pos"),
                row_changes.alias("__chg"),
            )
            .groupBy("__fp", "__pos")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.col("__chg").cast("int")).alias("chg"),
            )
            .groupBy("__fp")
            .agg(F.max("n").alias("maxn"), F.max("chg").alias("chg"))
            .collect()
        )
        if any(r["maxn"] > 1 for r in stats):
            raise ValueError(
                "MERGE: a target row matched multiple source rows (merge would "
                "be nondeterministic) — deduplicate the source on the join keys"
            )
        affected = sorted(r["__fp"] for r in stats if r["chg"])

    # Pass 2: rewrite ONLY the affected files.
    kept = None
    joined = None
    matched = F.col("s.__smatch").isNotNull()
    update_applies = matched & ~del_cond & F.lit(bool(upd))
    if affected:
        aff = _dml_scan(spark, path, snap, _affected_adds(path, snap.adds, affected))
        joined = aff.alias("t").join(s, cond, "left")
        kept = joined.filter(~(matched & del_cond)).select(
            *[
                F.when(update_applies, F.expr(upd[c]).cast(ttypes[c]))
                .otherwise(tgt(c))
                .alias(c)
                if c in upd
                else tgt(c).alias(c)
                for c in tcols
            ]
        )
    ins = None
    if when_not_matched_insert:
        if t is None:
            unmatched_s = source.alias("s")
        else:
            unmatched_s = source.alias("s").join(
                t.alias("t"), cond, "left_anti"
            )
        if when_not_matched_insert is True:
            missing = [c for c in tcols if c not in unmatched_s.columns]
            if missing:
                raise ValueError(
                    f"MERGE insert needs source columns {missing} (or pass an "
                    "insert mapping)"
                )
            ins = unmatched_s.select(
                *[F.col(c).cast(ttypes[c]).alias(c) for c in tcols]
            )
        else:
            imap = dict(when_not_matched_insert)
            bad = set(imap) - set(tcols)
            if bad:
                raise ValueError(f"MERGE insert targets not in schema: {sorted(bad)}")
            ins = unmatched_s.select(
                *[
                    (F.expr(imap[c]) if c in imap else F.lit(None))
                    .cast(ttypes[c])
                    .alias(c)
                    for c in tcols
                ]
            )
    pieces = [p for p in (kept, ins) if p is not None]
    out = pieces[0] if pieces else None
    for p_ in pieces[1:]:
        out = out.unionAll(p_)

    extra = None
    if _cdf_enabled(snap.configuration):
        cdc = None
        if joined is not None:
            deleted = joined.filter(matched & del_cond).select(
                *[tgt(c).alias(c) for c in tcols]
            ).withColumn("_change_type", F.lit("delete"))
            pre = joined.filter(update_applies).select(
                *[tgt(c).alias(c) for c in tcols]
            ).withColumn("_change_type", F.lit("update_preimage"))
            post = joined.filter(update_applies).select(
                *[
                    F.expr(upd[c]).cast(ttypes[c]).alias(c)
                    if c in upd
                    else tgt(c).alias(c)
                    for c in tcols
                ]
            ).withColumn("_change_type", F.lit("update_postimage"))
            cdc = deleted.unionAll(pre).unionAll(post)
        if ins is not None:
            insc = ins.withColumn("_change_type", F.lit("insert"))
            cdc = insc if cdc is None else cdc.unionAll(insc)
        if cdc is not None:
            extra = _write_cdc_file(path, cdc, snap.partition_cols)
    _cow_commit(path, snap, affected, out, "MERGE", {"predicate": on}, extra)


# ---------------------------------------------------------------------------
# Data skipping (per-file stats) + OPTIMIZE ZORDER
# ---------------------------------------------------------------------------

def _file_stats_json(file_path: str) -> str | None:
    """Delta per-file ``stats`` JSON lifted from the parquet footer:
    numRecords plus min/max/nullCount for top-level primitive columns
    whose row groups all carry exact statistics (ints, floats without
    NaN flags, strings, bools). Conservative: a column with any
    stat-less or unordered row group is omitted — absent stats never
    prune. Dates/timestamps/nested/binary are skipped (this engine's
    pruning handles the numeric/string predicates that matter for
    Z-ORDER; everything else scans)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(file_path).metadata
    except Exception:
        return None
    n = md.num_rows
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    if md.num_row_groups == 0 or n == 0:
        return json.dumps(
            {"numRecords": n, "minValues": {}, "maxValues": {}, "nullCount": {}}
        )
    ok_types = {"INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY", "BOOLEAN"}
    for ci in range(md.num_columns):
        col0 = md.row_group(0).column(ci)
        name = col0.path_in_schema
        if "." in name:  # nested leaf
            continue
        if col0.physical_type not in ok_types:
            continue
        lo = hi = None
        nc = 0
        good = True
        for rg in range(md.num_row_groups):
            c = md.row_group(rg).column(ci)
            try:
                s = c.statistics
                if (s is None or not s.has_min_max
                        or s.min is None or s.max is None):
                    good = False
                    break
                mn_mx = (s.min, s.max)
            except Exception:  # pyarrow can't materialize some logical types
                good = False
                break
            nc += s.null_count if s.null_count is not None else 0
            mn, mx = mn_mx
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    good = False
                    break
            if isinstance(mn, float) and (mn != mn or mx != mx):  # NaN
                good = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if good and lo is not None:
            lo, hi = _stats_scalar(lo), _stats_scalar(hi)
            if lo is None or hi is None:
                continue
            mins[name] = lo
            maxs[name] = hi
            nulls[name] = nc
    try:
        return json.dumps(
            {"numRecords": n, "minValues": mins, "maxValues": maxs,
             "nullCount": nulls}
        )
    except (TypeError, ValueError):  # never block the write on stats
        return json.dumps(
            {"numRecords": n, "minValues": {}, "maxValues": {},
             "nullCount": {}}
        )


def _stats_scalar(v):
    """Normalize a parquet footer min/max to a JSON-serializable Delta
    stats value. pyarrow materializes logical types over INT32/INT64
    physical — DATE as datetime.date, TIMESTAMP as datetime.datetime,
    DECIMAL as Decimal — which json.dumps rejects; the Delta protocol
    serializes date/timestamp stats as ISO-8601 strings (stats_admit
    falls back to admit-all on any cross-type compare, so string-form
    bounds are sound). Timestamps serialize at FULL microsecond
    precision: a truncated-to-millisecond maxValue understates the
    file's range and can wrongly prune it for a string-literal filter
    (the protocol allows truncation only if max bounds round UP; exact
    serialization sidesteps the rounding entirely — str-vs-str ISO
    compares stay correct across mixed fractional widths because the
    date/time prefix is fixed-width). Returns None for anything else →
    column skipped (absent stats never prune)."""
    if isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep="T", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return None


def delta_admitted_files(
    path: str,
    filters: list[tuple],
    version: int | None = None,
) -> tuple[list[str], int]:
    """Plan a filtered Delta scan: return (admitted add paths, total
    live adds) keeping every file whose ``stats`` ranges could satisfy
    ALL of ``filters`` ([(column, op, literal)], AND semantics — the
    iceberg reader's filter shape, evaluated with the same
    ``stats_admit`` bounds logic). Files without stats for a filtered
    column are always admitted (absent stats never prune) — so the
    planner is sound for tables written before stats collection."""
    from daft_spark.io.iceberg_transforms import stats_admit

    adds = _snapshot(path, version).adds
    admitted = []
    for rel, add in sorted(adds.items()):
        st = add.get("stats")
        keep = True
        if st:
            try:
                parsed = json.loads(st)
                mins = parsed.get("minValues") or {}
                maxs = parsed.get("maxValues") or {}
            except (ValueError, TypeError):
                mins = maxs = {}
            for col, op, val in filters:
                lo, hi = mins.get(col), maxs.get(col)
                if lo is None and hi is None:
                    continue
                if not stats_admit(lo, hi, op, val):
                    keep = False
                    break
        if keep:
            admitted.append(rel)
    return admitted, len(adds)


def zorder_deltalake_py(
    path: str,
    spark: SparkSession,
    zorder_by: list[str],
    target_files: int = 4,
) -> dict:
    """OPTIMIZE ZORDER: rewrite the table clustered on the Morton
    (Z-order) curve over ``zorder_by`` — multi-column data skipping
    where a plain sort only skips on its leading column. Each z
    column maps to a 16-bit rank (percent_rank over the column, so
    skew cannot collapse the curve), the ranks bit-interleave into
    one z-value (pure integer Column expressions), and the table
    rewrites range-partitioned + sorted by z into ``target_files``
    files. The commit retires every live file and adds the clustered
    replacements with ``dataChange=false`` (streaming sources skip it,
    same contract as OPTIMIZE) and fresh per-file stats, which is
    what makes ``delta_admitted_files`` prune point/range predicates
    on EITHER z column afterwards.

    Scale: the per-column 16-bit coordinate is a LINEAR bin over the
    column's [min, max] (one broadcast 1-row aggregate — a global
    rank window would single-partition the table, the exact defect
    this engine plan-audits elsewhere); heavy skew in a z column
    degrades its share of the curve but never correctness — the
    stats pruning stays sound either way. Numeric z columns only.
    Nothing touches the driver but file metadata.
    Returns {"removed": n, "added": m}."""
    from pyspark.sql import functions as F

    if not zorder_by:
        raise ValueError("zorder_by must be non-empty")
    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    snap = _snapshot(path)
    if snap.partition_cols:
        raise NotImplementedError("zorder of a partitioned table")
    if not snap.adds:
        return {"removed": 0, "added": 0}
    df = read_deltalake_py(path, spark, version=snap.version)
    # Per-column quantization bits shrink with column count so the
    # interleaved key never shifts past bit 62 (bit 63 would overflow
    # the signed long: r11 ADVICE low). 1 col -> 16 bits, 2 -> 16,
    # 3 -> 16, 4 -> 15, 8 -> 7 ...
    bits = min(16, 62 // len(zorder_by))
    if bits == 0:
        raise ValueError(
            f"zorder_by supports at most 62 columns, got {len(zorder_by)}"
        )
    rng = df.agg(
        *[
            x
            for c in zorder_by
            for x in (
                F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__hi_{c}"),
            )
        ]
    )
    ranked = df.crossJoin(F.broadcast(rng))
    for c in zorder_by:
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        frac = (F.col(c).cast("double") - lo) / span
        ranked = ranked.withColumn(
            f"__r_{c}",
            F.least(
                F.floor(frac * (1 << bits)).cast("long"),
                F.lit((1 << bits) - 1).cast("long"),
            ),
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(zorder_by):
            bit = F.shiftright(F.col(f"__r_{c}"), i).bitwiseAND(F.lit(1))
            z = z + bit * F.lit(1 << (i * len(zorder_by) + j)).cast("long")
    clustered = (
        ranked.withColumn("__z", z)
        .repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop(
            "__z",
            *[f"__r_{c}" for c in zorder_by],
            *[f"__lo_{c}" for c in zorder_by],
            *[f"__hi_{c}" for c in zorder_by],
        )
    )
    now_ms = int(time.time() * 1000)
    new_adds = _stage_data_files(clustered, path, snap.version + 1, [], now_ms)
    actions: list[dict] = []
    for rel in snap.adds:
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": False,
                }
            }
        )
    for a in new_adds:
        a["add"]["dataChange"] = False
        actions.append(a)
    _commit(path, snap, actions, "OPTIMIZE", {"zOrderBy": json.dumps(zorder_by)})
    return {"removed": len(snap.adds), "added": len(new_adds)}
