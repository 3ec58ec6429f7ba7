"""Streaming Delta SOURCE — a Spark Python DataSource (format
``daft_delta``) that tails a Delta table's JSON commit log:
offset = log version, micro-batch (start, end] = the files those
commits added. Pairs with the exactly-once streaming Delta SINK
(io/delta.py) for end-to-end delta-to-delta pipelines.

Semantics follow the Delta streaming-source contract:

- the FIRST batch covers the table's current snapshot at the starting
  version (active files after full replay, not raw historical adds —
  rewritten/removed files never surface);
- later batches contain only the files newly ADDED by each commit;
- a commit that REMOVES files (UPDATE/DELETE/overwrite) fails the
  stream unless ``ignoreChanges`` (deliver its adds anyway) or
  ``ignoreDeletes`` (skip delete-only commits) is set — the same knobs
  the Delta connector's streaming source exposes;
- files carrying deletion vectors are read merge-on-read (the DV
  bitmap masks deleted ordinals before rows enter the stream).

Reference parity note: the reference engine (Daft) has no streaming —
this belongs to the free-superset Structured Streaming surface
(SURVEY §2.8) alongside the streaming Delta sink.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType


def _latest_version(path: str) -> int:
    from daft_spark.io.delta import _table_versions

    versions = _table_versions(path)
    if not versions:
        raise FileNotFoundError(f"not a Delta table: {path}")
    return versions[-1]


def _version_actions(path: str, version: int) -> list[dict]:
    """The actions of JSON commit ``version``; [] for a checkpoint-only
    version (its JSON commit was cleaned up)."""
    from daft_spark.io.delta import _commit_actions_at

    try:
        return _commit_actions_at(path, version)
    except FileNotFoundError:
        return []


class DeltaStreamSource(DataSource):
    """``spark.readStream.format("daft_delta").option("path", p)``."""

    @classmethod
    def name(cls) -> str:
        return "daft_delta"

    def schema(self):
        from daft_spark.io.delta import _snapshot

        return StructType.fromJson(json.loads(_snapshot(self.options["path"]).schema_json))

    def streamReader(self, schema) -> "DeltaStreamReader":
        return DeltaStreamReader(self.options, schema)


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.path = options["path"]
        self.ignore_changes = str(options.get("ignorechanges", "")).lower() == "true"
        self.ignore_deletes = str(options.get("ignoredeletes", "")).lower() == "true"
        self.schema = schema
        from daft_spark.io.delta import _mapping_info, _snapshot

        snap = _snapshot(self.path)
        # column-mapped tables: data files + partitionValues use
        # physical names; the stream emits logical columns
        _mode, self.l2p, p2l = _mapping_info(snap.schema_json, snap.configuration)
        self.partition_cols = [p2l.get(c, c) for c in snap.partition_cols]

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:
        # version -1 => the first batch delivers the snapshot at the
        # then-latest version (Delta's default startingVersion behavior)
        return {"version": -1}

    def latestOffset(self) -> dict:
        return {"version": _latest_version(self.path)}

    def commit(self, end: dict) -> None:
        pass

    # -- planning ----------------------------------------------------------
    def _snapshot_adds(self, version: int) -> list[tuple[str, dict]]:
        from daft_spark.io.delta import _snapshot

        return list(_snapshot(self.path, version).adds.items())

    def _incremental_adds(self, start: int, end: int) -> list[tuple[str, dict]]:
        out: list[tuple[str, dict]] = []
        for v in range(start + 1, end + 1):
            adds, removes = [], []
            for action in _version_actions(self.path, v):
                if "add" in action:
                    # dataChange=false adds are rearrangements of
                    # existing data (OPTIMIZE compaction) — already
                    # delivered, never re-emitted (the Delta
                    # streaming-source contract)
                    if action["add"].get("dataChange", True):
                        adds.append(action["add"])
                elif "remove" in action and action["remove"].get("dataChange", True):
                    removes.append(action["remove"])
            if removes and not (self.ignore_changes or self.ignore_deletes):
                raise RuntimeError(
                    f"Delta commit {v} removes data files (UPDATE/DELETE/"
                    "overwrite); streaming a changed table needs "
                    "ignoreChanges=true (deliver rewritten adds) or "
                    "ignoreDeletes=true (skip delete-only commits)"
                )
            if removes and self.ignore_deletes and not self.ignore_changes and adds:
                raise RuntimeError(
                    f"Delta commit {v} rewrites data files; ignoreDeletes "
                    "only skips delete-only commits — set ignoreChanges=true"
                )
            out.extend((a["path"], a) for a in adds)
        return out

    def partitions(self, start: dict, end: dict):
        sv, ev = int(start["version"]), int(end["version"])
        if ev <= sv:
            entries: list[tuple[str, dict]] = []
        elif sv < 0:
            entries = self._snapshot_adds(ev)
        else:
            entries = self._incremental_adds(sv, ev)
        parts = [
            InputPartition(
                (
                    rel,
                    json.dumps(add.get("partitionValues") or {}),
                    json.dumps(add.get("deletionVector"))
                    if add.get("deletionVector")
                    else None,
                )
            )
            for rel, add in entries
        ]
        # Spark requires >= 1 partition per batch
        return parts or [InputPartition(None)]

    # -- execution ----------------------------------------------------------
    def read(self, partition: InputPartition):
        if partition.value is None:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        rel, pvals_json, dv_json = partition.value
        pvals = json.loads(pvals_json)
        target = pa.schema(
            [
                pa.field(f.name, f.type, nullable=True)
                for f in to_arrow_schema(self.schema)
            ]
        )
        table = pq.read_table(os.path.join(self.path, rel))
        if dv_json:
            from daft_spark.io.delta import _dv_read

            drop = _dv_read(self.path, json.loads(dv_json))
            if drop:
                idx = pa.array(range(table.num_rows), type=pa.int64())
                table = table.filter(
                    pc.invert(pc.is_in(idx, value_set=pa.array(drop, type=pa.int64())))
                )
        n = table.num_rows
        cols = []
        for tfield in target:
            phys = self.l2p.get(tfield.name, tfield.name)
            if phys in table.column_names:
                cols.append(table.column(phys).cast(tfield.type))
            elif tfield.name in self.partition_cols:
                # partition columns live in partitionValues (spec: data
                # files omit them; mapped tables key them by physical
                # name); serialized as strings, null if absent
                raw = pvals.get(phys, pvals.get(tfield.name))
                arr = pa.array([raw] * n, type=pa.string())
                cols.append(arr.cast(tfield.type))
            else:
                cols.append(pa.nulls(n, type=tfield.type))
        yield from pa.table(cols, schema=target).to_batches(max_chunksize=65536)


class DeltaCDFStreamSource(DataSource):
    """STREAMING CHANGE DATA FEED source (format ``daft_delta_cdf``):
    ``spark.readStream.format("daft_delta_cdf").option("path", p)``
    tails a CDF-enabled Delta table and emits ROW-LEVEL CHANGES —
    table columns + ``_change_type`` + ``_commit_version`` — the
    continuous counterpart of ``table_changes_delta_py`` (delta-spark's
    ``readChangeFeed`` streaming option). Per the spec's reader rules:
    a commit WITH cdc actions serves exactly those files; a commit
    without them reconstructs (dataChange adds = inserts, dataChange
    removes = deletes read from the still-on-disk retired files);
    dataChange=false commits (OPTIMIZE) produce no changes. Option
    ``startingversion`` (default 0) sets where the feed begins."""

    @classmethod
    def name(cls) -> str:
        return "daft_delta_cdf"

    def schema(self):
        from pyspark.sql.types import LongType, StringType, StructField

        from daft_spark.io.delta import _snapshot

        base = StructType.fromJson(json.loads(_snapshot(self.options["path"]).schema_json))
        return StructType(
            list(base.fields)
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
            ]
        )

    def streamReader(self, schema) -> "DeltaCDFStreamReader":
        return DeltaCDFStreamReader(self.options, schema)


class DeltaCDFStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        from daft_spark.io.delta import _cdf_enabled, _snapshot

        self.path = options["path"]
        self.schema = schema
        self.start_version = int(options.get("startingversion", 0))
        snap = _snapshot(self.path)
        if not _cdf_enabled(snap.configuration):
            raise ValueError(
                "change data feed is not enabled on this table "
                "(enable_cdf_delta_py / delta.enableChangeDataFeed)"
            )
        self.partition_cols = snap.partition_cols

    def initialOffset(self) -> dict:
        return {"version": self.start_version - 1}

    def latestOffset(self) -> dict:
        return {"version": _latest_version(self.path)}

    def commit(self, end: dict) -> None:
        pass

    def _version_entries(self, v: int) -> list[tuple]:
        """[(kind, abs_file, pvals_json, version, dv_json|None,
        keep_json|None)] for one commit — kind 'cdc' (file carries
        _change_type), 'insert', or 'delete' — planned by
        _commit_changes exactly as table_changes_delta_py plans it."""
        from daft_spark.io.delta import _commit_changes, _commit_file

        if not os.path.exists(_commit_file(self.path, v)):
            return []  # checkpoint-only version
        _ts, changes = _commit_changes(self.path, v, self.partition_cols)
        return [
            (
                kind,
                os.path.join(self.path, rel),
                json.dumps(pv),
                v,
                json.dumps(dv) if dv else None,
                json.dumps(keep) if keep is not None else None,
            )
            for kind, rel, pv, dv, keep in changes
        ]

    def partitions(self, start: dict, end: dict):
        sv, ev = int(start["version"]), int(end["version"])
        entries: list[tuple] = []
        for v in range(max(sv + 1, 0), ev + 1):
            entries.extend(self._version_entries(v))
        parts = [InputPartition(t) for t in entries]
        return parts or [InputPartition(None)]

    def read(self, partition: InputPartition):
        if partition.value is None:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        kind, fpath, pvals_json, version, dv_json, keep_json = partition.value
        pvals = json.loads(pvals_json)
        target = pa.schema(
            [
                pa.field(f.name, f.type, nullable=True)
                for f in to_arrow_schema(self.schema)
            ]
        )
        table = pq.read_table(fpath)
        if keep_json:
            # DV-diff reconstruction: stream exactly these row ordinals
            table = table.take(
                [p for p in json.loads(keep_json) if p < table.num_rows]
            )
        elif dv_json:
            # MoR: drop the deletion vector's row ordinals so the
            # reconstructed insert/delete carries only visible rows
            import numpy as np

            from daft_spark.io.delta import _dv_read

            drop = [
                p for p in _dv_read(self.path, json.loads(dv_json))
                if p < table.num_rows
            ]
            if drop:
                mask = np.ones(table.num_rows, dtype=bool)
                mask[np.asarray(drop, dtype=np.int64)] = False
                table = table.filter(pa.array(mask))
        n = table.num_rows
        cols = []
        for tfield in target:
            if tfield.name == "_change_type":
                if kind == "cdc":
                    cols.append(table.column("_change_type").cast(tfield.type))
                else:
                    cols.append(pa.array([kind] * n, type=pa.string()))
            elif tfield.name == "_commit_version":
                cols.append(pa.array([version] * n, type=pa.int64()))
            elif tfield.name in table.column_names:
                cols.append(table.column(tfield.name).cast(tfield.type))
            elif tfield.name in self.partition_cols:
                raw = pvals.get(tfield.name)
                arr = pa.array([raw] * n, type=pa.string())
                cols.append(arr.cast(tfield.type))
            else:
                cols.append(pa.nulls(n, type=tfield.type))
        yield from pa.table(cols, schema=target).to_batches(max_chunksize=65536)
