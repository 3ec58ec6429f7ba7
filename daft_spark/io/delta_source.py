"""Streaming Delta SOURCES — Spark Python DataSources that tail a Delta
table's JSON commit log: ``daft_delta`` (the table's rows) and
``daft_delta_cdf`` (its change data feed). Both are
``log_stream.LogStreamReader``s: offset ``{"version": v}``, micro-batch
(start, end] = the files those commits added (or changed), read
per file by ``log_stream.read_projected`` with column mapping,
partition values and deletion vectors applied. Pairs with the
exactly-once streaming Delta SINK (io/delta.py) for end-to-end
delta-to-delta pipelines.

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

from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from daft_spark.io.log_stream import LogStreamReader, read_projected


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


class DeltaStreamReader(LogStreamReader):
    """Entries are (rel path, partitionValues, deletionVector|None,
    keep ordinals|None, constant columns)."""

    def __init__(self, options, schema):
        from daft_spark.io.delta import _mapping_info, _snapshot

        self.path = options["path"]
        self.ignore_changes = str(options.get("ignorechanges", "")).lower() == "true"
        self.ignore_deletes = str(options.get("ignoredeletes", "")).lower() == "true"
        self.schema = schema
        snap = _snapshot(self.path)
        # column-mapped tables: data files + partitionValues use
        # physical names; the stream emits logical columns
        _mode, self.l2p, _p2l = _mapping_info(snap.schema_json, snap.configuration)

    def _latest(self) -> int:
        from daft_spark.io.delta import _table_versions

        versions = _table_versions(self.path)
        if not versions:
            raise FileNotFoundError(f"not a Delta table: {self.path}")
        return versions[-1]

    def _snapshot_entries(self, version: int) -> list[tuple]:
        from daft_spark.io.delta import _snapshot

        return [
            (rel, add.get("partitionValues"), add.get("deletionVector"), None, None)
            for rel, add in _snapshot(self.path, version).adds.items()
        ]

    def _entries_between(self, start: int, end: int) -> list[tuple]:
        from daft_spark.io.delta import _commit_actions_at

        out: list[tuple] = []
        for v in range(start + 1, end + 1):
            try:
                actions = _commit_actions_at(self.path, v)
            except FileNotFoundError:
                continue  # checkpoint-only version
            adds, removes = [], []
            for action in actions:
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
            out.extend(
                (a["path"], a.get("partitionValues"), a.get("deletionVector"), None, None)
                for a in adds
            )
        return out

    _incremental_adds = _entries_between  # the remove-policy tests' name

    def _read_entry(self, entry: tuple):
        from daft_spark.io.delta import _dv_read

        rel, pvals, dv, keep, constants = entry
        return read_projected(
            os.path.join(self.path, rel),
            self.schema,
            drop=_dv_read(self.path, dv) if dv else None,
            keep=keep,
            l2p=self.l2p,
            pvals=pvals,
            constants=constants,
        )


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


class DeltaCDFStreamReader(DeltaStreamReader):
    """The Delta stream reader over the change feed: every batch, the
    first included, is the changes of the commits in (start, end],
    planned by ``_commit_changes`` exactly as table_changes_delta_py
    plans them. The offset starts at ``startingversion - 1``."""

    def __init__(self, options, schema):
        from daft_spark.io.delta import _cdf_enabled, _snapshot

        snap = _snapshot(options["path"])
        if not _cdf_enabled(snap.configuration):
            raise ValueError(
                "change data feed is not enabled on this table "
                "(enable_cdf_delta_py / delta.enableChangeDataFeed)"
            )
        super().__init__(options, schema)
        self.partition_cols = snap.partition_cols
        self.start = int(options.get("startingversion", 0)) - 1

    def _snapshot_entries(self, version: int) -> list[tuple]:
        return self._entries_between(-1, version)

    def _entries_between(self, start: int, end: int) -> list[tuple]:
        from daft_spark.io.delta import _commit_changes, _commit_file

        out: list[tuple] = []
        for v in range(start + 1, end + 1):
            if not os.path.exists(_commit_file(self.path, v)):
                continue  # checkpoint-only version
            _ts, changes = _commit_changes(self.path, v, self.partition_cols)
            for kind, rel, pv, dv, keep in changes:
                # a cdc file carries its own _change_type column
                constants = {"_commit_version": v}
                if kind != "cdc":
                    constants["_change_type"] = kind
                out.append((rel, pv, dv, keep, constants))
        return out
