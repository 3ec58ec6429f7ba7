"""Streaming Paimon SOURCE — a Spark Python DataSource (format
``daft_paimon``) that tails an APPEND-ONLY Paimon table's snapshot
chain. It is a ``log_stream.LogStreamReader``: offset
``{"snapshot": id}``, micro-batch (start, end] = the data files those
snapshots' DELTA manifests added, read per file by
``log_stream.read_projected`` with the partition values restored.
Completes the lake streaming matrix next to the Delta source/sink and
Iceberg source/sink.

Semantics follow Paimon's own streaming read of append tables:

- the FIRST batch is the table's current snapshot (live files after
  full base+delta replay — compacted-away files never surface);
- later batches deliver each APPEND snapshot's delta ADD entries;
- COMPACT snapshots are rearrangements of already-delivered rows and
  are skipped entirely (their deletes retire pre-compact files, their
  adds restate the same rows);
- an OVERWRITE snapshot fails the stream unless ``ignorechanges`` is
  set (its adds are then delivered), matching the Delta source's knob;
- PRIMARY-KEY tables are rejected: their stream is a changelog
  (upserts/deletes by key), not an append stream, and this engine does
  not fake retractions.

Reference parity note: the reference engine has no streaming — this is
the free-superset Structured Streaming surface (SURVEY §2.8).
"""

from __future__ import annotations

import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource

from daft_spark.io.log_stream import LogStreamReader, read_projected


class PaimonStreamSource(DataSource):
    """``spark.readStream.format("daft_paimon").option("path", p)``."""

    @classmethod
    def name(cls) -> str:
        return "daft_paimon"

    def schema(self):
        from daft_spark.io.paimon import _latest_schema, _paimon_type_to_spark

        schema = _latest_schema(self.options["path"])
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _paimon_type_to_spark(f["type"]),
                    "NOT NULL" not in f["type"],
                )
                for f in schema["fields"]
            ]
        )

    def streamReader(self, schema) -> "PaimonStreamReader":
        return PaimonStreamReader(self.options, schema)


class PaimonStreamReader(LogStreamReader):
    """Entries are (absolute file path, partition values as strings)."""

    offset_key = "snapshot"

    def __init__(self, options, schema):
        from daft_spark.io.paimon import _latest_schema

        self.path = options["path"]
        self.ignore_changes = str(options.get("ignorechanges", "")).lower() == "true"
        self.schema = schema
        self.pschema = _latest_schema(self.path)
        if self.pschema.get("primaryKeys"):
            raise ValueError(
                "streaming a PRIMARY-KEY Paimon table is a changelog "
                "(upserts/deletes by key), not an append stream — read it "
                "in batch via read_paimon_py, which merges on read"
            )
        self.partition_keys = list(self.pschema.get("partitionKeys") or [])

    def _entry(self, rec: dict) -> tuple:
        """A {partition, bucket, name} record as an entry — the
        partition BinaryRow decodes DRIVER-side so executors only see
        strings."""
        from daft_spark.io.paimon import _entry_path, binary_row_decode

        ftypes = {f["name"]: f["type"] for f in self.pschema["fields"]}
        keys = self.partition_keys
        vals = binary_row_decode(rec["partition"], [ftypes[k] for k in keys]) if keys else []
        pvals = {k: (None if v is None else str(v)) for k, v in zip(keys, vals)}
        return (_entry_path(self.path, self.pschema, rec), pvals)

    def _latest(self) -> int:
        from daft_spark.io.paimon import _latest_snapshot_id

        return int(_latest_snapshot_id(self.path) or 0)

    def _snapshot_entries(self, sid: int) -> list[tuple]:
        from daft_spark.io.paimon import _live_entries, _load_snapshot

        if sid == 0:  # no snapshot yet (ids start at 1)
            return []
        return [
            self._entry(rec)
            for rec in _live_entries(self.path, _load_snapshot(self.path, sid))
        ]

    def _entries_between(self, start: int, end: int) -> list[tuple]:
        from daft_spark.io.avro import read_ocf
        from daft_spark.io.paimon import _load_snapshot, _manifest_dir

        out: list[tuple] = []
        for sid in range(start + 1, end + 1):
            snap = _load_snapshot(self.path, sid)
            kind = snap.get("commitKind", "APPEND")
            if kind == "COMPACT":
                continue  # rearrangement of already-delivered rows
            if kind == "OVERWRITE" and not self.ignore_changes:
                raise RuntimeError(
                    f"Paimon snapshot {sid} OVERWRITEs data; streaming a "
                    "changed table needs ignorechanges=true"
                )
            name = snap.get("deltaManifestList")
            if not name:
                continue
            _, _, metas = read_ocf(os.path.join(_manifest_dir(self.path), name))
            for meta in metas:
                _, _, entries = read_ocf(
                    os.path.join(_manifest_dir(self.path), meta["_FILE_NAME"])
                )
                out.extend(
                    self._entry(
                        {
                            "partition": e["_PARTITION"],
                            "bucket": e["_BUCKET"],
                            "name": e["_FILE"]["_FILE_NAME"],
                        }
                    )
                    for e in entries
                    if e["_KIND"] == 0  # ADD
                )
        return out

    def _read_entry(self, entry: tuple):
        fpath, pvals = entry
        return read_projected(fpath, self.schema, pvals=pvals)
