"""The one micro-batch reader behind the lake streaming sources
(``daft_delta``, ``daft_delta_cdf``, ``daft_paimon``, ``daft_iceberg``).

Every source follows the Structured Streaming source protocol the same
way: an offset is one integer position in the table's log (a Delta
version, a Paimon snapshot id, an Iceberg sequence number) stored under
the format's own JSON key, and a micro-batch covers (start, end]. A
negative start (the initial offset) delivers the table's snapshot at
``end`` first; later batches deliver only the log entries between the
two positions. :class:`LogStreamReader` defines the offsets, the
partition list and the read once; each format supplies four hooks —
its latest position, the snapshot's entries, the entries between two
positions and how to read one entry.

Entries are read on the executor with pyarrow, not with a Spark scan:
a Python data source's ``read`` runs inside a Python worker, which has
no SparkSession to plan a scan with. :func:`read_projected` is that
per-file read for Delta, the Delta change feed and Paimon; Iceberg
keeps the field-id projection its batch reader shares. Iceberg's file
lists, batch and streaming, are packed into tasks by :func:`bin_pack`.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql.datasource import DataSourceStreamReader, InputPartition

# ~ spark.sql.files.maxPartitionBytes: a table of many small files does
# not schedule one task per file
TARGET_BIN_BYTES = 128 * 1024 * 1024


class LogStreamReader(DataSourceStreamReader):
    """Offsets ``{offset_key: position}``; ``start`` is the initial
    position (-1 = deliver the snapshot first). Subclasses implement
    ``_latest``, ``_snapshot_entries``, ``_entries_between`` and
    ``_read_entry``; entries are the picklable values of the input
    partitions."""

    offset_key = "version"
    start = -1

    def initialOffset(self) -> dict:
        return {self.offset_key: self.start}

    def latestOffset(self) -> dict:
        return {self.offset_key: self._latest()}

    def commit(self, end: dict) -> None:
        pass

    def partitions(self, start: dict, end: dict):
        sv, ev = int(start[self.offset_key]), int(end[self.offset_key])
        if ev <= sv:
            entries: list = []
        elif sv < 0:
            entries = self._snapshot_entries(ev)
        else:
            entries = self._entries_between(sv, ev)
        # Spark requires >= 1 partition per batch
        return [InputPartition(e) for e in entries] or [InputPartition(None)]

    def read(self, partition: InputPartition) -> Iterator:
        if partition.value is not None:
            yield from self._read_entry(partition.value)


def target_schema(schema):
    """The Arrow schema Spark expects back for ``schema``: every field
    nullable, no metadata, so batches of different files agree."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema(
        [pa.field(f.name, f.type, nullable=True) for f in to_arrow_schema(schema)]
    )


def read_projected(
    path: str,
    schema,
    *,
    drop: Iterable[int] | None = None,
    keep: list[int] | None = None,
    l2p: dict | None = None,
    pvals: dict | None = None,
    constants: dict | None = None,
) -> Iterator:
    """Read one parquet file as record batches of the Spark ``schema``.
    ``keep`` selects exactly those row ordinals; otherwise ``drop``
    (deletion-vector ordinals) removes rows. Each target column is the
    ``constants`` value if given, else the file column under its
    physical name (``l2p``), else the partition value, restored from
    its string form (``pvals`` keyed by physical or logical name), else
    null; a file that lacks a non-nullable field is an error."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    l2p, pvals, constants = l2p or {}, pvals or {}, constants or {}
    table = pq.read_table(path)
    n = table.num_rows
    if keep is not None:
        table = table.take([p for p in keep if p < n])
    elif drop:
        mask = np.ones(n, dtype=bool)
        mask[np.asarray([p for p in drop if p < n], dtype=np.int64)] = False
        table = table.filter(pa.array(mask))
    n = table.num_rows
    target = target_schema(schema)
    cols = []
    for sfield, tfield in zip(schema.fields, target):
        name = tfield.name
        phys = l2p.get(name, name)
        if name in constants:
            cols.append(pa.array([constants[name]] * n, type=tfield.type))
        elif phys in table.column_names:
            cols.append(table.column(phys).cast(tfield.type))
        elif phys in pvals or name in pvals:
            raw = pvals[phys] if phys in pvals else pvals[name]
            cols.append(pa.array([raw] * n, type=pa.string()).cast(tfield.type))
        elif sfield.nullable:
            cols.append(pa.nulls(n, type=tfield.type))
        else:
            raise ValueError(
                f"data file {path} has no column {phys!r} for the "
                f"non-nullable field {name!r}"
            )
    yield from pa.table(cols, schema=target).to_batches(max_chunksize=65536)


def bin_pack(
    files: Iterable[tuple[str, int]], target: int = TARGET_BIN_BYTES
) -> list[list[str]]:
    """(path, size) pairs, in order, packed into consecutive bins of at
    most ``target`` bytes (a larger file gets a bin of its own)."""
    bins: list[list[str]] = []
    size = 0
    for path, nbytes in files:
        if not bins or size + nbytes > target:
            bins.append([])
            size = 0
        bins[-1].append(path)
        size += nbytes
    return bins
