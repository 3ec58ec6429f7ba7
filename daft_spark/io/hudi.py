"""Pure-Python Apache Hudi copy-on-write table support — no connector
JAR required.

Parity target: the reference reads Hudi through its own pure-Python
metadata walk too (reference ``daft/io/hudi/_hudi.py:18`` read_hudi,
``daft/io/hudi/hudi_scan.py`` — timeline + latest-file-slice
resolution). Hudi CoW is an open layout
(https://hudi.apache.org/docs/concepts/): parquet base files named
``<fileId>_<writeToken>_<instantTs>.parquet`` plus a timeline under
``.hoodie/`` — one ``<instantTs>.commit`` JSON per completed write
(``partitionToWriteStats``), ``<instantTs>.replacecommit`` when file
groups are replaced (insert_overwrite), and ``hoodie.properties``.

Bounded subset implemented (mirroring io/delta.py and io/iceberg.py):

- ``write_hudi_py(df, path, mode, partition_by=None)``: append (new
  file groups per commit) / overwrite (a replacecommit retiring every
  prior file group) / error / ignore; data written with Spark's
  parquet writer and renamed to Hudi base-file names; the completed
  instant is published with the no-clobber ``publish_once`` (io/
  publish.py), so an instant another writer already completed raises
  instead of being replaced.
  Partitioned tables stage through ``partitionBy`` on DUPLICATED
  columns (Hudi keeps the partition source columns IN the data files)
  and land under ``<partition>/`` dirs with per-partition write stats
  in the commit, the layout Hudi's partition pruning expects.
- ``read_hudi_py(path, spark)``: replay the COMPLETED timeline in
  instant order (latest base file per file group wins; replacecommits
  drop their listed groups), then hand the live files to Spark's
  parquet reader — pushdowns, split planning and AQE as usual.

Out of scope (raise cleanly): merge-on-read tables (log files),
clustering/compaction/cleaning instants, metadata table. At 100 TB
the timeline replay is driver-side KB work; the data plane is an
ordinary multi-file parquet scan.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from daft_spark.io.publish import publish_once, stage_files
from daft_spark.io.readers import scan_parquet

_HOODIE = ".hoodie"


def _timeline_dir(path: str) -> str:
    return os.path.join(path, _HOODIE)


def _instants(path: str) -> list[tuple[str, str]]:
    """Completed instants as (ts, action) sorted by ts; action is
    'commit' or 'replacecommit'."""
    td = _timeline_dir(path)
    if not os.path.isdir(td):
        return []
    out = []
    for f in os.listdir(td):
        for action in ("commit", "replacecommit"):
            suffix = f".{action}"
            if f.endswith(suffix):
                ts = f[: -len(suffix)]
                if ts.isdigit():
                    out.append((ts, action))
    for f in os.listdir(td):
        if f.endswith(".deltacommit"):
            # Deliberate gate (re-evaluated and KEPT round 8; decided
            # round 5, reaffirmed round 7): HoodieLogFormat blocks are
            # a hand-rolled binary framing (magic, version, type,
            # header maps, Avro content) for which no independently
            # verifiable test vectors can be produced in this offline
            # environment — a self-written writer+reader pair only
            # proves self-consistency, not spec conformance, and
            # hand-rolling byte formats from prose is exactly how the
            # round-5 Iceberg bucket-hash defect happened. CoW +
            # upsert + as-of time travel are fully supported; MoR
            # needs the real Hudi bundle.
            raise NotImplementedError(
                "Hudi merge-on-read tables (deltacommits/log files) are not "
                "supported by this pure-Python reader; use the Hudi Spark bundle"
            )
    return sorted(out)


def _live_files(path: str, as_of: str | None = None) -> list[str]:
    """Latest base file per file group after replaying the timeline.
    Partitioned tables record partition-relative paths in their write
    stats, so replay is layout-agnostic. ``as_of`` stops the replay at
    that instant timestamp (inclusive) — Hudi's as.of.instant
    time-travel read semantics."""
    groups: dict[str, tuple[str, str]] = {}  # fileId -> (instant, relpath)
    for ts, action in _instants(path):
        if as_of is not None and ts > str(as_of):
            continue
        with open(os.path.join(_timeline_dir(path), f"{ts}.{action}")) as f:
            commit = json.load(f)
        for file_ids in commit.get("partitionToReplaceFileIds", {}).values():
            for fid in file_ids:
                groups.pop(fid, None)
        for stats in commit.get("partitionToWriteStats", {}).values():
            for st in stats:
                fid = st["fileId"]
                if fid not in groups or groups[fid][0] < ts:
                    groups[fid] = (ts, st["path"])
    return sorted(os.path.join(path, rel) for _, rel in groups.values())


def _table_partition_cols(path: str) -> list[str]:
    """The table's partition columns, derived from the live file
    slices' partitionPath stats (hive segments ``col=val/...``).
    Empty for unpartitioned tables."""
    for ts, action in reversed(_instants(path)):
        with open(os.path.join(_timeline_dir(path), f"{ts}.{action}")) as f:
            commit = json.load(f)
        for stats in commit.get("partitionToWriteStats", {}).values():
            for st in stats:
                part = st.get("partitionPath") or ""
                if part:
                    return [seg.split("=", 1)[0] for seg in part.split("/")]
    return []


def hudi_timeline(path: str) -> list[tuple[str, str]]:
    """The completed (instant_ts, action) timeline — what a caller pins
    ``as_of`` to (Hudi's commit timeline surface)."""
    return _instants(path)


def read_hudi_py(path: str, spark: SparkSession, as_of: str | None = None) -> DataFrame:
    """Read a copy-on-write Hudi table (unpartitioned or partitioned)
    by replaying its timeline. The result is a plain multi-file parquet
    scan — partition columns live in the data files, per Hudi layout.
    ``as_of`` time-travels to the state at that instant timestamp
    (inclusive) — the as.of.instant option of Hudi's Spark reader; the
    reference reads Hudi through hudi-rs (daft/io/hudi/_hudi.py)."""
    if not os.path.isdir(_timeline_dir(path)):
        raise FileNotFoundError(f"not a Hudi table (no {_HOODIE}/ under {path})")
    files = _live_files(path, as_of)
    if not files:
        # A created-but-never-written table is a valid EMPTY table, not
        # an error (the reference's read_hudi returns 0 rows for its
        # v6_empty fixture): serve the create schema recorded in
        # hoodie.properties. Time travel to before the first commit of
        # a non-empty table still errors — that instant predates the
        # table's history.
        if as_of is None:
            schema = _create_schema(path)
            if schema is not None:
                return spark.createDataFrame([], schema)
        raise ValueError(
            f"Hudi table at {path} has no completed commits"
            + (f" at or before instant {as_of}" if as_of is not None else "")
        )
    return scan_parquet(spark, *files)


def _hoodie_properties(path: str) -> dict[str, str]:
    """hoodie.properties as a dict (java-properties format: # comments,
    key=value, backslash-escaped ':' and '=')."""
    props: dict[str, str] = {}
    fp = os.path.join(_timeline_dir(path), "hoodie.properties")
    if not os.path.exists(fp):
        return props
    with open(fp) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            # split on the first UNESCAPED '=' (values escape ':'/'=')
            key, val, i, prev = None, line, 0, ""
            while i < len(line):
                if line[i] == "=" and prev != "\\":
                    key, val = line[:i], line[i + 1:]
                    break
                prev = line[i]
                i += 1
            if key is None:
                continue
            props[key] = val.replace("\\:", ":").replace("\\=", "=")
    return props


def _avro_to_spark_type(sch):
    """Spark DataType for one Avro schema node (Hudi's create schema:
    primitives, nullable unions, logical date/timestamp/decimal,
    record/array/map)."""
    from pyspark.sql import types as T

    if isinstance(sch, list):  # union: the non-null branch
        branches = [b for b in sch if b != "null"]
        return _avro_to_spark_type(branches[0] if branches else "string")
    if isinstance(sch, dict):
        lt = sch.get("logicalType")
        t = sch.get("type")
        if lt == "date":
            return T.DateType()
        if lt in ("timestamp-micros", "timestamp-millis"):
            return T.TimestampType()
        if lt == "decimal":
            return T.DecimalType(sch.get("precision", 10), sch.get("scale", 0))
        if t == "record":
            return T.StructType(
                [
                    T.StructField(f["name"], _avro_to_spark_type(f["type"]), True)
                    for f in sch.get("fields", [])
                ]
            )
        if t == "array":
            return T.ArrayType(_avro_to_spark_type(sch["items"]), True)
        if t == "map":
            return T.MapType(T.StringType(), _avro_to_spark_type(sch["values"]), True)
        if t == "fixed":
            return T.BinaryType()
        return _avro_to_spark_type(t)
    prim = {
        "boolean": "BooleanType", "int": "IntegerType", "long": "LongType",
        "float": "FloatType", "double": "DoubleType", "string": "StringType",
        "bytes": "BinaryType",
    }
    from pyspark.sql import types as T

    return getattr(T, prim.get(sch, "StringType"))()


def _create_schema(path: str):
    """StructType from hoodie.table.create.schema, or None."""
    raw = _hoodie_properties(path).get("hoodie.table.create.schema")
    if not raw:
        return None
    from pyspark.sql import types as T

    sch = json.loads(raw)
    return T.StructType(
        [
            T.StructField(f["name"], _avro_to_spark_type(f["type"]), True)
            for f in sch.get("fields", [])
        ]
    )


def write_hudi_py(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    record_key: str | None = None,
) -> None:
    """Write ``df`` as one Hudi CoW commit: parquet base files with
    Hudi naming + one atomic timeline entry. Modes: append, overwrite,
    error, ignore, upsert. ``partition_by`` produces a hive-style
    partitioned table with the partition columns kept in the data
    files. ``mode="upsert"`` (Hudi's signature operation) requires
    ``record_key``: incoming rows replace existing rows with the same
    key and insert the rest — copy-on-write, realized as one
    replacecommit of the merged state (real Hudi rewrites only the
    affected file groups; this full rewrite has identical semantics and
    the same timeline shape). Prior instants stay time-travelable."""
    from pyspark.sql import functions as F

    if mode not in ("append", "overwrite", "error", "ignore", "upsert"):
        raise ValueError(f"unsupported mode {mode!r}")
    if mode == "upsert":
        if not record_key:
            raise ValueError('mode="upsert" requires record_key')
        if record_key not in df.columns:
            raise ValueError(f"record key column {record_key!r} not in schema")
        if not _instants(path):
            return write_hudi_py(df, path, mode="overwrite", partition_by=partition_by)
        # The rewrite must keep the TABLE's partition layout: an upsert
        # that omitted partition_by would otherwise silently flatten a
        # partitioned table to an unpartitioned one (reads stay correct
        # via write-stats replay, but the hive layout and per-partition
        # stats Hudi pruning expects would be lost). Derive the layout
        # from the prior commits; an explicit mismatch is an error.
        table_parts = _table_partition_cols(path)
        if partition_by is None:
            partition_by = table_parts
        elif list(partition_by) != table_parts:
            raise ValueError(
                f"upsert partition_by {list(partition_by)} does not match the "
                f"table's partitioning {table_parts}"
            )
        spark = df.sparkSession
        existing = read_hudi_py(path, spark)
        survivors = existing.join(
            df.select(record_key).distinct(), on=record_key, how="left_anti"
        )
        merged = survivors.unionByName(df.select(*existing.columns))
        return write_hudi_py(merged, path, mode="overwrite", partition_by=partition_by)
    partition_by = list(partition_by or [])
    exists = bool(_instants(path))
    if exists and mode == "error":
        raise FileExistsError(f"Hudi table already exists at {path}")
    if exists and mode == "ignore":
        return
    if exists and mode == "append":
        # Schema enforcement: the reader hands live files to one
        # unpinned multi-file parquet scan, so a file with drifted
        # columns would silently widen/narrow the table depending on
        # which footer Spark samples. Reject any column-set mismatch
        # (real Hudi reconciles schemas through its commit metadata;
        # this bounded writer keeps them uniform instead).
        import pyarrow.parquet as pq

        live = _live_files(path)
        if live:
            table_cols = set(pq.ParquetFile(live[0]).schema_arrow.names)
            if set(df.columns) != table_cols:
                raise ValueError(
                    f"append columns {sorted(df.columns)} do not match the "
                    f"Hudi table schema {sorted(table_cols)}; use "
                    'mode="overwrite" to change the schema'
                )

    instant = time.strftime("%Y%m%d%H%M%S") + f"{int(time.time() * 1000) % 1000:03d}"
    prior_instants = _instants(path)
    if prior_instants and instant <= prior_instants[-1][0]:
        # same-millisecond successive writes: instants must be strictly
        # increasing for latest-file-slice resolution
        instant = str(int(prior_instants[-1][0]) + 1)
    td = _timeline_dir(path)
    os.makedirs(td, exist_ok=True)
    props = os.path.join(td, "hoodie.properties")
    if not os.path.exists(props):
        with open(props, "w") as f:
            f.write(
                "hoodie.table.name={}\nhoodie.table.type=COPY_ON_WRITE\n"
                "hoodie.table.version=6\nhoodie.timeline.layout.version=1\n".format(
                    os.path.basename(path.rstrip("/")) or "table"
                )
            )

    # Partitioned staging duplicates the partition columns so the hive
    # layout consumes the copies and the originals stay in the data
    # files (Hudi keeps partition source columns in base files).
    staged = df
    for c in partition_by:
        staged = staged.withColumn(f"_p_{c}", F.col(c))
    stats_by_part: dict[str, list] = {}
    for dst, _ in stage_files(
        staged,
        path,
        [f"_p_{c}" for c in partition_by],
        lambda rel_dir, _values: os.path.join(
            path,
            os.sep.join(seg[3:] for seg in rel_dir.split(os.sep)),
            f"{uuid.uuid4().hex}_0-0-0_{instant}.parquet",
        ),
    ):
        rel = os.path.relpath(dst, path)
        part = os.path.dirname(rel)
        stats_by_part.setdefault(part, []).append(
            {
                "fileId": os.path.basename(rel).split("_", 1)[0],
                "path": rel,
                "partitionPath": part,
                "fileSizeInBytes": os.path.getsize(dst),
                "totalWriteBytes": os.path.getsize(dst),
            }
        )

    action = "replacecommit" if (mode == "overwrite" and exists) else "commit"
    commit: dict = {"partitionToWriteStats": stats_by_part or {"": []}}
    if action == "replacecommit":
        prior = _live_files(path)
        prior_ids = [os.path.basename(p).split("_", 1)[0] for p in prior]
        commit["partitionToReplaceFileIds"] = {"": prior_ids}

    # Hudi's timeline transitions requested -> inflight -> completed;
    # the completed file is what readers act on, published atomically.
    for marker in (f"{instant}.{action}.requested", f"{instant}.{action}.inflight"):
        with open(os.path.join(td, marker), "w"):
            pass
    publish_once(
        os.path.join(td, f"{instant}.{action}"),
        json.dumps(commit),
        f"concurrent Hudi commit at instant {instant} ({path})",
    )
