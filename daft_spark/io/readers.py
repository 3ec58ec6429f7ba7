"""Readers — the Spark-first equivalents of the reference's ``daft.io``
surface (reference: ``daft/io/__init__.py:21-43``; native readers
``src/daft-parquet/``, ``src/daft-csv/``, ``src/daft-json/``).

Everything delegates to ``spark.read`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning; we only add the pieces
Spark lacks (parquet TIMESTAMP(NANOS) handling, glob-path listings) and
give parquet scans their schema from one footer read in the driver, as
the reference's reader does, instead of Spark's inference job.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from daft_spark.context import configure_once, get_or_create

# Canonical testdata tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _session(spark: SparkSession | None) -> SparkSession:
    if spark is None:
        return get_or_create()
    return configure_once(spark)


# Spark's parquet schema inference (ParquetUtils.inferSchema) reads one
# footer: the first data file of the listing in path order, or a summary
# file. It reads it in a one-task Spark job. The driver reads the same
# footer with the same Spark code below, so a scan plans with no job.
_PARQUET_FORMAT = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$"
_GLOB_CHARS = frozenset("{}[]*?\\")
_SUMMARY_FILES = ("_metadata", "_common_metadata")
# A top-level INT64 TIMESTAMP(NANOS) field in a parquet schema's text form.
_NS_FIELD = re.compile(
    r"^  \w+ int64 (.+) \(TIMESTAMP\(NANOS,(?:true|false)\)\)(?: = \d+)?;$", re.M
)


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName):
    ``_SUCCESS``, ``_delta_log``, ``.staging-*``; not ``k=v`` partitions."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(paths: list[str]) -> tuple[str, list[str], bool] | None:
    """The data file whose footer Spark's inference reads, the hive
    partition keys of its directory, and whether the listing holds a
    summary file. None when the paths are not local absolute files or
    directories (a URI, a glob, a relative path) or list no data file:
    only Spark's listing can say what those read."""
    files: list[tuple[str, str]] = []  # (file, partition discovery root)
    summary = False
    for p in paths:
        if not isinstance(p, str) or not p.startswith("/") or _GLOB_CHARS.intersection(p):
            return None
        p = os.path.normpath(p)
        if os.path.isfile(p):
            if _hidden(os.path.basename(p)):
                return None
            files.append((p, os.path.dirname(p)))
        elif os.path.isdir(p):
            for root, dirs, names in os.walk(p, followlinks=True):
                summary |= any(n.startswith(_SUMMARY_FILES) for n in dirs + names)
                dirs[:] = [d for d in dirs if not _hidden(d)]
                files += [(os.path.join(root, n), p) for n in names if not _hidden(n)]
        else:
            return None
    if not files:
        return None
    first, root = min(files)
    rel = os.path.relpath(os.path.dirname(first), root)
    keys = [unquote(c.split("=", 1)[0]) for c in rel.split(os.sep) if "=" in c]
    return first, keys, summary


def _read_footer(spark: SparkSession, file: str) -> tuple[StructType, tuple[str, ...]] | None:
    """Spark's schema of one local parquet file, from the calls Spark's
    inference task makes (same session confs, Spark row metadata
    honoured), and its top-level TIMESTAMP(NANOS) columns. None when the
    read raises: Spark's own inference then raises the same error."""
    jvm, jss = spark._jvm, spark._jsparkSession
    try:
        conf = jss.sessionState().newHadoopConf()
        jpath = jvm.org.apache.hadoop.fs.Path(file)
        fs = jpath.getFileSystem(conf)
        if fs.getScheme() != "file":  # a bare path on a non-local default FS
            return None
        fmt = jvm.java.lang.Class.forName(_PARQUET_FORMAT).getField("MODULE$").get(None)
        footers = fmt.readParquetFootersInParallel(
            conf, jvm.PythonUtils.toSeq([fs.getFileStatus(jpath)]), False
        )
        schema = fmt.readSchema(footers, jss).get().json()
        message = footers.head().getParquetMetadata().getFileMetaData().getSchema().toString()
    except Py4JError:
        return None
    return StructType.fromJson(json.loads(schema)), tuple(_NS_FIELD.findall(message))


def scan_parquet(spark: SparkSession, *paths: str, schema=None, **options) -> DataFrame:
    """``spark.read.parquet(*paths)`` planned without Spark's
    schema-inference job, with parquet TIMESTAMP(NANOS) columns read as
    timestamp_ntz.

    The schema comes from the first visible data file's footer, read in
    the driver (``_read_footer``); Spark still discovers hive partition
    columns from the directory names. Spark's inference job still runs,
    unchanged, for any reader option, ``spark.sql.parquet.mergeSchema``,
    a ``_metadata``/``_common_metadata`` summary file, a partition column
    also stored in the file, a path that is not a local absolute file or
    directory, no visible data file, or a footer read that raises.

    Spark's vectorized reader rejects TIMESTAMP(NANOS)
    (PARQUET_TYPE_ILLEGAL), so ``spark.sql.legacy.parquet.nanosAsLong``
    reads those columns as int64 and they are converted to microsecond
    timestamps. The columns come from the same footer, read on every
    call: schemas are uniform per dataset (the assumption the
    reference's inference makes, ``src/daft-parquet/src/schema_inference.rs``)."""
    first, partition_keys, summary = _first_data_file(list(paths)) or (None, [], False)
    file_schema, ns_columns = (first and _read_footer(spark, first)) or (None, ())
    if (
        schema is None
        and file_schema is not None
        and not options
        and not summary
        and not {k.lower() for k in partition_keys} & {n.lower() for n in file_schema.names}
        and spark.conf.get("spark.sql.parquet.mergeSchema") != "true"
    ):
        schema = file_schema
    reader = spark.read if schema is None else spark.read.schema(schema)
    if options:
        reader = reader.options(**options)
    df = reader.parquet(*paths)
    # ns-timestamp repair: int64 ns -> TIMESTAMP_NTZ(us). `div` keeps the
    # arithmetic integral and JVM-side.
    dtypes = dict(df.dtypes) if ns_columns else {}
    for c in ns_columns:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
            )
    return df


def read_parquet(
    path: str | list[str],
    spark: SparkSession | None = None,
    schema=None,
    string_encoding: str = "utf-8",
    **options,
) -> DataFrame:
    """Parity: ``daft.read_parquet`` (reference: ``daft/io/_parquet.py:24``).

    Column pruning / predicate pushdown / limit pushdown (reference:
    ``src/daft-scan/src/pushdowns.rs:16-36``) are automatic in Spark's
    parquet source — verify via ``.explain``'s PushedFilters/ReadSchema.
    The schema is known when the plan is built, with no Spark job, on
    the inputs ``scan_parquet`` names.

    ``string_encoding="raw"`` (reference read_parquet_into_pyarrow's
    escape hatch for parquet whose string columns carry invalid UTF-8)
    returns every string column as BINARY with the original bytes —
    Spark stores strings as raw bytes, so the cast is lossless
    (verified against the reference's invalid_utf8.parquet fixture).
    """
    if string_encoding not in ("utf-8", "raw"):
        raise ValueError("string_encoding must be 'utf-8' or 'raw'")
    paths = path if isinstance(path, list) else [path]
    df = scan_parquet(_session(spark), *paths, schema=schema, **options)
    if string_encoding == "raw":
        df = df.select(
            *[
                F.col(f"`{c}`").cast("binary").alias(c) if t == "string" else F.col(f"`{c}`")
                for c, t in df.dtypes
            ]
        )
    return df


def read_csv(
    path: str | list[str],
    spark: SparkSession | None = None,
    schema=None,
    header: bool = True,
    infer_schema: bool = True,
    delimiter: str = ",",
    **options,
) -> DataFrame:
    """Parity: ``daft.read_csv`` (reference: ``daft/io/_csv.py:24``)."""
    spark = _session(spark)
    reader = spark.read.option("header", header).option("sep", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    if options:
        reader = reader.options(**options)
    paths = path if isinstance(path, list) else [path]
    return reader.csv(*paths)


def read_json(
    path: str | list[str],
    spark: SparkSession | None = None,
    schema=None,
    **options,
) -> DataFrame:
    """Parity: ``daft.read_json`` — line-delimited JSON (reference:
    ``daft/io/_json.py:24``, ``src/daft-json/``)."""
    spark = _session(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    paths = path if isinstance(path, list) else [path]
    return reader.json(*paths)


def read_text(path: str | list[str], spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.read_text`` (reference: ``daft/io/_text.py:12``).
    One row per line, column ``text`` (reference names it ``text``)."""
    spark = _session(spark)
    paths = path if isinstance(path, list) else [path]
    return spark.read.text(*paths).withColumnRenamed("value", "text")


def from_glob_path(pattern: str, spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.from_glob_path`` (reference: ``daft/io/file_path.py``)
    — a listing DataFrame (path, size, num_rows=null). Uses Spark's
    binaryFile source for a distributed listing (no driver-side walk)."""
    spark = _session(spark)
    df = spark.read.format("binaryFile").load(pattern)
    return df.select(
        F.col("path"),
        F.col("length").alias("size"),
        F.lit(None).cast("long").alias("num_rows"),
    )


def from_pydict(data: dict, spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.from_pydict`` (reference: ``daft/convert.py``)."""
    spark = _session(spark)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(data))


def from_pandas(pdf, spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.from_pandas`` (reference: ``daft/convert.py``)."""
    spark = _session(spark)
    return spark.createDataFrame(pdf)


def from_arrow(table, spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.from_arrow`` (reference: ``daft/convert.py``)."""
    spark = _session(spark)
    try:
        return spark.createDataFrame(table)  # Spark 4 accepts pa.Table
    except Exception:
        return spark.createDataFrame(table.to_pandas())


def range_(start: int, end: int | None = None, step: int = 1, partitions: int | None = None,
           spark: SparkSession | None = None) -> DataFrame:
    """Parity: ``daft.range`` (reference: ``daft/io/_range.py``) —
    Python-range semantics: ``range_(5)`` -> 0..4, ``range_(2, 10)`` -> 2..9."""
    spark = _session(spark)
    if end is None:
        start, end = 0, start
    return spark.range(start, end, step, numPartitions=partitions)


def read_sql(query_or_table: str, url: str, spark: SparkSession | None = None,
             partition_col: str | None = None, num_partitions: int | None = None,
             **options) -> DataFrame:
    """Parity: ``daft.read_sql`` (reference: ``daft/io/_sql.py:26``) via JDBC.

    The reference partitions by size (``daft/io/_sql.py``); Spark's JDBC
    source partitions by ``partitionColumn`` bounds — pass
    ``partition_col``/``num_partitions`` for a parallel read.
    ``sqlite://`` URLs take the pure-Python bounds-partitioned path
    (io/sqldb.py) — no JDBC driver needed."""
    spark = _session(spark)
    from daft_spark.io.sqldb import db_path_from_url, read_sqlite

    sqlite_path = db_path_from_url(url)
    if sqlite_path is not None:
        return read_sqlite(
            query_or_table, sqlite_path, spark,
            partition_col=partition_col, num_partitions=num_partitions,
        )
    reader = spark.read.format("jdbc").option("url", url)
    q = query_or_table.strip()
    if q.lower().startswith("select"):
        reader = reader.option("query", q)
    else:
        reader = reader.option("dbtable", q)
    if partition_col is not None:
        reader = reader.option("partitionColumn", partition_col)
    if num_partitions is not None:
        reader = reader.option("numPartitions", num_partitions)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_kafka(bootstrap_servers: str, topic: str, spark: SparkSession | None = None,
               starting_offsets: str = "earliest", ending_offsets: str = "latest",
               **options) -> DataFrame:
    """Parity: ``daft.read_kafka`` — bounded batch read only, exactly like
    the reference ("no streaming/unbounded mode",
    ``daft/io/_kafka.py:571-575``). A ``file://`` bootstrap server reads
    a file-backed topic log (io/kafka_fake.py) with identical offset
    semantics — the testable path in broker-less environments; anything
    else goes through Spark's Kafka source (requires spark-sql-kafka on
    the classpath; raises a clear error otherwise)."""
    spark = _session(spark)
    if bootstrap_servers.startswith("file://"):
        from daft_spark.io.kafka_fake import read_kafka_log

        return read_kafka_log(
            bootstrap_servers[len("file://"):], topic, spark,
            starting_offsets=starting_offsets, ending_offsets=ending_offsets,
        )
    reader = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("endingOffsets", ending_offsets)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# ---------------------------------------------------------------------------
# Testdata helpers (TESTDATA.md star schema)
# ---------------------------------------------------------------------------

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated table, normalizing ns timestamps."""
    return read_parquet(os.path.join(sf_dir, f"{name}.parquet"), spark=spark)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register the testdata tables as temp views for ``spark.sql``."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
