"""SparkSession lifecycle + scale-oriented configuration.

Plays the role of the reference's ``daft.context`` (reference:
``daft/context.py`` — runner/session singleton management), re-expressed
as idiomatic Spark configuration. All tuning here targets the 100 TB
posture: AQE for runtime re-planning, broadcast threshold aligned with
the reference's 10 MiB default
(reference: ``src/common/daft-config/src/lib.rs:173``), partition sizing
aligned with the reference's 96-384 MB scan-task targets
(reference: ``src/common/daft-config/src/lib.rs:169-171``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must be set before the JVM session exists.
BUILD_CONFS: dict[str, str] = {
    # local[N] runs driver+executors in ONE JVM; the 1g default heap
    # dies at sf>=1 (on a real cluster this is spark.executor.memory
    # per node instead). Overridable via SPARK_GRAFT_DRIVER_MEM.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
    "spark.driver.maxResultSize": "4g",
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # shuffle-join -> broadcast demotion. The reference picks join
    # strategy from size stats (src/common/daft-config/src/lib.rs:173);
    # AQE does the same from *runtime* stats, which is strictly better.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Catalyst hands filters to Python DataSources (pushFilters) — the
    # daft_iceberg source prunes manifests with them (io/iceberg_source.py).
    "spark.sql.python.filterPushdown.enabled": "true",
    # The testdata's `events.ts` is parquet TIMESTAMP(NANOS) which the
    # vectorized reader refuses; read as int64 ns and convert (io/readers.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock independent of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # MIN/MAX/COUNT served straight from parquet footers when possible.
    "spark.sql.parquet.aggregatePushdown": "true",
    # 512 MB split targets (was 128 MB): the r12 fresh-JVM isolated A/B
    # (probes/TPCH_AQE_AB_r12.json + _sf1) measured 512 MB uniformly
    # faster across the 9 TPC-H headliners at BOTH sf1 (-9% total,
    # q6 -46%) and sf10 (-6.5% total, q3 -26%) — per-task fixed cost
    # dominates scan parallelism at these shapes. Still sane at 100 TB
    # (~200k scan tasks); the reference's scan-task merge targets are
    # 96-384 MB (src/common/daft-config/src/lib.rs:169-171), and the
    # same A/B recorded the AQE advisory-size knobs as losses.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "536870912"
    ),
    # Cost-based join reordering (reference: DP-ccp in
    # src/daft-logical-plan/src/optimization/rules/reorder_joins/).
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Generated-code cache: compiled classes live in one JVM-wide LRU
    # keyed by their source, capped at 100 entries by default. Measured
    # working sets: about 160 classes per curation pass (quality,
    # MinHash-LSH, containment resolve, embedding), about 150 per TPC-H
    # headline sweep (110-145 of them recompiled every warm sweep at the
    # default), 46 per Delta ETL sweep. Under a cap below the working
    # set, an LRU over a cyclic access pattern evicts every class just
    # before its next use, so each warm pass recompiles nearly all of
    # them (about 155 per warm curation pass at 100; 0-6 at 1000, which
    # cut a warm curation sweep by a fifth). Static: it is read once,
    # when the JVM first generates code.
    "spark.sql.codegen.cache.maxEntries": "1000",
}

# Confs safe to apply to an externally-created session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_or_create(
    app_name: str = "daft_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the singleton session with scale-tuned defaults."""
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    confs = dict(BUILD_CONFS)
    # Shuffle partitions ~ cores on local mode; AQE coalesces down when
    # partitions come out small, and splits skewed ones back up.
    confs.setdefault("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (e.g. one the
    verification driver created). Never raises on immutable confs."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    _ship_package(spark)
    sc = spark.sparkContext
    if not getattr(sc, "_daft_spark_sources_registered", False):
        # format("daft_iceberg") batch reads with filter pushdown, and
        # the streaming sources daft_delta, daft_delta_cdf, daft_paimon
        # and daft_iceberg. A source that fails to import fails here.
        # The registry is shared by every session of the context.
        from daft_spark.io.delta_source import DeltaCDFStreamSource, DeltaStreamSource
        from daft_spark.io.iceberg_source import IcebergSource
        from daft_spark.io.paimon_source import PaimonStreamSource

        for source in (
            IcebergSource, DeltaStreamSource, PaimonStreamSource, DeltaCDFStreamSource
        ):
            spark.dataSource.register(source)
        sc._daft_spark_sources_registered = True
    spark._daft_spark_configured = True
    return spark


def configure_once(spark: SparkSession) -> SparkSession:
    """``configure`` a session the first time the package reads with it.
    Later calls leave its confs alone, so a conf the caller set after
    that (a time zone, AQE off) stays as the caller set it."""
    if getattr(spark, "_daft_spark_configured", False):
        return spark
    return configure(spark)


def release_caches(spark: SparkSession) -> None:
    """Drop every cached/persisted DataFrame in the session.

    Operators like :func:`daft_spark.operators.dedup.minhash_lsh_candidates`
    persist small intermediate frames that their returned (lazy) plan
    reads more than once; the cache must outlive the returned DataFrame,
    so the operator cannot unpersist it itself. Callers that run many
    pipelines in one long-lived session own the cache lifecycle — call
    this between pipelines to reclaim executor storage deterministically
    instead of waiting for LRU eviction.
    """
    try:
        spark.catalog.clearCache()
    except Exception:
        pass


def _ship_package(spark: SparkSession) -> None:
    """Make ``daft_spark`` importable inside Python workers regardless of
    the driver's cwd: zip the package and addPyFile it (the same
    mechanism a real cluster uses to ship the wheel). Without this,
    pandas-UDF closures that reference daft_spark symbols fail with
    ModuleNotFoundError whenever the driver runs outside the repo."""
    sc = spark.sparkContext
    if getattr(sc, "_daft_spark_shipped", False):
        return
    try:
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(
            "/tmp", f"daft_spark_pkg_{os.getpid()}_{abs(hash(pkg_dir)) % 10**8}.zip"
        )
        if not os.path.exists(zip_path):
            with zipfile.ZipFile(zip_path, "w") as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    if "__pycache__" in root:
                        continue
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                            zf.write(full, rel)
        sc.addPyFile(zip_path)
        sc._daft_spark_shipped = True
    except Exception:
        # non-fatal: in-repo drivers (cwd importable) still work
        pass
