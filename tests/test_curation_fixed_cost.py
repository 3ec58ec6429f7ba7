"""Fixed cost of a warm curation pass: generated-code reuse, Spark jobs
per stage, and the string-built MinHash aggregates.

The four stages are the perfbench ``curation`` pipeline's: text quality,
the raw-pairs MinHash-LSH miner, containment near-dup resolution and
text embedding, each run over the ``documents`` fixture and fully
materialized."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

# Spark jobs each stage launches (building plus materializing), pinned
# per stage like tests/test_plans.py pins plans. A change here is a
# change in eager guards (count, persist fills, checkpoints) or in AQE
# stage splitting; re-measure and say why rather than widen. The scan
# of the documents table each stage makes takes its schema from a
# footer read in the driver, so it adds no job.
STAGE_JOBS = {
    "text_quality": 4,
    "minhash_near_dups": 15,
    "dedup_resolve_containment": 32,
    "mm_embed_text": 3,
}

# A warm pass reuses the classes the first pass compiled. At Spark's
# default 100-entry cache the ~160-class working set recompiled about
# 155 classes every pass; the few left are plans whose generated source
# differs between passes.
WARM_PASS_MAX_COMPILES = 20


def _stages():
    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import minhash_near_dups
    from daft_spark.queries import all_queries

    reg = all_queries()
    return {
        "text_quality": reg["text_quality"].spark_fn,
        "minhash_near_dups": lambda spark, d: minhash_near_dups(
            load_table(spark, d, "documents"), "text", "doc_id",
            num_hashes=64, bands=16, threshold=0.5,
        ).orderBy("id_a", "id_b"),
        "dedup_resolve_containment": reg["dedup_resolve_containment"].spark_fn,
        "mm_embed_text": reg["mm_embed_text"].spark_fn,
    }


@pytest.fixture(scope="module")
def two_passes(spark):
    """Per pass: (classes compiled, {stage: jobs})."""
    from daft_spark.context import release_caches

    sc = spark.sparkContext
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    stages = _stages()
    passes = []
    try:
        for p in range(2):
            compiled0 = metrics.METRIC_COMPILATION_TIME().getCount()
            jobs = {}
            for name, fn in stages.items():
                group = f"curation-pass{p}-{name}"
                sc.setJobGroup(group, group)
                fn(spark, SF_DIR).toArrow()
                release_caches(spark)
                jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
            passes.append((metrics.METRIC_COMPILATION_TIME().getCount() - compiled0, jobs))
    finally:
        sc.setJobGroup("", "")
    return passes


def test_warm_curation_pass_reuses_generated_code(two_passes):
    (cold, _), (warm, _) = two_passes
    assert cold > WARM_PASS_MAX_COMPILES, "the first pass compiled nothing: metric not read?"
    assert warm <= WARM_PASS_MAX_COMPILES, (
        f"warm curation pass compiled {warm} classes (cold pass {cold}): "
        "spark.sql.codegen.cache.maxEntries below the working set?"
    )


def test_curation_jobs_per_stage(two_passes):
    for _compiled, jobs in two_passes:
        assert jobs == STAGE_JOBS


def test_signature_aggs_match_column_built(spark):
    """The SQL-text MinHash aggregates give the same 64 signatures, with
    the same types, as the Column-operator form they replaced."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import (
        _MERSENNE_P,
        _perm_constants,
        _signatures_from_hashes,
        shingle_hashes,
    )

    ex = shingle_hashes(load_table(spark, SF_DIR, "documents"), "text", "doc_id")
    reference = ex.groupBy("__id").agg(*[
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)).alias(f"__m{i}")
        for i, (a, b) in enumerate(_perm_constants(64))
    ])
    got = _signatures_from_hashes(ex, 64)
    assert got.schema == reference.schema
    want = sorted(tuple(r) for r in reference.collect())
    assert len(want) > 100
    assert sorted(tuple(r) for r in got.collect()) == want
