"""Persisted ANN index build/search (daft_spark/operators/ann_index.py):
stored-index search must equal the in-memory operators exactly (same
deterministic training), IVFPQ path included, with validated metadata."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from daft_spark.io.readers import load_table
from daft_spark.operators.ann_index import (
    add_to_ivf_index,
    build_ivf_index,
    read_index_meta,
    search_ivf_index,
)
from tests.conftest import SF_DIR


def _qc(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return queries, emb


def _rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], r["rank"], round(r["sim"], 9))
        for r in df.collect()
    )


def test_build_writes_layout_and_meta(spark, tmp_path):
    _, emb = _qc(spark)
    idx = str(tmp_path / "ix")
    meta = build_ivf_index(emb, idx, num_centroids=4, iters=1)
    assert meta["kind"] == "ivf" and meta["dim"] == 64
    assert read_index_meta(idx) == meta
    assert os.path.isdir(os.path.join(idx, "centroids"))
    parts = [
        d for d in os.listdir(os.path.join(idx, "vectors"))
        if d.startswith("centroid_id=")
    ]
    assert 1 <= len(parts) <= 4  # hive inverted lists
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    assert cents.count() == 4
    assert set(cents.columns) == {"centroid_id", "centroid", "cnorm2"}


def test_stored_ivf_equals_in_memory(spark, tmp_path):
    from daft_spark.operators.similarity import topk_cosine_ivf

    queries, emb = _qc(spark)
    idx = str(tmp_path / "ix")
    build_ivf_index(emb, idx, num_centroids=8, iters=3)
    stored = search_ivf_index(spark, idx, queries, k=5, nprobe=4)
    mem = topk_cosine_ivf(queries, emb, k=5, num_centroids=8, nprobe=4)
    assert _rows(stored) == _rows(mem)


def test_stored_ivfpq_equals_in_memory(spark, tmp_path):
    from daft_spark.operators.similarity import topk_cosine_ivfpq

    queries, emb = _qc(spark)
    idx = str(tmp_path / "ix")
    meta = build_ivf_index(
        emb, idx, num_centroids=8, kind="ivfpq", m=16, ksub=16, iters=2
    )
    assert meta["kind"] == "ivfpq"
    assert os.path.isdir(os.path.join(idx, "codebooks"))
    assert os.path.isdir(os.path.join(idx, "codes"))
    stored = search_ivf_index(
        spark, idx, queries, k=5, nprobe=4, rerank=50
    )
    mem = topk_cosine_ivfpq(
        queries, emb, k=5, num_centroids=8, nprobe=4, m=16, ksub=16,
        rerank=50, iters=2,
    )
    assert _rows(stored) == _rows(mem)
    # ADC-only path (no rerank) also returns k rows per query, no nulls
    adc = search_ivf_index(spark, idx, queries, k=3, nprobe=2).collect()
    assert len(adc) == 12 and all(r["sim"] is not None for r in adc)


def test_build_search_validation(spark, tmp_path):
    queries, emb = _qc(spark)
    with pytest.raises(ValueError, match="kind"):
        build_ivf_index(emb, str(tmp_path / "a"), kind="hnsw")
    with pytest.raises(ValueError, match="empty"):
        build_ivf_index(emb.filter(F.lit(False)), str(tmp_path / "b"))
    idx = str(tmp_path / "ix")
    build_ivf_index(emb, idx, num_centroids=4, kind="ivfpq", iters=1)
    with pytest.raises(ValueError, match="rerank"):
        search_ivf_index(spark, idx, queries, k=5, rerank=2)
    # meta file is the index contract
    with open(os.path.join(idx, "_index_meta.json")) as f:
        assert json.load(f)["num_centroids"] == 4


def test_incremental_append_matches_fresh_assignment(spark, tmp_path):
    """add_to_ivf_index: appended rows are assigned with the STORED
    centroids/codebooks (no retraining) — a search after append equals
    a search over an index built from the union corpus with the same
    centroids (training is deterministic, so same seed = same
    centroids = same assignment)."""
    queries, emb = _qc(spark)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "inc")
    build_ivf_index(emb, idx, num_centroids=8, iters=2)  # centroids on full
    # rebuild vectors dir from half_a only, then append half_b
    import shutil

    shutil.rmtree(os.path.join(idx, "vectors"))
    from daft_spark.operators.similarity import ivf_assign

    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    ivf_assign(half_a, cents).select(
        "vec_id", "embedding", "centroid_id"
    ).write.partitionBy("centroid_id").parquet(os.path.join(idx, "vectors"))
    r = add_to_ivf_index(half_b, idx)
    assert r["appended"] == half_b.count()
    got = search_ivf_index(spark, idx, queries, k=5, nprobe=4)
    full = str(tmp_path / "full")
    build_ivf_index(emb, full, num_centroids=8, iters=2)
    want = search_ivf_index(spark, full, queries, k=5, nprobe=4)
    assert _rows(got) == _rows(want)


def test_incremental_append_ivfpq_codes(spark, tmp_path):
    """ivfpq append also encodes the batch with the stored codebooks."""
    queries, emb = _qc(spark)
    idx = str(tmp_path / "pq")
    build_ivf_index(
        emb, idx, num_centroids=4, kind="ivfpq", m=8, ksub=8, iters=1
    )
    before = spark.read.parquet(os.path.join(idx, "codes")).count()
    batch = queries.select(
        (F.col("query_id") + 10_000).alias("vec_id"),
        F.col("query_vec").alias("embedding"),
    )
    add_to_ivf_index(batch, idx)
    codes = spark.read.parquet(os.path.join(idx, "codes"))
    assert codes.count() == before + 4
    out = search_ivf_index(spark, idx, queries, k=3, nprobe=4, rerank=20)
    hit = out.filter(F.col("vec_id") == F.col("query_id") + 10_000)
    assert hit.count() == 4  # each query finds its appended duplicate
    assert all(abs(r["sim"] - 1.0) < 1e-9 for r in hit.collect())


# Spark jobs of one stored-index search, planned and collected. The
# scans of the index directories (centroids, vectors, codebooks, codes)
# take their schemas from footers read in the driver, so they add no job.
SEARCH_JOBS = {"ivf": 8, "ivfpq": 14}


def test_search_jobs(spark, tmp_path):
    queries, emb = _qc(spark)
    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "pq")
    build_ivf_index(emb, ivf, num_centroids=8, iters=2)
    build_ivf_index(emb, pq, num_centroids=8, kind="ivfpq", m=16, ksub=16, iters=2)
    searches = {
        "ivf": lambda: search_ivf_index(spark, ivf, queries, k=5, nprobe=4),
        "ivfpq": lambda: search_ivf_index(spark, pq, queries, k=5, nprobe=4, rerank=50),
    }
    sc = spark.sparkContext
    jobs = {}
    try:
        for name, search in searches.items():
            group = f"ivf-search-{name}"
            sc.setJobGroup(group, group)
            search().collect()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert jobs == SEARCH_JOBS
