"""Physical-plan audits: the scale-critical properties must be visible
in explain() output — filters reaching the parquet scan, column pruning,
broadcast joins for small dims, sort+limit fusion, partial aggregation.

These are the Spark counterparts of the reference's optimizer rules
(SURVEY §4.1): PushDownFilter -> PushedFilters, PushDownProjection ->
ReadSchema, broadcast threshold -> BroadcastHashJoin, TopN fusion ->
TakeOrderedAndProject, partial/final agg -> HashAggregate x2.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    from daft_spark.io.readers import load_table

    l = load_table(spark, SF_DIR, "lineitem")
    q = l.filter(F.col("l_quantity") < 24).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters" in plan
    assert "LessThan(l_quantity,24" in plan.replace(" ", ""), plan


def test_column_pruning_in_read_schema(spark):
    from daft_spark.io.readers import load_table

    l = load_table(spark, SF_DIR, "lineitem")
    q = l.select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    # ReadSchema must contain only the projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_small_dim_join_broadcasts(spark):
    from daft_spark.queries import all_queries

    q5 = all_queries()["tpch_q5"].spark_fn(spark, SF_DIR)
    plan = plan_of(q5)
    assert "BroadcastHashJoin" in plan


def test_topn_fuses_to_take_ordered(spark):
    from daft_spark.io.readers import load_table

    e = load_table(spark, SF_DIR, "events")
    q = e.orderBy(F.col("value").desc_nulls_last()).limit(10)
    plan = plan_of(q)
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_present(spark):
    from daft_spark.io.readers import load_table

    l = load_table(spark, SF_DIR, "lineitem")
    q = l.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = plan_of(q)
    # partial + final hash aggregate = two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2


def test_limit_only_no_full_scan_shuffle(spark):
    from daft_spark.io.readers import load_table

    l = load_table(spark, SF_DIR, "lineitem")
    plan = plan_of(l.limit(5))
    assert "Exchange" not in plan or "CollectLimit" in plan


def test_asof_join_single_shuffle_per_window(spark):
    """The as-of union+window plan must shuffle on the by-key, not
    cross-join: no BroadcastNestedLoopJoin / CartesianProduct."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.asof_join import join_asof

    e = load_table(spark, SF_DIR, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pv")
    )
    plan = plan_of(join_asof(clicks, buys, on="ts", by="user_id", broadcast=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    # broadcast fast path: right becomes per-group sorted arrays behind a
    # BroadcastHashJoin — the left side is never shuffled and there is no
    # window at all
    bplan = plan_of(join_asof(clicks, buys, on="ts", by="user_id", broadcast=True))
    assert "BroadcastHashJoin" in bplan
    assert "Window" not in bplan
    assert "CartesianProduct" not in bplan


def test_minhash_no_python_udf_in_plan(spark):
    """The dedup pipeline must stay JVM-side: no Python eval nodes."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import minhash_lsh_candidates

    d = load_table(spark, SF_DIR, "documents")
    plan = plan_of(minhash_lsh_candidates(d, "text", "doc_id"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_similarity_topk_broadcasts_queries(spark):
    from daft_spark.io.readers import load_table
    from daft_spark.operators.similarity import topk_cosine_bruteforce

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = plan_of(topk_cosine_bruteforce(queries, emb, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Hive-style partition pruning (reference partition_filters pushdown,
    src/daft-scan/src/pushdowns.rs:19; tests/io/test_hive_style_partitions.py)."""
    from daft_spark.io.readers import load_table

    l = load_table(spark, SF_DIR, "lineitem").limit(2000)
    out = str(tmp_path / "part_tbl")
    l.write.partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "A")
    plan = plan_of(back)
    # pruned partition filter appears as PartitionFilters, not a post-scan Filter
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters", 1)[1][:200]


def test_spread_no_shuffle_when_well_partitioned(spark):
    """_spread must NOT round-robin-shuffle an input that already has
    >= defaultParallelism partitions (at 100 TB that would shuffle the
    whole corpus before any hashing)."""
    from daft_spark.operators.dedup import _spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, numPartitions=par * 2).withColumn(
        "text", F.concat(F.lit("doc "), F.col("id"))
    )
    out = _spread(wide)
    assert "RoundRobinPartitioning" not in plan_of(out)
    narrow = spark.range(0, 100, 1, numPartitions=1)
    assert "RoundRobinPartitioning" in plan_of(_spread(narrow))


def test_dedup_exact_no_payload_in_exchange(spark):
    """dedup_exact must shuffle 16-byte (hash, length) keys, never the
    document text: no Exchange whose hashpartitioning mentions text."""
    from daft_spark.queries import all_queries

    plan = plan_of(all_queries()["dedup_exact"].spark_fn(spark, SF_DIR))
    for i, ln in enumerate(plan.splitlines()):
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln, ln
    # and the scan must prune to the 2 needed columns + text-for-hash
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema


def test_exact_dedup_operator_hash_keyed(spark):
    """exact_dedup's keeper aggregation groups on xxhash64, not the raw
    dedup columns — no Exchange keyed on the payload column."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import exact_dedup

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    plan = plan_of(exact_dedup(d, ["text"], "doc_id"))
    assert "xxhash64" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_q15_no_global_window(spark):
    """tpch_q15's scalar max must be an aggregate + broadcast, not a
    Window over an empty partition spec (single-task funnel at scale)."""
    from daft_spark.queries import all_queries

    plan = plan_of(all_queries()["tpch_q15"].spark_fn(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_aqe_skew_join_splits_hot_key(spark):
    """The 'skewed key at 100x' story must be backed by the runtime:
    with AQE skew-join enabled, a shuffle join whose left side is
    dominated by one hot key gets its oversized partition SPLIT
    (skew=true in the executed adaptive plan) instead of one straggler
    task processing the whole key."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    sc = spark.sparkContext
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # left: 300k rows, 2/3 of them on hot key 0, with an
        # incompressible payload (shuffle block sizes are measured
        # compressed) wide enough to trip the 64KB skew threshold;
        # right: unique keys
        left = (
            spark.range(0, 300_000)
            .withColumn(
                "k", F.when(F.col("id") % 3 != 0, F.lit(0)).otherwise(F.col("id"))
            )
            .withColumn("pad", F.sha2(F.col("id").cast("string"), 512))
        )
        right = spark.range(0, 300_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # keep the pad in the join output: projecting it away would let
        # column pruning drop it from the shuffle, deflating the hot
        # partition below the skew threshold
        out = left.join(right, "k")
        # AQE applies OptimizeSkewedJoin when the join stage is created
        # below a sink/exchange (a collect()'s result stage is not
        # re-optimized in this Spark version), so drive a noop write
        # and assert at the RUNTIME level: the join stage must run MORE
        # tasks than shuffle partitions — the hot partition was split.
        sc.setJobGroup("skewtest", "aqe skew join validation")
        out.write.format("noop").mode("overwrite").save()
        st = sc.statusTracker()
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        task_counts = []
        for jid in st.getJobIdsForGroup("skewtest"):
            info = st.getJobInfo(jid)
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    task_counts.append(sinfo.numTasks)
        assert any(n > n_parts for n in task_counts), (
            f"no stage exceeded {n_parts} tasks (no skew split): {task_counts}"
        )
    finally:
        sc.setJobGroup(None, None)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q5_region_pruning_before_fact_join(spark):
    """Dimension-first Q5: the ASIA restriction must reach customer and
    supplier BEFORE the big fact joins — visible as the region filter
    sitting under broadcast joins against customer/supplier, not after
    the c x o x l join."""
    from daft_spark.queries import all_queries

    plan = plan_of(all_queries()["tpch_q5"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the region filter appears in the scan-side subtree (pushed into
    # the dimension pipeline), and customer is joined against the
    # broadcast nation/region slice rather than raw orders first
    assert "ASIA" in plan
    lines = plan.splitlines()
    bcast_first = min(i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln)
    smj_lines = [i for i, ln in enumerate(lines) if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln]
    # at sf0.001 AQE may broadcast everything; when shuffle joins exist,
    # at least one broadcast (dimension) join must sit below them
    if smj_lines:
        assert bcast_first < max(smj_lines)


def test_q21_plan_shape(spark):
    """tpch_q21: the supplier⋈nation dim must broadcast, no cartesian
    product may appear, and the per-order aggregate must partial-agg
    before its exchange (the decorrelated EXISTS/NOT-EXISTS rewrite)."""
    from daft_spark.queries import all_queries

    plan = plan_of(all_queries()["tpch_q21"].spark_fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_q18_aggregate_before_join_plan(spark):
    """tpch_q18: lineitem must reduce by l_orderkey (partial+final agg)
    BEFORE any join — exactly one shuffle exchange (the groupBy), both
    joins broadcast, and exactly one lineitem scan."""
    from daft_spark.queries import all_queries

    plan = plan_of(all_queries()["tpch_q18"].spark_fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 1
    # each table scanned exactly once (Location detail appears once per scan)
    for t in ("lineitem.parquet", "orders.parquet", "customer.parquet"):
        assert plan.count(t) == 1, f"{t} scanned {plan.count(t)} times"
    assert "SortMergeJoin" not in plan  # tiny survivor set -> broadcasts


def test_q21_single_fact_subtree(spark):
    """tpch_q21: the (order, supplier) reduction feeds the per-order
    window — the fact join must NOT be expanded into two subtrees (one
    lineitem scan only), and the supplier counts come from a Window,
    not an agg self-joined back to its input."""
    from daft_spark.queries import all_queries

    plan = plan_of(all_queries()["tpch_q21"].spark_fn(spark, SF_DIR))
    lineitem_scans = plan.count("lineitem.parquet")
    assert lineitem_scans == 1, f"fact subtree duplicated: {lineitem_scans} lineitem scans"
    assert "Window" in plan


def test_q15_no_global_window_single_lineitem_scan(spark):
    """tpch_q15: the scalar max must come from an aggregate broadcast
    (no empty-partition Window funneling all suppliers through one
    task), and the persisted revenue CTE must appear as ONE lineitem
    scan (InMemoryTableScan on the second consumer)."""
    from daft_spark.queries import all_queries

    df = all_queries()["tpch_q15"].spark_fn(spark, SF_DIR)
    plan = plan_of(df)
    assert "Window" not in plan
    assert plan.count("lineitem.parquet") <= 1
    df.sparkSession.catalog.clearCache()


def test_delta_dv_read_broadcasts_positions(spark, tmp_path):
    """The DV merge-on-read plan must apply deleted positions as a
    BROADCAST anti-join (the positions frame is metadata-sized) — a
    shuffled anti-join would move the whole table for a handful of
    tombstones."""
    from pyspark.sql import functions as F

    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        read_deltalake_py,
        write_deltalake_py,
    )
    from daft_spark.io.readers import load_table
    from tests.conftest import SF_DIR

    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_acctbal")
    path = str(tmp_path / "t")
    write_deltalake_py(c, path, mode="overwrite")
    delete_deltalake_dv_py(path, spark, "c_acctbal < 0")
    plan = plan_of(read_deltalake_py(path, spark))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize("partition_by", [None, ["grp"]])
def test_delta_read_plan_one_dv_anti_join(spark, tmp_path, partition_by):
    """read_deltalake_py is a plain parquet scan until the table has
    deletion vectors; then the DV positions apply through broadcast
    left-anti joins only — exactly one on an unpartitioned table (the
    optimizer may push it into each branch of a partitioned table's
    union) — so the shared scan adds no work to Delta reads."""
    from daft_spark.io.delta import (
        delete_deltalake_dv_py,
        read_deltalake_py,
        write_deltalake_py,
    )

    def physical(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    path = str(tmp_path / "t")
    write_deltalake_py(df, path, mode="overwrite", partition_by=partition_by)
    plan = physical(read_deltalake_py(path, spark))
    assert "Join" not in plan, plan
    delete_deltalake_dv_py(path, spark, "id % 5 = 0")
    got = read_deltalake_py(path, spark)
    plan = physical(got)
    joins = plan.count("Join")
    assert joins == len(re.findall(r"BroadcastHashJoin .*LeftAnti", plan)), plan
    assert joins == (1 if partition_by is None else 3), plan
    assert got.count() == 160


def test_iceberg_pos_delete_read_no_shuffle_join(spark, tmp_path):
    """Position-delete application joins on (file, ordinal); with a
    small delete set AQE/broadcast must keep the probe side unshuffled."""
    from daft_spark.io.iceberg import (
        position_delete_iceberg_py,
        read_iceberg_py,
        write_iceberg_py,
    )
    from daft_spark.io.readers import load_table
    from tests.conftest import SF_DIR

    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_acctbal")
    path = str(tmp_path / "t")
    write_iceberg_py(c, path, mode="overwrite")
    position_delete_iceberg_py(path, spark, "c_acctbal < 0")
    df = read_iceberg_py(path, spark)
    plan = plan_of(df)
    assert "LeftAnti" in plan, plan
    # the delete side is tiny: broadcast (possibly via AQE) — assert the
    # data side is not exchanged for the anti-join in the static plan
    assert plan.count("Exchange hashpartitioning") == 0 or "BroadcastHashJoin" in plan, plan


def test_q5_lineitem_first_join_is_broadcast(spark):
    """r6 Q5 shape: lineitem's FIRST contact must be the broadcast join
    with the pruned suppliers (single scan pass, no full-lineitem
    shuffle before supplier pruning) — the orderkey join sees only the
    reduced side."""
    from daft_spark.queries import all_queries

    df = all_queries()["tpch_q5"].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # in the tree string children print below their parent: the nearest
    # join ABOVE the lineitem scan is the one lineitem feeds first —
    # it must be a BroadcastHashJoin (supplier side), never an exchange
    # into a shuffle join of the raw fact table
    li = [i for i, ln in enumerate(lines) if "lineitem" in ln and "Scan" in ln]
    assert li, plan
    above = [ln for ln in reversed(lines[: li[0]]) if "Join" in ln]
    assert above and "BroadcastHashJoin" in above[0], plan


def test_contamination_benchmark_broadcasts(spark):
    """benchmark_contamination: the benchmark shingle set must
    BROADCAST into a LeftSemi hash join (keys-only corpus explode, no
    payload shuffle of the corpus side against the benchmark)."""
    from pyspark.sql import functions as F

    from daft_spark.operators.dedup import benchmark_contamination
    from daft_spark.io.readers import load_table

    d = load_table(spark, SF_DIR, "documents")
    out = benchmark_contamination(d, d.filter(F.col("doc_id") % 41 == 0))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_lm_bigrams_build_without_token_join(spark):
    """bigram_lm_scores pairs each token with its successor INSIDE the
    posexplode span (F.get on the in-scope array) — the optimized plan
    must contain NO join below the first aggregate that builds the
    bigram counts (a positional self-join would shuffle the token rows
    twice before any aggregation)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.lm import bigram_lm_scores

    d = load_table(spark, SF_DIR, "documents")
    out = bigram_lm_scores(d)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # joins DO appear later (attaching c12/c1/V to the bigram frame);
    # the zero-shuffle claim is about bigram CONSTRUCTION — assert the
    # generator (posexplode) has no Join between it and its aggregate
    lines = plan.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate posexplode" in ln]
    assert gen, plan
    # walk UP from the deepest generator to the nearest Aggregate; no
    # Join may sit in between (children print below parents)
    segment = lines[: gen[-1]]
    aggs = [i for i, ln in enumerate(segment) if "Aggregate" in ln]
    joins = [i for i, ln in enumerate(segment) if "Join" in ln]
    assert aggs, plan
    assert not joins or max(joins) < max(aggs), plan


def test_substring_spans_explode_keys_only(spark):
    """duplicated_span_stats explodes (doc_id, window-hash) ONLY — the
    document text column must never appear above the generator (the
    windows hash inside the row, so the exploded frame is 8-byte keys
    at token scale)."""
    from pyspark.sql import functions as F

    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import duplicated_span_stats

    d = load_table(spark, SF_DIR, "documents")
    out = duplicated_span_stats(d, "text", "doc_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert gen, plan
    # nothing ABOVE the generator may reference the text payload
    above = "\n".join(lines[: gen[0]])
    assert "text#" not in above, plan


def test_lm_count_joins_consume_per_doc_counts_not_occurrences(spark):
    """Skew hardening (r8 verdict #4): the c12/c1 count-attach joins
    must consume the per-document bigram-count aggregate — the shuffle
    then carries one (doc, w1, w2, n) row per DISTINCT bigram per doc,
    never one row per occurrence, bounding what a web-scale hot bigram
    ("of the") can funnel into one join partition."""
    import re

    from daft_spark.io.readers import load_table
    from daft_spark.operators.lm import bigram_lm_scores

    d = load_table(spark, SF_DIR, "documents")
    out = bigram_lm_scores(d)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # The reducing aggregate groups on (doc_id, __w1, __w2) and must sit
    # BELOW every join (deeper = larger line index in the tree print).
    # The matcher accepts both the logical `Aggregate [...]` spelling and
    # the `HashAggregate(keys=[...])` spelling a persisted frame's cached
    # plan prints, so the pin survives persist/no-persist changes (the
    # r14 lm.py persist was tried and reverted; the shipped code does
    # NOT persist). The property pinned is unchanged either way: joins
    # consume reduced rows, and the occurrence-level posexplode only
    # ever feeds a reducer, never a join directly.
    lines = plan.splitlines()
    reducer = [
        i for i, ln in enumerate(lines)
        if re.search(
            r"(HashAggregate\(keys=\[|Aggregate \[)[^\]]*doc_id[^\]]*__w1[^\]]*__w2",
            ln,
        )
    ]
    joins = [i for i, ln in enumerate(lines) if "Join" in ln]
    gens = [i for i, ln in enumerate(lines) if "Generate posexplode" in ln]
    assert reducer and gens, plan
    assert joins and max(joins) < min(reducer), plan
    assert min(gens) > min(reducer), plan


def test_lm_scores_exact_on_zipfian_skew(spark):
    """A corpus where ONE bigram is ~30% of all occurrences (the
    Zipfian worst case) still scores exactly: per-doc pre-aggregation
    plus the decimal logprob sum make the result independent of how
    the skewed key lands across partitions."""
    import math

    from daft_spark.operators.lm import bigram_lm_scores

    # 120 docs: every doc repeats "of the" heavily; half add unique tail
    rows = []
    for i in range(120):
        body = "of the " * 15  # 15 "of the" + 14 "the of" bridges
        tail = f"tok{i} alpha beta" if i % 2 else "gamma delta"
        rows.append((i, (body + tail).strip()))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"], r["perplexity"])
        for r in bigram_lm_scores(df).collect()
    }
    # pure-python reference (same add-k model, same rounding contract)
    import collections

    k = 0.5
    toks = {i: t.lower().split() for i, t in rows}
    c12, c1, vocab = collections.Counter(), collections.Counter(), set()
    for ts in toks.values():
        vocab.update(ts)
        for a, b in zip(ts, ts[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    V = len(vocab)
    for i, ts in toks.items():
        bgs = list(zip(ts, ts[1:]))
        lsum = sum(
            round(math.log((c12[bg] + k) / (c1[bg[0]] + k * V)), 9) for bg in bgs
        )
        avg = round(lsum / len(bgs), 6)
        exp = (len(bgs), avg, round(math.exp(-avg), 4))
        assert got[i] == exp, (i, got[i], exp)
    # sanity: the hot bigram really dominates
    total = sum(c12.values())
    assert c12[("of", "the")] / total > 0.3


def test_span_removal_explode_keys_only(spark):
    """remove_duplicated_spans explodes (doc_id, start, window-hash)
    structs ONLY — the text payload must never sit above the generator
    (windows hash in-row; removal starts come back keys-only)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import remove_duplicated_spans

    d = load_table(spark, SF_DIR, "documents")
    out = remove_duplicated_spans(d, "text", "doc_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert gen, plan
    # the final reassembly projection references text-derived arrays on
    # the BASE side of the join; the mining side must come back keys-only
    assert "Join" in plan
    # the invariant: the Generate line (generator expression + the child
    # outputs it retains) must not carry the raw text column through the
    # explode — text is consumed below it to build the struct array and
    # never rides alongside the exploded keys
    for i in gen:
        assert "text#" not in lines[i], plan


def test_pack_sequences_window_moves_counts_only(spark):
    """pack_sequences' running-sum window consumes (id, by, n_tokens)
    rows — the text column must be projected away below the window
    exchange (the packing plan shuffles counts, never documents)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.sampling import pack_sequences

    d = load_table(spark, SF_DIR, "documents")
    out = pack_sequences(d, "text", "doc_id", seq_len=2048, by=["source"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    win = [i for i, ln in enumerate(lines) if "Window [" in ln]
    assert win, plan
    # everything from the Window node up must be free of the raw text
    # column (token_count folds into the scan-side projection below it)
    assert "text#" not in lines[win[0]], plan
    above = "\n".join(lines[: win[0] + 1])
    assert "regexp_count" not in above, plan


def test_default_path_has_no_global_single_partition_window(spark):
    """pack_sequences and perplexity_buckets with by=None (the default)
    must window over the implicit md5 shard key — the plan's window
    spec carries shard#, never an empty partition spec that would sort
    the corpus in one partition (r9 verdict #5)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.lm import perplexity_buckets
    from daft_spark.operators.sampling import pack_sequences

    d = load_table(spark, SF_DIR, "documents")
    for out in (
        pack_sequences(d, "text", "doc_id", seq_len=2048),
        perplexity_buckets(d, "text", "doc_id", n_buckets=3),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        wins = [ln for ln in plan.splitlines() if "Window [" in ln]
        assert wins, plan
        for ln in wins:
            assert "shard#" in ln, ln


def test_key_skew_report_single_key_exchange(spark):
    """key_skew_report must shuffle key-grain rows exactly ONCE — the
    same exchange the audited operation would do, minus the payload.
    The counts subtree feeds both the summary and the top-k, and AQE's
    exchange reuse collapses the second reference to a ReusedExchange
    at runtime; the only other exchanges move pre-aggregated summary
    partials (SinglePartition of a handful of rows) or broadcast the
    1-row summary (r10 verdict task 3)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.skew import key_skew_report

    rep = key_skew_report(
        load_table(spark, SF_DIR, "events"), "user_id", top_k=5
    )
    rep.collect()  # AQE finalizes reuse only at execution
    plan = rep._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    live = [
        ln
        for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]
    assert len(live) == 1, final
    assert "ReusedExchange" in final, final
    # approx (default) and exact modes agree on everything but the
    # percentile columns' computation path
    exact = key_skew_report(
        load_table(spark, SF_DIR, "events"), "user_id", top_k=5,
        approx=False,
    )
    a = [(r["rank"], r["key"], r["key_rows"], r["skew_ratio"]) for r in rep.collect()]
    b = [(r["rank"], r["key"], r["key_rows"], r["skew_ratio"]) for r in exact.collect()]
    assert a == b


def test_quantized_ivf_no_corpus_crossjoin(spark):
    """topk_cosine_quantized_ivf: the corpus must never cross-join a
    query — the only BroadcastNestedLoopJoins allowed are against the
    tiny persisted CENTROID table (InMemoryTableScan build side); the
    query-corpus scoring join must be a broadcast EQUI-join on
    centroid_id (r10 verdict task 2)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.similarity import topk_cosine_quantized_ivf

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    out = topk_cosine_quantized_ivf(
        queries, emb, k=3, num_centroids=4, nprobe=2, iters=1
    )
    plan = plan_of(out)
    lines = plan.splitlines()
    bnlj_idx = [i for i, ln in enumerate(lines) if "BroadcastNestedLoopJoin" in ln and "+-" in ln]
    assert bnlj_idx, plan  # centroid assignment/probing do cross-join
    for i in bnlj_idx:
        # the build (broadcast) side of every cross join must be the
        # centroid table: an InMemoryTableScan within the next few
        # tree lines, never a parquet corpus scan
        sub = "\n".join(lines[i : i + 7])
        assert "InMemoryTableScan" in sub, sub
    assert "BroadcastHashJoin" in plan, plan  # the probe equi-join
    # top-k is rank-limited, not globally sorted
    assert "WindowGroupLimit" in plan, plan


def test_top_ngrams_take_ordered_no_global_sort(spark):
    """top_ngrams' top-k must plan as TakeOrderedAndProject over a
    partially-aggregated count — no global Sort node, no window."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.repetition import top_ngrams

    d = load_table(spark, SF_DIR, "documents")
    plan = plan_of(top_ngrams(d, "text", "doc_id", n=2, k=50))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "Window" not in plan, plan


def test_dsir_weights_shuffles_keys_only(spark):
    """dsir_log_weights: text and gram arrays must never shuffle —
    every Exchange moves narrow aggregation rows (bucket/doc_id keys +
    count/sum partials), the ratio table broadcasts, and the per-doc
    sum is map-side combined before its exchange."""
    import re

    from daft_spark.io.readers import load_table
    from daft_spark.operators.dsir import dsir_log_weights

    docs = load_table(spark, SF_DIR, "documents")
    w = dsir_log_weights(docs, docs.filter(F.col("source") == "src0"))
    plan = plan_of(w)
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    seen_exchange = False
    for b in blocks:
        head = b.split("\n")[0]
        if ") Exchange" not in head and ") BroadcastExchange" not in head:
            continue
        seen_exchange = True
        m = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", b)
        assert m, b
        ncols, cols = int(m.group(1)), m.group(2)
        assert ncols <= 3, b  # narrow partials only
        assert "text" not in cols and "__t" not in cols and "g#" not in cols, b
    assert seen_exchange, plan
    # final agg output exists for every doc, incl. gram-less ones
    assert "HashAggregate" in plan


def test_bm25_single_stats_agg_take_ordered(spark):
    """bm25_topk: ONE fixed-width corpus-stats aggregation broadcast
    onto a single corpus scan; top-k plans as TakeOrderedAndProject
    (no global Sort, no window)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, SF_DIR, "documents")
    t = bm25_topk(docs, ["hash", "join", "spark"], k=20)
    plan = plan_of(t)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    # stats scan + score scan, each printed twice by explain("formatted")
    # (tree + detail section): exactly 2 distinct scans
    assert plan.count("Scan parquet") == 4, plan
    final = plan.split("* Sort")[0]
    assert "Window" not in final, plan


def test_line_dedup_explode_keys_only(spark):
    """remove_duplicated_lines explodes (doc_id, pos, line-hash)
    ONLY — the raw line/text strings must never ride through the
    Generate (they hash in-row; removal positions come back as one
    small int array per doc)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import remove_duplicated_lines

    d = load_table(spark, SF_DIR, "documents")
    out = remove_duplicated_lines(d, "text", "doc_id", sep=" ")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate posexplode" in ln]
    assert gen, plan
    for i in gen:
        assert "text#" not in lines[i], plan


def test_incremental_novel_keys_only_anti_join(spark):
    """incremental_novel's anti-join exchanges 16-byte (hash, len)
    keys: no text column may appear in or above the Join, and the
    corpus side must pre-aggregate (map-side combine) before it."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import incremental_novel

    d = load_table(spark, SF_DIR, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    out = incremental_novel(corpus, batch, "text", "doc_id")
    plan = plan_of(out)
    assert "LeftAnti" in plan, plan
    # text is consumed by the hash projection below the join: the
    # join condition and aggregate keys reference only __h/__len
    joinish = [
        ln for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "BroadcastHashJoin" in ln or "HashAggregate" in ln
    ]
    for ln in joinish:
        assert "text#" not in ln, ln


def test_funnel_no_window_all_hash_aggs(spark):
    """funnel_steps must plan as shrinking conditional aggregations:
    no Window over the event stream, no collect_list of histories."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.funnel import funnel_steps

    ev = load_table(spark, SF_DIR, "events")
    out = funnel_steps(ev, ["view", "click", "purchase"])
    plan = plan_of(out)
    assert "Window" not in plan, plan
    assert "collect_list" not in plan, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan, plan


def test_pq_search_no_float_vector_crossjoin(spark):
    """topk_cosine_pq's only cross join is codes x broadcast LUTs —
    the float embedding column must never appear in a cross-join
    operand (the bulk scan reads codes, not vectors)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.similarity import topk_cosine_pq

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    queries = (
        emb.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    out = topk_cosine_pq(queries, corpus, k=3, m=16, ksub=8, iters=1)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    # every Join line in the ADC scoring subtree must not carry the
    # corpus float vector; 'embedding#' may appear only below the
    # encode aggregation (where codes are built)
    for i, ln in enumerate(lines):
        if "Join Cross" in ln:
            assert "embedding#" not in ln, plan


def test_retention_event_payload_not_shuffled(spark):
    """retention_cohorts exchanges only (user, epoch) pairs — the
    props/event_type payload columns must be pruned at the scan."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.funnel import retention_cohorts

    ev = load_table(spark, SF_DIR, "events")
    out = retention_cohorts(ev)
    plan = plan_of(out)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    for ln in scan:
        assert "props" not in ln and "event_type" not in ln, ln


def test_ivfpq_no_corpus_crossjoin(spark):
    """topk_cosine_ivfpq: the corpus meets queries ONLY through the
    broadcast equi-join on centroid_id over PQ codes — no cross join
    may carry the corpus float vectors or the code table (the only
    legitimate cross joins build against the tiny centroid/LUT
    frames)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.similarity import topk_cosine_ivfpq

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    queries = (
        emb.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"))
    )
    out = topk_cosine_ivfpq(
        queries, corpus, k=3, num_centroids=4, nprobe=2, m=16, ksub=8,
        rerank=10, iters=1,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for ln in plan.splitlines():
        if "Join Cross" in ln:
            assert "embedding#" not in ln and "codes#" not in ln, plan


def test_stored_ivf_search_partition_pruned_no_training(spark, tmp_path):
    """search_ivf_index (operators/ann_index.py): the search plan must
    read the index's inverted lists through a STATIC centroid_id
    partition filter (PartitionFilters / partition count < total) and
    contain no k-means stage — training never appears in the search
    lineage (r11 verdict task 4)."""
    from daft_spark.io.readers import load_table
    from daft_spark.operators.ann_index import build_ivf_index, search_ivf_index

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, idx, num_centroids=8, iters=1)
    out = search_ivf_index(spark, idx, queries, k=3, nprobe=2)
    plan = plan_of(out)
    # the vectors scan carries the centroid_id IN pushdown as a
    # partition filter (centroid_id is a hive partition column)
    assert "centroid_id" in plan, plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*centroid_id[^\]]*\]", plan)
    assert m, plan
    # no aggregation over training's element-average columns anywhere
    assert "__cx" not in plan and "__i" not in plan, plan
    # corpus data comes only from the index; the sole non-index scans
    # are the query-side embeddings input (vec_id < 2 pushed down)
    locs = re.findall(r"Location:.*", plan)
    assert any("ivf_idx/vectors" in ln for ln in locs), plan
    # The probes side (queries x broadcast centroids, top-nprobe) is
    # pinned by an eager localCheckpoint (r13 ADVICE — one consistent
    # snapshot feeds both the prune list and this plan), so the
    # centroids/queries scans ran inside the checkpoint and surface
    # here as a materialized RDD scan, not parquet locations.
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    for ln in locs:
        assert "ivf_idx" in ln, ln


def test_winnow_resolve_no_text_shuffle(spark):
    """dedup_winnow_resolve's full composition (exact collapse ->
    winnow pair mine over reps -> star edges -> connected components)
    must never shuffle document text: every Exchange carries 16-byte
    collapse keys, (doc, fp) index keys, or id-only CC labels."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["dedup_winnow_resolve"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    assert "CartesianProduct" not in plan


def test_winnow_decontaminate_broadcast_keys_only(spark):
    """dedup_winnow_decontaminate: the benchmark fingerprint set must
    BROADCAST (eval benchmarks are tiny next to the corpus) and no
    Exchange may carry document text."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["dedup_winnow_decontaminate"].spark_fn(spark, SF_DIR)
    )
    assert "BroadcastExchange" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    assert "CartesianProduct" not in plan


def test_jaccard_pairs_blocked_is_shuffled_equi_join(spark):
    """jaccard_pairs plan shape (r13 ADVICE): unblocked -> broadcast
    (bounded-sample contract, kills the CartesianProduct); blocked ->
    plain shuffled equi-join on the block keys (blocking is the knob
    that makes corpus-scale inputs legal — never broadcast the
    corpus)."""
    from daft_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", f"tok{i} tok{i+1} tok{i+2} tok{i+3}")
         for i in range(40)],
        "doc_id long, source string, text string",
    )
    unblocked = plan_of(
        jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    )
    assert "CartesianProduct" not in unblocked
    assert "BroadcastExchange" in unblocked

    blocked = plan_of(
        jaccard_pairs(docs, "text", "doc_id", threshold=0.5,
                      block_cols=["source"])
    )
    assert "CartesianProduct" not in blocked
    # equi-join on the block key, NOT a broadcast of the corpus side
    assert ("SortMergeJoin" in blocked) or ("ShuffledHashJoin" in blocked), blocked


def test_quality_shift_no_text_shuffle(spark):
    """dedup_quality_shift: the dedup window keys on
    (xxhash64(text), length) and the per-group agg moves scalar
    quality/count partials — document text must never ride an
    Exchange."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["dedup_quality_shift"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text#" not in ln, ln
    assert "CartesianProduct" not in plan


def test_semdedup_sweep_blocked_no_cartesian(spark):
    """sim_semdedup_sweep: ONE blocked pair-mining pass (equi-join on
    the block key, never all-pairs), one per-id max agg, one stacked
    conditional aggregate — no CartesianProduct and no per-threshold
    rescan (exactly one join of the corpus against itself)."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["sim_semdedup_sweep"].spark_fn(spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    # formatted output lists each scan twice (tree line + "(N) Scan
    # parquet" detail header) — count the detail headers
    scans = len(
        [ln for ln in plan.splitlines()
         if re.match(r"^\(\d+\) Scan parquet", ln.strip())]
    )
    assert scans <= 3, f"{scans} corpus scans (expected <=3):\n{plan}"


def test_curation_v5_no_text_shuffle(spark):
    """pipeline_corpus_curation_v5 (curation -> decontamination ->
    mixture -> split -> packing -> audit): text rides no Exchange in
    the ENTIRE composition; the packing window moves (id, n_tokens)
    rows only."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["pipeline_corpus_curation_v5"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    assert "CartesianProduct" not in plan


def test_threshold_sweep_no_text_shuffle(spark):
    """dedup_threshold_sweep: the winnow candidate mine + max-Jaccard
    rollup + stacked counts must never shuffle document text — every
    Exchange carries (doc, fp) index keys or id-only aggregates; the
    single-row totals frame broadcasts."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["dedup_threshold_sweep"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_source_overlap_keys_only(spark):
    """dedup_source_overlap: the pair join runs on DISTINCT
    (source, fp) keys — no Exchange carries text, the per-source
    totals broadcast, and no cartesian product appears."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["dedup_source_overlap"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_novelty_audit_keys_only(spark):
    """text_novelty_audit: first-occurrence agg and join-back run on
    (doc, fp) keys only — text never shuffles."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["text_novelty_audit"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    assert "CartesianProduct" not in plan


def test_shard_manifest_no_text_shuffle(spark):
    """pipeline_shard_manifest: the groupBy(shard) exchange carries
    (shard, counts) only — text reduces to token/char counts before
    any shuffle; the totals row broadcasts."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["pipeline_shard_manifest"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_vocab_growth_no_text_shuffle(spark):
    """text_vocab_growth: exchanges carry exploded tokens or id-keyed
    counts, never the document text; the scalar frames broadcast."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["text_vocab_growth"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_quantization_distortion_no_vector_shuffle(spark):
    """sim_quantization_distortion: the only exchange is the
    label-keyed rollup — embeddings and quantized vectors never
    shuffle."""
    from daft_spark.queries import all_queries

    plan = plan_of(
        all_queries()["sim_quantization_distortion"].spark_fn(spark, SF_DIR)
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "embedding#" not in ln and "qvec" not in ln, ln
    assert "CartesianProduct" not in plan


def test_attribution_no_join(spark):
    """rel_attribution must plan as ONE user-keyed window + a channel
    rollup — no join of conversions against touches, no cartesian
    product (the per-conversion range-join alternative re-shuffles
    both sides at 100 TB)."""
    from daft_spark.queries import all_queries

    plan = plan_of(all_queries()["rel_attribution"].spark_fn(spark, SF_DIR))
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
    assert "Window" in plan
