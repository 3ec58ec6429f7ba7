"""A/B the r15 candidate (r14 verdict task 6, builder candidate 4):
connected-components propagation TWO hops per observe+checkpoint job
vs the shipped one hop per job.

Gate that triggered this probe: RESOLVE_DECOMP at sf10 shows cc_sec
5.3-5.6 s of the 11.6-13.7 s warm dedup_resolve/containment total —
the largest single stage — and the loop runs on ONE clamped partition
there (495k edges), so its cost is per-round job launch + checkpoint
materialization, exactly what halving the round count attacks.

Mechanism: labels are monotone non-increasing under hash-to-min, so
two propagation steps can share one job — the first hop is a lazy
subtree of the second's plan; `old` (the pre-round label) rides BOTH
groupBys as min(old) (the label side contributes its own label,
neighbor contributions contribute NULL, and min() ignores nulls), and
`changed == 0` after a fused double-hop iff the graph was already at
fixpoint before it. Same fixpoint, label-set identity asserted by
checksum. Cost: 2 joins + 2 aggs per job instead of 1 + 1, purchased
against one fewer job launch + one fewer labels-frame checkpoint per
2 hops.

Shapes (both arms on the SAME prebuilt symmetric checkpointed edges,
alternating passes in one session):
  resolve   the real dedup_resolve edge set at $SPARK_GRAFT_SF_DIR
            (star + LSH-mined, diameter ~2)
  chains    synthetic 1M-node paths of 8 (diameter 7) — the
            multi-round regime where the halved job count compounds

Writes probes/CC_TWOHOP_AB_r15.json (merged per sf_dir key).

Usage: python tools/cc_twohop_ab.py [passes_per_arm]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _onehop_propagate(edges, max_iterations: int = 25):
    """Shipped production loop (operators/cluster.py), via the module."""
    from daft_spark.operators.cluster import _propagate_to_fixpoint

    return _propagate_to_fixpoint(edges, max_iterations)


def _twohop_propagate(edges, max_iterations: int = 25):
    """Candidate: two hash-to-min hops per observed checkpoint job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.col("src")).alias("component"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=True)
    )
    hops = 0
    while hops < max_iterations:
        hops += 2
        comp_type = labels.schema["component"].dataType

        def _hop(cur):
            nbr = (
                edges.join(cur, edges["dst"] == cur["node"])
                .select(
                    edges["src"].alias("node"),
                    F.col("component"),
                    F.lit(None).cast(comp_type).alias("old"),
                )
            )
            return (
                cur.select("node", "component", "old")
                .unionAll(nbr)
                .groupBy("node")
                .agg(
                    F.min("component").alias("component"),
                    F.min("old").alias("old"),
                )
            )

        base = labels.select(
            "node", "component", F.col("component").alias("old")
        )
        obs = Observation()
        new_labels = (
            _hop(_hop(base))
            .observe(
                obs,
                F.sum(
                    (F.col("component") < F.col("old")).cast("long")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["changed"] or 0)
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    else:
        raise RuntimeError("not converged")
    return labels


def _build_resolve_edges(spark):
    from pyspark.sql import functions as F

    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import minhash_near_dups

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    keyed = docs.select(
        F.col("doc_id").alias("__id"),
        F.xxhash64("text").alias("__th"),
        F.length("text").alias("__tl"),
        F.col("text").alias("__text"),
    )
    groups = (
        keyed.groupBy("__th", "__tl")
        .agg(F.min(F.struct("__id", "__text")).alias("__r"))
        .localCheckpoint(eager=True)
    )
    reps = groups.select(
        F.col("__r.__id").alias("doc_id"), F.col("__r.__text").alias("text")
    )
    mined = minhash_near_dups(
        reps, "text", "doc_id", num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    star = (
        keyed.select("__id", "__th", "__tl")
        .join(
            groups.select("__th", "__tl", F.col("__r.__id").alias("__rep")),
            ["__th", "__tl"],
        )
        .filter(F.col("__id") != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col("__id").alias("id_b"))
    )
    return star.unionAll(mined)


def _build_chain_edges(spark, n: int = 1_000_000, chain: int = 8):
    from pyspark.sql import functions as F

    base = spark.range(n).filter((F.col("id") % chain) != chain - 1)
    return base.select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )


def _symmetric_checkpoint(pairs, spark):
    from pyspark.sql import functions as F

    from daft_spark.operators.cluster import _loop_partitions

    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        fwd.unionAll(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    ecnt = edges.count()
    session_sp = spark.conf.get("spark.sql.shuffle.partitions")
    loop_sp = _loop_partitions(ecnt, int(session_sp))
    return edges, ecnt, loop_sp, session_sp


def main() -> None:
    from pyspark.sql import functions as F

    from daft_spark.context import get_or_create

    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_or_create(app_name="cc_twohop_ab")
    result: dict = {"sf_dir": SF_DIR, "passes_per_arm": passes}
    for shape, builder in (
        ("resolve", _build_resolve_edges),
        ("chains", _build_chain_edges),
    ):
        edges, ecnt, loop_sp, session_sp = _symmetric_checkpoint(
            builder(spark), spark
        )
        block = {"n_edges": ecnt, "loop_partitions": loop_sp,
                 "onehop": [], "twohop": []}
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_sp))
        try:
            sums = {}
            jobs = {}
            sc = spark.sparkContext
            for arm, fn in (("onehop", _onehop_propagate),
                            ("twohop", _twohop_propagate)):
                group = f"cc_twohop_{shape}_{arm}"
                sc.setJobGroup(group, group)
                try:
                    labels = fn(edges)
                    row = labels.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("component")).alias("s"),
                    ).first()
                    jobs[arm] = len(
                        sc.statusTracker().getJobIdsForGroup(group)
                    )
                finally:
                    sc.setJobGroup("", "")
                sums[arm] = (row["n"], int(row["s"]))
            block["labels_identical"] = sums["onehop"] == sums["twohop"]
            block["label_checksums"] = {k: list(v) for k, v in sums.items()}
            block["loop_jobs"] = jobs
            for i in range(passes):
                order = (("onehop", _onehop_propagate),
                         ("twohop", _twohop_propagate))
                if i % 2:
                    order = order[::-1]
                for arm, fn in order:
                    spark.sparkContext.setJobDescription(
                        f"cc_{shape}_{arm}_pass{i}"
                    )
                    t0 = time.perf_counter()
                    labels = fn(edges)
                    labels.count()
                    block[arm].append(round(time.perf_counter() - t0, 3))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", session_sp)
        block["onehop_min"] = min(block["onehop"])
        block["twohop_min"] = min(block["twohop"])
        block["onehop_med"] = sorted(block["onehop"])[len(block["onehop"]) // 2]
        block["twohop_med"] = sorted(block["twohop"])[len(block["twohop"]) // 2]
        result[shape] = block
        print(json.dumps({shape: {k: v for k, v in block.items()
                                  if not isinstance(v, list) or len(v) < 9}}),
              flush=True)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "probes", "CC_TWOHOP_AB_r15.json",
    )
    merged = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    merged[os.path.basename(SF_DIR.rstrip("/"))] = result
    with open(path, "w") as f:
        json.dump(merged, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
