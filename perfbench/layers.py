"""Per-layer metrics of a traced run: span times per sweep, Spark's own
job and stage metrics joined to the spans by job group, and the
counters only some workloads have (Delta table shape, LSH verify
ratio). A layer a workload never calls reports 0."""

from __future__ import annotations

import statistics

from tracing import spark_stage_metrics

# Per-layer metric -> span whose SELF time per sweep it reports.
SELF_TIME = {
    "context.release_caches_s": "context.release_caches",
    "sql.sql_s": "sql.sql",
    "io.readers.load_table_s": "io.readers.load_table",
    "queries.build_s": "queries.build",
    "engine.plan_s": "engine.plan",
    "engine.exec_s": "engine.exec",
    "operators.dedup.minhash_near_dups_s": "operators.dedup.minhash_near_dups",
    "operators.dedup.near_dup_resolve_s": "operators.dedup.near_dup_resolve",
    "operators.cluster.connected_components_s": "operators.cluster.connected_components",
    "io.delta.write_s": "io.delta.write",
    "io.delta.merge_s": "io.delta.merge",
    "io.delta.delete_s": "io.delta.delete",
    "io.delta.optimize_s": "io.delta.optimize",
    "io.delta.read_s": "io.delta.read",
}
# Per-layer metric -> operation whose whole time per sweep it reports:
# these layers do their work inside engine.exec of that operation.
OP_TIME = {
    "functions.text.quality_s": "op.text_quality",
    "multimodal.llm.embed_text_s": "op.mm_embed_text",
}
BUILD_SPANS = ("queries.build", "sql.sql")
COMMITS = ("op.overwrite", "op.append", "op.merge", "op.delete", "op.optimize")


def per_layer(ctx, wl, tracer, setups, sessions, traced) -> dict:
    spans = {s.id: s for s in tracer.spans}
    selfs = tracer.self_times()
    n = max(len(traced.sweeps), 1)
    out: dict[str, tuple[float, str]] = {
        "context.launch_s": (setups[0], "s"),
        "context.session_s": (statistics.median(sessions[1:] or sessions), "s"),
        "context.cached_bytes": (float(ctx.cached_bytes), "bytes"),
    }
    for metric, name in SELF_TIME.items():
        t = sum(selfs[i] for i, s in spans.items() if s.name == name)
        out[metric] = (t / n, "s")
    for metric, name in OP_TIME.items():
        t = sum(s.end - s.start for s in spans.values() if s.name == name)
        out[metric] = (t / n, "s")

    groups = spark_stage_metrics(ctx.spark)
    tot: dict[str, float] = {}
    build_jobs = 0
    for g, m in groups.items():
        for k, v in m.items():
            tot[k] = tot.get(k, 0) + v
        sid = int(g)
        while sid is not None and sid in spans:
            if spans[sid].name in BUILD_SPANS:
                build_jobs += m["jobs"]
                break
            sid = spans[sid].parent
    g = lambda k: tot.get(k, 0)  # noqa: E731
    task_s = g("executorRunTime") / 1e3
    out.update({
        "queries.build_jobs": (build_jobs / n, "count"),
        "engine.jobs": (g("jobs") / n, "count"),
        "engine.stages": (g("stages") / n, "count"),
        "engine.tasks": (g("numCompleteTasks") / n, "count"),
        "engine.failed_tasks": (g("numFailedTasks") / n, "count"),
        "engine.task_s": (task_s / n, "s"),
        "engine.cpu_s": (g("executorCpuTime") / 1e9 / n, "s"),
        "engine.gc_s": (g("jvmGcTime") / 1e3 / n, "s"),
        "engine.core_util": (task_s / (traced.wall * ctx.cores), "ratio"),
        "engine.shuffle_read_bytes": (g("shuffleReadBytes") / n, "bytes"),
        "engine.shuffle_write_bytes": (g("shuffleWriteBytes") / n, "bytes"),
        "engine.spill_bytes": ((g("memoryBytesSpilled") + g("diskBytesSpilled")) / n, "bytes"),
        "engine.result_bytes": (g("resultSize") / n, "bytes"),
        "io.readers.input_bytes": (g("inputBytes") / n, "bytes"),
        "io.readers.input_rows": (g("inputRecords") / n, "count"),
        "io.writers.output_bytes": (g("outputBytes") / n, "bytes"),
    })

    out.update(_lake(wl, spans))
    out["operators.dedup.verify_ratio"] = (_verify_ratio(ctx, wl), "ratio")
    # Tracing overhead: this minus sweep_s of an untraced run, same seed.
    out["trace.sweep_s"] = (statistics.median(traced.sweeps), "s")
    return out


def _lake(wl, spans) -> dict:
    stats = getattr(wl, "stats", None)
    if not stats:
        keys = ("commit_p50_s", "snapshot_read_s", "space_amp", "rewrite_amp",
                "log_bytes", "files")
        units = ("s", "s", "ratio", "ratio", "bytes", "count")
        return {f"io.delta.{k}": (0.0, u) for k, u in zip(keys, units)}
    commits = [s.end - s.start for s in spans.values() if s.name in COMMITS]
    reads = [s.end - s.start for s in spans.values() if s.name in ("op.read", "op.snapshot")]
    last = stats[-1]
    return {
        "io.delta.commit_p50_s": (statistics.median(commits), "s"),
        "io.delta.snapshot_read_s": (statistics.median(reads), "s"),
        "io.delta.space_amp": (last["space_amp"], "ratio"),
        "io.delta.rewrite_amp": (wl.rewrite_amp(), "ratio"),
        "io.delta.log_bytes": (float(last["log_bytes"]), "bytes"),
        "io.delta.files": (float(last["files"]), "count"),
    }


def _verify_ratio(ctx, wl) -> float:
    """Verified pairs over LSH candidate pairs on the curation corpus,
    counted outside the timed sweeps."""
    if wl.name != "curation":
        return 0.0
    from daft_spark.context import release_caches
    from daft_spark.io.readers import load_table
    from daft_spark.operators.dedup import minhash_lsh_stage_counts

    st = minhash_lsh_stage_counts(
        load_table(ctx.spark, wl.data_dir, "documents"), "text", "doc_id",
        num_hashes=64, bands=16, threshold=0.5,
    )
    release_caches(ctx.spark)
    return st["verified_pairs"]["rows"] / max(st["candidate_pairs"]["rows"], 1)
