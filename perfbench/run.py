"""daft_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload serve_sql --seed 1 --seconds 12 --trace 0

Run from the root of a daft_spark checkout. The run sets up the session
several times, makes one cold pass over the workload's operations, then
repeats warm sweeps for ``--seconds`` and checks every output against
DuckDB. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
traces the warm window and prints the per-layer metrics instead
(README.md lists them). Generated inputs are cached
under ``.perfbench/`` in the checkout; nothing is written elsewhere.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
SETUPS = 3  # session set-ups per run; setup_s is their median
# Warm sweeps of a single client however long they take, so that no
# workload reports a single sweep.
MIN_SWEEPS = 2


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def heap_gb() -> int:
    """A driver heap that leaves most of the host's memory to others."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(4, total_kb // (6 * 1024 * 1024)))


def prepare_env(root: str, work: str, cores: int, heap: int, trace: bool) -> dict[str, str]:
    """Point every temporary file at the run's scratch directory and put
    the checkout on the Python path of the driver and its workers. Only
    the traced run starts the Spark UI, whose REST API it reads."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}g",
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        # spark-submit's launcher is a JVM of its own
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path.insert(0, root)
    ui = {
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    } if trace else {"spark.ui.enabled": "false"}
    return {
        **ui,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


class Recorder:
    """Latencies, sweep times and outcomes of one phase of a run."""

    def __init__(self):
        self.lock = threading.Lock()
        self.latencies: list[float] = []
        self.sweeps: list[float] = []
        self.rows = 0
        self.attempted = 0
        self.failed: list[str] = []
        self.wall = 0.0

    def fail(self, what: str) -> None:
        with self.lock:
            self.failed.append(what)


def run_op(tracer, op, rec: Recorder, record_latency: bool = True):
    """Time one operation; errors count as failures, not latencies."""
    t0 = time.perf_counter()
    try:
        with tracer.span("op." + op.name):
            result = op.run()
    except Exception as e:  # the run goes on; the failure is reported
        dt = time.perf_counter() - t0
        with rec.lock:
            rec.attempted += 1
        first_line = (str(e).splitlines() or [""])[0]
        rec.fail(f"{op.name}: {type(e).__name__}: {first_line[:200]}")
        return dt, None, False
    dt = time.perf_counter() - t0
    with rec.lock:
        rec.attempted += 1
        rec.rows += op.rows
        if record_latency:
            rec.latencies.append(dt)
    return dt, result, True


def check(op, result, rec: Recorder) -> None:
    if op.check is None:
        return
    try:
        reason = op.check(result)
    except Exception as e:  # an oracle that cannot run is a failed check
        reason = f"check raised {type(e).__name__}: {e}"
    if reason:
        rec.fail(f"{op.name}: wrong output: {reason}")


def collect_garbage(spark) -> None:
    """Full collections in the JVM and the driver before timing, so one
    measurement does not pay for the garbage the previous one left."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def single_client(wl, rng, seconds: float, rec: Recorder, min_sweeps: int) -> None:
    """Sweeps back to back, at least ``min_sweeps``, while the next sweep
    is expected to end within ``seconds``; outputs are checked between
    operations."""
    while len(rec.sweeps) < min_sweeps or rec.wall + rec.sweeps[-1] <= seconds:
        collect_garbage(wl.ctx.spark)
        total, all_ok = 0.0, True
        for op in wl.sweep(rng):
            dt, result, ok = run_op(wl.ctx.tracer, op, rec, not wl.sweep_is_op)
            total += dt
            all_ok &= ok
            if ok:
                check(op, result, rec)
        wl.end_sweep()
        rec.sweeps.append(total)
        rec.wall += total
        if wl.sweep_is_op and all_ok:
            rec.latencies.append(total)


def multi_client(
    wl, seed: int, seconds: float, rec: Recorder, sweeps: float = math.inf, sample_every: int = 4
) -> None:
    """Closed loop: each client sends its next request when the previous
    one returns, until the deadline or its ``sweeps``-th sweep. Every
    ``sample_every``-th output is checked after the window so checking
    never delays a client."""
    collect_garbage(wl.ctx.spark)
    deadline = time.perf_counter() + seconds
    samples: list = []
    errors: list[BaseException] = []

    def client(k: int) -> None:
        try:
            rng = random.Random(seed * 1000 + k)
            n = done = 0
            while time.perf_counter() < deadline and done < sweeps:
                done += 1
                total = 0.0
                for op in wl.sweep(rng):
                    dt, result, ok = run_op(wl.ctx.tracer, op, rec)
                    total += dt
                    n += 1
                    if ok and n % sample_every == 0:
                        samples.append((op, result))
                with rec.lock:
                    rec.sweeps.append(total)
        except BaseException as e:
            errors.append(e)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(k,)) for k in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    rec.wall = time.perf_counter() - t0
    if errors:
        raise errors[0]
    for op, result in samples:
        check(op, result, rec)


def window(wl, seed: int, seconds: float, rec: Recorder) -> None:
    if wl.clients > 1:
        multi_client(wl, seed, seconds, rec)
    else:
        single_client(wl, random.Random(seed), seconds, rec, MIN_SWEEPS)


def cold_pass(wl, seed: int, rec: Recorder) -> None:
    """The first pass over the operation list: one sweep per client."""
    if wl.clients > 1:
        multi_client(wl, seed, math.inf, rec, sweeps=1, sample_every=1)
    else:
        single_client(wl, random.Random(seed), 0, rec, 1)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        return int(next(line for line in f if line.startswith("VmHWM")).split()[1])


def stop_jvm() -> None:
    """Stop the session and its JVM, if one started, and wait for the JVM
    to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def end_to_end(wl, setups, cold: Recorder, warm: Recorder) -> dict:
    from stats import tail

    level, tail_s = tail(warm.latencies)
    sweep_s = statistics.median(warm.sweeps)
    if wl.sweep_is_op:
        # One client, one operation per sweep: the rate at the median
        # sweep, so the slower first warm sweep weighs no more than in
        # sweep_s whatever the number of sweeps.
        ops_per_s = 1 / sweep_s
        rows_per_s = warm.rows / len(warm.sweeps) / sweep_s
    else:
        ops_per_s = len(warm.latencies) / warm.wall
        rows_per_s = warm.rows / warm.wall
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_s": (cold.wall, "s"),
        "sweep_s": (sweep_s, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "rows_per_s": (rows_per_s, "1/s"),
        "latency_p50_s": (statistics.median(warm.latencies), "s"),
        "latency_tail_s": (tail_s, "s"),
    }, level


def main(argv=None) -> int:
    args = parse(argv)
    # A terminated run still stops its JVM and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "daft_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "tools", "gen_sf.py"))
    ):
        print("perfbench: run from the root of a daft_spark checkout", file=sys.stderr)
        return 2
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    heap = heap_gb()
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    out_dir = os.path.join(state, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    confs = prepare_env(root, work, cores, heap, bool(args.trace))
    tracer = Tracer()
    ctx = workloads.Ctx(root, work, os.path.join(state, "data"), cores, args.seed, tracer)
    try:
        wl = workloads.WORKLOADS[args.workload](ctx)  # generates or reuses inputs
        return measure(args, wl, ctx, confs, heap, out_dir)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl, ctx, confs, heap, out_dir) -> int:
    from stats import fail_ratio

    tracer = ctx.tracer
    setups, sessions = [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if i:
            ctx.spark.stop()
        from pyspark import SparkContext

        from daft_spark.context import get_or_create

        # daft_spark reaches the Python workers through PYTHONPATH, so the
        # zip it would otherwise ship from /tmp is not needed.
        SparkContext._daft_spark_shipped = True

        s0 = time.perf_counter()
        ctx.spark = get_or_create(app_name="perfbench", extra_confs=confs)
        sessions.append(time.perf_counter() - s0)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        wl.prepare()
        # The first set-up counts from process start: imports, JVM launch.
        setups.append(time.perf_counter() - (T_START if i == 0 else t0))
    tracer.sc = ctx.spark.sparkContext

    cold = Recorder()
    cold_pass(wl, args.seed, cold)

    warm = Recorder()
    if args.trace:
        wrap_layers(tracer)
        tracer.enabled = True
    window(wl, args.seed + 1, args.seconds, warm)  # other parameters than the cold pass
    tracer.enabled = False
    tracer.unwrap()

    failures = cold.failed + warm.failed
    attempted = cold.attempted + warm.attempted
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": ctx.cores,
        "driver_heap": f"{heap}g",
        "input_rows": wl.input_rows(),
        "setups_s": setups,
        "warm_sweeps_s": warm.sweeps,
        "warm_ops": len(warm.latencies),
        "fail_ratio": fail_ratio(len(failures), max(attempted, 1)),
        "failures": failures[:20],
    }
    if not warm.latencies:
        metrics = {}
    elif args.trace:
        import layers

        # Read before the per-layer bookkeeping runs jobs of its own.
        jvm_kb = vm_hwm_kb(SparkContext._gateway.proc.pid)
        driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        metrics = layers.per_layer(ctx, wl, tracer, setups, sessions, warm)
        metrics["engine.peak_rss_mb"] = ((jvm_kb + driver_kb) / 1024, "MB")
        tracer.dump(
            os.path.join(out_dir, f"trace-{wl.name}-s{args.seed}.json"), {"info": info}
        )
    else:
        metrics, level = end_to_end(wl, setups, cold, warm)
        info["latency_tail_percentile"] = level
    print("perfbench info " + json.dumps(info))
    result = {
        "correct": not failures and bool(metrics),
        "attempted": max(attempted, 1),
        "failed": len(failures) if metrics else max(attempted, 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def wrap_layers(tracer) -> None:
    """Spans around public daft_spark functions the workloads reach
    only indirectly (through registry queries and operators)."""
    for module, attr, span in (
        ("daft_spark.io.readers", "load_table", "io.readers.load_table"),
        ("daft_spark.operators.dedup", "minhash_near_dups", "operators.dedup.minhash_near_dups"),
        ("daft_spark.operators.dedup", "near_dup_resolve", "operators.dedup.near_dup_resolve"),
        ("daft_spark.operators.cluster", "connected_components",
         "operators.cluster.connected_components"),
    ):
        tracer.wrap(module, attr, span)


if __name__ == "__main__":
    sys.exit(main())
