"""Spans around layer calls, tagged with Spark job groups and joined to
the stage metrics served by the Spark UI's REST API.

Spans are recorded from the benchmark's side only: around its own calls
into daft_spark, and around public daft_spark functions that it wraps
for the traced run (``Tracer.wrap``). Nothing under daft_spark changes.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass

from stats import self_times

# Per-stage fields summed per span (REST API names).
STAGE_FIELDS = (
    "numCompleteTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "resultSize",
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op so
    the untraced run pays nothing but a function call."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, stack[-1].id if stack else None, name, time.perf_counter())
        stack.append(s)
        # Jobs launched inside this span carry its id as their group, so
        # the REST join attributes each job to the innermost open span.
        self.sc.setLocalProperty("spark.jobGroup.id", str(sid))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", str(stack[-1].id) if stack else None
            )
            self.spans.append(s)

    def wrap(self, module_name: str, attr: str, span_name: str) -> None:
        """Route every daft_spark reference to ``module_name.attr``
        through a span. Query modules bind functions at import
        (``from daft_spark.io.readers import load_table``), so each
        loaded daft_spark module holding the same object is patched."""
        import importlib

        orig = getattr(importlib.import_module(module_name), attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith("daft_spark") and getattr(mod, attr, None) is orig:
                self._patches.append((mod, attr, orig))
                setattr(mod, attr, traced)

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def dump(self, path: str, extra: dict) -> None:
        """Write every span, with its self time, at the end of the run."""
        selfs = self.self_times()
        rows = [
            {
                "id": s.id,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.id],
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f)


def _get(url: str):
    # An empty ProxyHandler keeps the request on the loopback interface
    # even when proxy variables are set in the environment.
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
    with opener.open(url, timeout=30) as r:
        return json.load(r)


def spark_stage_metrics(spark, settle_s: float = 10.0) -> dict[str, dict]:
    """Sum stage metrics per job group from the UI's REST API.

    The status store is fed asynchronously by the listener bus, so poll
    until every job has finished and the job count has stopped moving.
    Returns {group: {"jobs": n, "stages": n, <STAGE_FIELDS>...}}."""
    sc = spark.sparkContext
    port = sc._jsc.sc().uiWebUrl().get().rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    last = -1
    while True:
        jobs = _get(f"{base}/jobs")
        running = any(j["status"] == "RUNNING" for j in jobs)
        if (not running and len(jobs) == last) or time.monotonic() > deadline:
            break
        last = len(jobs)
        time.sleep(0.3)
    stages = _get(f"{base}/stages")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = j.get("jobGroup")
        if g is None:
            continue
        acc = out.setdefault(g, {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}})
        acc["jobs"] += 1
        for sid in j["stageIds"]:
            stage_group.setdefault(sid, g)  # the first job to list a stage ran it
    for st in stages:
        g = stage_group.get(st["stageId"])
        if g is None or st["status"] == "SKIPPED":
            continue
        acc = out[g]
        acc["stages"] += 1
        for k in STAGE_FIELDS:
            acc[k] += st.get(k, 0) or 0
    return out
