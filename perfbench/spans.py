"""Spans around the program's layer boundaries, recorded from outside.

``Tracer.install`` rebinds the public functions of each layer at run time:
the defining module's name, every other module of the package that
imported the same function object (``streaming.service.run_upload_batch``,
``streaming.upload.read_ticks_csv``, ...) and methods on their classes.
Nothing in the program changes on disk.

Each span records its name, start, end (``time.monotonic()``), parent span
and the unit (cycle or pass) it ran in. While a span is open its Spark
jobs are tagged with ``setJobGroup``; the span id rides in the job
description as ``pb:<span id>:<name>``, because jobs that AQE submits from
its own threads keep the description but lose the job group. Job and
stage metrics are read back from the driver's status store, so executor
time, task and job counts can be charged to the span that launched them.
Spans stay in memory until the run ends.

A span's self time is its duration minus the time covered by its child
spans. Spark is lazy: a span around a call that only builds a plan times
the build; execution is charged to whichever call forces it.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "crypto_data_service_loader_spark"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    unit: object
    t0: float
    t1: float = 0.0
    children_s: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.unit: object = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._job_watermark = -1
        self._stages: dict[int, dict] = {}

    # -- installation ---------------------------------------------------------
    def install(self, targets: list[tuple[str, str, str]]) -> None:
        """Wrap each ``(span name, module, attribute)``; the attribute may be
        ``Class.method``. A module-level function is rebound in every loaded
        module of the package that holds the same object."""
        import importlib

        for name, modname, attr in targets:
            mod = importlib.import_module(f"{PACKAGE}.{modname}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(name, getattr(cls, meth)))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(name, orig)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "") or ""
                if not mname.startswith(PACKAGE):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            return tracer._call(name, fn, args, kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` inside a span named `name` — for
        boundaries the benchmark drives itself, such as building a query
        key's DataFrame."""
        if not self.enabled:
            return fn(*args, **kwargs)
        return self._call(name, fn, args, kwargs)

    def _call(self, name, fn, args, kwargs):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent, self.unit, time.monotonic())
        self.spans.append(span)
        self._stack.append(span.sid)
        self._tag(span.sid, name)
        try:
            return fn(*args, **kwargs)
        finally:
            span.t1 = time.monotonic()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += span.dur
                self._tag(parent, self.spans[parent].name)
            else:
                self._tag(None, None)

    @staticmethod
    def _tag(sid: int | None, name: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb-{sid}", f"pb:{sid}:{name}")

    # -- Spark job attribution -------------------------------------------------
    def harvest_jobs(self, spark) -> None:
        """Read jobs and stages finished since the last harvest from the
        status store and attach each job to the span that launched it."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = sc._jvm
        module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(module)
        store = jsc.statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(store.stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0), None
        )))
        for s in stages:
            if s["status"] == "COMPLETE":
                self._stages[s["stageId"]] = s
        new = [j for j in jobs if j["jobId"] > self._job_watermark]
        for j in sorted(new, key=lambda j: j["jobId"]):
            self._job_watermark = j["jobId"]
            desc = j.get("description") or ""
            sid = None
            if desc.startswith("pb:"):
                sid = int(desc.split(":")[1])
            job = {
                "id": j["jobId"],
                "t0": (j.get("submissionTime") or 0) / 1000.0,
                "t1": (j.get("completionTime") or 0) / 1000.0,
                "stages": [self._stages[i] for i in j["stageIds"]
                           if i in self._stages],
            }
            if sid is not None and sid < len(self.spans):
                self.spans[sid].jobs.append(job)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def unit_metrics(tracer: Tracer, unit, wall: float, cores: int,
                 posts: list[list]) -> dict[str, float]:
    """Per-layer figures of one cycle or pass: span times and call counts
    per layer, self times, Spark job/task/executor figures of every job the
    unit's spans launched, and wire figures from the stand-in's POST log
    entries that arrived during the unit."""
    spans = [s for s in tracer.spans if s.unit == unit]
    out: dict[str, float] = defaultdict(float)
    jobs = []
    for s in spans:
        out[f"{s.name}_s"] += s.dur
        out[f"{s.name}_calls"] += 1
        out[f"{s.name}_self_s"] += s.self_s
        out[f"{s.name}_jobs"] += len(s.jobs)
        jobs.extend(s.jobs)
    out["spark.jobs"] = len(jobs)
    for j in jobs:
        for st in j["stages"]:
            out["spark.tasks"] += st["numCompleteTasks"]
            out["spark.executor_run_s"] += st["executorRunTime"] / 1000.0
            out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
    out["spark.idle_gap_s"] = max(0.0, wall - _covered(
        [(j["t0"], j["t1"]) for j in jobs if j["t1"] >= j["t0"] > 0]
    ))
    out["spark.core_busy_share"] = (
        out["spark.executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    )
    live = [p for p in posts if not p[5]]
    out["wire.posts"] = len(posts)
    out["wire.retried_posts"] = len(posts) - len(live)
    out["wire.rows"] = sum(p[3] for p in live)
    out["wire.raw_bytes"] = sum(p[1] for p in posts)
    out["wire.gz_bytes"] = sum(p[2] for p in posts)
    for s in spans:
        if s.name == "clickhouse_http.write":
            arr = [p[0] for p in posts if s.t0 <= p[0] <= s.t1]
            if arr:
                out["wire.post_window_s"] += max(arr) - min(arr)
    return dict(out)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def summarize(per_unit: list[dict[str, float]], names: list[str]) -> dict:
    """Median of each metric over the units in which its layer ran; a layer
    that never ran reports 0."""
    return {n: _median([u[n] for u in per_unit if n in u]) for n in names}
