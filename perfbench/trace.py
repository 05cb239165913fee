"""Spans around calls into the program's layers, with Spark's own counters.

The traced run wraps each public function named in ``spec.TRACED`` from
outside (module attributes are swapped at run time; the package itself
is not edited). A span times the call (eager work such as a sampled skew
probe or a checkpoint) separately from forcing its lazy result with a
noop sink, runs both under ``setJobGroup("<module>:<function>")``, and
then folds the SQL metrics of exactly that call's Spark jobs, read from
the SQL status store, into its counters.
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

PKG = "audio_feature_extraction_spark"

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> number in bytes, seconds or units.

    Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value of the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    id: int
    name: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    call_s: float = 0.0
    force_s: float = 0.0
    excluded_s: float = 0.0  # probe time that ran while this span was open
    spark_jobs: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start - self.excluded_s


class SqlCounters:
    """Reads Spark's status stores for the jobs of one job group."""

    # (node-name test, metric name) -> counter
    RULES = (
        (lambda n: n.startswith("Exchange"), "shuffle bytes written", "exchange_bytes"),
        (lambda n: True, "spill size", "spill_bytes"),
        (lambda n: True, "time to run Python workers", "python_s"),
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()

    def mark(self) -> int:
        return self.store.executionsCount()

    def collect(self, group: str, before_jobs: set, exec_mark: int) -> tuple[list, dict]:
        self.bus.waitUntilEmpty(30_000)  # status stores are fed asynchronously
        tracker = self.sc.statusTracker()
        jobs = sorted(set(tracker.getJobIdsForGroup(group)) - before_jobs)
        out = {"exchange_bytes": 0.0, "spill_bytes": 0.0, "python_s": 0.0, "tasks_failed": 0}
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in info.stageIds if info else ():
                si = tracker.getStageInfo(st)
                if si is not None:
                    out["tasks_failed"] += si.numFailedTasks
        want = set(jobs)
        n = self.store.executionsCount() - exec_mark
        if not want or n <= 0:
            return jobs, out
        it = self.store.executionsList(exec_mark, n).iterator()
        while it.hasNext():
            ex = it.next()
            ji = ex.jobs().keySet().iterator()
            ids = set()
            while ji.hasNext():
                ids.add(int(ji.next()))
            if not ids & want:
                continue
            vals = self.store.executionMetrics(ex.executionId())
            seen = set()
            ni = self.store.planGraph(ex.executionId()).allNodes().iterator()
            while ni.hasNext():
                node = ni.next()
                mi = node.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    acc = m.accumulatorId()
                    if acc in seen:
                        continue
                    for test, metric, key in self.RULES:
                        if m.name() == metric and test(node.name()):
                            v = vals.get(acc)
                            if v.isDefined():
                                seen.add(acc)
                                out[key] += parse_metric(v.get())
        return jobs, out


class Tracer:
    """In-memory spans for the traced jobs of one run."""

    def __init__(self, spark):
        self.spark = spark
        self.counters = SqlCounters(spark)
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.active = False
        self.job = -1
        self.probes: dict = {}
        self.excluded_by_job: dict[int, float] = {}

    # -- spans ---------------------------------------------------------
    def begin_job(self, job: int) -> None:
        self.active, self.job, self.probes = True, job, {}

    def end_job(self) -> None:
        self.active = False

    def open(self, name: str) -> tuple[Span, str, set, int]:
        group = name.rsplit(".", 1)
        group = f"{group[0]}:{group[1]}"
        sp = Span(
            id=len(self.spans), name=name, job=self.job,
            parent=self.stack[-1].id if self.stack else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self.stack.append(sp)
        before = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.spark.sparkContext.setJobGroup(group, name)
        return sp, group, before, self.counters.mark()

    def close(self, sp: Span, group: str, before: set, mark: int) -> None:
        sp.end = time.perf_counter()
        self.stack.pop()
        if self.stack:
            parent = self.stack[-1].name.rsplit(".", 1)
            self.spark.sparkContext.setJobGroup(f"{parent[0]}:{parent[1]}", self.stack[-1].name)
        else:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.spark.sparkContext.setLocalProperty("spark.job.description", None)
        t = time.perf_counter()
        sp.spark_jobs, sp.counters = self.counters.collect(group, before, mark)
        self._exclude(time.perf_counter() - t)

    def _exclude(self, dt: float) -> None:
        """Time spent on bookkeeping or probes is not the program's."""
        self.excluded_by_job[self.job] = self.excluded_by_job.get(self.job, 0.0) + dt
        for s in self.stack:
            s.excluded_s += dt

    def probe(self, key: str, fn) -> None:
        """Record a count taken outside the timed spans."""
        t = time.perf_counter()
        try:
            self.probes[key] = self.probes.get(key, 0) + fn()
        finally:
            self._exclude(time.perf_counter() - t)

    # -- wrapping ------------------------------------------------------
    def wrap(self, module: str, fn_name: str, force: bool, after=None) -> None:
        """Swap ``<PKG>.<module>.<fn_name>`` (and every alias of it in the
        loaded package modules) for a span-recording wrapper."""
        mod = importlib.import_module(f"{PKG}.{module}")
        orig = getattr(mod, fn_name)
        name = f"{module}.{fn_name}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            sp, group, before, mark = tracer.open(name)
            try:
                t0 = time.perf_counter()
                out = orig(*args, **kwargs)
                t1, ex1 = time.perf_counter(), sp.excluded_s
                if force:
                    for df in out if isinstance(out, tuple) else (out,):
                        if isinstance(df, DataFrame):
                            df.write.format("noop").mode("overwrite").save()
                # nested spans' bookkeeping and probes are not this call's
                sp.call_s = t1 - t0 - ex1
                sp.force_s = time.perf_counter() - t1 - (sp.excluded_s - ex1)
            finally:
                tracer.close(sp, group, before, mark)
            if after is not None:
                after(tracer, args, kwargs, out, sp)
            return out

        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG):
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapper)

    # -- results -------------------------------------------------------
    def job_spans(self, job: int) -> list[Span]:
        return [s for s in self.spans if s.job == job]

    @staticmethod
    def self_times(spans: list[Span]) -> dict[int, float]:
        child = {s.id: 0.0 for s in spans}
        for s in spans:
            if s.parent is not None and s.parent in child:
                child[s.parent] += s.duration
        return {s.id: s.duration - child[s.id] for s in spans}

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = {
                "id": s.id, "name": s.name, "job": s.job, "parent": s.parent,
                "start": s.start, "end": s.end, "duration_s": s.duration,
                "call_s": s.call_s, "force_s": s.force_s,
                "spark_jobs": s.spark_jobs, **s.counters,
            }
            out.append(d)
        selfs = {}
        for job in {s.job for s in self.spans}:
            selfs.update(self.self_times(self.job_spans(job)))
        for d in out:
            d["self_s"] = selfs[d["id"]]
        return out
