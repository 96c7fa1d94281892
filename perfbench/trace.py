"""Span tracing from outside the program, plus Spark attribution.

``Tracer.wrap`` replaces the public functions of a program module, and every
other module-level reference to them, with wrappers that record a span
(name, start, end, parent, iteration id) in memory. While a span is open its
thread carries the Spark job tag ``pb<span id>``; Spark copies the calling
thread's tags onto every job it submits, so a job is attributed to the spans
open in its thread without relying on job-id deltas, and survives the
pipeline's thread pool.

``SparkLedger`` reads jobs, stages and SQL executions from Spark's status
store after the traced iterations and joins them to spans by tag.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TAG_PREFIX = "pb"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int | None
    thread: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Collects spans; spans of one benchmark iteration share ``iteration``."""

    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    iteration: int | None = None
    _next: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _main: list[Span] = field(default_factory=list)
    _restore: list[tuple] = field(default_factory=list)

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        # A worker thread's first span hangs under the innermost span the
        # main thread has open: the pool was started from there.
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            self._next += 1
            span = Span(self._next, name, parent.id if parent else None, self.iteration,
                        threading.current_thread().name, time.time())
            self.spans.append(span)
        stack.append(span)
        self.sc.addJobTag(f"{TAG_PREFIX}{span.id}")
        return span

    def close(self, span: Span) -> None:
        self.sc.removeJobTag(f"{TAG_PREFIX}{span.id}")
        span.end = time.time()
        self._stack().pop()

    @contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, module, prefix: str) -> None:
        """Wrap every public function defined in ``module``; span names are
        ``<prefix>.<function>``. References to the same function objects held
        by program modules (``from x import f``, dispatch dicts) are
        redirected too, so the wrappers see every call."""
        wrapped = {
            fn: self._wrapper(fn, f"{prefix}.{name}")
            for name, fn in list(vars(module).items())
            if not name.startswith("_") and inspect.isfunction(fn) and fn.__module__ == module.__name__
        }
        holders = [m for k, m in list(sys.modules.items()) if k.startswith("gtfs_to_geojson_spark")]
        for mod in dict.fromkeys(holders + [module]):
            namespace = vars(mod)
            tables = [namespace] + [v for k, v in list(namespace.items())
                                    if isinstance(v, dict) and not k.startswith("__")]
            for table in tables:
                for key, val in list(table.items()):
                    if inspect.isfunction(val) and val in wrapped:
                        self._restore.append((table, key, val))
                        table[key] = wrapped[val]

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def unwrap(self) -> None:
        for table, key, val in reversed(self._restore):
            table[key] = val
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}


def parse_metric(text: str | None) -> float:
    """A SQL metric as the status store renders it -> seconds, bytes or count.

    Renderings: ``"1,000"``, ``"14 ms"``, ``"236.0 B"`` or
    ``"total (min, med, max (stageId: taskId))\\n57 ms (13 ms, ...)"``."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


@dataclass
class Job:
    id: int
    tags: set[int]
    submitted: float
    stage_ids: list[int]


@dataclass
class Execution:
    id: int
    job_ids: list[int]
    nodes: list[tuple[str, dict[str, float]]]  # (node name, metric name -> value)


@dataclass
class Stage:
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: float


class SparkLedger:
    """Jobs, stages and SQL executions read from the status store after a
    traced stretch. Retention limits must be high enough to hold them."""

    def __init__(self, spark, first_job: int, first_execution: int):
        jvm_sc = spark.sparkContext._jsc.sc()
        store = jvm_sc.statusStore()
        self.jobs: dict[int, Job] = {}
        for j in _seq(store.jobsList(None)):
            if j.jobId() < first_job:
                continue
            tags = {int(t[len(TAG_PREFIX):]) for t in _seq(j.jobTags().toList())
                    if re.fullmatch(TAG_PREFIX + r"\d+", t)}
            sub = j.submissionTime()
            self.jobs[j.jobId()] = Job(j.jobId(), tags,
                                       sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                                       [int(x) for x in _seq(j.stageIds())])
        self.stages: dict[int, Stage] = {}
        wanted = {s for j in self.jobs.values() for s in j.stage_ids}
        gw = spark.sparkContext._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        for s in _seq(store.stageList(None, False, False, no_quantiles, None)):
            if s.stageId() not in wanted:
                continue
            prev = self.stages.get(s.stageId())
            st = Stage(s.numCompleteTasks() + s.numFailedTasks(), s.executorRunTime() / 1e3,
                       s.executorCpuTime() / 1e9, s.jvmGcTime() / 1e3, float(s.shuffleWriteBytes()))
            if prev is None:
                self.stages[s.stageId()] = st
            else:  # retried attempts add up
                self.stages[s.stageId()] = Stage(*(a + b for a, b in zip(vars(prev).values(), vars(st).values())))
        sql = spark._jsparkSession.sharedState().statusStore()
        self.executions: list[Execution] = []
        for e in _seq(sql.executionsList()):
            if e.executionId() < first_execution:
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = []
            for n in _seq(sql.planGraph(e.executionId()).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = parse_metric(v.get() if v.isDefined() else None)
                nodes.append((n.name(), metrics))
            self.executions.append(Execution(e.executionId(), [int(x) for x in _seq(e.jobs().keys().toList())], nodes))

    @staticmethod
    def marks(spark) -> tuple[int, int]:
        """Next job id and next SQL execution id, taken before a stretch."""
        jvm_sc = spark.sparkContext._jsc.sc()
        jobs = _seq(jvm_sc.statusStore().jobsList(None))
        execs = _seq(spark._jsparkSession.sharedState().statusStore().executionsList())
        return (max((j.jobId() for j in jobs), default=-1) + 1,
                max((e.executionId() for e in execs), default=-1) + 1)

    def jobs_of(self, spans: list[Span]) -> list[Job]:
        """Jobs submitted inside any of ``spans`` by a thread carrying its tag.
        The submission-time check drops tags a reused thread kept by mistake."""
        by_id = {s.id: s for s in spans}
        out = []
        for j in self.jobs.values():
            for t in j.tags & by_id.keys():
                s = by_id[t]
                if s.start - 0.01 <= j.submitted <= s.end + 0.01:
                    out.append(j)
                    break
        return out

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[s] for s in ids if s in self.stages]

    def executions_of(self, jobs: list[Job]) -> list[Execution]:
        ids = {j.id for j in jobs}
        return [e for e in self.executions if ids & set(e.job_ids)]

    @staticmethod
    def node_metric(executions: list[Execution], node_prefix: str, metric: str) -> float:
        return sum(m.get(metric, 0.0) for e in executions for name, m in e.nodes
                   if name.startswith(node_prefix))
