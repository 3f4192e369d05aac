"""Tracing from outside the program: spans around calls into its public
functions, Spark SQL status-store node metrics per execution, and JVM GC
deltas.

Spans are ``(name, start, end, parent, run)`` with wall-clock seconds;
they are kept in memory and written out once, at exit.  SQL executions
are read from ``spark._jsparkSession.sharedState().statusStore()``,
which Spark keeps even with the UI disabled; each node's metric is
parsed into a total and, when Spark reports per-task stats, the slowest
task.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
from dataclasses import dataclass, field

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024 ** 2 / 1e6,
          "GiB": 1024 ** 3 / 1e6, "TiB": 1024 ** 4 / 1e6}
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_QTY = re.compile(r"(\d[\d,]*(?:\.\d+)?)\s*(ms|min|s|m|h|B|KiB|MiB|GiB|TiB)?\b")


@dataclass
class Metric:
    """A node metric in seconds (times), MB (sizes) or a plain count; when
    Spark reports per-task stats, also the slowest task and its stage."""
    total: float
    task_max: float | None = None
    stage: int | None = None


def parse_metric(text: str) -> Metric | None:
    r"""Parse a status-store metric string: a single value such as
    ``'2.1 MiB'`` or ``'95,993'``; a sum with per-task stats,
    ``'total (min, med, max (stageId: taskId))\n2.5 s (1.2 s, 1.3 s,
    1.3 s (stage 13.0: task 11))'``; or per-task stats alone,
    ``'(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 79.0: task
    75))'``, whose total is taken as the median.  None if unparseable."""
    lines = text.strip().splitlines()
    vals = [float(n.replace(",", "")) * _UNITS.get(u, 1.0)
            for n, u in _QTY.findall(lines[-1])]
    stage = _STAGE.search(lines[-1])
    stage = int(stage.group(1)) if stage else None
    if lines[0].startswith("total (") and len(lines) > 1 and len(vals) >= 4:
        return Metric(vals[0], vals[3], stage)
    if lines[0].startswith("(min") and len(lines) > 1 and len(vals) >= 3:
        return Metric(vals[1], vals[2], stage)
    return Metric(vals[0]) if len(lines) == 1 and vals else None


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, Metric]


@dataclass
class Execution:
    id: int
    start: float          # epoch seconds
    end: float
    nodes: list[Node]

    @property
    def duration(self) -> float:
        return self.end - self.start

    def total(self, node: str, metric: str) -> float:
        return sum(n.metrics[metric].total for n in self.nodes
                   if n.name.startswith(node) and metric in n.metrics)

    def find(self, node: str, metric: str) -> list[Metric]:
        return [n.metrics[metric] for n in self.nodes
                if n.name.startswith(node) and metric in n.metrics]


def _each(seq):
    """Iterate a JVM collection (java.util or scala) through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def drain_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store holds the finished executions of the last action."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def last_execution_id(spark) -> int:
    drain_listener_bus(spark)
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((e.executionId() for e in _each(lst)), default=-1)


def executions_after(spark, after_id: int) -> list[Execution]:
    """Completed SQL executions with id > ``after_id``, in id order (after
    waiting up to 5 s for running ones to complete).  A
    node shown twice in the plan graph (a cached plan under two
    operators) shares its accumulators and is kept once."""
    store = spark._jsparkSession.sharedState().statusStore()
    for _ in range(100):
        # an execution's end can reach the store after its action returned
        drain_listener_bus(spark)
        execs = [e for e in _each(store.executionsList())
                 if e.executionId() > after_id]
        if all(e.completionTime().isDefined() for e in execs):
            break
        time.sleep(0.05)
    out = []
    for e in execs:
        eid = e.executionId()
        if not e.completionTime().isDefined():
            continue
        values = store.executionMetrics(eid)
        nodes, seen = [], set()
        for n in _each(store.planGraph(eid).allNodes()):
            ms = {}
            for m in _each(n.metrics()):
                acc = m.accumulatorId()
                v = values.get(acc)
                if acc in seen or not v.isDefined():
                    continue
                seen.add(acc)
                parsed = parse_metric(v.get())
                if parsed is not None:
                    ms[m.name()] = parsed
            if ms:
                nodes.append(Node(n.name(), n.desc(), ms))
        out.append(Execution(eid, e.submissionTime() / 1000.0,
                             e.completionTime().get().getTime() / 1000.0,
                             nodes))
    return sorted(out, key=lambda x: x.id)


def stage_tasks(spark, stage: int) -> int | None:
    """Task count of a stage, while Spark still retains it."""
    info = spark.sparkContext.statusTracker().getStageInfo(stage)
    return info.numTasks if info is not None else None


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time over all collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in _each(beans)) / 1000.0


def jvm_rss_peak_mb(spark) -> float:
    """Peak resident set size of the driver JVM (Linux ``VmHWM``)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


@dataclass
class Span:
    name: str
    start: float          # epoch seconds
    end: float
    parent: int | None
    run: str


@dataclass
class Tracer:
    """In-memory recorder of spans and traced passes.  ``wrap`` patches a
    module attribute so every call through it records a span;
    ``unwrap_all`` restores."""
    run: str
    spans: list[Span] = field(default_factory=list)
    passes: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0,
                               self._stack[-1] if self._stack else None,
                               self.run))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, module, attr: str, name: str, before=None,
             after=None) -> None:
        """Record a span ``name`` around every call of ``module.attr``.
        ``before(*args, **kwargs)`` runs just ahead of the span and
        ``after(result)`` just after it."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(result)
            return result

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def named(self, name: str, since: int = 0) -> list[Span]:
        return [s for s in self.spans[since:] if s.name == name]

    def keep(self, executions: list[Execution], gc_s: float) -> None:
        """Keep a traced pass's SQL executions (metric totals per node)
        and its GC delta for the trace file."""
        self.passes.append({"gc_s": gc_s, "executions": [
            {"id": e.id, "start": e.start, "end": e.end,
             "nodes": [{"name": n.name,
                        "metrics": {k: m.total for k, m in n.metrics.items()}}
                       for n in e.nodes]} for e in executions]})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans],
                       "passes": self.passes}, f)


def inside(ex: Execution, spans: list[Span]) -> bool:
    """An execution belongs to a span when it was submitted inside it
    (the status store keeps whole milliseconds, hence the slack)."""
    return any(s.start - 0.002 <= ex.start <= s.end + 0.002 for s in spans)
