"""Spans around the benchmark's calls into the program, plus Spark's own
counters for the jobs each span launched.

A span records name, start, end, parent and run id, and lives in memory
until the run writes the trace out.  Every span puts its own Spark job
group on the driver thread, so each job is attributed to the innermost
span that launched it; after the span ends the tracer drains Spark's
listener bus and reads, for those jobs, the status store's job and stage
records (tasks, CPU, GC, bytes read/written/shuffled/spilled, job start
and end).  Codegen compiles (``CodegenMetrics``), compile time
(``CodeGenerator.compileTime``) and SQL executions are read before and
after, inclusive of child spans.

A disabled tracer hands out one inert span object and touches neither
Spark nor the clock, so untraced runs measure the program alone.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_KEYS = (
    "jobs", "stages", "tasks", "task_cpu_s", "gc_s", "input_bytes",
    "output_bytes", "shuffle_write_bytes", "spill_bytes",
)
INCL_KEYS = ("codegen_compiles", "codegen_compile_ms", "sql_executions")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # Spark counters for jobs launched directly in this span (self) and
    # inclusive before/after deltas of the global counters
    own: dict = field(default_factory=dict)
    incl: dict = field(default_factory=dict)
    sql_nodes: list[dict] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "run": self.run, "start": self.start, "end": self.end,
            "attrs": self.attrs, "own": self.own, "incl": self.incl,
            "jobs": self.job_intervals, "sql_nodes": self.sql_nodes,
        }


class _Inert:
    attrs: dict = {}


_INERT = _Inert()


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def subtree(span: Span, kids: dict[int, list[Span]]) -> list[Span]:
    """``span`` and every span beneath it."""
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    def __init__(self, enabled: bool, run_id: str, sql_spans: tuple = ()):
        self.enabled = enabled
        # spans whose SQL executions' plan-node metrics are also read
        self.sql_spans = sql_spans
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._spark = None
        self.bookkeeping_s = 0.0  # time spent reading counters

    def bind(self, spark) -> None:
        self._spark = spark

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield _INERT
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=next(self._ids), name=name,
            parent=parent.id if parent else None, run=self.run_id,
            attrs=dict(attrs),
        )
        before = self._global_counters()
        self._set_group(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._collect(sp, before)
            self.spans.append(sp)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    # ---------------------------------------------------- spark counters

    def _set_group(self, sp: Span | None) -> None:
        if self._spark is None:
            return
        t0 = time.perf_counter()
        sc = self._spark.sparkContext
        if sp is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"{self.run_id}-{sp.id}", sp.name)
        self.bookkeeping_s += time.perf_counter() - t0

    def _global_counters(self) -> dict:
        if self._spark is None:
            return {}
        t0 = time.perf_counter()
        jvm = self._spark.sparkContext._jvm
        out = {
            "codegen_compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount(),
            "codegen_compile_ms": jvm.org.apache.spark.sql.catalyst.expressions
            .codegen.CodeGenerator.compileTime() / 1e6,
            "sql_executions": self._spark._jsparkSession.sharedState()
            .statusStore().executionsCount(),
        }
        self.bookkeeping_s += time.perf_counter() - t0
        return out

    def _collect(self, sp: Span, before: dict) -> None:
        if self._spark is None:
            return
        t0 = time.perf_counter()
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        after = self._global_counters()
        sp.incl = {k: after[k] - before[k] for k in INCL_KEYS}
        own = dict.fromkeys(JOB_KEYS, 0)
        store = jsc.statusStore()
        # perf_counter and the status store's wall-clock dates share an
        # offset fixed for the process; map job times onto perf_counter
        offset = time.perf_counter() - time.time()
        for job_id in sc.statusTracker().getJobIdsForGroup(
            f"{self.run_id}-{sp.id}"
        ):
            job = store.job(job_id)
            own["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.job_intervals.append(
                    (
                        sub.get().getTime() / 1000.0 + offset,
                        done.get().getTime() / 1000.0 + offset,
                    )
                )
            ids = job.stageIds()
            for i in range(ids.size()):
                stage = store.lastStageAttempt(ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                own["stages"] += 1
                own["tasks"] += stage.numTasks()
                own["task_cpu_s"] += stage.executorCpuTime() / 1e9
                own["gc_s"] += stage.jvmGcTime() / 1e3
                own["input_bytes"] += stage.inputBytes()
                own["output_bytes"] += stage.outputBytes()
                own["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                own["spill_bytes"] += (
                    stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                )
        sp.own = own
        if sp.name in self.sql_spans:
            sp.sql_nodes = self._sql_nodes(before["sql_executions"], sp.incl["sql_executions"])
        self.bookkeeping_s += time.perf_counter() - t0

    def _sql_nodes(self, offset: int, n: int) -> list[dict]:
        """Scan and write nodes of the span's SQL executions with the
        metrics the layer figures need."""
        if n <= 0:
            return []
        store = self._spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList(offset, n)
        out = []
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                if not (name.startswith("Scan parquet") or name.startswith("Execute InsertInto")):
                    continue
                row = {"node": name.strip(), "desc": node.desc()[:400]}
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.metricType() == "sum" and v.isDefined():
                        row[m.name()] = int(v.get().replace(",", "") or 0)
                out.append(row)
        return out

    # --------------------------------------------------------- analysis

    def children_index(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_times(self) -> dict[int, float]:
        kids = self.children_index()
        return {sp.id: self_time(sp, kids.get(sp.id, [])) for sp in self.spans}
