"""Spans and Spark counters for the traced run.

Spans are recorded only here, in the benchmark, around calls into each
layer's public functions; the engine itself is not instrumented. Spark's own
work is read back from the AppStatusStore after each op: every op runs under
its own job group, so its jobs, stages, tasks and SQL executions are found
without scanning the whole store.

An op's spans form a tree: the root ``op`` span, the Python-side spans the
workload opened inside it, and ``spark.jobs`` spans (merged job intervals)
under the innermost Python span that contains them. Job intervals are cut
to their parent and cut out of its Python children, so siblings never
overlap and the self times of an op's spans sum to its wall time.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from bench import _SIZE_UNITS, _last_exec_id

#: span name -> layer (repo module) its self time is charged to
LAYER = {
    "op": "bench",
    "build": "operators",
    "plan": "catalyst",
    "collect": "handoff",
    "spark.jobs": "execution",
    "ingest.run": "ingest",
    "ingest.read": "ingest",
    "ingest.transform": "ingest",
    "warehouse.append": "warehouse",
    "warehouse.read": "warehouse",
    "warehouse.rewrite_data_files": "warehouse",
    "warehouse.expire_snapshots": "warehouse",
    "iceberg_v2.export": "iceberg_v2",
    "iceberg_v2.read": "iceberg_v2",
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index in the op's span list
    op_id: int

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class OpTrace:
    op_id: int
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op_id))
        i = len(self.spans) - 1
        self.stack.append(i)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[i].end = time.time()

    def attach_jobs(self, jobs: list[tuple[float, float]]) -> None:
        """Hang job intervals under the innermost Python span holding them."""
        py = list(range(len(self.spans)))
        pieces: dict[int, list[tuple[float, float]]] = {}
        for s, e in jobs:
            mid = (s + e) / 2
            owner = max(
                (i for i in py if self.spans[i].start <= mid <= self.spans[i].end),
                key=lambda i: self.spans[i].start,
                default=0,
            )
            p = self.spans[owner]
            segs = [(max(s, p.start), min(e, p.end))]
            for c in py:
                if self.spans[c].parent != owner:
                    continue
                cs, ce = self.spans[c].start, self.spans[c].end
                segs = [x for a, b in segs for x in ((a, min(b, cs)), (max(a, ce), b))]
            pieces.setdefault(owner, []).extend((a, b) for a, b in segs if b > a)
        for owner, segs in pieces.items():
            for a, b in _merge(segs):
                self.spans.append(Span("spark.jobs", a, b, owner, self.op_id))

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        return [sp.dur - c for sp, c in zip(self.spans, child)]

    def total(self, name: str) -> float:
        return sum(sp.dur for sp in self.spans if sp.name == name)


def _merge(segs):
    out: list[list[float]] = []
    for a, b in sorted(segs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def _size(text: str) -> float:
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", text)
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _count(text: str) -> float:
    m = re.search(r"([\d,]+)", text)
    return float(m.group(1).replace(",", "")) if m else 0.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads one op's Spark work from the AppStatusStore."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def mark(self) -> int:
        return _last_exec_id(self.spark)

    def begin(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-{op_id}", "perfbench op")

    def end(self) -> None:
        self.sc._jsc.clearJobGroup()

    def read(self, op_id: int, exec_mark: int) -> dict:
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{op_id}"))
        out = {
            "jobs": [], "stages": 0, "tasks": 0, "empty_tasks": 0, "cpu_ms": 0.0,
            "run_ms": 0.0, "gc_ms": 0.0, "input_rows": 0, "input_bytes": 0,
            "shuffle_bytes": 0, "spill_bytes": 0, "peak_exec_mem": 0.0,
            "files_read": 0.0, "udf_to_py": 0.0, "udf_from_py": 0.0,
        }
        stage_ids = set()
        for j in job_ids:
            jd = self.store.job(j)
            s, e = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if s is not None and e is not None:
                out["jobs"].append((s, e))
            ids = jd.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, None, False, self.quantiles)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["run_ms"] += st.executorRunTime()
                out["gc_ms"] += st.jvmGcTime()
                out["input_rows"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["peak_exec_mem"] = max(out["peak_exec_mem"], float(st.peakExecutionMemory()))
                out["empty_tasks"] += self._empty_tasks(sid, st.attemptId(), st.numTasks())
        lst = self.sql.executionsList()
        for i in reversed(range(lst.size())):
            ex = lst.apply(i)
            if ex.executionId() <= exec_mark:
                break
            vals = self.sql.executionMetrics(ex.executionId())
            ms = ex.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                v = vals.get(m.accumulatorId())
                if v.isEmpty():
                    continue
                text, name = v.get(), m.name()
                if name == "number of files read":
                    out["files_read"] += _count(text)
                elif name == "data sent to Python workers":
                    out["udf_to_py"] += _size(text)
                elif name == "data returned from Python workers":
                    out["udf_from_py"] += _size(text)
                elif name == "peak memory":
                    out["peak_exec_mem"] = max(out["peak_exec_mem"], _size(text))
        return out

    def _empty_tasks(self, sid: int, attempt: int, n: int) -> int:
        tasks = self.store.taskList(sid, attempt, n)
        empty = 0
        for t in range(tasks.size()):
            tm = tasks.apply(t).taskMetrics()
            if tm.isEmpty():
                continue
            tm = tm.get()
            if tm.inputMetrics().recordsRead() == 0 and tm.shuffleReadMetrics().recordsRead() == 0:
                empty += 1
        return empty

    def cache_state(self) -> tuple[int, float]:
        """(persistent RDDs, cached MiB in memory and on disk)."""
        rdds = self.store.rddList(True)
        mib = sum(
            (rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()) for i in range(rdds.size())
        ) / 2**20
        return self.sc._jsc.getPersistentRDDs().size(), mib

    def catalyst_ms(self, df) -> dict:
        """Phase times of ``df``'s QueryExecution, forcing the physical plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out
