"""Spans and Spark status-store readers for the traced benchmark run.

Spans are kept in memory as (name, layer, start, end, parent, op_id) and
written once, at exit. Everything below the benchmark's own calls comes
from Spark's stores, never from host probes:

* per stage: ``statusStore().lastStageAttempt(id)`` (run, CPU, GC,
  shuffle, spill, peak memory) for every job of the op's job group;
* per operator: the SQL status store's plan graph and metric values for
  every SQL execution the op started;
* planning phases: ``queryExecution().tracker()`` of the op's DataFrame.

All of it is readable through py4j with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import html
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

__all__ = ["Tracer", "StatusReader", "self_times"]


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    #: Catalyst phase times (ms) of each op's final DataFrame, by op id
    phases: dict[str, dict[str, float]] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.time(), 0.0, parent, op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, op_id: str | None) -> None:
        """Record a span measured elsewhere (a Spark job's own interval)."""
        self.spans.append(Span(name, layer, start, end, parent, op_id))

    def as_dicts(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time in seconds: a span's duration minus the part of
    its interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.layer] = out.get(s.layer, 0.0) + max(s.end - s.start - covered, 0.0)
    return out


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_NUM_UNIT = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]+)?")
_PLAN_NODE = re.compile(r'label="(?:<br>)?<b>([^<]*)</b><br><br>([^"]*)"')


def parse_metric(text: str) -> float:
    """Numeric value of one formatted SQL metric: sizes in bytes, times in
    ms, counts as counts. The SQL store keeps only formatted strings once
    an execution ends, so sizes and times carry the 3 significant digits
    Spark prints; counts are exact."""
    m = _NUM_UNIT.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0) if m.group(2) else value


def parse_plan_dot(dot: str) -> list[dict]:
    """Plan nodes and their metric values from the SQL store's rendering of
    an execution's plan graph: one py4j call instead of one per metric."""
    nodes = []
    for name, body in _PLAN_NODE.findall(dot):
        metrics: dict[str, float] = {}
        lines = body.split("<br>")
        i = 0
        while i < len(lines):
            key, sep, value = lines[i].partition(": ")
            if " total (" in lines[i] and i + 1 < len(lines):
                # "<name> total (min, med, max ...)" then "<total> (<min>, ...)"
                key, value, sep = lines[i].split(" total (")[0], lines[i + 1], True
                i += 1
            if sep:
                key = html.unescape(key)
                metrics[key] = metrics.get(key, 0.0) + parse_metric(value)
            i += 1
        nodes.append({"name": html.unescape(name).strip(), "metrics": metrics})
    return nodes


class StatusReader:
    """Reads one op's stage and operator metrics from Spark's stores."""

    STAGE_FIELDS = (
        ("run_ms", "executorRunTime", 1.0),
        ("cpu_ms", "executorCpuTime", 1e-6),
        ("gc_ms", "jvmGcTime", 1.0),
        ("input_bytes", "inputBytes", 1.0),
        ("output_bytes", "outputBytes", 1.0),
        ("shuffle_read_bytes", "shuffleReadBytes", 1.0),
        ("shuffle_write_bytes", "shuffleWriteBytes", 1.0),
        ("fetch_wait_ms", "shuffleFetchWaitTime", 1.0),
        ("memory_spill_bytes", "memoryBytesSpilled", 1.0),
        ("disk_spill_bytes", "diskBytesSpilled", 1.0),
        ("peak_execution_memory_bytes", "peakExecutionMemory", 1.0),
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        # executions started before now (set-up, warm-up) belong to no op
        self.next_execution = int(self.sql.executionsCount())
        while not self.sql.execution(self.next_execution).isEmpty():
            self.next_execution += 1

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            stages = []
            for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused, nothing ran
                rec = {"stage_id": int(sid), "tasks": int(sd.numTasks())}
                for key, getter, scale in self.STAGE_FIELDS:
                    rec[key] = float(getattr(sd, getter)()) * scale
                stages.append(rec)
            out.append({
                "job_id": int(jid),
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": stages,
            })
        return out

    def sql_executions(self) -> list[dict]:
        """Every SQL execution started since the previous call, with each
        plan node's metrics (name -> numeric value)."""
        out = []
        eid = self.next_execution
        while True:
            opt = self.sql.execution(eid)
            if opt.isEmpty():
                break
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            out.append({"execution_id": eid, "description": opt.get().description(),
                        "nodes": parse_plan_dot(dot)})
            eid += 1
        self.next_execution = eid
        return out

    def stage_runs_encode(self, stage_id: int) -> bool:
        """True when the stage evaluated the Arrow encode UDF on source rows
        rather than reading an already-encoded cache."""
        graph = self.store.operationGraphForStage(stage_id)
        dot = self.sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
        return "ArrowEvalPython" in dot and "InMemoryTableScan" not in dot

    @staticmethod
    def planning_phases(df) -> dict[str, float]:
        """Plan ``df`` fully and return its planning phases in ms."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = float(kv._2().durationMs())
        return phases
