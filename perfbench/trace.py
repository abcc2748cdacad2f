"""Spans and Spark's own instruments, read from outside the program.

Spans go workload -> iteration -> public call -> SQL execution ->
stage.  The first three are recorded by the benchmark around its own
calls; the last two come from Spark's status stores, which Spark fills
even with ``spark.ui.enabled=false``:

* ``sharedState().statusStore()``: per SQL execution, its stages and
  the plan graph with per-node SQL metrics (formatted strings, parsed
  back to numbers by ``metric_value``);
* ``sc().statusStore()``: per stage, raw run and GC time, shuffle bytes
  and task-duration quantiles.

Spans stay in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, dataclass
from typing import Dict, List, Optional

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: Optional[str]) -> float:
    """A SQL metric's total as a number: bytes for sizes, seconds for
    times, the count for sums.  Spark formats a multi-task metric as
    ``total (min, med, max ...)\\n<total> (<min>, ...)``."""
    if not text:
        return 0.0
    m = _VALUE_RE.match(text.split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def _date_s(opt) -> Optional[float]:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    trace_id: int
    span_id: int = 0


class Tracer:
    """In-memory span list; ``span_id`` is the index in ``spans``."""

    def __init__(self) -> None:
        self.spans: List[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: Optional[int], trace_id: int) -> int:
        self.spans.append(Span(name, start, end, parent, trace_id, len(self.spans)))
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class Execution:
    exec_id: int
    start: float
    end: float
    stage_ids: List[int]
    # (node name, node description, {metric name: value})
    nodes: List[tuple]
    # the public call whose span contains this execution's start
    call: str = ""

    def nodes_named(self, name: str, desc_part: str = "") -> List[dict]:
        return [m for n, d, m in self.nodes if n.startswith(name) and desc_part in d]

    def metric(self, node: str, metric: str, desc_part: str = "") -> float:
        return sum(m.get(metric, 0.0) for m in self.nodes_named(node, desc_part))


@dataclass
class Stage:
    stage_id: int
    start: float
    end: float
    num_tasks: int
    run_s: float
    gc_s: float
    shuffle_write_bytes: int
    shuffle_write_s: float
    fetch_wait_s: float
    task_p50_s: float
    task_max_s: float


class SparkProbe:
    """Reads SQL executions and stages that finished after ``mark()``."""

    def __init__(self, spark) -> None:
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._seen = -1

    def mark(self) -> None:
        for e in _iter(self._sql.executionsList()):
            self._seen = max(self._seen, e.executionId())

    def new_executions(self) -> List[Execution]:
        out = []
        for e in _iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self._seen:
                continue
            vals = self._sql.executionMetrics(eid)
            nodes = []
            for n in _iter(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _iter(n.metrics()):
                    v = vals.get(m.accumulatorId())
                    metrics[m.name()] = metric_value(v.get() if v.isDefined() else None)
                nodes.append((n.name(), n.desc(), metrics))
            out.append(
                Execution(
                    eid,
                    e.submissionTime() / 1e3,
                    _date_s(e.completionTime()) or time.time(),
                    sorted(int(s) for s in _iter(e.stages())),
                    nodes,
                )
            )
        if out:
            self._seen = max(e.exec_id for e in out)
        return sorted(out, key=lambda e: e.exec_id)

    def stage(self, stage_id: int) -> Optional[Stage]:
        """The stage's last attempt, or None if it was skipped."""
        s = self._app.lastStageAttempt(stage_id)
        if s.status().toString() != "COMPLETE":
            return None
        p50 = pmax = 0.0
        summary = self._app.taskSummary(stage_id, s.attemptId(), self._quantiles)
        if summary.isDefined():
            d = summary.get().duration()
            p50, pmax = d.apply(0) / 1e3, d.apply(1) / 1e3
        return Stage(
            stage_id, _date_s(s.submissionTime()),
            _date_s(s.completionTime()), s.numTasks(),
            s.executorRunTime() / 1e3, s.jvmGcTime() / 1e3, s.shuffleWriteBytes(),
            s.shuffleWriteTime() / 1e9, s.shuffleFetchWaitTime() / 1e3,
            p50, pmax,
        )


def uncovered_share(start: float, end: float, intervals: List[tuple]) -> float:
    """Share of ``[start, end]`` that no interval covers."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return 1.0 - covered / (end - start)


def record_spark_spans(
    tracer: Tracer, probe: SparkProbe, calls: Dict[int, tuple], trace_id: int
) -> tuple:
    """Attach the SQL executions and stages since the last read to the
    call spans that contain their start.  ``calls`` maps span id ->
    (call name, start, end).  Returns (executions, {stage_id: Stage})."""
    execs = probe.new_executions()
    stages: Dict[int, Stage] = {}
    for e in execs:
        # status-store times have millisecond resolution
        parent = next(
            (sid for sid, (_, s, t) in calls.items() if s - 1e-3 <= e.start <= t + 1e-3),
            None,
        )
        if parent is not None:
            e.call = calls[parent][0]
        eid = tracer.add(f"sql:{e.exec_id}", e.start, e.end, parent, trace_id)
        for st_id in e.stage_ids:
            st = probe.stage(st_id)
            if st is None:
                continue
            stages[st_id] = st
            tracer.add(f"stage:{st_id}", st.start, st.end, eid, trace_id)
    return execs, stages
