"""Spans around the benchmark's calls into each layer, and the Spark
event-log parser that turns a traced run's jobs into per-layer metrics.

Spans stay in memory and are written out once, when the benchmark
ends.  A span records its layer name, start, end, parent and the id of
the run it belongs to, plus the moment its forcing action started
(``plan_s`` is the time before it) and the rows the layer produced.

Attribution: a job belongs to the span whose interval contains its
submission time, a stage to the first job that lists it, a task to its
stage.  Layers run one after another, so time attribution is exact
even for jobs submitted from ``storage.materialize_graph``'s pool
threads, which drop thread-local job tags.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

MB = 1e6


class Span:
    __slots__ = ("name", "run", "parent", "start", "end", "force", "rows_out")

    def __init__(self, name: str, run: str, parent: str | None):
        self.name, self.run, self.parent = name, run, parent
        self.start = time.time()
        self.end = self.force = None
        self.rows_out = 0

    def forcing(self) -> None:
        """Mark the start of the layer's forcing action."""
        self.force = time.time()

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Collects spans in memory.  With ``enabled`` False it still hands
    out spans (the chains need ``rows_out``) but keeps none."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id: str | None = None
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, self.run_id, self._stack[-1] if self._stack else None)
        self._stack.append(name)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()
            if sp.force is None:
                sp.force = sp.end
            if self.enabled:
                self.spans.append(sp)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.as_dict()) + "\n")


# --- event log -------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_ROWS = "number of output rows"


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


class TaskTotals:
    __slots__ = ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                 "shuffle_write_b", "spill_b", "python_s", "python_b", "rows")

    def __init__(self):
        for k in self.__slots__:
            setattr(self, k, 0)


def parse_event_log(path: str) -> tuple[list[tuple[float, int]], dict[int, TaskTotals]]:
    """Return (job submission times, totals per job) from an
    uncompressed JSON-lines event log."""
    jobs: list[tuple[float, int]] = []
    stage_job: dict[int, int] = {}
    acc_meta: dict[int, tuple[str, str]] = {}
    totals: dict[int, TaskTotals] = {}
    task_ends = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs.append((ev["Submission Time"] / 1000.0, jid))
                totals[jid] = TaskTotals()
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
            elif kind in (_SQL_START, _SQL_AQE):
                _plan_metrics(ev["sparkPlanInfo"], acc_meta)
    for ev in task_ends:
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        t = totals[jid]
        t.tasks += 1
        if ev["Task End Reason"].get("Reason") != "Success":
            t.failed_tasks += 1
        m = ev.get("Task Metrics") or {}
        t.run_s += m.get("Executor Run Time", 0) / 1e3
        t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        t.gc_s += m.get("JVM GC Time", 0) / 1e3
        t.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        t.spill_b += m.get("Disk Bytes Spilled", 0)
        for acc in ev["Task Info"].get("Accumulables", ()):
            name, mtype = acc_meta.get(acc["ID"], (acc.get("Name"), None))
            if name == _ROWS:
                t.rows += int(acc["Update"])
            elif name == _PY_TIME:
                scale = 1e9 if mtype == "nsTiming" else 1e3
                t.python_s += int(acc["Update"]) / scale
            elif name in _PY_BYTES:
                t.python_b += int(acc["Update"])
    jobs.sort()
    return jobs, totals


def layer_records(spans: list[Span], jobs, totals, cores: int) -> list[dict]:
    """One record per layer span with the per-layer metrics of the
    jobs submitted inside it."""
    out = []
    for sp in spans:
        if sp.parent is None:  # the run's root span
            continue
        agg = TaskTotals()
        for t_sub, jid in jobs:
            if sp.start <= t_sub <= sp.end:
                for k in TaskTotals.__slots__:
                    setattr(agg, k, getattr(agg, k) + getattr(totals[jid], k))
        wall = sp.end - sp.start
        out.append({
            "run": sp.run,
            "layer": sp.name,
            "wall_s": wall,
            "plan_s": sp.force - sp.start,
            "tasks": agg.tasks,
            "executor_cpu_s": agg.cpu_s,
            "core_util": agg.run_s / (wall * cores) if wall > 0 else 0.0,
            "gc_s": agg.gc_s,
            "shuffle_write_mb": agg.shuffle_write_b / MB,
            "spill_mb": agg.spill_b / MB,
            "rows_out": sp.rows_out,
            "failed_tasks": agg.failed_tasks,
            "python_s": agg.python_s,
            "python_mb": agg.python_b / MB,
            "rows_examined_per_out": agg.rows / max(sp.rows_out, 1),
        })
    return out
