"""Operation timing, span recording and Spark's own counters.

Every call the benchmark makes into a sketchlib module goes through
:meth:`Recorder.op`, which times it from outside. With tracing on it also

- records a span (name, start, end, parent, operation id) in memory;
- tags the Spark jobs the call runs with ``setJobGroup(<op id>)`` so the
  event log can be cut per operation (:func:`event_log_summary`);
- after the call has ended, walks the executed plan of the DataFrame
  whose own action the call ran (:func:`plan_metrics`).

Spans are written out when the run ends; a span's self time is its
duration minus the time its child spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op_id: str | None
    end: float = 0.0


@dataclass
class Recorder:
    """Per-name wall-time totals (always) and spans (when ``traced``)."""

    traced: bool
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    totals: dict[str, float] = field(default_factory=dict)
    plans: dict[str, list[dict]] = field(default_factory=dict)
    _seq: int = 0
    #: open spans per driver thread (the warm-up round uses two)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        """Time ``name``; nested spans get the enclosing span as parent."""
        t0 = time.perf_counter()
        sp = None
        if self.traced:
            parent = self._stack[-1] if self._stack else None
            if op_id is None and parent is not None:
                op_id = self.spans[parent].op_id
            with self._lock:
                sp = Span(len(self.spans), name, t0, parent, op_id)
                self.spans.append(sp)
            self._stack.append(sp.id)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.totals[name] = self.totals.get(name, 0.0) + (t1 - t0)
            if sp is not None:
                sp.end = t1
                self._stack.pop()

    @contextmanager
    def op(self, group: str, name: str):
        """One operation: a span named ``name`` whose Spark jobs carry the
        job group ``group`` (several calls may share a group)."""
        with self._lock:
            self._seq += 1
            op_id = f"{group}#{self._seq}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, op_id)
        try:
            with self.span(name, op_id):
                yield
        finally:
            if self.traced:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def walk(self, group: str, df) -> None:
        """Record the SQL metrics of ``df``'s plan. Call it after an action
        on ``df`` itself has run, and outside :meth:`op`."""
        if self.traced:
            with self.span("trace.plan_walk"):
                self.plans.setdefault(group, []).append(plan_metrics(df))

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time child spans cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - child[sp.id]
        return out

    def dump(self) -> dict:
        return {
            "spans": [sp.__dict__ for sp in self.spans],
            "self_s": self.self_times(),
            "total_s": self.totals,
            "plans": self.plans,
        }


# ---------------------------------------------------------------- plan walk


def _scala_list(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_metrics(df) -> dict:
    """Walk ``df``'s executed physical plan (the final adaptive plan,
    descending into each query stage through ``.plan()``) and sum each
    operator's SQL metrics by operator name."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.finalPhysicalPlan()
    ops: dict[str, dict] = {}
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        entry = ops.setdefault(name, {"count": 0, "metrics": {}})
        entry["count"] += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = entry["metrics"]
            m[kv._1()] = m.get(kv._1(), 0) + kv._2().value()
        todo.extend(_scala_list(node.children()))
    return ops


# ---------------------------------------------------------------- event log

#: event-log accumulable name -> summary key (PythonSQLMetrics, Spark 4.1)
_PY_ACCUMS = {
    "data sent to Python workers": "python_data_sent_bytes",
    "time to run Python workers": "python_total_ms",
}


def event_log_conf(log_dir: str) -> dict:
    """``get_spark(extra_conf=...)`` settings for a plain-JSON event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _new_group() -> dict:
    return {
        "jobs": 0,
        "job_wall_ms": 0,
        "tasks": 0,
        "executor_run_ms": 0,
        "executor_cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "python_data_sent_bytes": 0,
        "python_total_ms": 0,
        "_stage_run_ms": {},
        "_executions": set(),
    }


def event_log_summary(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, their summed wall time (submission to
    completion), SQL actions (distinct SQL executions), tasks, executor
    run/CPU time, GC, shuffle bytes, spill, Python worker
    bytes/time and task skew (max/median task run time of the group's
    busiest stage). Read after ``SparkContext.stop()``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    groups: dict[str, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp is None:
                    continue
                g = groups.setdefault(grp, _new_group())
                g["jobs"] += 1
                job_start[ev["Job ID"]] = (grp, ev["Submission Time"])
                g["_executions"].add(ev["Properties"].get("spark.sql.execution.id"))
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif kind == "SparkListenerJobEnd":
                if ev.get("Job ID") in job_start:
                    grp, t0 = job_start.pop(ev["Job ID"])
                    groups[grp]["job_wall_ms"] += ev["Completion Time"] - t0
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev.get("Stage ID"))
                if grp is None:
                    continue
                g = groups[grp]
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                run_ms = tm.get("Executor Run Time", 0)
                g["tasks"] += 1
                g["executor_run_ms"] += run_ms
                g["executor_cpu_ns"] += tm.get("Executor CPU Time", 0)
                g["gc_ms"] += tm.get("JVM GC Time", 0)
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = _PY_ACCUMS.get(acc.get("Name"))
                    if key is not None:
                        g[key] += int(acc.get("Update") or 0)
                g["_stage_run_ms"].setdefault(ev["Stage ID"], []).append(run_ms)
    out = {}
    for grp, g in groups.items():
        stages = g.pop("_stage_run_ms")
        g["actions"] = len(g.pop("_executions") - {None})
        busiest = max(stages.values(), key=sum, default=[])
        med = statistics.median(busiest) if busiest else 0
        g["task_skew"] = (max(busiest) / med) if med > 0 else 1.0
        out[grp] = g
    return out


def engine_metrics(prefix: str, g: dict) -> dict[str, float]:
    """The engine counters of one job-group summary under ``prefix``."""
    return {
        f"{prefix}.jobs": g["jobs"],
        f"{prefix}.actions": g["actions"],
        f"{prefix}.job_wall_s": g["job_wall_ms"] / 1e3,
        f"{prefix}.tasks": g["tasks"],
        f"{prefix}.executor_run_s": g["executor_run_ms"] / 1e3,
        f"{prefix}.executor_cpu_s": g["executor_cpu_ns"] / 1e9,
        f"{prefix}.gc_s": g["gc_ms"] / 1e3,
        f"{prefix}.shuffle_write_bytes": g["shuffle_write_bytes"],
        f"{prefix}.shuffle_read_bytes": g["shuffle_read_bytes"],
        f"{prefix}.spill_bytes": g["spill_bytes"],
        f"{prefix}.python_data_sent_bytes": g["python_data_sent_bytes"],
        f"{prefix}.python_total_s": g["python_total_ms"] / 1e3,
        f"{prefix}.task_skew": g["task_skew"],
    }


def merge_groups(groups: list[dict]) -> dict:
    """Sum several job groups' summaries (task skew: the largest)."""
    out = _new_group()
    del out["_stage_run_ms"], out["_executions"]
    out.update(task_skew=1.0, actions=0)
    for g in groups:
        for k, v in g.items():
            out[k] = max(out[k], v) if k == "task_skew" else out[k] + v
    return out
