"""Benchmark-side spans and counters around calls into the engine.

Nothing here reaches into the engine: spans are opened and closed by the
benchmark around public calls, py4j round trips are counted by wrapping
the gateway client of this process, Spark jobs are attributed through a
job group per span (read back with the StatusTracker), and task metrics
are joined from the event log after the session has stopped. Spans stay
in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

SPAN_KINDS = ("build", "plan", "exec")

# physical-plan node names counted per operation
_EXCHANGE = {"Exchange", "ShuffleExchange"}
_BROADCAST = {"BroadcastExchange"}
_IN_MEMORY = {"InMemoryTableScan"}
_PYTHON_EVAL = {
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "FlatMapGroupsInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInArrow", "FlatMapCoGroupsInPandas", "PythonMapInArrow",
}
_NODE = re.compile(r"^[\s:+\-*|]*(?:\(\d+\)\s*)?([A-Za-z]+)")


def plan_shape(tree: str) -> dict[str, int]:
    """Count Exchange, BroadcastExchange, scan, Python-eval and
    InMemoryTableScan nodes in a physical plan's tree string."""
    out = {"exchanges": 0, "broadcast_exchanges": 0, "scans": 0,
           "python_evals": 0, "in_memory_scans": 0}
    for line in tree.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        if name in _EXCHANGE:
            out["exchanges"] += 1
        elif name in _BROADCAST:
            out["broadcast_exchanges"] += 1
        elif name in _PYTHON_EVAL:
            out["python_evals"] += 1
        if name in _IN_MEMORY:
            out["in_memory_scans"] += 1
        elif "Scan" in name:
            out["scans"] += 1
    return out


@dataclass
class Span:
    pass_no: int  # -1 = setup, 0.. = measured pass
    op: str
    kind: str
    wall_s: float
    py4j_calls: int = 0
    job_ids: list[int] = field(default_factory=list)


class Py4jCounter:
    """Counts round trips through this process's py4j gateway client by
    wrapping its send_command; counting is on only while `active`."""

    def __init__(self, gateway_client):
        self.active = False
        self.calls = 0
        self._client = gateway_client
        self._orig = gateway_client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.calls += 1
            return self._orig(*args, **kwargs)

        gateway_client.send_command = send_command

    def restore(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Times build / plan / exec spans of each operation. With
    `traced=False` it records wall times only and touches nothing else,
    so untraced runs pay no counting cost."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self.shapes: dict[str, dict[str, int]] = {}
        self.persisted: dict[str, int] = {}
        self.counter = None
        if traced:
            self.counter = Py4jCounter(spark.sparkContext._gateway._gateway_client)

    def close(self) -> None:
        if self.counter is not None:
            self.counter.restore()

    def span(self, pass_no: int, op: str, kind: str, fn):
        """Run `fn()` as one span and return its result."""
        sc = self.spark.sparkContext
        group = f"{pass_no}/{op}/{kind}"
        if self.traced:
            sc.setJobGroup(group, group)
            self.counter.calls = 0
            self.counter.active = True
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            span = Span(pass_no, op, kind, wall)
            if self.traced:
                self.counter.active = False
                span.py4j_calls = self.counter.calls
                span.job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(span)
        return out

    def record_plan(self, op: str, df) -> None:
        """Shape counts of the operation's executed plan (traced only,
        outside the timed spans)."""
        if self.traced and op not in self.shapes:
            plan = df._jdf.queryExecution().executedPlan()
            self.shapes[op] = plan_shape(plan.treeString())

    def record_persisted(self, op: str) -> None:
        if self.traced:
            jsc = self.spark.sparkContext._jsc
            self.persisted[op] = len(jsc.getPersistentRDDs())

    # -- summaries over the recorded spans --------------------------------

    def op_walls(self, pass_no: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.pass_no == pass_no:
                out[s.op] = out.get(s.op, 0.0) + s.wall_s
        return out

    def kind_median(self, op: str, kind: str, passes) -> float:
        vals = [
            sum(s.wall_s for s in self.spans
                if s.pass_no == p and s.op == op and s.kind == kind)
            for p in passes
        ]
        return statistics.median(vals) if vals else 0.0

    def count_median(self, op: str, kind: str, passes, attr: str) -> float:
        vals = []
        for p in passes:
            spans = [s for s in self.spans
                     if s.pass_no == p and s.op == op and s.kind == kind]
            if attr == "jobs":
                vals.append(sum(len(s.job_ids) for s in spans))
            else:
                vals.append(sum(getattr(s, attr) for s in spans))
        return statistics.median(vals) if vals else 0.0

    def job_ids(self, op: str, passes) -> list[int]:
        return [j for s in self.spans
                if s.op == op and s.pass_no in passes for j in s.job_ids]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

TASK_FIELDS = ("tasks", "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "fetch_wait_s", "spill_bytes",
               "input_bytes", "output_bytes")


class EventLog:
    """Per-job task metrics read from a Spark event log file."""

    def __init__(self, path: str):
        stage_job: dict[int, int] = {}
        self.jobs: dict[int, dict] = {}
        self.task_s: dict[int, list[float]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = dict.fromkeys(TASK_FIELDS, 0.0)
                    self.task_s[jid] = []
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    self._add(jid, ev)

    def _add(self, jid: int, ev: dict) -> None:
        acc = self.jobs[jid]
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        acc["tasks"] += 1
        acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        acc["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        acc["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        if info.get("Finish Time") and info.get("Launch Time"):
            self.task_s[jid].append((info["Finish Time"] - info["Launch Time"]) / 1e3)

    def totals(self, job_ids) -> dict[str, float]:
        out = dict.fromkeys(TASK_FIELDS, 0.0)
        for j in job_ids:
            for k, v in self.jobs.get(j, {}).items():
                out[k] += v
        return out

    def task_p50(self, job_ids) -> float:
        durs = [d for j in job_ids for d in self.task_s.get(j, [])]
        return statistics.median(durs) if durs else 0.0


def find_event_log(log_dir: str, app_id: str) -> str | None:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    return None
