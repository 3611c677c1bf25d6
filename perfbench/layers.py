"""Readers for the traced run: spans recorded by the benchmark around
its calls into the package, Spark's event log (jobs, stages, tasks),
the final physical plan's SQL metrics, and streaming progress.

The program never imports this module. The untraced run uses only
``Spans`` (op and pass walls), ``median`` and ``progress_rows``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def interval_union(intervals) -> float:
    """Total length covered by ``(start, end)`` pairs, overlaps once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Spans:
    """In-memory spans: name, module, op id, pass, parent, wall-clock
    start and end in epoch seconds. Written out once, at run end."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, module: str, **attrs):
        rec = {"name": name, "module": module, "start": time.time(),
               "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_time(self, index: int) -> float:
        """Duration of span ``index`` minus what its children cover."""
        rec = self.records[index]
        kids = [(r["start"], r["end"]) for r in self.records
                if r["parent"] == index]
        return (rec["end"] - rec["start"]) - interval_union(kids)


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs and per-stage task totals of one application's event log.

    Returns ``{"jobs": {id: {...}}, "stages": {id: {...}}}``; a job
    carries its group id, submission and completion (epoch ms) and
    stage ids, a stage its group id and the sums over its tasks.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # Spark 4 writes a rolling directory per application
    files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit_ms": ev["Submission Time"], "end_ms": None,
                        "stage_ids": ev["Stage IDs"]}
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, _new_stage())["group"] = (
                        ev.get("Properties") or {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    st["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    st["input_rows"] += inp.get("Records Read", 0)
                    st["input_bytes"] += inp.get("Bytes Read", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"group": None, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
            "cpu_ns": 0, "gc_ms": 0, "spill_bytes": 0,
            "shuffle_write_bytes": 0, "input_rows": 0, "input_bytes": 0}


def attribute_jobs(log: dict, ops: list[dict]) -> dict[str, dict]:
    """Sum the event log per op.

    Each op is ``{"id", "groups", "start", "end"}`` (epoch seconds).
    A job belongs to the op whose group ids include the job's group;
    a job with no group (one started from a thread of the program's
    own, which does not inherit the group) belongs to the op whose
    wall interval contains its submission. Ops run one at a time, so
    the interval rule is exact for them too.
    """
    by_group = {g: op["id"] for op in ops for g in op["groups"]}
    out = {op["id"]: {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                      "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "spill_bytes": 0,
                      "shuffle_write_bytes": 0, "input_rows": 0,
                      "input_bytes": 0, "job_intervals": []}
           for op in ops}
    stage_op: dict[int, str] = {}
    for jid in sorted(log["jobs"]):
        job = log["jobs"][jid]
        op_id = by_group.get(job["group"])
        if op_id is None:
            t = job["submit_ms"] / 1000.0
            op_id = next((op["id"] for op in ops
                          if op["start"] <= t <= op["end"]), None)
        if op_id is None:
            continue
        acc = out[op_id]
        acc["jobs"] += 1
        acc["job_intervals"].append(
            (job["submit_ms"] / 1000.0, (job["end_ms"] or job["submit_ms"]) / 1000.0))
        for sid in job["stage_ids"]:
            stage_op.setdefault(sid, op_id)
    for sid, st in log["stages"].items():
        op_id = by_group.get(st["group"]) or stage_op.get(sid)
        if op_id is None or st["tasks"] == 0:
            continue
        acc = out[op_id]
        acc["stages"] += 1
        for k in ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
                  "spill_bytes", "shuffle_write_bytes", "input_rows",
                  "input_bytes"):
            acc[k] += st[k]
    return out


# ------------------------------------------------------- physical plan

# with every node whose name ends in "InPandas"
PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandasWithState")


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_metrics(jplan) -> dict:
    """Sum SQL metrics over a physical plan, walking through adaptive
    plans to their final form and through query stages."""
    acc = {"python_total_ms": 0, "python_boot_ms": 0, "python_sent_bytes": 0,
           "exchange_bytes": 0, "expand_rows": 0, "scans": 0, "tables": set()}
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        name = node.nodeName()
        if name in PYTHON_NODES or name.endswith("InPandas"):
            m = _metrics(node)
            acc["python_total_ms"] += m.get("pythonTotalTime", 0)
            acc["python_boot_ms"] += m.get("pythonBootTime", 0)
            acc["python_sent_bytes"] += m.get("pythonDataSent", 0)
        elif name == "Exchange":
            acc["exchange_bytes"] += _metrics(node).get("dataSize", 0)
        elif name == "Expand":
            acc["expand_rows"] += _metrics(node).get("numOutputRows", 0)
        elif name.startswith("Scan "):
            acc["scans"] += 1
            acc["tables"].add(_scan_table(node))
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
    acc["tables"] = len(acc["tables"])
    return acc


def _scan_table(node) -> str:
    """The file paths a scan reads; a scan of in-memory rows (which has
    no file location) is named by its own description."""
    try:
        paths = node.relation().location().rootPaths()
    except Py4JError:
        return node.simpleString(100)
    return ",".join(str(paths.apply(i)) for i in range(paths.size()))


def stream_last_plan(query):
    """Physical plan of a streaming query's last micro-batch, or None."""
    execution = query._jsq.streamingQuery().lastExecution()
    return None if execution is None else execution.executedPlan()


# ------------------------------------------------------ stream progress

def progress_rows(progress: list[dict]) -> list[dict]:
    """One record per micro-batch of a query's ``recentProgress``."""
    rows = []
    for p in progress:
        d = p.get("durationMs") or {}
        ops = p.get("stateOperators") or []
        rows.append({
            "batch_id": p.get("batchId"),
            "input_rows": p.get("numInputRows", 0),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "get_batch_ms": d.get("getBatch", 0),
            "latest_offset_ms": d.get("latestOffset", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            "state_update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
            "state_dropped_rows": sum(o.get("numRowsDroppedByWatermark", 0)
                                      for o in ops),
        })
    return rows
