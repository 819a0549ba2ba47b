"""Spans recorded from the benchmark's own code, and the Spark-side
numbers attached to them.

A span wraps one call into a layer of the program: one per op, with
child spans around each public call (plan build, action/write). With
tracing on, each span's id is passed to Spark with ``setJobGroup`` so
the jobs it triggers carry it in the event log, and a few JVM counters
(codegen, file listing) are read at its edges. With tracing off a span
only records its wall time, which is what the end-to-end metrics use.
Spans stay in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

_NO_GROUP = "-"
_ERROR_CLASS = re.compile(r"\[([A-Z][A-Z0-9_]{3,})[\].]")
#: wrapper conditions that name where a failure surfaced, not what failed
_WRAPPERS = {"TASK_WRITE_FAILED", "FAILED_EXECUTE_UDF", "SPARK_JOB_CANCELLED"}


def error_class(exc: BaseException) -> str:
    """The Spark error condition behind ``exc`` (e.g.
    ``ARITHMETIC_OVERFLOW``), looking through job-abort and write
    wrappers; the Python exception type when Spark names none."""
    for getter in ("getCondition", "getErrorClass"):
        try:
            cond = getattr(exc, getter)()
        except Exception:  # noqa: BLE001 - not a PySparkException
            cond = None
        if cond and cond not in _WRAPPERS:
            return cond
    codes = [c for c in _ERROR_CLASS.findall(str(exc)) if c not in _WRAPPERS]
    return codes[0] if codes else type(exc).__name__


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.spark = None
        self.enabled = False

    def attach(self, spark, enabled: bool) -> None:
        self.spark, self.enabled = spark, enabled

    def _counters(self) -> dict[str, float]:
        jvm = self.spark._jvm
        cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        ms = jvm.org.apache.spark.metrics.source
        return {
            "codegen.compiles": ms.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
            "codegen.compile_s": cg.compileTime() / 1e9,
            "sources.files_listed": ms.HiveCatalogMetrics.METRIC_FILES_DISCOVERED().getCount(),
        }

    def _group(self, sid: str, name: str) -> None:
        self.spark.sparkContext.setJobGroup(sid, name)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            before = self._counters()
            self._group(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        except Exception as exc:
            rec["error"] = error_class(exc)
            raise
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self._stack[-1] if self._stack else None
                self._group(parent["id"] if parent else _NO_GROUP,
                            parent["name"] if parent else "")
                after = self._counters()
                rec["counters"] = {k: after[k] - before[k] for k in after}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_NODES = {"Exchange": "plan.exchanges", "BroadcastHashJoin": "plan.bhj",
          "SortMergeJoin": "plan.smj", "BroadcastNestedLoopJoin": "plan.bnlj"}


class EventLog:
    """The parts of one application's Spark event log the per-layer
    metrics need, indexed by job group (= span id)."""

    def __init__(self, log_dir: str, app_id: str):
        # a single file, or the numbered parts of a rolling (v2) log
        paths = glob.glob(f"{log_dir}/{app_id}") or sorted(
            glob.glob(f"{log_dir}/eventlog_v2_{app_id}/events_*"),
            key=lambda p: int(os.path.basename(p).split("_")[1]))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.completed: set[int] = set()
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, dict] = {}
        for path in paths:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id", _NO_GROUP),
                "exec": props.get("spark.sql.execution.id"),
                "start": ev["Submission Time"] / 1000.0,
            }
            for sid in ev["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            self.completed.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self.tasks[ev["Stage ID"]].append(_task(ev))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self.plans[int(ev["executionId"])] = ev["sparkPlanInfo"]

    def op_metrics(self, groups: set[str], start: float, end: float, cores: int) -> dict:
        """Aggregate everything Spark did for the spans in ``groups``
        (one op and its children) over the op's wall interval."""
        jobs = {j: v for j, v in self.jobs.items() if v["group"] in groups}
        stages = [s for s, j in self.stage_job.items() if j in jobs and s in self.completed]
        tasks = [t for s in stages for t in self.tasks.get(s, ())]
        wall = max(end - start, 1e-9)
        busy = _union([(max(v["start"], start), min(v.get("end", end), end))
                       for v in jobs.values()])
        task_run = sum(t["run_s"] for t in tasks)
        m = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.task_run_s": task_run,
            "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
            "spark.driver_only_s": max(0.0, wall - busy),
            "spark.core_idle_frac": max(0.0, 1.0 - task_run / (cores * wall)),
            "task.skew": max((_skew(self.tasks.get(s, ())) for s in stages), default=1.0),
        }
        for key in ("sources.input_bytes", "sources.input_records", "sources.output_bytes",
                    "sources.output_records", "shuffle.write_bytes", "shuffle.read_bytes",
                    "shuffle.fetch_wait_s", "spill.bytes", "python.bytes_sent",
                    "python.bytes_received"):
            m[key] = sum(t[key] for t in tasks)
        for key in _NODES.values():
            m[key] = 0
        for ex in {v["exec"] for v in jobs.values() if v["exec"] is not None}:
            plan = self.plans.get(int(ex))
            if plan:
                _count_nodes(plan, m)
        return m


def _task(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    out = tm.get("Output Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in
           (ev.get("Task Info") or {}).get("Accumulables", [])}
    return {
        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
        "sources.input_bytes": inp.get("Bytes Read", 0),
        "sources.input_records": inp.get("Records Read", 0),
        "sources.output_bytes": out.get("Bytes Written", 0),
        "sources.output_records": out.get("Records Written", 0),
        "shuffle.write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle.read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle.fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
        "spill.bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "python.bytes_sent": _num(acc.get(_PY_SENT)),
        "python.bytes_received": _num(acc.get(_PY_RECV)),
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _skew(tasks) -> float:
    runs = [t["run_s"] for t in tasks]
    if len(runs) < 2:
        return 1.0
    return max(runs) / max(statistics.median(runs), 0.001)


def _count_nodes(plan: dict, m: dict) -> None:
    key = _NODES.get(plan.get("nodeName"))
    if key:
        m[key] += 1
    for child in plan.get("children", ()):
        _count_nodes(child, m)


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def subtree(spans: list[dict], root_id: str) -> set[str]:
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo += kids[sid]
    return out
