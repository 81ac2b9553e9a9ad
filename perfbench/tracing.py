"""Tracing from outside the program: timed spans around calls into public
functions, and a standard-library parser for the Spark event log.

Operations are attributed by job group: the runner tags every operation's
build and action with ``setJobGroup("<pass>:<op>:<phase>")``. Jobs started
from threads the operation spawned carry no group; those are attributed by
submission time, since a closed loop runs one operation at a time.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict

MIB = 1024.0 * 1024.0
PYTHON_NODE_MARKERS = ("Python", "Arrow", "Pandas")


class Spans:
    """In-memory spans (name, start, end, parent) recorded around wrapped
    functions; written out with the trace file when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str, **attrs) -> int:
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, **attrs,
        })
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        self._stack.remove(idx)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span ``name``
        per call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """The parts of one Spark event log (JSON lines) the metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
        self.executions: dict[int, dict] = {}
        self.accum: dict[int, float] = defaultdict(float)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "submitted": e["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            self.stages.setdefault(info["Stage ID"], {})["submitted"] = (
                info.get("Submission Time", 0) / 1000.0
            )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], {})
            st["submitted"] = info.get("Submission Time", 0) / 1000.0
            st["completed"] = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            inp, out = m.get("Input Metrics") or {}, m.get("Output Metrics") or {}
            self.tasks_by_stage[e["Stage ID"]].append({
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "read_bytes": inp.get("Bytes Read", 0),
                "read_rows": inp.get("Records Read", 0),
                "write_bytes": out.get("Bytes Written", 0),
                "write_rows": out.get("Records Written", 0),
            })
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    self.accum[acc["ID"]] += _num(acc.get("Update"))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] += _num(value)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[e["executionId"]] = {
                "group": e.get("jobGroupId"), "plans": [e["sparkPlanInfo"]],
            }
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex["plans"].append(e["sparkPlanInfo"])

    # ----------------------------------------------------------- queries

    def jobs_for(self, group_prefix: str, start: float, end: float) -> list[dict]:
        """Jobs tagged with a group under ``group_prefix``, plus untagged
        jobs submitted inside [start, end]."""
        return [
            j for j in self.jobs.values()
            if (j["group"] or "").startswith(group_prefix)
            or (j["group"] is None and start <= j["submitted"] <= end)
        ]

    def jobs_between(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs.values() if start <= j["submitted"] <= end]

    def plan_nodes(self, group_prefix: str, final_only: bool = False) -> list[dict]:
        """Every distinct plan node (by metric accumulator ids) of the SQL
        executions tagged under ``group_prefix``, across adaptive re-plans
        or from the final plan only."""
        seen, nodes = set(), []

        def walk(n):
            key = (n["nodeName"], tuple(m["accumulatorId"] for m in n.get("metrics", [])))
            if key not in seen:
                seen.add(key)
                nodes.append(n)
            for c in n.get("children", []):
                walk(c)

        for ex in self.executions.values():
            if (ex["group"] or "").startswith(group_prefix):
                for plan in ex["plans"][-1:] if final_only else ex["plans"]:
                    walk(plan)
        return nodes

    def metric(self, node: dict, name: str) -> float:
        return sum(self.accum.get(m["accumulatorId"], 0.0)
                   for m in node.get("metrics", []) if m["name"] == name)

    def op_layers(self, group_prefix: str, start: float, end: float) -> dict[str, float]:
        """Spark-layer totals for one operation."""
        jobs = self.jobs_for(group_prefix, start, end)
        stage_ids = sorted({s for j in jobs for s in j["stages"] if s in self.tasks_by_stage})
        tasks = [t for s in stage_ids for t in self.tasks_by_stage[s]]
        out = {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "task_run_s": sum(t["run_s"] for t in tasks),
            "task_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "sched_wait_s": sum(
                max(0.0, t["launch"] - self.stages.get(s, {}).get("submitted", t["launch"]))
                for s in stage_ids for t in self.tasks_by_stage[s]
            ),
            "shuffle_write_mib": sum(t["shuffle_write"] for t in tasks) / MIB,
            "shuffle_read_mib": sum(t["shuffle_read"] for t in tasks) / MIB,
            "shuffle_fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
            "spill_mib": sum(t["spill"] for t in tasks) / MIB,
            "read_mib": sum(t["read_bytes"] for t in tasks) / MIB,
            "read_rows": sum(t["read_rows"] for t in tasks),
            "write_mib": sum(t["write_bytes"] for t in tasks) / MIB,
            "write_rows": sum(t["write_rows"] for t in tasks),
            "task_skew": 1.0,
        }
        if stage_ids:
            longest = max(stage_ids, key=lambda s: (
                self.stages.get(s, {}).get("completed", 0) - self.stages.get(s, {}).get("submitted", 0)
            ))
            durs = [t["finish"] - t["launch"] for t in self.tasks_by_stage[longest]]
            med = statistics.median(durs)
            out["task_skew"] = max(durs) / med if med > 0 else 1.0
        nodes = self.plan_nodes(group_prefix)
        py = [n for n in nodes if any(k in n["nodeName"] for k in PYTHON_NODE_MARKERS)]
        out["python_rows"] = sum(self.metric(n, "number of output rows") for n in py)
        out["python_mib_in"] = sum(self.metric(n, "data sent to Python workers") for n in py) / MIB
        out["python_mib_out"] = sum(self.metric(n, "data returned from Python workers") for n in py) / MIB
        out["write_files"] = sum(self.metric(n, "number of written files") for n in nodes)
        return out

    def verify_yield(self, group_prefix: str) -> tuple[float, float]:
        """(candidate pairs, verified pairs) of an array_intersect verify:
        the verify node's output rows, and the output rows of the first
        node below it on its streamed side."""
        for n in self.plan_nodes(group_prefix, final_only=True):
            if "array_intersect" in n["simpleString"] and any(
                m["name"] == "number of output rows" for m in n.get("metrics", [])
            ):
                verified = self.metric(n, "number of output rows")
                child = n["children"][0] if n.get("children") else None
                while child is not None:
                    if any(m["name"] == "number of output rows" for m in child.get("metrics", [])):
                        return self.metric(child, "number of output rows"), verified
                    child = child["children"][0] if child.get("children") else None
        return 0.0, 0.0

    def topk_kept(self, group_prefix: str) -> tuple[float, float]:
        """(rows into the MapInArrow cosine kernel, rows it kept)."""
        rows_in = kept = 0.0
        for n in self.plan_nodes(group_prefix, final_only=True):
            if n["nodeName"] == "MapInArrow":
                kept += self.metric(n, "number of output rows")
                child = n["children"][0] if n.get("children") else None
                while child is not None:
                    if any(m["name"] == "number of output rows" for m in child.get("metrics", [])):
                        rows_in += self.metric(child, "number of output rows")
                        break
                    child = child["children"][0] if child.get("children") else None
        return rows_in, kept
