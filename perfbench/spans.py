"""Spans around the benchmark's calls into each library layer, and the
Spark event log read back into per-span job, stage, task and SQL-node
numbers.

A span records name, start, end, parent and op id. While a span is open
the benchmark labels Spark work with the job group ``pb<span id>``, so
every job the event log records belongs to exactly one span: the
innermost one open when the job was submitted. Spans stay in memory and
are written out when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def group_of(span_id: int) -> str:
    return f"pb{span_id}"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._label(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._label(self.spans[self._stack[-1]] if self._stack else None)

    def _label(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group_of(rec["id"]), rec["name"])

    # -- queries over the recorded spans ----------------------------------

    def named(self, name: str, ops: set[int] | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and s["end"] is not None and (ops is None or s["op"] in ops)]

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    def self_time(self, span: dict) -> float:
        """Wall minus the wall of direct children (children never overlap:
        the benchmark is one thread)."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == span["id"])
        return (span["end"] - span["start"]) - kids

    def groups(self, spans: list[dict]) -> set[str]:
        out = set()
        for s in spans:
            out |= {group_of(t["id"]) for t in self.subtree(s)}
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_PY_NODES = ("InPandas", "InArrow", "EvalPython")


class EventLog:
    """One uncompressed Spark event log, indexed by job group."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # by stage
        self.acc: dict[int, int] = defaultdict(int)  # accumulator -> total
        self.plans: dict[int, list[dict]] = defaultdict(list)  # by execution
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        # a stage belongs to the first job that lists it (later jobs list
        # it again when they reuse its shuffle output and skip it)
        self.stage_job: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for st in self.jobs[jid]["stages"]:
                self.stage_job.setdefault(st, jid)

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(ex) if ex is not None else None,
                "stages": e["Stage IDs"], "submit": e["Submission Time"],
                "end": None}
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks[e["Stage ID"]].append({
                "ms": ti["Finish Time"] - ti["Launch Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
                "shuffle_write": (tm.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0)})
            for a in ti.get("Accumulables", []):
                try:
                    self.acc[a["ID"]] += int(a["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
        elif ev.endswith("SQLExecutionStart") or \
                ev.endswith("SQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif ev.endswith("DriverAccumUpdates"):
            for acc, v in e["accumUpdates"]:
                self.acc[acc] += int(v)

    # -- selections -------------------------------------------------------

    def jobs_of(self, groups: set[str]) -> list[int]:
        return sorted(j for j, r in self.jobs.items() if r["group"] in groups)

    def stages_of(self, jobs: list[int]) -> list[int]:
        js = set(jobs)
        return sorted(st for st, j in self.stage_job.items() if j in js)

    def tasks_of(self, jobs: list[int]) -> list[dict]:
        return [t for st in self.stages_of(jobs) for t in self.tasks[st]]

    def job_wall_s(self, jobs: list[int]) -> float:
        """Wall covered by the union of the jobs' [submit, end] intervals."""
        iv = sorted((self.jobs[j]["submit"], self.jobs[j]["end"])
                    for j in jobs if self.jobs[j]["end"] is not None)
        total, cur_s, cur_e = 0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total / 1000.0

    def execs_of(self, jobs: list[int]) -> set[int]:
        return {self.jobs[j]["exec"] for j in jobs
                if self.jobs[j]["exec"] is not None}

    # -- SQL-node metrics -------------------------------------------------

    def _nodes(self, execs: set[int]):
        """Every node of every plan version of ``execs``."""
        for ex in sorted(execs):
            for plan in self.plans.get(ex, []):
                todo = [plan]
                while todo:
                    n = todo.pop()
                    yield n
                    todo.extend(n["children"])

    def node_metric(self, execs: set[int], name_prefix: str,
                    metric: str) -> int:
        """Sum of ``metric`` over nodes whose name starts with the prefix;
        a node repeated across plan versions is counted once."""
        accs = {m["accumulatorId"] for n in self._nodes(execs)
                if n["nodeName"].startswith(name_prefix)
                for m in n["metrics"] if m["name"] == metric}
        return sum(self.acc.get(a, 0) for a in accs)

    def has_python_node(self, ex: int) -> bool:
        return any(any(k in n["nodeName"] for k in _PY_NODES)
                   for n in self._nodes({ex}))

    def python_input_rows(self, execs: set[int]) -> int:
        """Rows fed into Python (Arrow) nodes: the output rows of each such
        node's children, looking through wrappers that carry no row count."""
        def rows_out(n):
            for m in n["metrics"]:
                if m["name"] in ("number of output rows", "records read"):
                    return {m["accumulatorId"]}
            return set().union(*[rows_out(c) for c in n["children"]]) \
                if n["children"] else set()

        per_node: dict[int, set[int]] = {}
        for n in self._nodes(execs):
            if any(k in n["nodeName"] for k in _PY_NODES):
                key = min(m["accumulatorId"] for m in n["metrics"])
                per_node[key] = set().union(
                    *[rows_out(c) for c in n["children"]])
        accs = set().union(*per_node.values()) if per_node else set()
        return sum(self.acc.get(a, 0) for a in accs)


def straggler_ratio(tasks_by_stage: list[list[dict]]) -> float:
    """Longest task over the median task of the busiest stage."""
    if not tasks_by_stage:
        return 0.0
    stage = max(tasks_by_stage, key=lambda ts: sum(t["run_ms"] for t in ts))
    ms = [t["ms"] for t in stage]
    p50 = statistics.median(ms) if ms else 0
    return max(ms) / p50 if p50 > 0 else 0.0
