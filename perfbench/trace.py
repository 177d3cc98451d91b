"""Spans recorded around calls into the program's layers, and the Spark
event log read back into per-layer engine metrics.

Spans are kept in memory and written out as JSON when the run ends; a
span's self time is its duration minus the part its children cover.
The engine side comes from Spark itself: SQL metrics of the final
(adaptive) plan of every traced query, and the task metrics of every
traced job, both read from the uncompressed event log.  Traced jobs are
the ones whose job description starts with :data:`TRACE_PREFIX`.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

TRACE_PREFIX = "perfbench-trace:"


class Tracer:
    """Span recorder.  While ``active`` is false every span is a no-op, so
    the untraced passes of a run pay nothing but one attribute test."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = -1

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "pass": self.pass_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str):
        """Record ``name`` around every call of ``owner.attr`` (a public
        function of the program), from whichever caller it comes.
        Returns an undo callable."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)

    def self_times(self) -> list[dict]:
        """Every finished span with ``dur_s`` and ``self_s``."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            covered = 0.0
            last = s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                if c["end"] is None:
                    continue
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out

    def per_pass_self(self, name: str, n_passes: int) -> float:
        """Mean self time of ``name`` per traced pass (0 if never seen)."""
        if n_passes == 0:
            return 0.0
        return sum(s["self_s"] for s in self.self_times()
                   if s["name"] == name) / n_passes

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.self_times(), **extra}, f, indent=1)


# -- event log ----------------------------------------------------------------

def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


class EventLog:
    """SQL and task metrics of the traced work in one or more event logs."""

    def __init__(self, event_dir: str):
        self.plans: dict[int, dict] = {}   # execution id -> last plan info
        self.exec_desc: dict[int, str] = {}
        self.traced_stages: set[int] = set()
        self.task_metrics: list[dict] = []
        self.accum: dict[int, float] = {}   # accumulator id -> summed update
        for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
            if os.path.isfile(path):
                self._read(path)

    def _read(self, path: str) -> None:
        tasks = []
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith("SQLExecutionStart"):
                    self.exec_desc[e["executionId"]] = e.get("description") or ""
                    self.plans[e["executionId"]] = e["sparkPlanInfo"]
                elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                    self.plans[e["executionId"]] = e["sparkPlanInfo"]
                elif ev == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    if desc.startswith(TRACE_PREFIX):
                        self.traced_stages.update(e["Stage IDs"])
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, val in e["accumUpdates"]:
                        self.accum[acc_id] = self.accum.get(acc_id, 0.0) + _num(val)
        for t in tasks:
            for a in (t.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    self.accum[a["ID"]] = (self.accum.get(a["ID"], 0.0)
                                           + _num(a.get("Update")))
            if t["Stage ID"] in self.traced_stages:
                self.task_metrics.append(t.get("Task Metrics") or {})

    def traced_plans(self) -> dict[str, list[dict]]:
        """Final plan of each traced SQL execution, keyed by description
        (without the prefix)."""
        out: dict[str, list[dict]] = {}
        for eid, desc in self.exec_desc.items():
            if desc.startswith(TRACE_PREFIX):
                out.setdefault(desc[len(TRACE_PREFIX):], []).append(
                    self.plans[eid])
        return out

    def metric(self, plans: list[dict], metric: str,
               node_prefix: str = "") -> float:
        """Sum of ``metric`` over the nodes of ``plans`` whose name starts
        with ``node_prefix``; a node shared by two plans counts once."""
        ids = {m["accumulatorId"]
               for plan in plans for node, _ in walk(plan)
               if node["nodeName"].startswith(node_prefix)
               for m in node["metrics"] if m["name"] == metric}
        return sum(self.accum.get(i, 0.0) for i in ids)

    def partial_agg_ratio(self, plans: list[dict]) -> tuple[float, float]:
        """(rows out of the first aggregate above each scan, rows out of
        those scans): what the map-side partial aggregation passes on."""
        agg_out = scan_out = 0.0
        for plan in plans:
            for node, parents in walk(plan):
                if not node["nodeName"].startswith("Scan "):
                    continue
                for p in reversed(parents):
                    if p["nodeName"].startswith("Exchange"):
                        break
                    if p["nodeName"] == "HashAggregate":
                        agg_out += self._rows(p)
                        scan_out += self._rows(node)
                        break
        return agg_out, scan_out

    def _rows(self, node: dict) -> float:
        return sum(self.accum.get(m["accumulatorId"], 0.0)
                   for m in node["metrics"]
                   if m["name"] == "number of output rows")

    def task_sum(self, *path: str) -> float:
        total = 0.0
        for tm in self.task_metrics:
            v = tm
            for k in path:
                v = (v or {}).get(k)
            total += _num(v)
        return total

    def task_max(self, key: str) -> float:
        return max((_num(tm.get(key)) for tm in self.task_metrics),
                   default=0.0)


def walk(plan: dict, parents: tuple = ()):
    """(node, ancestors) for every node of a plan-info tree."""
    yield plan, parents
    for c in plan.get("children", []):
        yield from walk(c, parents + (plan,))
