"""Spans around the benchmark's calls into each layer, and the Spark
counters attributed to them.

A span is (id, layer, name, start, end, parent, request id).  Spans stay in
memory and are written out when the run ends.  With tracing on, each span
also sets a Spark job group named after its id, so every job the call
starts (including jobs started from the library's driver thread pool,
which inherits the group) can be attributed to it afterwards from the
event log.  With tracing off a span only keeps its times.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

COUNTERS = ("wall_s", "jobs", "stages", "tasks", "exec_run_s",
            "shuffle_write_bytes", "python_eval_s", "driver_gap_s")
# SQL metric carrying Python worker time for ArrowEvalPython, mapInPandas
# and applyInPandas nodes (Spark 4 PythonSQLMetrics, a timing metric in ms)
_PY_TIME_METRIC = "time to run Python workers"


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._wall0 = time.time() - time.perf_counter()

    def attach(self, sc) -> None:
        self._sc = sc

    @contextlib.contextmanager
    def span(self, layer: str, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, name, time.perf_counter(),
                  parent=parent.sid if parent else None,
                  request=request if request is not None else
                  (parent.request if parent else None))
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled and self._sc is not None:
            self._sc.setJobGroup(f"span-{sp.sid}", f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled and self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(f"span-{parent.sid}", f"{parent.layer}:{parent.name}")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def timed(self, layer: str, name: str, fn, request: int | None = None):
        """Run ``fn()`` inside a span -> (result, seconds)."""
        with self.span(layer, name, request) as sp:
            out = fn()
        return out, sp.end - sp.start

    # -- attribution -------------------------------------------------------------

    def attribute(self, event_log_dir: str) -> None:
        """Fill each span's Spark counters from the (closed) event log."""
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stage_seen: set[int] = set()
        per_stage: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for path in glob.glob(os.path.join(event_log_dir, "*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        gid = props.get("spark.jobGroup.id") or ""
                        jid = ev["Job ID"]
                        jobs[jid] = {"group": gid,
                                     "start": ev["Submission Time"] / 1000.0,
                                     "end": None}
                        for s in ev.get("Stage IDs", []):
                            stage_job.setdefault(s, jid)
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageSubmitted":
                        stage_seen.add(ev["Stage Info"]["Stage ID"])
                    elif kind == "SparkListenerTaskEnd":
                        st = per_stage[ev["Stage ID"]]
                        st["tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        st["exec_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                        sw = m.get("Shuffle Write Metrics") or {}
                        st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        inp = m.get("Input Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        size = (inp.get("Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
                        st["max_task_input_bytes"] = max(st["max_task_input_bytes"], size)
                        st["task_input_bytes"] += size
                        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                            if acc.get("Name") == _PY_TIME_METRIC:
                                st["python_eval_s"] += float(acc.get("Update") or 0) / 1000.0
        by_group: dict[str, list[int]] = defaultdict(list)
        for jid, j in jobs.items():
            by_group[j["group"]].append(jid)
        for sp in self.spans:
            c = {k: 0.0 for k in COUNTERS}
            c["max_task_input_bytes"] = 0.0
            c["max_task_input_ratio"] = 0.0
            c["wall_s"] = sp.end - sp.start
            jids = by_group.get(f"span-{sp.sid}", [])
            c["jobs"] = len(jids)
            stages = [s for s, j in stage_job.items() if j in jids and s in stage_seen]
            c["stages"] = len(stages)
            for s in stages:
                st = per_stage.get(s, {})
                for k in ("tasks", "exec_run_s", "shuffle_write_bytes", "python_eval_s"):
                    c[k] += st.get(k, 0)
                c["max_task_input_bytes"] = max(c["max_task_input_bytes"],
                                                st.get("max_task_input_bytes", 0))
                if st.get("tasks"):
                    mean = st["task_input_bytes"] / st["tasks"]
                    if mean > 0:
                        c["max_task_input_ratio"] = max(
                            c["max_task_input_ratio"], st["max_task_input_bytes"] / mean)
            # wall time of the span not covered by any of its running jobs
            t0, t1 = self._wall0 + sp.start, self._wall0 + sp.end
            iv = sorted((max(t0, jobs[j]["start"]), min(t1, jobs[j]["end"] or t1))
                        for j in jids)
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in iv:
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
            c["driver_gap_s"] = max(0.0, c["wall_s"] - covered)
            sp.counters = c

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part covered by its child spans."""
        child: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return {sp.sid: (sp.end - sp.start) - child[sp.sid] for sp in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.sid, "layer": sp.layer, "name": sp.name,
                    "start": sp.start, "end": sp.end, "parent": sp.parent,
                    "request": sp.request, **sp.counters}) + "\n")
