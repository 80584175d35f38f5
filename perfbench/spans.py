"""In-memory span recorder and Spark job counters for the traced run.

A span is (id, name, op, parent, start, end, attrs). Spans nest through a
stack, stay in memory, and are written once by ``dump``. A span's self time is
its duration minus the part of it its child spans cover. With ``enabled``
False every call is a no-op, so the untraced run pays nothing.

Spark work is counted from ``SparkContext.statusTracker()``. Each traced op
runs under a job group the benchmark sets; the runner's worker threads do not
inherit that thread-local group, so an op's jobs are the job ids (grouped or
not) that appeared while it ran — exact in a closed loop with one client.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: set[str] = set()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the body as span ``name``; yields the span dict (or None
        when tracing is off) so the body can attach counts to ``attrs``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    # -- Spark counters ------------------------------------------------------
    def _job_ids(self) -> set[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        for g in self._groups:
            ids.update(st.getJobIdsForGroup(g))
        return ids

    @contextmanager
    def spark_work(self, group: str, counts: dict):
        """Run the body under job group ``group`` and fill ``counts`` with
        the jobs, executed stages and completed tasks it launched."""
        if not self.enabled:
            yield
            return
        self._groups.add(group)
        before = self._job_ids()
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)
            st = self.sc.statusTracker()
            jobs = sorted(self._job_ids() - before)
            stages, tasks = 0, 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    sinfo = st.getStageInfo(sid)
                    if sinfo is not None and sinfo.numCompletedTasks > 0:
                        stages += 1
                        tasks += sinfo.numCompletedTasks
            counts.update(spark_jobs=len(jobs), spark_stages=stages, spark_tasks=tasks)

    # -- reading spans back -----------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def counts(self, name: str) -> list[dict]:
        """The Spark counts ``spark_work`` recorded on each span ``name``."""
        return [
            {k: s["attrs"][k] for k in ("spark_jobs", "spark_stages", "spark_tasks")}
            for s in self.spans
            if s["name"] == name and "spark_jobs" in s["attrs"]
        ]

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_time_by_name(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        """Write every span (times relative to the first) plus ``extra``."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        st = self.self_times()
        spans = [
            {
                **s,
                "start": round(s["start"] - t0, 6),
                "end": round(s["end"] - t0, 6),
                "self_s": round(st[s["id"]], 6),
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1, sort_keys=True)
