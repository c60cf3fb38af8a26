"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, parent and the CPU seconds the
Python workers used while it was open. While a span is open, the
Spark jobs its thread submits run under the span's own job group, so the
status store attributes every job to exactly one span. Threads started
with ``inheritable_thread_target`` (the analysis runner's pool) inherit
the job group, and a span opened in such a thread finds its parent
through it.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Dict, List

from counters import Counts, python_worker_cpu_s

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: List[dict] = []
        self._by_group: Dict[str, int] = {}
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        outer = self.sc.getLocalProperty(GROUP_KEY)
        with self._lock:
            sid = len(self.spans)
            group = f"dqbench-span-{sid}"
            rec = {"id": sid, "name": name, "group": group,
                   "parent": self._by_group.get(outer),
                   "cpu_start": python_worker_cpu_s(os.getpid()),
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
            self._by_group[group] = sid
        self.sc.setLocalProperty(GROUP_KEY, group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["worker_cpu_s"] = (python_worker_cpu_s(os.getpid())
                                   - rec["cpu_start"])
            self.sc.setLocalProperty(GROUP_KEY, outer)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span called ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def subtree(self, root: int) -> List[dict]:
        """Span ``root`` and every span below it."""
        out, todo = [], [root]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(s["id"] for s in self.spans if s["parent"] == sid)
        return out

    def attach_counts(self, counters, first_stage: int,
                      spans: List[dict]) -> None:
        """Store each span's own Spark counters on it (``counts``)."""
        got = counters.read([s["group"] for s in spans], first_stage)
        for s in spans:
            s["counts"] = got[s["group"]]

    def totals(self, root: int) -> Dict:
        """Per span name below ``root`` (inclusive): summed seconds, the
        span's own counters (``self``) and its inclusive ones, its own plus
        its children's (``all``), and CPU seconds: executor CPU plus the
        Python workers' CPU while the span was open (``cpu_s``), and the
        same for its own jobs and without the time of child spans
        (``self_cpu_s``)."""
        out: Dict[str, dict] = {}
        for s in self.subtree(root):
            agg = out.setdefault(s["name"], {
                "s": 0.0, "worker_cpu_s": 0.0, "self_worker_cpu_s": 0.0,
                "self": Counts(), "all": Counts()})
            agg["s"] += s["end"] - s["start"]
            agg["worker_cpu_s"] += s["worker_cpu_s"]
            agg["self_worker_cpu_s"] += s["worker_cpu_s"] - sum(
                c["worker_cpu_s"] for c in self.spans
                if c["parent"] == s["id"])
            agg["self"] += s["counts"]
            for d in self.subtree(s["id"]):
                agg["all"] += d["counts"]
        for agg in out.values():
            agg["cpu_s"] = agg["worker_cpu_s"] + agg["all"].exec_cpu_s
            agg["self_cpu_s"] = (agg["self_worker_cpu_s"]
                                 + agg["self"].exec_cpu_s)
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON object per line, times relative to
        the first span."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                c = s.get("counts") or Counts()
                f.write(json.dumps({
                    "id": s["id"], "name": s["name"], "parent": s["parent"],
                    "start_s": round(s["start"] - t0, 6),
                    "end_s": round(s["end"] - t0, 6),
                    "worker_cpu_s": round(s["worker_cpu_s"], 6),
                    "jobs": c.jobs, "stages": c.stages, "tasks": c.tasks,
                    "exec_cpu_s": round(c.exec_cpu_s, 6),
                    "input_records": c.input_records,
                    "shuffle_bytes": c.shuffle_bytes}) + "\n")
