"""Exact Spark counters per job group, read from the status store, plus
process-tree CPU and memory and retained executor storage.

Every read first drains the listener bus: the status store is filled by
an asynchronous listener, so without the drain a read right after an
action can miss the last stage and task events of that action.
"""

from __future__ import annotations

import gc
import os
from dataclasses import dataclass, fields
from typing import Dict, Iterable, List

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Counts:
    """Counters of a set of Spark jobs. ``stages`` and the stage-level
    sums cover COMPLETE stages only, each counted once, for the first job
    that lists it. ``stage_slots`` counts every stage each job lists;
    ``skipped_stages`` those a job found already computed. Unlike the
    other counters these two depend on the timing of concurrent jobs."""
    jobs: int = 0
    stages: int = 0
    stage_slots: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    exec_cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    input_records: int = 0
    shuffle_bytes: int = 0
    peak_exec_mem: int = 0

    def __iadd__(self, other: "Counts") -> "Counts":
        for f in fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            setattr(self, f.name,
                    max(a, b) if f.name == "peak_exec_mem" else a + b)
        return self

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_bytes / 1e6


class SparkCounters:
    """Reads counters of finished job groups from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._sc = self.sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._claimed: set = set()

    def next_stage_id(self) -> int:
        """The id the next stage will get; stages of later work are >= it."""
        return int(self._sc.dagScheduler().nextStageId())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def read(self, groups: Iterable[str], first_stage: int
             ) -> Dict[str, Counts]:
        """Counters of every job of each group, for groups whose jobs have
        all finished. Stages with an id below ``first_stage`` ran before
        the measured work and are never counted."""
        self.drain()
        tracker = self.sc.statusTracker()
        job_group = {}
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                job_group[int(j)] = g
        out = {g: Counts() for g in groups}
        for j in sorted(job_group):
            c = out[job_group[j]]
            job = self._store.job(j)
            c.jobs += 1
            c.skipped_stages += job.numSkippedStages()
            c.stage_slots += (job.numCompletedStages()
                              + job.numSkippedStages()
                              + job.numFailedStages())
            for s in sorted(tracker.getJobInfo(j).stageIds):
                if s < first_stage or s in self._claimed:
                    continue
                try:
                    stage = self._store.lastStageAttempt(s)
                except Py4JJavaError:
                    continue    # listed by the job, never attempted
                if stage.status().toString() != "COMPLETE":
                    continue
                self._claimed.add(s)
                c.stages += 1
                c.tasks += stage.numTasks()
                c.failed_tasks += stage.numFailedTasks()
                c.exec_cpu_s += stage.executorCpuTime() / 1e9
                c.run_s += stage.executorRunTime() / 1e3
                c.gc_s += stage.jvmGcTime() / 1e3
                c.input_records += stage.inputRecords()
                c.shuffle_bytes += stage.shuffleWriteBytes()
                c.peak_exec_mem = max(c.peak_exec_mem,
                                      stage.peakExecutionMemory())
        return out

    def collect_garbage(self) -> float:
        """Collect the driver's garbage, then the JVM's (a full
        collection); returns the JVM heap still in use, in MB. Python
        goes first, so JVM objects only Python garbage refers to are
        freed too."""
        gc.collect()
        jvm = self.sc._jvm
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return heap.getHeapMemoryUsage().getUsed() / 1e6

    def retained_storage(self) -> tuple:
        """(RDDs holding blocks, MB they hold); call it after
        ``collect_garbage``, so storage only garbage keeps alive is not
        counted."""
        self.drain()
        infos = self._sc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _processes() -> Dict[int, tuple]:
    """pid -> (command name, parent pid, CPU ticks) of every process.
    The CPU ticks are utime + stime + cutime + cstime (fields 14-17 of
    /proc/<pid>/stat): the process's own CPU and that of its reaped
    children."""
    out: Dict[int, tuple] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                text = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses
        comm = text[text.index("(") + 1:text.rindex(")")]
        rest = text[text.rindex(")") + 1:].split()
        out[int(name)] = (comm, int(rest[1]),
                          sum(int(x) for x in rest[11:15]))
    return out


def _descendants(procs: Dict[int, tuple], root: int) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants(root: int) -> List[int]:
    return _descendants(_processes(), root)


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds used so far by the processes the JVM under ``root``
    started: the PySpark daemon and the Python workers it forks, which
    run pandas UDFs and Arrow passes. Spark's executorCpuTime counts only
    the JVM's task threads, which mostly wait while a worker computes."""
    procs = _processes()
    ticks = sum(procs[w][2]
                for jvm in _descendants(procs, root)
                if procs[jvm][0] == "java"
                for w in _descendants(procs, jvm))
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (peak resident set) over ``root`` and its live
    descendants: the driver, the JVM it launched and the Python workers."""
    total_kb = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
