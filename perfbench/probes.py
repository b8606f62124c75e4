"""Measurements taken from outside the engine: Spark's AppStatusStore,
process memory and process CPU."""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass, fields


@dataclass
class StageCounters:
    """Totals over a set of completed Spark stages (and the jobs that ran them)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_rows: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    def __add__(self, other: "StageCounters") -> "StageCounters":
        return StageCounters(
            **{f.name: getattr(self, f.name) + getattr(other, f.name) for f in fields(self)}
        )


class StageProbe:
    """Diffs Spark's AppStatusStore: each ``take()`` returns the counters of
    the jobs and stages that completed since the previous call.

    The store lists stages and jobs newest first, so a take reads only the
    new entries. It waits for the listener bus to drain first, because the
    store is filled asynchronously from listener events. Only traced runs
    create a probe; they also raise ``spark.ui.retainedStages`` so no stage
    is evicted between two takes.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._complete = jvm.java.util.ArrayList()
        self._complete.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(jvm.double, 0)
        self._last_stage = -1
        self._last_job = -1
        self.take()

    def take(self) -> StageCounters:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        c = StageCounters()
        top_stage = self._last_stage
        it = store.stageList(self._complete, False, False, self._quantiles, self._empty).iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top_stage = max(top_stage, sid)
            c.stages += 1
            c.tasks += s.numCompleteTasks()
            c.exec_run_s += s.executorRunTime() / 1e3
            c.exec_cpu_s += s.executorCpuTime() / 1e9
            c.gc_s += s.jvmGcTime() / 1e3
            c.input_bytes += s.inputBytes()
            c.input_rows += s.inputRecords()
            c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.shuffle_write_rows += s.shuffleWriteRecords()
            c.shuffle_read_bytes += s.shuffleReadBytes()
            c.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        top_job = self._last_job
        it = store.jobsList(None).iterator()
        while it.hasNext():
            jid = it.next().jobId()
            if jid <= self._last_job:
                break
            top_job = max(top_job, jid)
            c.jobs += 1
        self._last_stage, self._last_job = top_stage, top_job
        return c


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this process, in MB."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    process below it: the driver JVM and the Python workers it forks. Each
    process counts its own time plus that of the children it has reaped, so a
    worker that exits between two readings is still counted once. The kernel
    leaves time stolen by the hypervisor out of these figures."""
    ticks = os.sysconf("SC_CLK_TCK")
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    tree, frontier = {root_pid}, [root_pid]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for kid in children.get(frontier.pop(), []):
            if kid not in tree:
                tree.add(kid)
                frontier.append(kid)
    return sum(used.get(pid, 0) for pid in tree) / ticks


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far. The JVM
    must run with ``-XX:-UseDynamicNumberOfCompilerThreads``, so that no
    compiler thread exits and takes its time out of this sum."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                head, fields = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:  # "C1 CompilerThre", "C2 CompilerThre"
            fields = fields.split()
            total += int(fields[11]) + int(fields[12])
    return total / ticks

