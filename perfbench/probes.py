"""Host and Spark readings for the benchmark: process-tree CPU and memory
from ``/proc``, host steal and load, and per-interval stage metrics from
Spark's status store.

The engine's hottest layer is a Python Arrow UDF whose CPU never reaches
Spark's ``executorCpuTime``, so CPU is read from the kernel for the whole
process tree (driver, JVM, Python daemon and workers) instead.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant, from the ppid links in /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of this process's live tree plus its reaped
    children.

    A worker that exits is reaped by its parent, whose cutime/cstime then
    carry its CPU, so nothing is lost or counted twice between readings."""
    total = 0
    for pid in tree_pids(os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of the kernel-tracked RSS high-water mark (VmHWM) over the tree."""
    kb = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already included in user/nice
    return sum(vals[:8]), steal


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class HostWatch:
    """Host steal share and load over an interval (diagnostics: a noisy
    window shows up next to the numbers it disturbed)."""

    def __init__(self) -> None:
        self._total0, self._steal0 = _cpu_ticks()
        self.loads: list[float] = [load1()]

    def sample(self) -> None:
        self.loads.append(load1())

    def steal_pct(self) -> float:
        total, steal = _cpu_ticks()
        dt = total - self._total0
        return 100.0 * (steal - self._steal0) / dt if dt > 0 else 0.0

    def max_load(self) -> float:
        return max(self.loads)


@dataclass
class StageDelta:
    """Spark work done between two marks of the status store."""

    jobs: int = 0
    stages: int = 0
    shuffle_stages: int = 0  # completed stages that wrote shuffle records
    tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    gc_s: float = 0.0
    spill_bytes: int = 0
    task_max_s: float = 0.0
    task_p50_s: float = 0.0
    job_names: list[str] = field(default_factory=list)


class SparkMeter:
    """Reads completed stages from Spark's status store through py4j.

    The benchmark session raises ``spark.ui.retainedStages``/``Jobs`` so a
    whole run stays in the store; :meth:`since` refuses to report across a
    store that dropped stages it needs."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._gw = self._sc._gateway
        self._empty = self._gw.jvm.java.util.ArrayList()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(last job id, last stage id) issued so far."""
        self._drain()
        jobs = self._store().jobsList(self._empty)
        stages = self._stage_list()
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        last_stage = stages.apply(0).stageId() if stages.size() else -1
        return last_job, last_stage

    def _store(self):
        return self._jsc.statusStore()

    def _stage_list(self):
        return self._store().stageList(
            self._empty, False, False, self._gw.new_array(self._gw.jvm.double, 0), self._empty
        )

    def since(self, mark: tuple[int, int], task_quantiles: bool = False) -> StageDelta:
        self._drain()
        last_job, last_stage = mark
        out = StageDelta()
        jobs = self._store().jobsList(self._empty)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= last_job:
                break
            out.jobs += 1
            out.job_names.append(job.name())
        stages = self._stage_list()  # newest first
        oldest = None
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= last_stage:
                oldest = sid
                break
            if s.status().toString() != "COMPLETE":
                continue
            out.stages += 1
            out.tasks += s.numCompleteTasks()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.shuffle_write_records += s.shuffleWriteRecords()
            out.shuffle_stages += s.shuffleWriteRecords() > 0
            out.gc_s += s.jvmGcTime() / 1000.0
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if task_quantiles:
                q = self._gw.new_array(self._gw.jvm.double, 2)
                q[0], q[1] = 0.5, 1.0
                summ = self._store().taskSummary(sid, s.attemptId(), q)
                if summ.isDefined():
                    # p50 is reported for the stage holding the slowest task
                    d = summ.get().duration()
                    if d.apply(1) / 1000.0 > out.task_max_s:
                        out.task_max_s = d.apply(1) / 1000.0
                        out.task_p50_s = d.apply(0) / 1000.0
        if oldest is None and last_stage >= 0 and stages.size():
            raise RuntimeError(
                "Spark status store no longer holds the stages of this interval; "
                "raise spark.ui.retainedStages"
            )
        return out
