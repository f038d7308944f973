"""Process-level probes read from /proc and the JVM's management beans:
peak resident memory of the whole process tree, JVM and Python-worker CPU
time, GC time, and per-job-group task counts from Spark's status
tracker."""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> "list[str] | None":
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: fields restart after the last ')'
    return raw[raw.rfind(")") + 2:].split()


def descendants(root: int, exclude=()) -> list[int]:
    """``root`` and every live process below it, leaving out the
    subtrees rooted at the pids in ``exclude``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_resident_bytes(root: int, exclude=()) -> int:
    """Resident memory of the tree, each process counted by its PSS so a
    page shared between processes (a JVM forking a helper) counts once."""
    total = 0
    for pid in descendants(root, exclude):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """User+system CPU of ``pid``; with reaped children when asked."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _HZ


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_seconds(jvm_pid: int) -> float:
    """CPU of every PySpark daemon/worker under the JVM, reaped workers
    included (the daemon waits for the workers it forks)."""
    return sum(cpu_seconds(pid, with_children=True)
               for pid in descendants(jvm_pid)[1:]
               if "pyspark" in _cmdline(pid))


class MemorySampler:
    """Background thread that tracks the peak resident memory of a
    process tree, less the subtrees rooted at ``exclude``."""

    def __init__(self, root: int, interval: float = 0.2,
                 exclude=frozenset()) -> None:
        self.root = root
        self.exclude = exclude
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="memory-sampler")

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self._sample())
            if self._stop.wait(self.interval):
                return

    def _sample(self) -> int:
        return tree_resident_bytes(self.root, self.exclude)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling (once; later calls return the same peak)."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self.peak = max(self.peak, self._sample())
        return self.peak


class Jvm:
    """The driver JVM of a SparkSession, seen through py4j."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._mgmt = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        return sum(max(0, b.getCollectionTime())
                   for b in self._mgmt.getGarbageCollectorMXBeans()) / 1000.0

    def cpu_seconds(self) -> float:
        return cpu_seconds(self.pid)

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def job_group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, tasks run, failed tasks) of one job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return jobs, tasks, failed
