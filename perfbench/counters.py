"""Counters read from outside the program: Spark's status store, the
executed plan's scan metrics, the driver JVM's peak RSS and heap use, and
the host's CPU steal.

Everything here runs after an operation's timer has stopped.
"""

from __future__ import annotations

import os
import threading

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class SparkCounters:
    """Per-operation job/stage/task counts and stage metrics.

    One closed-loop client runs one operation at a time, so the jobs an
    operation launched are exactly the jobs created since the previous
    ``mark()``.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self._last_job = -1
        self.mark()

    def _new_jobs(self) -> list:
        """Jobs created after the last mark.  The status store lists jobs
        newest first, so the walk stops at the first already-seen one."""
        self._sc.listenerBus().waitUntilEmpty()
        seq = self._sc.statusStore().jobsList(None)
        jobs = []
        for i in range(seq.size()):
            job = seq.apply(i)
            if job.jobId() <= self._last_job:
                break
            jobs.append(job)
        return jobs

    def mark(self) -> None:
        jobs = self._new_jobs()
        if jobs:
            self._last_job = jobs[0].jobId()

    def since_mark(self) -> dict:
        """Counters of the jobs launched since the last mark; re-marks."""
        jobs = self._new_jobs()
        out = dict.fromkeys(SPARK_KEYS, 0)
        out["jobs"] = len(jobs)
        stage_ids = set()
        for j in jobs:
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        store = self._sc.statusStore()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, no_quantiles)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_bytes"] += s.inputBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.diskBytesSpilled()
        if jobs:
            self._last_job = jobs[0].jobId()
        return out


def scan_metrics(df) -> dict:
    """Files and bytes the executed plan of ``df`` read through parquet
    scans (read after the plan ran)."""
    out = {"files_read": 0, "bytes_read": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            metrics = node.metrics()
            for key, slot in (("numFiles", "files_read"), ("filesSize", "bytes_read")):
                opt = metrics.get(key)
                if opt.isDefined():
                    out[slot] += opt.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def heap_peak_mb(spark) -> float:
    """Sum of the peak use of the JVM's heap memory pools, in MiB."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(p.getPeakUsage().getUsed() for p in pools if p.getType() == heap) / 2**20


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def process_cpu_s(pid: int) -> float:
    """CPU time (user + system) of a process and of this Python process,
    in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already inside user/nice
    return fields[7], sum(fields[:8])


class NoiseSampler:
    """Samples host CPU steal and load average in a background thread."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.steal_pct: list[float] = []
        self.load1: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, prev):
        cur = _cpu_times()
        d_total = cur[1] - prev[1]
        if d_total > 0:
            self.steal_pct.append(100.0 * (cur[0] - prev[0]) / d_total)
        self.load1.append(os.getloadavg()[0])
        return cur

    def _loop(self) -> None:
        prev = _cpu_times()
        while not self._stop.wait(self.interval_s):
            prev = self._sample(prev)

    def start(self) -> "NoiseSampler":
        self.load1.append(os.getloadavg()[0])
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        steal = self.steal_pct or [0.0]
        return {
            "steal_pct_mean": sum(steal) / len(steal),
            "steal_pct_max": max(steal),
            "load1_mean": sum(self.load1) / len(self.load1),
            "load1_max": max(self.load1),
            "samples": len(self.steal_pct),
        }

