"""Spark and host counters read from outside the program under test.

Stages are scoped to a call by a stage-id watermark on the driver's
status store: every stage whose id lies above the id that was newest
when the call began, and at or below the newest when it ended, was
submitted during the call, whichever driver thread submitted it. Job
groups cannot do this: the analyzer submits from a thread pool whose
threads do not inherit the caller's local properties.

Codegen numbers are deltas of two process-wide JVM counters: the
number of Janino compilations (``CodegenMetrics.METRIC_COMPILATION_TIME``
count) and the total compile time (``CodeGenerator.compileTime``).
"""

from __future__ import annotations

import os
import time

#: StageData getters summed over a stage range, with their scale to
#: the reported unit
STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / (1 << 20)),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / (1 << 20)),
    "spill_mb": ("diskBytesSpilled", 1 / (1 << 20)),
}


class SparkCounters:
    """Read-only views of one session's status store and JVM."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = spark._jvm
        self._gw = self._sc._gateway
        self._compile_metric = (self._jvm.org.apache.spark.metrics.source
                                .CodegenMetrics.METRIC_COMPILATION_TIME())
        self._codegen = (self._jvm.org.apache.spark.sql.catalyst
                         .expressions.codegen.CodeGenerator)
        self.cores = self._sc.defaultParallelism

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the status store knows every submitted stage."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _stage_list(self):
        # AppStatusStore.stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus): empty statuses = all stages,
        # newest stage id first
        jvm = self._jvm
        return self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())

    def watermark(self) -> int:
        """Id of the newest stage the status store holds (-1 if none)."""
        sl = self._stage_list()
        return sl.apply(0).stageId() if sl.size() else -1

    def stages_since(self, lo: int) -> list:
        """``(stage id, totals)`` of every completed stage with an id
        above ``lo``; totals are in the units of :data:`STAGE_FIELDS`."""
        out = []
        sl = self._stage_list()
        for i in range(sl.size()):
            s = sl.apply(i)
            sid = s.stageId()
            if sid <= lo:
                break                       # newest first
            if s.status().toString() != "COMPLETE":
                continue                    # skipped: reused shuffle output
            out.append((sid, {key: getattr(s, getter)() * scale
                              for key, (getter, scale)
                              in STAGE_FIELDS.items()}))
        return out

    def codegen(self) -> tuple:
        """(compilations so far, compile seconds so far)."""
        return (self._compile_metric.getCount(),
                self._codegen.compileTime() * 1e-9)

    def storage_bytes(self) -> int:
        """Bytes of persisted RDD blocks, in memory and on disk."""
        return sum(r.memSize() + r.diskSize()
                   for r in self._jsc.getRDDStorageInfo())

    def jvm_pid(self) -> int:
        return self._jvm.java.lang.ProcessHandle.current().pid()


def vm_hwm_mb(pid="self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    with open("/proc/%s/status" % pid) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for pid %s" % pid)


def spin_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop. It does the same work
    on every run, so a higher value means the host gave this process
    less CPU (co-tenant load or steal), not that the program changed."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        times.append((time.perf_counter() - t) * 1e3)
    return sorted(times)[len(times) // 2]


def loadavg() -> float:
    return os.getloadavg()[0]
