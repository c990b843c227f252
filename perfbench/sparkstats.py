"""Counters read from the Spark driver JVM through py4j.

Everything here is read outside the timed region of an op:

- jobs, stages and tasks of the op, found through a job group the
  benchmark sets before the op;
- per-stage shuffle bytes, spill and executor CPU time from the
  status store;
- the Catalyst phase durations of a collected DataFrame;
- JVM-wide GC and JIT-compilation time and heap use from the
  management beans;
- the number of RDDs still persisted.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

_MB = 1024.0 * 1024.0


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    executor_cpu_s: float = 0.0

    def add(self, other: "OpCounters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class SparkProbe:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._mgmt = self._jvm.java.lang.management.ManagementFactory

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def op_counters(self, group: str) -> OpCounters:
        """Jobs, stages and tasks of every job run under ``group``, with
        the stages' shuffle, spill and executor-time totals."""
        tracker = self.sc.statusTracker()
        out = OpCounters()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out.jobs += 1
            stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            stage = tracker.getStageInfo(sid)
            if stage is None or stage.numTasks == 0:
                continue  # skipped stage: its shuffle output was reused
            out.stages += 1
            out.tasks += stage.numTasks
            try:
                data = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            out.shuffle_read_mb += (
                data.shuffleRemoteBytesRead() + data.shuffleLocalBytesRead()
            ) / _MB
            out.shuffle_write_mb += data.shuffleWriteBytes() / _MB
            out.spill_mb += (data.memoryBytesSpilled() + data.diskBytesSpilled()) / _MB
            out.executor_cpu_s += data.executorCpuTime() / 1e9
        return out

    @staticmethod
    def catalyst_phases_s(df) -> dict[str, float]:
        """Durations of the analysis, optimization and planning phases
        of ``df``'s query execution, in seconds."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        return out

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans()) / 1e3

    def jit_s(self) -> float:
        return self._mgmt.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def heap_used_mb(self) -> float:
        """Heap in use now; right after ``full_gc``, the live heap."""
        return self._mgmt.getMemoryMXBean().getHeapMemoryUsage().getUsed() / _MB

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def full_gc(self) -> None:
        """A full JVM GC: the context cleaner then frees the warm-up's
        shuffle and broadcast blocks at a fixed point instead of on a
        timer inside a timed op."""
        self._jvm.java.lang.System.gc()
