"""Counters of a Spark job group, read from the driver's status store.

Nothing here starts a Spark job: job ids come from
``statusTracker().getJobIdsForGroup`` and stage/task metrics from the
application status store the listener bus fills anyway (it exists with the
UI disabled). Reading it after a run therefore adds no job to the run.
"""

from __future__ import annotations

from contextlib import contextmanager


class GroupStats:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._gw = self._sc._gateway
        self._no_status = self._gw.jvm.java.util.ArrayList()
        self._no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)

    @contextmanager
    def group(self, name: str):
        """Tag every job started inside the block with job group ``name``
        (cancelling the group interrupts its running tasks)."""
        self._sc.setJobGroup(name, name, True)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def cancel(self, name: str) -> None:
        self._sc.cancelJobGroup(name)

    def counters(self, name: str) -> dict:
        """jobs, shuffle_write_bytes, spill_bytes, failed_tasks and task_skew
        (max/median task run time of the group's longest-running stage) of
        every job in group ``name``."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        seen: set[tuple[int, int]] = set()
        shuffle = spill = failed = 0
        longest = (-1, None)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                seq = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    key = (sd.stageId(), sd.attemptId())
                    if key in seen:
                        continue
                    seen.add(key)
                    shuffle += sd.shuffleWriteBytes()
                    spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    failed += sd.numFailedTasks()
                    if sd.executorRunTime() > longest[0]:
                        longest = (sd.executorRunTime(), key)
        return {
            "jobs": len(jobs),
            "shuffle_write_bytes": shuffle,
            "spill_bytes": spill,
            "failed_tasks": failed,
            "task_skew": self._skew(*longest[1]) if longest[1] else 1.0,
        }

    def _skew(self, stage_id: int, attempt: int) -> float:
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0


class HeapPeaks:
    """Peak occupancy of the driver JVM's heap pools (eden, survivor, old
    generation), read from the pools' MXBeans: no Spark job, no sampling."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        mf = self._jvm.java.lang.management.ManagementFactory
        self._pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"
        ]

    def reset(self) -> None:
        """Collect garbage, then restart every pool's peak at its current
        occupancy, so the next peak covers only what runs after this."""
        self._jvm.System.gc()
        for p in self._pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        """Sum of the pools' peak occupancy since the last reset, in MB."""
        return sum(p.getPeakUsage().getUsed() for p in self._pools) / 2**20
