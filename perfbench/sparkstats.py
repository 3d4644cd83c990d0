"""Spark's own counters, read on the driver for traced runs.

Everything here goes through the driver's status store and status
tracker, which Spark keeps up to date even with ``spark.ui.enabled``
set to false. The status store is fed asynchronously by the listener
bus, so every read first waits for the bus to drain; otherwise task
counts of a job that just finished could still be missing.
"""

from __future__ import annotations

# executorSummary("driver") field -> counter name (local mode runs
# every task in the driver's executor).
_EXECUTOR_FIELDS = {
    "tasks": "totalTasks",
    "failed_tasks": "failedTasks",
    "input_bytes": "totalInputBytes",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
}


class SparkCounters:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def snapshot(self) -> dict[str, int]:
        """Cumulative counters since the session started."""
        self._jsc.listenerBus().waitUntilEmpty()
        summary = self._jsc.statusStore().executorSummary("driver")
        out = {k: int(getattr(summary, f)())
               for k, f in _EXECUTOR_FIELDS.items()}
        # job ids are handed out in submission order, so the next id
        # counts every job submitted so far, from any client thread
        out["jobs"] = int(self._jsc.dagScheduler().nextJobId())
        return out

    def job_intervals(self, first: int, end: int) -> list[tuple[float, float]]:
        """(submitted, completed) wall-clock seconds of jobs [first, end)."""
        store = self._jsc.statusStore()
        out = []
        for job_id in range(first, end):
            job = store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1000.0,
                            done.get().getTime() / 1000.0))
        return out

    def persisted_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def storage_bytes(self) -> int:
        return sum(int(i.memSize()) + int(i.diskSize())
                   for i in self._jsc.getRDDStorageInfo())


def covered_seconds(intervals: list[tuple[float, float]],
                    lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
