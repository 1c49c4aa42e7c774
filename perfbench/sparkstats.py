"""Spark runtime counters for one job group, read from the app status
store after the group's jobs have finished, and the JVM's live heap."""

from __future__ import annotations

import gc
import time

_EMPTY = {
    "jobs": 0, "stages": 0, "tasks": 0, "source_rows": 0,
    "shuffle_write_bytes": 0, "spill_bytes": 0, "run_time_ms": 0,
    "task_skew": 0.0,
}


def drain_listener(spark) -> None:
    """Block until the listener bus has delivered every event posted so
    far, so the status store holds the finished jobs' final metrics."""
    spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()


def group_totals(spark, group: str, skew: bool = False) -> dict:
    """Jobs, stages, tasks, source records read, shuffle bytes written,
    spilled bytes and summed task run time of one job group. With
    ``skew``, also the largest ratio of a stage's longest task run time
    to its median one (stages with at least two tasks)."""
    drain_listener(spark)
    sc = spark.sparkContext
    store = spark._jsparkSession.sparkContext().statusStore()
    totals = dict(_EMPTY)
    seen: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        totals["jobs"] += 1
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j error: skipped stage
                continue  # a reused exchange's stage never ran
            totals["stages"] += 1
            totals["tasks"] += sd.numCompleteTasks()
            totals["source_rows"] += sd.inputRecords()
            totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            totals["spill_bytes"] += (
                sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            )
            totals["run_time_ms"] += sd.executorRunTime()
            if skew and sd.numCompleteTasks() > 1:
                totals["task_skew"] = max(
                    totals["task_skew"], _stage_skew(spark, store, sd))
    return totals


def _stage_skew(spark, store, sd) -> float:
    """Longest task run time / median task run time of one stage."""
    gateway = spark.sparkContext._gateway
    quantiles = gateway.new_array(gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    dist = store.taskSummary(sd.stageId(), sd.attemptId(), quantiles)
    if dist.isEmpty():
        return 0.0
    run = dist.get().executorRunTime()
    return run.apply(1) / max(run.apply(0), 1.0)


def group_jobs(spark, group: str) -> int:
    """Number of jobs one job group ran."""
    drain_listener(spark)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def settle(spark) -> None:
    """Release what earlier work left behind: Python's collector first,
    since JVM objects that only unreachable Python proxies still hold are
    released when those proxies are finalized, then a full JVM
    collection, then a pause in which Spark's context cleaner drops the
    blocks of broadcasts and shuffles the collection found unreachable."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(0.5)


def live_heap_mb(spark) -> float:
    """JVM heap in use after full collections, in MB.

    Each round settles (``settle``) and reads the heap. Rounds repeat
    until the reading falls by less than 1%: a single round reads up to
    a third high, depending on timing.
    """
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    last = float("inf")
    for _ in range(6):
        settle(spark)
        used = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if used > 0.99 * last:
            return min(used, last)
        last = used
    return last
