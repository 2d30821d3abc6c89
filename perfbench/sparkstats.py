"""Spark stage metrics scoped to one job group.

Each benchmark run sets its own job group before its first action. After
the run, the jobs of that group are looked up with
``statusTracker().getJobIdsForGroup`` and their stages are read from
Spark's status store, so activity outside the run is never attributed to
it (no before/after snapshot diff). The listener bus is drained first,
because the status store is updated asynchronously after an action
returns.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


def _drain(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def group_stats(sc, group: str) -> dict:
    """Summed stage metrics of every completed stage of ``group``'s jobs."""
    _drain(sc)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "input_mb": 0.0, "output_mb": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
        "task_max_over_median": 1.0,
    }
    heaviest = (-1, None, None)  # (run ms, stage id, attempt id)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage never submitted (skipped by reuse)
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["input_mb"] += sd.inputBytes() / MB
        out["output_mb"] += sd.outputBytes() / MB
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        if sd.executorRunTime() > heaviest[0]:
            heaviest = (sd.executorRunTime(), sid, sd.attemptId())
    if heaviest[1] is not None:
        out["task_max_over_median"] = _max_over_median(sc, store, *heaviest[1:])
    return out


def _max_over_median(sc, store, stage_id: int, attempt_id: int) -> float:
    """Slowest task's run time over the median task's, in the stage that
    spent the most executor time."""
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    dist = store.taskSummary(stage_id, attempt_id, quantiles)
    if dist.isEmpty():
        return 1.0
    run = dist.get().executorRunTime()
    median, top = run.apply(0), run.apply(1)
    return top / median if median > 0 else 1.0
