"""Spark's own counters, read from the live status store by job group.

Only the traced run uses this: each op runs under job groups named
after it, and right after the op the listener bus is drained so the
store holds every finished stage before ``spark.ui.retainedStages``
can evict it."""

from __future__ import annotations

from py4j.protocol import Py4JError

from stats import aggregate_groups, zero_counters


def _stage_record(sd) -> dict:
    return {
        "tasks": sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "executor_run_ms": sd.executorRunTime(),
        "executor_cpu_ns": sd.executorCpuTime(),
        "gc_ms": sd.jvmGcTime(),
        "input_bytes": sd.inputBytes(),
        "input_records": sd.inputRecords(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    }


def read_groups(sc, groups: list[str]) -> dict[str, dict]:
    """Counters of every job run under each of ``groups``, summed per
    group (see ``stats.aggregate_groups``)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs, stages = [], {}
    for g in groups:
        for job_id in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job_id)
            stage_ids = list(info.stageIds) if info is not None else []
            jobs.append({"job_id": job_id, "group": g, "stage_ids": stage_ids})
            for sid in stage_ids:
                if sid in stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:
                    continue  # evicted or never submitted
                if sd.status().toString() in ("COMPLETE", "FAILED"):
                    stages[sid] = _stage_record(sd)
    out = aggregate_groups(jobs, stages)
    for g in groups:
        out.setdefault(g, zero_counters())
    return out
