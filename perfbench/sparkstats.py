"""Spark runtime counters read from the SparkContext's live status store.

Jobs are attributed to a probe through a job group: every job the probe
starts carries the group, and its stages' metrics are summed.
"""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _stage_data(spark, stage_id: int):
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    seq = store.stageData(stage_id, False, gw.jvm.java.util.ArrayList(),
                          False, gw.new_array(gw.jvm.double, 0))
    return [seq.apply(i) for i in range(seq.size())]


def group_metrics(spark, group: str) -> dict:
    """Shuffle write and spill MB summed over every stage of every job in
    ``group``."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for sid in stage_ids:
        for sd in _stage_data(spark, sid):
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / 2**20
    return out


def storage_mem_held_mb(spark) -> float:
    """Storage memory (cached / checkpointed blocks) held right now."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.executorList(True)
    return sum(seq.apply(i).memoryUsed() for i in range(seq.size())) / 2**20


def failed_tasks(spark) -> int:
    """Failed task attempts across every job this session ran."""
    sc = spark.sparkContext
    seq = sc._jsc.sc().statusStore().jobsList(
        sc._gateway.jvm.java.util.ArrayList())
    return sum(seq.apply(i).numFailedTasks() for i in range(seq.size()))
