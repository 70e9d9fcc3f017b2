from __future__ import annotations

import pytest

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    from landscape_spark.session import get_spark

    s = get_spark(app_name="landscape_tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF0001


@pytest.fixture(scope="session")
def sf_mid():
    return SF001


def persisted(spark) -> set[int]:
    """Ids of the session's persisted RDDs. Compared as sets, an RDD that
    an earlier test left behind and the cleaner frees mid-test cannot hide
    a new one."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def assert_no_litter(spark, before: set[int], result) -> None:
    """Session litter check for an operator whose result was collected:
    every RDD persisted since ``before`` is one the result still reads, the
    RDD under a LogicalRDD leaf (a local checkpoint) of its analyzed plan."""
    leaves = result._jdf.queryExecution().analyzed().collectLeaves()
    read = {
        leaf.rdd().id()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }
    left = persisted(spark) - before - read
    assert not left, f"persisted RDDs the result does not read: {sorted(left)}"


def job_counts(spark, fn):
    """Run ``fn()`` under a job group of its own and return (its result,
    (jobs, stages, tasks)) from the status tracker, no Spark UI needed: the
    jobs the group ran, the stages among them that ran tasks (a skipped
    stage ran none) and those stages' tasks."""
    import uuid

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    saved = [sc.getLocalProperty(k) for k in keys]
    group = f"job_counts-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in zip(keys, saved):
            sc.setLocalProperty(k, v)
    # the tracker is fed by the listener bus, which may lag the action
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [
        info
        for job in jobs
        for sid in tracker.getJobInfo(job).stageIds
        if (info := tracker.getStageInfo(sid)) is not None and info.numCompletedTasks > 0
    ]
    return out, (len(jobs), len(stages), sum(s.numTasks for s in stages))
