"""Scan width of one read, counted through a job group and Spark's status
store.  Shared by bench.py's vec1m receipts and tests/test_scan_tasks.py."""

import itertools

from py4j.protocol import Py4JJavaError

_groups = itertools.count()


def scan_tasks_of(spark, read):
    """(``read()``'s value, tasks of the completed stage that read the most
    cached input while it ran): the corpus scan of a search.  A cached
    query side's pull reads input too, but less."""
    sc = spark.sparkContext
    group = f"scan-tasks-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        value = read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    scans = []
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info is not None else ():
            try:
                data = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the status store no longer holds
                continue
            if data.status().toString() == "COMPLETE" and data.inputBytes() > 0:
                scans.append((data.inputBytes(), data.numTasks()))
    return value, max(scans, default=(0, 0))[1]
