"""Spark job counts for tests that pin how many driver actions a call
runs (test helper), read from the status store that Spark's listener bus
feeds."""
from __future__ import annotations

import re
import uuid
from collections import defaultdict


def _drain(sc) -> None:
    # the status store is fed by the listener bus: drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def jobs_run(spark, fn):
    """(Spark jobs `fn` ran, its result), counted through the status
    tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _drain(sc)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def jobs_per_batch(spark, query) -> dict[int, tuple[int, int]]:
    """{micro-batch id: (jobs, tasks)} of a finished streaming `query`.

    Structured Streaming runs each micro-batch's jobs, `foreachBatch` sink
    included, under the query's run id as job group, with `batch = <id>` in
    the job description. Tasks are the tasks each job ran (a stage skipped
    because it reused an earlier job's shuffle output runs none)."""
    sc = spark.sparkContext
    _drain(sc)
    per: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    it = sc._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        group, desc = j.jobGroup(), j.description()
        if not (group.isDefined() and group.get() == str(query.runId)):
            continue
        m = re.search(r"batch = (\d+)", desc.get() if desc.isDefined() else "")
        if m:
            counts = per[int(m.group(1))]
            counts[0] += 1
            counts[1] += int(j.numCompletedTasks())
    return {b: (n, t) for b, (n, t) in sorted(per.items())}
