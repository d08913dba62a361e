"""One run of a registry query, timed and attributed by its job group.

:func:`run` is the one place a registry query is timed: ``fn(spark,
sf_dir)`` (build) and the noop-sink action (execute) run inside
:func:`~data_seedling_spark.session.query_scope`, whose release stays
outside the timed window. The query's Spark work is then read back by
its job group from the UI's REST API, so a late stage is counted with
the query that ran it, never with its neighbour. The session needs
``spark.ui.enabled=true``.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from datetime import datetime

from pyspark.sql import SparkSession

from .session import job_group, query_scope

#: how long a job may still read RUNNING after the listener bus drained
SETTLE_S = 5.0


def run(spark: SparkSession, name: str, sf_dir: str) -> dict:
    """Run registry query ``name`` once at ``sf_dir`` and return its
    record: build, execute and wall seconds; the group's jobs, tasks,
    merged job-busy seconds and shuffle-write and spill bytes; and one
    ``[job id, seconds, tasks, description]`` row per job."""
    from .queries import registry

    fn = registry()[name].fn
    rest = _rest(spark)
    # earlier runs of the same query share its group
    seen = _group_jobs(spark, name)
    with query_scope(spark, name):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    return {
        "query": name,
        "wall_s": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "execute_s": round(t2 - t1, 3),
        **_job_stats(rest, _group_jobs(spark, name) - seen),
    }


def _rest(spark: SparkSession):
    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        raise RuntimeError(
            "measure.run reads job metrics from the Spark UI; build the "
            "session with spark.ui.enabled=true"
        )
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=10) as resp:
            return json.load(resp)

    return get


def _ms(stamp: str | None) -> float | None:
    if not stamp:
        return None
    stamp = stamp.replace("GMT", "+0000")
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1e3


def _group_jobs(spark: SparkSession, name: str) -> set[int]:
    """Ids of the jobs run so far in ``name``'s group, once the listener
    bus has delivered every event posted before the call."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(job_group(name)))


def _job_stats(get, ids: set[int]) -> dict:
    deadline = time.monotonic() + SETTLE_S
    while True:
        jobs = [get(f"/jobs/{j}") for j in sorted(ids)]
        if all(j.get("completionTime") for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stages = {}
    for job in jobs:
        for sid in job["stageIds"]:
            try:
                attempts = get(f"/stages/{sid}")
            except urllib.error.HTTPError as e:
                # past spark.ui.retainedStages the status store drops
                # skipped stages (completion time -1) first; they ran
                # nothing, and this run's completed ones are the newest
                if e.code != 404:
                    raise
                attempts = []
            for attempt in attempts:
                if attempt["status"] == "COMPLETE":
                    stages[sid] = attempt
    rows, spans = [], []
    for job in jobs:
        a, b = _ms(job.get("submissionTime")), _ms(job.get("completionTime"))
        secs = None if a is None or b is None else round((b - a) / 1e3, 3)
        rows.append([job["jobId"], secs, job["numCompletedTasks"],
                     job.get("description") or job["name"]])
        if secs is not None:
            spans.append((a, b))
    busy_ms, reach = 0.0, float("-inf")
    for a, b in sorted(spans):
        a = max(a, reach)
        if b > a:
            busy_ms += b - a
            reach = b
    return {
        "jobs": len(jobs),
        "tasks": sum(r[2] for r in rows),
        "one_task_jobs": sum(r[2] == 1 for r in rows),
        "job_busy_s": round(busy_ms / 1e3, 3),
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages.values()),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in stages.values()),
        "job_rows": rows,
    }
