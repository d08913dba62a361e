"""Spark job budgets for the CDC-maintained views, the medallion op and
the warehouse queries.

Timings of these calls spread 10-20% from run to run; their Spark job
counts repeat exactly. So each pinned call runs in its own job group,
and the jobs the group ran (read through ``statusTracker`` once the
listener bus is drained, no UI needed) must not exceed the call's
budget. An extra ``.count()`` or a lost broadcast then fails here,
naming the call, instead of hiding in timing noise. A per-commit scan
adds tasks, not jobs: the ``lsh_ingest`` op also pins the tasks its
jobs' stages completed, so a snapshot read that goes back to one scan
per live commit fails its task budget.

The warehouse budgets pin a warm registry query the same way: its
base-table scans replay cached schemas, so an inference job per table
load shows up here as an over-budget count.

The budgets are a ratchet: each is the count the code ran when it was
recorded. A change that lowers a count lowers its budget in the same
change; raising one loosens the check, so its reason goes in
CHANGES.md.
"""

from __future__ import annotations

import itertools
import random
from datetime import datetime, timedelta

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_seedling_spark.operators.ledger import VersionedTable
from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

#: view → {step: most Spark jobs the step may run}.
BUDGETS = {
    "aggregate": {"build": 2, "insert": 5, "replay": 0, "remove": 5},
    "kll": {"build": 5, "insert": 7, "replay": 0},
    "theta": {"build": 2, "insert": 3, "replay": 0},
    "count_min": {"build": 2, "insert": 3, "replay": 0, "remove": 4},
    "tdigest": {"build": 11, "insert": 15, "replay": 0},
    "mapped_index": {"build": 1, "insert": 1, "remove": 5},
    "medallion": {"plain": 12, "deleting": 26},
    # a registry query's second call (build + ``toPandas``), as the
    # warehouse_queries benchmark op runs it once its schemas are cached
    "warehouse": {
        "flagship_revenue_by_nation": 7,
        "tpch_q15_top_supplier": 8,
        "tpcds_q3_brand_year_sales": 4,
    },
    # append, index refresh, new-vs-all candidate count; then compact()
    "lsh_ingest": {"plain": 12, "compacting": 13},
}

#: op → {step: most tasks the step's jobs may complete}.
TASK_BUDGETS = {"lsh_ingest": {"plain": 33, "compacting": 37}}

_GROUP = "spark.jobGroup.id"
_groups = itertools.count()


def job_ids_run(spark, call) -> list[int]:
    """Ids of the Spark jobs ``call()`` ran, read by a job group of its own."""
    sc = spark.sparkContext
    group = f"job_budget:{next(_groups)}"
    prior = sc.getLocalProperty(_GROUP)
    sc.setLocalProperty(_GROUP, group)
    try:
        call()
    finally:
        sc.setLocalProperty(_GROUP, prior)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def jobs_run(spark, call) -> int:
    return len(job_ids_run(spark, call))


def tasks_completed(spark, job_ids: list[int]) -> int:
    """Tasks completed by the stages of ``job_ids``. A skipped stage
    completes none; past ``spark.ui.retainedStages`` the status store
    drops skipped stages first, so a stage it no longer holds counts 0."""
    tracker = spark.sparkContext.statusTracker()
    stages = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    infos = [tracker.getStageInfo(s) for s in stages]
    return sum(info.numCompletedTasks for info in infos if info is not None)


def within_budget(view: str, counts: dict[str, int], budgets=BUDGETS, unit="jobs"):
    over = {
        step: f"{n} {unit} > budget {budgets[view][step]}"
        for step, n in counts.items()
        if n > budgets[view][step]
    }
    assert not over, f"{view}: {over} (all counts: {counts})"


ROW = "id long, grp string, amount double, text string"


def rows(spark, ids, seed):
    rng = random.Random(seed)
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]
    return spark.createDataFrame(
        [
            (
                i,
                f"g{i % 5}",
                float(rng.randint(1, 500)),
                " ".join(rng.choice(words) for _ in range(6)),
            )
            for i in ids
        ],
        ROW,
    )


def deletes(spark, ids):
    return rows(spark, ids, 0).withColumn(CHANGE_TYPE, F.lit(CT_DELETE))


def make_view(spark, path, view):
    from data_seedling_spark.operators.matview import MaterializedAggregate
    from data_seedling_spark.operators.sketch import (
        MaterializedCountMin,
        MaterializedSketch,
        MaterializedTDigest,
        MaterializedThetaSketch,
    )

    table = VersionedTable(spark, path, write_partitions=1)
    return {
        "aggregate": lambda: MaterializedAggregate(
            spark, table, group_keys=["grp"], sum_measures={"revenue": "amount"}
        ),
        "kll": lambda: MaterializedSketch(
            spark, table, value_col="amount", id_col="id",
            inc_rounds=2, merge_rounds=1, bucket_width=100.0,
        ),
        "theta": lambda: MaterializedThetaSketch(spark, table, key_col="id", k=16),
        "count_min": lambda: MaterializedCountMin(
            spark, table, key_col="grp", depth=2, width=16
        ),
        "tdigest": lambda: MaterializedTDigest(
            spark, table, value_col="amount", delta=10
        ),
    }[view]()


@pytest.mark.parametrize(
    "view", ["aggregate", "kll", "theta", "count_min", "tdigest"]
)
def test_view_refresh_job_budget(spark, tmp_path, view):
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    mv = make_view(spark, str(tmp_path / "view"), view)
    src.write(rows(spark, range(40), 1), mode="overwrite")
    counts = {"build": jobs_run(spark, lambda: mv.refresh(src))}
    src.write(rows(spark, range(40, 60), 2), mode="append")
    counts["insert"] = jobs_run(spark, lambda: mv.refresh(src))
    counts["replay"] = jobs_run(spark, lambda: mv.refresh(src))
    if "remove" in BUDGETS[view]:
        src.merge(deletes(spark, range(0, 60, 7)), ["id"])
        counts["remove"] = jobs_run(spark, lambda: mv.refresh(src))
    assert mv.applied_hi() == src.latest_version()
    within_budget(view, counts)


def test_mapped_index_refresh_job_budget(spark, tmp_path):
    from data_seedling_spark.operators.matview import refresh_mapped_index

    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = VersionedTable(spark, str(tmp_path / "idx"), write_partitions=1)

    def words(df):
        return df.select("id", F.explode(F.split("text", " ")).alias("word"))

    def refresh():
        refresh_mapped_index(idx, src, "id", ["text"], words)

    src.write(rows(spark, range(40), 1), mode="overwrite")
    counts = {"build": jobs_run(spark, refresh)}
    src.write(rows(spark, range(40, 60), 2), mode="append")
    counts["insert"] = jobs_run(spark, refresh)
    src.merge(deletes(spark, range(0, 60, 7)), ["id"])
    counts["remove"] = jobs_run(spark, refresh)
    within_budget("mapped_index", counts)


NOTE = T.StructType(
    [
        T.StructField("NoteID", T.LongType()),
        T.StructField("NoteText", T.StringType()),
        T.StructField("UserID", T.LongType()),
        T.StructField("AppointmentDate", T.TimestampType()),
    ]
)


def test_medallion_op_job_budget(spark, tmp_path):
    """One medallion op as the benchmark times it: a bronze change
    batch, then ``read_increment`` → ``pseudo_transform`` →
    ``write_increment`` into silver."""
    from data_seedling_spark.config import DateTimeRoundOpt, TableConfig
    from data_seedling_spark.pipelines.pseudonymise import pseudo_transform
    from data_seedling_spark.streaming import incremental

    config = TableConfig(
        primary_keys=["NoteID"],
        free_text_columns=["NoteText"],
        round_datetime_columns={"AppointmentDate": DateTimeRoundOpt.DAY},
        remove_columns=["UserID"],
    )
    bronze = VersionedTable(spark, str(tmp_path / "bronze"), write_partitions=4)
    silver = VersionedTable(spark, str(tmp_path / "silver"), write_partitions=4)
    state = VersionedTable(spark, str(tmp_path / "state"), write_partitions=1)
    day = datetime(2024, 1, 1)

    def notes(ids):
        return spark.createDataFrame(
            [
                (i, f"Patient John Smith seen on visit {i}", i % 7,
                 day + timedelta(hours=i))
                for i in ids
            ],
            NOTE,
        )

    def op(ids, deleted=()):
        bronze.write(notes(ids), mode="append")
        if deleted:
            feed = notes(deleted).withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
            bronze.merge(feed, ["NoteID"])
        inc = incremental.read_increment(
            spark, bronze, state, "silver", "notes"
        )
        inc = incremental.Increment(
            pseudo_transform(inc.changes, config),
            inc.low_watermark,
            inc.high_watermark,
        )
        incremental.write_increment(
            silver, inc, ["NoteID"], state, "silver", "notes"
        )

    bronze.write(notes(range(50)), mode="overwrite")
    op(range(50, 60))
    counts = {
        "plain": jobs_run(spark, lambda: op(range(60, 80))),
        "deleting": jobs_run(spark, lambda: op(range(80, 100), range(0, 20, 3))),
    }
    within_budget("medallion", counts)


@pytest.mark.parametrize("query", sorted(BUDGETS["warehouse"]))
def test_warehouse_query_job_budget(spark, query):
    """A base-table scan replays its cached schema, so a warm call runs
    only the query's own jobs, none for schema inference."""
    from data_seedling_spark.queries import registry

    fn = registry()[query].fn
    fn(spark, SF_SMOKE).toPandas()
    within_budget(
        "warehouse", {query: jobs_run(spark, lambda: fn(spark, SF_SMOKE).toPandas())}
    )


def test_lsh_ingest_op_budget(spark, tmp_path):
    """One ``lsh_ingest`` op as the benchmark times it: a document
    batch appended to the source, the LSH index refreshed, the batch's
    new-vs-all candidates counted; the compacting op then compacts the
    index. The index holds several live appends when the op runs, so a
    snapshot read of one scan per live commit shows in the tasks."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex

    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=4)
    index = MaterializedLshIndex(
        spark,
        VersionedTable(spark, str(tmp_path / "idx"), write_partitions=4),
        text_col="text",
        id_col="id",
        num_perm=16,
        bands=4,
        shingle_n=3,
    )

    def docs(ids):
        return rows(spark, ids, ids[0]).select("id", "text")

    def op(ids, compact=False):
        version = src.write(docs(ids), mode="append")
        index.refresh(src)
        inc_ids = src.read_changes(version, version).select("id")
        index.new_vs_all_candidates(inc_ids, bucket_cap=64).count()
        if compact:
            index.table.compact()

    src.write(docs(range(40)), mode="overwrite")
    index.refresh(src)
    for first in (40, 60, 80):
        op(range(first, first + 20))
    jobs = {
        "plain": job_ids_run(spark, lambda: op(range(100, 120))),
        "compacting": job_ids_run(spark, lambda: op(range(120, 140), compact=True)),
    }
    assert index.applied_hi() == src.latest_version()
    tasks = {step: tasks_completed(spark, ids) for step, ids in jobs.items()}
    within_budget("lsh_ingest", {step: len(ids) for step, ids in jobs.items()})
    within_budget("lsh_ingest", tasks, TASK_BUDGETS, "tasks")
