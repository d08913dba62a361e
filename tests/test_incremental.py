"""Watermark protocol + incremental pipeline tests (reference
``test_watermark.py:29-208`` and the read-CDF → merge → advance cycle)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_seedling_spark.operators.ledger import VersionedTable
from data_seedling_spark.operators.watermark import (
    get_high_watermark,
    get_or_create_low_watermark,
    update_watermark,
)
from data_seedling_spark.streaming.incremental import (
    read_increment,
    run_incremental_activity,
)

ACTIVITY = "pseudonymisation"
TABLE = "Notes"


def make_df(spark, pairs):
    return spark.createDataFrame([Row(key=k, value=v) for k, v in pairs])


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_low_watermark_created_at_zero(spark, tmp_path):
    state = VersionedTable(spark, str(tmp_path / "state"))
    assert get_or_create_low_watermark(spark, state, ACTIVITY, TABLE) == 0
    # second activity gets its own row
    assert get_or_create_low_watermark(spark, state, "feature_extraction", TABLE) == 0
    assert state.read().count() == 2


def test_update_watermark_sets_high_plus_one(spark, tmp_path):
    state = VersionedTable(spark, str(tmp_path / "state"))
    get_or_create_low_watermark(spark, state, ACTIVITY, TABLE)
    update_watermark(state, ACTIVITY, TABLE, high_watermark=7)
    assert get_or_create_low_watermark(spark, state, ACTIVITY, TABLE) == 8


def test_read_increment_empty_when_caught_up(spark, tmp_path):
    source = VersionedTable(spark, str(tmp_path / "src"))
    state = VersionedTable(spark, str(tmp_path / "state"))
    source.write(make_df(spark, [(1, "a")]), mode="overwrite")
    update_watermark(state, ACTIVITY, TABLE, high_watermark=source.latest_version())
    inc = read_increment(spark, source, state, ACTIVITY, TABLE)
    assert inc.is_empty_range
    assert inc.changes.count() == 0
    # schema preserved for downstream transforms (S3)
    assert set(inc.changes.columns) >= {"key", "value"}


def test_full_incremental_cycle(spark, tmp_path):
    source = VersionedTable(spark, str(tmp_path / "src"))
    target = VersionedTable(spark, str(tmp_path / "dst"))
    state = VersionedTable(spark, str(tmp_path / "state"))

    # run 1: initial load
    source.write(make_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    run_incremental_activity(
        spark, source, target, state, ACTIVITY, TABLE, primary_keys=["key"]
    )
    assert rows(target.read(), "key", "value") == [(1, "a"), (2, "b")]
    assert get_or_create_low_watermark(spark, state, ACTIVITY, TABLE) == 1

    # run 2: nothing new → no write, no advance
    v_before = target.latest_version()
    run_incremental_activity(
        spark, source, target, state, ACTIVITY, TABLE, primary_keys=["key"]
    )
    assert target.latest_version() == v_before
    assert get_or_create_low_watermark(spark, state, ACTIVITY, TABLE) == 1

    # run 3: append + merge-delete arrive as two source versions
    source.write(make_df(spark, [(3, "c")]), mode="append")
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    feed = make_df(spark, [(1, "a")]).withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
    source.merge(feed, primary_keys=["key"])
    run_incremental_activity(
        spark, source, target, state, ACTIVITY, TABLE, primary_keys=["key"]
    )
    assert rows(target.read(), "key", "value") == [(2, "b"), (3, "c")]
    # source is now at version 2 (v0 create, v1 append, v2 merge) → low = 3
    assert get_or_create_low_watermark(spark, state, ACTIVITY, TABLE) == 3


def test_transform_applied_to_increment(spark, tmp_path):
    source = VersionedTable(spark, str(tmp_path / "src"))
    target = VersionedTable(spark, str(tmp_path / "dst"))
    state = VersionedTable(spark, str(tmp_path / "state"))
    source.write(make_df(spark, [(1, "abc")]), mode="overwrite")

    def upper(df):
        return df.withColumn("value", F.upper("value"))

    run_incremental_activity(
        spark, source, target, state, ACTIVITY, TABLE,
        primary_keys=["key"], transform=upper,
    )
    assert rows(target.read(), "key", "value") == [(1, "ABC")]


def test_at_least_once_replay_is_idempotent(spark, tmp_path):
    """ST2: if the watermark advance fails, replaying the same range
    yields the same target state (exactly-once per key)."""
    source = VersionedTable(spark, str(tmp_path / "src"))
    target = VersionedTable(spark, str(tmp_path / "dst"))
    state = VersionedTable(spark, str(tmp_path / "state"))
    source.write(make_df(spark, [(1, "a")]), mode="overwrite")
    run_incremental_activity(
        spark, source, target, state, ACTIVITY, TABLE, primary_keys=["key"]
    )
    # simulate replay of the already-processed range
    inc = source.read_changes(0, 0)
    target.merge(inc, primary_keys=["key"])
    assert rows(target.read(), "key", "value") == [(1, "a")]


def test_high_watermark_tracks_source(spark, tmp_path):
    source = VersionedTable(spark, str(tmp_path / "src"))
    source.write(make_df(spark, [(1, "a")]), mode="overwrite")
    source.write(make_df(spark, [(2, "b")]), mode="append")
    assert get_high_watermark(source) == 1


def test_first_write_applies_net_effect_and_rejects_updates(spark, tmp_path):
    """Run 1 with a multi-version source (overwrite then overwrite):
    the feed carries insert+delete+insert for the same key — the target
    must hold only the final value, and update images must be rejected
    on run 1 exactly as on run N."""
    from data_seedling_spark.operators.merge import (
        CHANGE_TYPE,
        CT_UPDATE_POST,
        UpdatesNotSupportedError,
    )
    import pytest as _pytest

    source = VersionedTable(spark, str(tmp_path / "src"))
    target = VersionedTable(spark, str(tmp_path / "dst"))
    state = VersionedTable(spark, str(tmp_path / "state"))
    source.write(make_df(spark, [(1, "a")]), mode="overwrite")
    source.write(make_df(spark, [(1, "b")]), mode="overwrite")  # CDF: del a + ins b
    run_incremental_activity(
        spark, source, target, state, ACTIVITY, TABLE, primary_keys=["key"]
    )
    assert rows(target.read(), "key", "value") == [(1, "b")]

    # update rejection on a brand-new target
    target2 = VersionedTable(spark, str(tmp_path / "dst2"))
    state2 = VersionedTable(spark, str(tmp_path / "state2"))
    source2 = VersionedTable(spark, str(tmp_path / "src2"))
    source2.write(make_df(spark, [(1, "a")]), mode="overwrite")
    inc = read_increment(spark, source2, state2, ACTIVITY, TABLE)
    bad = inc.changes.withColumn(CHANGE_TYPE, F.lit(CT_UPDATE_POST))
    from data_seedling_spark.streaming.incremental import Increment, write_increment

    with _pytest.raises(UpdatesNotSupportedError):
        write_increment(
            target2,
            Increment(bad, inc.low_watermark, inc.high_watermark),
            ["key"], state2, ACTIVITY, TABLE,
        )


def test_commit_pool_runs_under_the_callers_job_group(spark):
    """exact_substring_incremental_ingest overlaps its two ledger
    commits on a thread pool. Under pinned-thread mode a bare pool
    thread starts with empty local properties, so its jobs would run
    outside the caller's job group, where attribution and
    cancelJobGroup cannot see them."""
    from data_seedling_spark.queries import registry
    from data_seedling_spark.session import query_scope
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    settle = sc._jsc.sc().listenerBus().waitUntilEmpty
    settle()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("commit-pool", "commit-pool")
    try:
        with query_scope(spark):
            registry()["exact_substring_incremental_ingest"].fn(spark, SF_SMOKE)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    settle()
    assert tracker.getJobIdsForGroup("commit-pool")
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
