"""Incremental materialized-aggregate maintenance (operators.matview).

The IVM counterpart of the row-mirror cycle in test_incremental.py:
signed-delta algebra, update-image support, group vanish/revive, and
the in-commit watermark's replay no-op guarantee.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_seedling_spark.operators.ledger import VersionedTable
from data_seedling_spark.operators.matview import (
    COUNT_COL,
    SOURCE_HI,
    MaterializedAggregate,
    aggregate_delta,
    apply_aggregate_delta,
)
from data_seedling_spark.operators.merge import (
    CHANGE_TYPE,
    CT_DELETE,
    CT_INSERT,
    CT_UPDATE_POST,
    CT_UPDATE_PRE,
)


def change_df(spark, rows_):
    return spark.createDataFrame(
        [Row(grp=g, amount=float(a), **{CHANGE_TYPE: ct}) for g, a, ct in rows_]
    )


def state(view):
    return {
        r["grp"]: (r[COUNT_COL], r["revenue"])
        for r in view.table.read().collect()
    }


def make_view(spark, tmp_path, name="gold"):
    return MaterializedAggregate(
        spark,
        VersionedTable(spark, str(tmp_path / name), write_partitions=1),
        group_keys=["grp"],
        sum_measures={"revenue": "amount"},
    )


def test_aggregate_delta_signs(spark):
    changes = change_df(
        spark,
        [
            ("a", 10.0, CT_INSERT),
            ("a", 5.0, CT_INSERT),
            ("a", 10.0, CT_DELETE),
            ("b", 2.0, CT_UPDATE_PRE),
            ("b", 7.0, CT_UPDATE_POST),
        ],
    )
    delta = {
        r["grp"]: (r[COUNT_COL], r["revenue"])
        for r in aggregate_delta(changes, ["grp"], {"revenue": "amount"}).collect()
    }
    # a: +1 +1 -1 = 1 live row, 10+5-10 = 5 revenue
    assert delta["a"] == (1, Decimal("5.00"))
    # update pre/post nets to 0 rows, +5 revenue — in-place update
    assert delta["b"] == (0, Decimal("5.00"))


def test_refresh_folds_then_replays_noop(spark, tmp_path):
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
    view = make_view(spark, tmp_path)
    src.write(change_df(spark, [("a", 10.0, CT_INSERT)]).drop(CHANGE_TYPE),
              mode="overwrite")
    assert view.refresh(src) == (0, 0)
    assert state(view) == {"a": (1, Decimal("10.00"))}
    # already current: replayed refresh must be a no-op (the applied
    # watermark rides inside the view commit — no double fold possible)
    lo, hi = view.refresh(src)
    assert lo > hi
    assert state(view) == {"a": (1, Decimal("10.00"))}
    # append folds only the increment
    src.write(change_df(spark, [("a", 2.5, CT_INSERT), ("b", 1.0, CT_INSERT)])
              .drop(CHANGE_TYPE), mode="append")
    assert view.refresh(src) == (1, 1)
    assert state(view) == {
        "a": (2, Decimal("12.50")),
        "b": (1, Decimal("1.00")),
    }


def test_group_vanishes_at_zero_and_revives(spark, tmp_path):
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
    view = make_view(spark, tmp_path)
    src.write(
        change_df(spark, [("a", 10.0, CT_INSERT), ("b", 4.0, CT_INSERT)])
        .drop(CHANGE_TYPE),
        mode="overwrite",
    )
    view.refresh(src)
    src.merge(change_df(spark, [("b", 4.0, CT_DELETE)]).withColumnRenamed(
        "amount", "amount"), primary_keys=["grp"])
    view.refresh(src)
    assert state(view) == {"a": (1, Decimal("10.00"))}
    # revive: the group returns with fresh sums, not stale ones
    src.merge(change_df(spark, [("b", 9.0, CT_INSERT)]), primary_keys=["grp"])
    view.refresh(src)
    assert state(view) == {"a": (1, Decimal("10.00")), "b": (1, Decimal("9.00"))}


def test_overwrite_source_rebuilds_view_state(spark, tmp_path):
    """An overwrite commit is delete-all + insert-all in the change
    feed; folding it must land the view exactly on the new snapshot's
    aggregate."""
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
    view = make_view(spark, tmp_path)
    src.write(change_df(spark, [("a", 10.0, CT_INSERT), ("a", 20.0, CT_INSERT)])
              .drop(CHANGE_TYPE), mode="overwrite")
    view.refresh(src)
    assert state(view) == {"a": (2, Decimal("30.00"))}
    src.write(change_df(spark, [("c", 1.0, CT_INSERT)]).drop(CHANGE_TYPE),
              mode="overwrite")
    view.refresh(src)
    assert state(view) == {"c": (1, Decimal("1.00"))}


def test_apply_delta_touches_only_delta_groups(spark):
    """Untouched groups pass through the combine untouched (the
    left-anti branch): the per-refresh shuffle is O(delta + touched),
    not O(view)."""
    old = spark.createDataFrame(
        [
            Row(grp="a", **{COUNT_COL: 2}, revenue=Decimal("30.00")),
            Row(grp="z", **{COUNT_COL: 5}, revenue=Decimal("99.00")),
        ]
    ).select(
        "grp",
        F.col(COUNT_COL).cast("long").alias(COUNT_COL),
        F.col("revenue").cast("decimal(18,2)").alias("revenue"),
    )
    delta = aggregate_delta(
        change_df(spark, [("a", 30.0, CT_DELETE)]), ["grp"], {"revenue": "amount"}
    )
    new = {
        r["grp"]: (r[COUNT_COL], r["revenue"])
        for r in apply_aggregate_delta(old, delta, ["grp"]).collect()
    }
    assert new == {"a": (1, Decimal("0.00")), "z": (5, Decimal("99.00"))}


def test_stream_aggregate_into_matches_batch_and_guards_replay(spark, tmp_path):
    """Streaming IVM: events stream (one file per trigger where
    possible) folds into the view via foreachBatch; the result equals
    the batch aggregate, and replaying an already-applied batch_id
    no-ops (the idempotent-foreachBatch guard)."""
    from data_seedling_spark.operators.matview import (
        MaterializedAggregate,
        fold_stream_batch,
        stream_aggregate_into,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = "/root/testdata/sf0.001"
    schema = spark.read.parquet(events + "/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events)
        .select("event_type", "value")
    )
    view = MaterializedAggregate(
        spark,
        VersionedTable(spark, str(tmp_path / "gold"), write_partitions=1),
        group_keys=["event_type"],
        sum_measures={"total_value": "value"},
    )
    q = stream_aggregate_into(stream, view, str(tmp_path / "ck"))
    q.awaitTermination(120)
    expected = {
        r["event_type"]: (r["cnt"], r["total"])
        for r in spark.read.parquet(events + "/events.parquet")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round("value", 2).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total"),
        )
        .collect()
    }
    got = {
        r["event_type"]: (r[COUNT_COL], r["total_value"])
        for r in view.table.read().collect()
    }
    assert got == expected
    # replay guard: re-folding the full input under an old batch_id is
    # a no-op instead of a double count
    batch = spark.read.parquet(events + "/events.parquet").select(
        "event_type", "value"
    )
    assert fold_stream_batch(view, batch, 0) is False
    got2 = {
        r["event_type"]: (r[COUNT_COL], r["total_value"])
        for r in view.table.read().collect()
    }
    assert got2 == expected


def test_refresh_raises_on_unknown_change_type(spark, tmp_path):
    """A change type outside the four CDC kinds must fail the refresh,
    not fold in with sign 0 (dropped from every sum and count), and
    nothing may commit: the view keeps its watermark and state. Same
    contract as the count-min maintainer; the stream fold shares it."""
    from pyspark.errors import SparkRuntimeException

    from data_seedling_spark.operators.matview import fold_stream_batch

    class BogusSource:
        def __init__(self, version):
            self.version = version

        def latest_version(self):
            return self.version

        def read_changes(self, lo, hi):
            return change_df(
                spark, [("a", 1.0, CT_INSERT), ("a", 10.0, "truncate")]
            )

    view = make_view(spark, tmp_path)
    with pytest.raises(SparkRuntimeException, match="truncate"):
        view.refresh(BogusSource(0))
    assert view.applied_hi() == -1 and not view.table.exists()
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
    src.write(change_df(spark, [("a", 10.0, CT_INSERT)]).drop(CHANGE_TYPE),
              mode="overwrite")
    assert view.refresh(src) == (0, 0)
    with pytest.raises(SparkRuntimeException, match="truncate"):
        view.refresh(BogusSource(1))
    batch = BogusSource(1).read_changes(0, 0)
    with pytest.raises(SparkRuntimeException, match="truncate"):
        fold_stream_batch(view, batch, 1)
    assert view.applied_hi() == 0
    assert state(view) == {"a": (1, Decimal("10.00"))}
