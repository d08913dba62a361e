"""Versioned-table / CDC tests (reference ``test_datalake.py:36-448``
coverage: multi-version inserts, overwrite-as-delete+insert, merge
insert/delete, update rejection, vacuum no-op)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_seedling_spark.operators.ledger import (
    ConstraintViolationError,
    NoSuchVersionError,
    SchemaMismatchError,
    VersionedTable,
)
from data_seedling_spark.operators.merge import (
    CHANGE_TYPE,
    CT_DELETE,
    CT_INSERT,
    CT_UPDATE_POST,
    UpdatesNotSupportedError,
    apply_change_feed,
)


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def make_df(spark, pairs):
    return spark.createDataFrame([Row(key=k, value=v) for k, v in pairs])


def test_write_and_read_versions(spark, tmp_table_dir):
    t = VersionedTable(spark, tmp_table_dir)
    v0 = t.write(make_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    v1 = t.write(make_df(spark, [(3, "c")]), mode="append")
    assert (v0, v1) == (0, 1)
    assert t.latest_version() == 1
    assert rows(t.read(), "key", "value") == [(1, "a"), (2, "b"), (3, "c")]
    # time travel
    assert rows(t.read(version=0), "key", "value") == [(1, "a"), (2, "b")]


def test_append_changes_are_inserts(spark, tmp_table_dir):
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    t.write(make_df(spark, [(2, "b")]), mode="append")
    chg = t.read_changes(1, 1)
    assert rows(chg, "key", "value", CHANGE_TYPE, "_commit_version") == [
        (2, "b", CT_INSERT, 1)
    ]


def test_overwrite_changes_are_delete_plus_insert(spark, tmp_table_dir):
    """Delta CDF overwrite semantics (reference ``test_datalake.py:273-334``)."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    t.write(make_df(spark, [(9, "z")]), mode="overwrite")
    chg = t.read_changes(1, 1)
    assert rows(chg, "key", "value", CHANGE_TYPE) == [
        (1, "a", CT_DELETE),
        (2, "b", CT_DELETE),
        (9, "z", CT_INSERT),
    ]
    assert rows(t.read(), "key", "value") == [(9, "z")]


def test_merge_applies_deletes_and_inserts(spark, tmp_table_dir):
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a"), (2, "b"), (3, "c")]), mode="overwrite")
    feed = (
        make_df(spark, [(2, "b"), (4, "d")])
        .withColumn(
            CHANGE_TYPE,
            F.when(F.col("key") == 2, CT_DELETE).otherwise(CT_INSERT),
        )
    )
    t.merge(feed, primary_keys=["key"])
    assert rows(t.read(), "key", "value") == [(1, "a"), (3, "c"), (4, "d")]
    # merge commit exposes its change rows through the CDF
    chg = t.read_changes(1, 1)
    assert rows(chg, "key", CHANGE_TYPE) == [(2, CT_DELETE), (4, CT_INSERT)]


def test_merge_insert_is_idempotent_on_keys(spark, tmp_table_dir):
    """ST2: replaying the same insert feed must not duplicate keys."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    feed = make_df(spark, [(1, "a"), (2, "b")]).withColumn(CHANGE_TYPE, F.lit(CT_INSERT))
    t.merge(feed, primary_keys=["key"])
    t.merge(feed, primary_keys=["key"])
    assert rows(t.read(), "key", "value") == [(1, "a"), (2, "b")]


def test_update_feed_rejected(spark, tmp_table_dir):
    """S9 guard (reference ``datalake.py:177-188``)."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    feed = make_df(spark, [(1, "a2")]).withColumn(CHANGE_TYPE, F.lit(CT_UPDATE_POST))
    with pytest.raises(UpdatesNotSupportedError):
        t.merge(feed, primary_keys=["key"])


def test_point_update(spark, tmp_table_dir):
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    t.update(F.col("key") == 2, {"value": F.lit("B")})
    assert rows(t.read(), "key", "value") == [(1, "a"), (2, "B")]


def test_vacuum_is_noop_change(spark, tmp_table_dir):
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    before = t.latest_version()
    t.vacuum()
    assert t.latest_version() == before


def test_missing_version_raises(spark, tmp_table_dir):
    t = VersionedTable(spark, tmp_table_dir)
    with pytest.raises(NoSuchVersionError):
        t.latest_version()
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    with pytest.raises(NoSuchVersionError):
        t.read_changes(5, 6)


def test_apply_change_feed_net_effect(spark):
    target = make_df(spark, [(1, "a"), (2, "b")])
    feed = (
        make_df(spark, [(2, "b"), (3, "c")])
        .withColumn(
            CHANGE_TYPE,
            F.when(F.col("key") == 2, CT_DELETE).otherwise(CT_INSERT),
        )
    )
    out = apply_change_feed(target, feed, ["key"])
    assert rows(out, "key", "value") == [(1, "a"), (3, "c")]


def test_corrupted_ledger_raises_clearly(spark, tmp_table_dir):
    import os

    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    with open(os.path.join(tmp_table_dir, "_ledger.json"), "w") as f:
        f.write("{not json")
    with pytest.raises(Exception):
        t.latest_version()


def test_merge_missing_pk_column_fails_fast(spark, tmp_table_dir):
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    feed = make_df(spark, [(2, "b")]).withColumn(CHANGE_TYPE, F.lit(CT_INSERT))
    with pytest.raises(Exception):
        t.merge(feed, primary_keys=["nonexistent_key"])


def test_multi_version_feed_net_effect_same_key(spark, tmp_table_dir):
    """insert(v1) then delete(v2) of one key must NOT resurrect the
    row; delete(v1) then insert(v2) must re-create it with the new
    value (per-PK version ordering)."""
    from data_seedling_spark.operators.merge import COMMIT_VERSION

    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "old"), (9, "keep")]), mode="overwrite")
    feed = spark.createDataFrame(
        [
            # key 2: inserted in v1, deleted in v2 → must stay absent
            Row(key=2, value="x", _ct=CT_INSERT, _v=1),
            Row(key=2, value="x", _ct=CT_DELETE, _v=2),
            # key 1: deleted in v1, re-inserted in v2 → new value wins
            Row(key=1, value="old", _ct=CT_DELETE, _v=1),
            Row(key=1, value="new", _ct=CT_INSERT, _v=2),
        ]
    ).withColumnsRenamed({"_ct": CHANGE_TYPE, "_v": COMMIT_VERSION})
    t.merge(feed, primary_keys=["key"])
    assert rows(t.read(), "key", "value") == [(1, "new"), (9, "keep")]


def test_duplicate_key_inserts_collapse_to_one_row(spark, tmp_table_dir):
    """Two insert rows sharing a PK (absent from target) must yield ONE
    target row — deterministically the greatest by remaining columns."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    feed = make_df(spark, [(2, "early"), (2, "late")]).withColumn(
        CHANGE_TYPE, F.lit(CT_INSERT)
    )
    t.merge(feed, primary_keys=["key"])
    assert rows(t.read(), "key", "value") == [(1, "a"), (2, "late")]


def test_timestamp_time_travel(spark, tmp_table_dir):
    """timestampAsOf half of the travel contract: resolve a commit
    timestamp to its version, read the snapshot as of that instant."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    t.write(make_df(spark, [(2, "b")]), mode="append")
    ts_v0 = t.commits()[0].timestamp_ms
    ts_v1 = t.commits()[1].timestamp_ms
    assert t.version_at_timestamp(ts_v0) == 0
    assert t.version_at_timestamp(ts_v1) == 1
    assert t.version_at_timestamp(ts_v1 + 10_000) == 1  # after last commit
    assert rows(t.read_at_timestamp(ts_v0), "key", "value") == [(1, "a")]
    assert rows(t.read_at_timestamp(ts_v1), "key", "value") == [(1, "a"), (2, "b")]
    import pytest as _pytest

    from data_seedling_spark.operators.ledger import NoSuchVersionError

    with _pytest.raises(NoSuchVersionError):
        t.version_at_timestamp(ts_v0 - 1)


def test_compact_preserves_rows_and_reduces_files(spark, tmp_table_dir):
    """OPTIMIZE-style compaction: same rows, new version, fewer files;
    old versions stay readable (time travel unaffected)."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    for i in range(2, 6):
        t.write(make_df(spark, [(i, chr(96 + i))]), mode="append")
    before = rows(t.read(), "key", "value")
    files_before = len(t.read().inputFiles())
    v = t.compact(sort_by=["key"])
    assert v == t.latest_version()
    assert rows(t.read(), "key", "value") == before
    assert len(t.read().inputFiles()) < files_before
    assert len(t.read().inputFiles()) == 1
    # history intact: pre-compact snapshot still readable
    assert rows(t.read(version=v - 1), "key", "value") == before


def test_merge_schema_append_evolution(spark, tmp_table_dir):
    """Delta mergeSchema parity: append may ADD columns; old versions
    read back with NULLs; plain append still rejects divergence; CDC
    across the evolution boundary unions."""
    from data_seedling_spark.operators.ledger import SchemaMismatchError

    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")
    wide = spark.createDataFrame([Row(key=2, value="b", score=0.5)])
    with pytest.raises(SchemaMismatchError):
        t.write(wide, mode="append")  # not without opting in
    t.write(wide, mode="append", merge_schema=True)
    assert rows(t.read(), "key", "value", "score") == [
        (1, "a", None),
        (2, "b", 0.5),
    ]
    # dropping or retyping a column is still rejected under mergeSchema
    with pytest.raises(SchemaMismatchError):
        t.write(make_df(spark, [(3, "c")]), mode="append", merge_schema=True)
    with pytest.raises(SchemaMismatchError):
        t.write(
            spark.createDataFrame([Row(key=3, value="c", score="high")]),
            mode="append",
            merge_schema=True,
        )
    chg = t.read_changes(0, 1)
    assert rows(chg, "key", "value", "score") == [(1, "a", None), (2, "b", 0.5)]


def test_write_constraints_reject_and_commit(spark, tmp_table_dir):
    """CHECK-constraint parity: violating writes leave no new version;
    per-constraint counts reported; NULL predicate = violation."""
    from data_seedling_spark.operators.ledger import ConstraintViolationError

    t = VersionedTable(spark, tmp_table_dir)
    checks = {
        "key_positive": F.col("key") > 0,
        "value_not_null": F.col("value").isNotNull(),
    }
    t.write(make_df(spark, [(1, "a")]), mode="overwrite", constraints=checks)
    bad = spark.createDataFrame(
        [Row(key=-1, value="x"), Row(key=2, value=None), Row(key=None, value="y")],
        "key long, value string",
    )
    with pytest.raises(ConstraintViolationError) as exc:
        t.write(bad, mode="append", constraints=checks)
    assert "key_positive" in str(exc.value) and "value_not_null" in str(exc.value)
    # rejected write committed nothing: snapshot and history unchanged
    assert t.latest_version() == 0
    assert rows(t.read(), "key", "value") == [(1, "a")]
    # a clean append under the same constraints commits
    t.write(make_df(spark, [(2, "b")]), mode="append", constraints=checks)
    assert t.latest_version() == 1


def test_vacuum_retention_deletes_only_superseded(spark, tmp_table_dir):
    """Retention vacuum: appends that still feed retained snapshots
    survive any age; overwrite-superseded versions delete; vacuumed
    time travel raises; history metadata stays."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a")]), mode="overwrite")   # v0
    t.write(make_df(spark, [(2, "b")]), mode="append")       # v1
    t.write(make_df(spark, [(9, "z")]), mode="overwrite")    # v2
    t.write(make_df(spark, [(10, "y")]), mode="append")      # v3
    # retain last 2 snapshots (v2, v3): v0/v1 are superseded by v2
    removed = t.vacuum(retain_last_versions=2)
    assert removed == [0, 1]
    assert rows(t.read(), "key", "value") == [(9, "z"), (10, "y")]
    assert rows(t.read(version=2), "key", "value") == [(9, "z")]
    with pytest.raises(NoSuchVersionError):
        t.read(version=1)
    assert len(t.history()) == 4  # ledger metadata intact
    # appends never deleted merely for age: retain only the latest
    # snapshot — v2 (the base overwrite) and v3 both still contribute
    assert t.vacuum(retain_last_versions=1) == []
    assert rows(t.read(), "key", "value") == [(9, "z"), (10, "y")]
    # bare call remains the reference's no-op shape
    assert t.vacuum() == []


def test_scd2_segments_close_and_chain(spark, tmp_table_dir):
    """SCD2 from the change feed: re-inserted key chains segments
    (old closes at the new version), deleted key closes without a
    successor, untouched key stays current; overwrite's same-version
    delete+insert closes old at v and opens new at v."""
    from data_seedling_spark.operators.scd import scd2_from_changes

    t = VersionedTable(spark, tmp_table_dir)
    t.write(make_df(spark, [(1, "a1"), (2, "b1"), (3, "c1")]), mode="overwrite")  # v0
    feed = (
        make_df(spark, [(1, "a2")]).withColumn(CHANGE_TYPE, F.lit(CT_INSERT))
        .unionByName(make_df(spark, [(2, "b1")]).withColumn(CHANGE_TYPE, F.lit(CT_DELETE)))
    )
    t.merge(feed, primary_keys=["key"])  # v1
    hist = scd2_from_changes(
        t.read_changes(0, 1), ["key"], ["value"]
    )
    got = {
        (r["key"], r["valid_from_version"]): (r["valid_to_version"], r["is_current"], r["value"])
        for r in hist.collect()
    }
    assert got[(1, 0)] == (1, 0, "a1")   # superseded segment
    assert got[(1, 1)] == (None, 1, "a2")  # current segment
    assert got[(2, 0)] == (1, 0, "b1")   # deleted -> closed, no successor
    assert got[(3, 0)] == (None, 1, "c1")  # untouched -> current
    assert len(got) == 4
    # overwrite closes everything at v2 and reopens the new rows at v2
    t.write(make_df(spark, [(9, "z")]), mode="overwrite")  # v2
    hist2 = scd2_from_changes(t.read_changes(0, 2), ["key"], ["value"])
    cur = {r["key"]: r for r in hist2.where(F.col("is_current") == 1).collect()}
    assert set(cur) == {9}
    assert cur[9]["valid_from_version"] == 2


def test_zorder_compact_clusters_both_columns(spark, tmp_table_dir):
    """Z-order compaction: after compact(sort_by=[zorder key]), parquet
    row-group min/max spans shrink on BOTH dimensions vs the unsorted
    layout (a compound sort would only shrink the leading one); the
    interleave itself is order-preserving per dimension quadrant."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.ledger import zorder_key

    # interleave sanity: (0,0) < (0,1),(1,0) < (1,1) quadrant order
    probe = spark.createDataFrame(
        [Row(a=a, b=b) for a in (0, 1) for b in (0, 1)]
    ).select("a", "b", zorder_key(F.col("a"), F.col("b"), bits=2).alias("z"))
    z = {(r["a"], r["b"]): r["z"] for r in probe.collect()}
    assert z[(0, 0)] == 0 and z[(1, 1)] == 3 and {z[(0, 1)], z[(1, 0)]} == {1, 2}

    t = VersionedTable(spark, tmp_table_dir)
    n = 4096
    grid = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
        F.col("id").alias("payload"),
    ).orderBy(F.rand(seed=7))  # scrambled arrival order
    t.write(grid.repartition(4), mode="overwrite")

    def spans(version, col):
        out = []
        for f in glob.glob(f"{tmp_table_dir}/v{version:05d}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            idx = [meta.schema.column(i).name for i in range(meta.num_columns)].index(col)
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                out.append(st.max - st.min)
        return sum(out) / len(out)

    zcol = zorder_key(F.col("x"), F.col("y"), bits=6).alias("_z")
    clustered = t.read().select("x", "y", "payload", zcol)
    v = t.write(
        clustered.repartitionByRange(8, "_z").sortWithinPartitions("_z").drop("_z"),
        mode="overwrite",
    )
    # both dimensions get materially tighter row groups than v0
    assert spans(v, "x") < spans(0, "x") * 0.6
    assert spans(v, "y") < spans(0, "y") * 0.6
    assert rows(t.read(), "payload") == rows(t.read(version=0), "payload")


def test_occ_concurrent_appends_both_commit(spark, tmp_table_dir):
    """Two writers appending at the same moment race for the version
    claim; the loser retries against the advanced snapshot. Both
    commits land, on distinct versions, with all rows present."""
    import threading

    from data_seedling_spark.operators.ledger import VersionedTable

    VersionedTable(spark, tmp_table_dir, write_partitions=1).write(
        spark.createDataFrame([(0, "base")], "k long, v string"), mode="overwrite"
    )
    barrier = threading.Barrier(2)
    results, errors = {}, []

    def append(tag):
        try:
            t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
            df = spark.createDataFrame([(hash(tag) % 1000, tag)], "k long, v string")
            barrier.wait()
            results[tag] = t.write(df, mode="append")
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=append, args=(f"w{i}",)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert sorted(results.values()) == [1, 2]
    t = VersionedTable(spark, tmp_table_dir)
    vals = {r["v"] for r in t.read().collect()}
    assert vals == {"base", "w0", "w1"}


def test_occ_claimed_version_conflicts(spark, tmp_table_dir):
    """A held claim blocks that version: overwrites surface the
    conflict immediately; appends raise once retries are exhausted."""
    import pytest as _pytest

    from data_seedling_spark.operators.ledger import (
        ConcurrentWriteConflictError,
        VersionedTable,
    )

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"), mode="overwrite")
    t._claim(1)  # a concurrent writer mid-commit
    df = spark.createDataFrame([(2, "b")], "k long, v string")
    with _pytest.raises(ConcurrentWriteConflictError):
        t.write(df, mode="overwrite")
    with _pytest.raises(ConcurrentWriteConflictError):
        # max_retries=0: a held claim with no committing writer would
        # otherwise park in _await_version for its full timeout
        t.write(df, mode="append", max_retries=0)


def test_occ_failed_write_releases_claim(spark, tmp_table_dir):
    """A constraint-rejected write must not block its version slot."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.ledger import (
        ConstraintViolationError,
        VersionedTable,
    )

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"), mode="overwrite")
    bad = spark.createDataFrame([(-5, "neg")], "k long, v string")
    with _pytest.raises(ConstraintViolationError):
        t.write(bad, mode="append", constraints={"k_pos": F.col("k") > 0})
    # the slot freed: the next append takes version 1
    ok = spark.createDataFrame([(7, "ok")], "k long, v string")
    assert t.write(ok, mode="append") == 1


def test_occ_update_aborts_on_stale_read(spark, tmp_table_dir):
    """expected_version guards read-modify-write: a commit landing
    after the caller's read makes the write abort instead of silently
    dropping the concurrent rows."""
    import pytest as _pytest

    from data_seedling_spark.operators.ledger import (
        ConcurrentWriteConflictError,
        VersionedTable,
    )

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"), mode="overwrite")
    t.write(spark.createDataFrame([(2, "b")], "k long, v string"), mode="append")
    stale = spark.createDataFrame([(9, "stale")], "k long, v string")
    with _pytest.raises(ConcurrentWriteConflictError, match="expected latest"):
        t.write(stale, mode="overwrite", expected_version=0)


def test_occ_clear_stale_claims(spark, tmp_table_dir):
    """Crash recovery: superseded claims and over-age orphans clear;
    a fresh claim for the next version (live writer) survives."""
    import json as _json
    import os as _os

    from data_seedling_spark.operators.ledger import VersionedTable

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"), mode="overwrite")
    # superseded claim (version 0 already committed) + stale orphan at 1
    t._claim(1)
    with open(t._claim_path(1), "w") as f:
        _json.dump({"pid": 0, "ts_ms": 0}, f)  # ancient
    t._claim(2)  # fresh: a live writer
    cleared = t.clear_stale_claims(older_than_s=3600)
    assert 1 in cleared and 2 not in cleared
    assert _os.path.exists(t._claim_path(2))
    t._release_claim(2)


# --- file-stats data skipping (Delta stats parity) ---


def test_file_stats_prune_skips_disjoint_files(spark, tmp_table_dir):
    from pyspark.sql import Row

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    v0 = t.write(
        spark.createDataFrame([Row(k=i, v="lo") for i in range(100)]),
        mode="overwrite",
    )
    v1 = t.write(
        spark.createDataFrame([Row(k=i, v="hi") for i in range(1000, 1100)])
    )
    t.collect_file_stats(v0, ["k"])
    t.collect_file_stats(v1, ["k"])

    pruned = t.read_pruned({"k": (1000, None)})
    # the manifest drops the lo file before any scan task exists
    assert len(pruned.inputFiles()) == 1
    got = pruned.where("k >= 1000")
    assert got.count() == 100
    assert {r["v"] for r in got.collect()} == {"hi"}
    # full snapshot still reads both
    assert t.read().count() == 200


def test_file_stats_missing_keeps_files(spark, tmp_table_dir):
    from pyspark.sql import Row

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(spark.createDataFrame([Row(k=1)]), mode="overwrite")
    t.write(spark.createDataFrame([Row(k=2)]))  # no stats collected
    out = t.read_pruned({"k": (100, None)})
    # no stats anywhere -> nothing provably dead -> both files kept
    assert len(out.inputFiles()) == 2
    # and the real filter on top still gives the right answer
    assert out.where("k >= 100").count() == 0


def test_file_stats_string_column_pruning(spark, tmp_table_dir):
    from pyspark.sql import Row

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    v0 = t.write(
        spark.createDataFrame([Row(name=n) for n in ["apple", "banana"]]),
        mode="overwrite",
    )
    v1 = t.write(spark.createDataFrame([Row(name=n) for n in ["yak", "zebra"]]))
    t.collect_file_stats(v0, ["name"])
    t.collect_file_stats(v1, ["name"])
    out = t.read_pruned({"name": ("x", None)})
    assert len(out.inputFiles()) == 1
    assert {r["name"] for r in out.collect()} == {"yak", "zebra"}


def test_write_collect_stats_enables_pruning_immediately(spark, tmp_table_dir):
    from pyspark.sql import Row

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(
        spark.createDataFrame([Row(k=i) for i in range(10)]),
        mode="overwrite",
        collect_stats=["k"],
    )
    t.write(
        spark.createDataFrame([Row(k=i) for i in range(500, 510)]),
        collect_stats=["k"],
    )
    out = t.read_pruned({"k": (None, 100)})
    assert len(out.inputFiles()) == 1
    assert out.where("k <= 100").count() == 10


def test_compact_with_stats_enables_file_skipping(spark, tmp_table_dir):
    """OPTIMIZE + stats composition: many small appends -> range-
    clustered compact with per-file stats -> read_pruned skips whole
    files, not just row groups."""
    from pyspark.sql import Row

    t = VersionedTable(spark, tmp_table_dir)
    for base in (0, 1000, 2000, 3000):
        t.write(
            spark.createDataFrame([Row(k=base + i) for i in range(100)]),
            mode="append" if base else "overwrite",
        )
    v = t.compact(sort_by=["k"], target_files=4, collect_stats=["k"])
    assert t.latest_version() == v
    assert t.read().count() == 400
    pruned = t.read_pruned({"k": (3000, None)})
    # range clustering put the top range in one file; stats prove the
    # other three dead
    assert len(pruned.inputFiles()) == 1
    assert pruned.where("k >= 3000").count() == 100


def test_bloom_index_prunes_point_lookups_across_full_range_files(
    spark, tmp_table_dir
):
    """Every file spans the whole key range (hash-spread writes), so
    min/max stats prune NOTHING — the bloom index is what turns a
    point lookup into a near-single-file read. No false negatives:
    the matching file always survives."""
    from pyspark.sql import Row

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    # 4 commits, each holding a hash-spread slice: every file's
    # [min, max] covers ~the whole keyspace
    versions = []
    for s in range(4):
        versions.append(
            t.write(
                spark.createDataFrame(
                    [Row(k=i, v=f"s{s}") for i in range(s, 4000, 4)]
                ),
                mode="overwrite" if s == 0 else "append",
            )
        )
    for v in versions:
        t.collect_file_stats(v, ["k"])
        t.collect_bloom_index(v, ["k"])

    # range pruning alone keeps all 4 files (overlapping ranges)
    assert len(t.read_pruned({"k": (1001, 1001)}).inputFiles()) == 4
    # bloom pruning drops the provably-dead files (1 true + ~1% fp)
    pruned = t.read_pruned(equals={"k": 1001})
    assert len(pruned.inputFiles()) <= 2
    got = pruned.where("k = 1001").collect()
    assert len(got) == 1 and got[0]["v"] == "s1"
    # absent key: usually zero files survive; never a wrong row
    far = t.read_pruned(equals={"k": 999_983})
    assert len(far.inputFiles()) <= 1
    assert far.where("k = 999983").count() == 0
    # files without a bloom sidecar are kept (safe over-approximation)
    import os

    os.remove(t._bloom_path(versions[2]))
    assert len(t.read_pruned(equals={"k": 1001}).inputFiles()) >= 2


def test_restore_commits_old_snapshot_as_new_version(spark, tmp_table_dir):
    """RESTORE parity: the restored state is a NEW overwrite commit —
    history intact, change feed shows delete-all + re-insert, and the
    watermark protocol sees it as an ordinary version."""
    from pyspark.sql import Row

    from data_seedling_spark.operators.merge import CHANGE_TYPE

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(spark.createDataFrame([Row(k=1, v="good")]), mode="overwrite")
    t.write(spark.createDataFrame([Row(k=2, v="bad")]), mode="append")
    restored_v = t.restore(0)
    assert restored_v == 2
    assert [(r["k"], r["v"]) for r in t.read().collect()] == [(1, "good")]
    # history intact: the bad version is still time-travelable
    assert t.read(1).count() == 2
    # CDC of the restore commit: delete of the bad row, reinsert of good
    ch = t.read_changes(2, 2)
    kinds = {(r["k"], r[CHANGE_TYPE]) for r in ch.collect()}
    assert kinds == {(1, "delete"), (2, "delete"), (1, "insert")}


def test_tags_name_versions_and_survive_restore(spark, tmp_table_dir):
    from pyspark.sql import Row

    import pytest as _pytest

    from data_seedling_spark.operators.ledger import NoSuchVersionError

    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(spark.createDataFrame([Row(k=1)]), mode="overwrite")
    assert t.set_tag("baseline") == 0
    t.write(spark.createDataFrame([Row(k=2)]), mode="append")
    t.set_tag("v2024", version=1)
    assert t.read_tag("baseline").count() == 1
    assert t.read_tag("v2024").count() == 2
    with _pytest.raises(NoSuchVersionError):
        t.read_tag("missing")
    with _pytest.raises(NoSuchVersionError):
        t.set_tag("bad", version=99)
    # restore does not disturb tag resolution
    t.restore(0)
    assert t.read_tag("v2024").count() == 2


class TestShallowClone:
    def test_clone_reads_equal_and_is_zero_copy(self, spark, tmp_path):
        from data_seedling_spark.operators.ledger import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
        src.write(spark.range(5).withColumnRenamed("id", "k"), mode="overwrite")
        src.write(
            spark.range(5, 8).withColumnRenamed("id", "k"), mode="append"
        )
        dest = src.clone(str(tmp_path / "cl"))
        assert sorted(r["k"] for r in dest.read().collect()) == list(range(8))
        # zero-copy: no parquet data landed under the clone
        import glob

        assert not glob.glob(str(tmp_path / "cl" / "v*" / "*.parquet"))
        # time travel inside the cloned range works
        assert sorted(r["k"] for r in dest.read(version=0).collect()) == list(
            range(5)
        )

    def test_clone_diverges_without_touching_source(self, spark, tmp_path):
        from data_seedling_spark.operators.ledger import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
        src.write(spark.range(4).withColumnRenamed("id", "k"), mode="overwrite")
        dest = src.clone(str(tmp_path / "cl"))
        dest.write(
            spark.range(100, 102).withColumnRenamed("id", "k"), mode="append"
        )
        assert sorted(r["k"] for r in dest.read().collect()) == [
            0, 1, 2, 3, 100, 101,
        ]
        # source unchanged, and source vacuum of ITS files is the only
        # thing that can break the clone (Delta parity)
        assert sorted(r["k"] for r in src.read().collect()) == [0, 1, 2, 3]
        # clone vacuum never deletes the source's files
        removed = dest.vacuum(retain_last_versions=1)
        assert sorted(r["k"] for r in src.read().collect()) == [0, 1, 2, 3]
        assert removed == []

    def test_clone_cdc_base_surfaces_as_inserts_only(self, spark, tmp_path):
        from data_seedling_spark.operators.ledger import VersionedTable
        from data_seedling_spark.operators.merge import CHANGE_TYPE

        src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
        src.write(spark.range(3).withColumnRenamed("id", "k"), mode="overwrite")
        dest = src.clone(str(tmp_path / "cl"))
        chg = dest.read_changes(0, dest.latest_version())
        types = {r[CHANGE_TYPE] for r in chg.collect()}
        assert types == {"insert"}
        assert chg.count() == 3

    def test_clone_cdc_base_commit_with_version_gt_zero(self, spark, tmp_path):
        """Regression for the r6 clone-CDC fix: clone a source whose
        LIVE base is an overwrite at version 2 (versions 0–1 are
        superseded), so the clone's first commit has version > 0.
        Pre-r6 read_changes diffed that base against a nonexistent
        prior snapshot and raised; it must surface as inserts-only."""
        import pytest

        from data_seedling_spark.operators.ledger import (
            NoSuchVersionError,
            VersionedTable,
        )
        from data_seedling_spark.operators.merge import CHANGE_TYPE

        src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
        src.write(spark.range(3).withColumnRenamed("id", "k"), mode="overwrite")
        src.write(spark.range(9).withColumnRenamed("id", "k"), mode="overwrite")
        src.write(
            spark.range(10, 14).withColumnRenamed("id", "k"), mode="overwrite"
        )
        src.write(
            spark.range(14, 16).withColumnRenamed("id", "k"), mode="append"
        )
        dest = src.clone(str(tmp_path / "cl"))
        assert dest.latest_version() == 3
        # Full range from 0: versions 0–1 predate the clone — skipped,
        # base (v2) inserts-only, append (v3) inserts.
        chg = dest.read_changes(0, dest.latest_version())
        rows = chg.collect()
        assert {r[CHANGE_TYPE] for r in rows} == {"insert"}
        assert sorted(r["k"] for r in rows) == list(range(10, 16))
        base_only = dest.read_changes(2, 2).collect()
        assert {r[CHANGE_TYPE] for r in base_only} == {"insert"}
        assert sorted(r["k"] for r in base_only) == [10, 11, 12, 13]
        # A range ending before the clone's first commit raises.
        with pytest.raises(NoSuchVersionError):
            dest.read_changes(0, 1)

    def test_read_changes_negative_start_still_raises(self, spark, tmp_path):
        """ADVICE r6: the pre-first-commit clamp must not swallow
        negative cursors on a normal table — that is caller cursor
        arithmetic gone wrong, not a clone artifact."""
        import pytest

        from data_seedling_spark.operators.ledger import (
            NoSuchVersionError,
            VersionedTable,
        )

        t = VersionedTable(spark, str(tmp_path / "t"), write_partitions=1)
        t.write(spark.range(3).withColumnRenamed("id", "k"), mode="overwrite")
        t.write(spark.range(3, 5).withColumnRenamed("id", "k"), mode="append")
        with pytest.raises(NoSuchVersionError):
            t.read_changes(-3, 1)


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    from data_seedling_spark.operators.ledger import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"), write_partitions=1)
    t.write(spark.range(3).withColumnRenamed("id", "k"), mode="overwrite")
    t.write(spark.range(3, 5).withColumnRenamed("id", "k"), mode="overwrite")
    t.write(spark.range(5, 6).withColumnRenamed("id", "k"), mode="overwrite")
    would = t.vacuum(retain_last_versions=1, dry_run=True)
    assert would == [0, 1]
    # nothing deleted: time travel still works everywhere
    assert t.read(version=0).count() == 3
    assert t.read(version=1).count() == 2
    # the real vacuum removes exactly what the dry run predicted
    assert t.vacuum(retain_last_versions=1) == would
    import pytest as _pytest

    from data_seedling_spark.operators.ledger import NoSuchVersionError

    with _pytest.raises(NoSuchVersionError):
        t.read(version=0).count()


class TestMultiTableTransaction:
    def _tables(self, spark, tmp_path):
        from data_seedling_spark.operators.ledger import VersionedTable

        a = VersionedTable(spark, str(tmp_path / "a"), write_partitions=1)
        b = VersionedTable(spark, str(tmp_path / "b"), write_partitions=1)
        a.write(spark.range(3).withColumnRenamed("id", "k"), mode="overwrite")
        b.write(spark.range(2).withColumnRenamed("id", "k"), mode="overwrite")
        return a, b

    def test_commits_all_tables_atomically(self, spark, tmp_path):
        from data_seedling_spark.operators.ledger import MultiTableTransaction

        a, b = self._tables(spark, tmp_path)
        txn = MultiTableTransaction(spark, str(tmp_path / "txn"))
        txn.stage(a, spark.range(3, 5).withColumnRenamed("id", "k"))
        txn.stage(b, spark.range(2, 4).withColumnRenamed("id", "k"))
        versions = txn.commit()
        assert set(versions.values()) == {1}
        assert a.latest_version() == 1 and b.latest_version() == 1
        assert sorted(r["k"] for r in a.read().collect()) == [0, 1, 2, 3, 4]
        assert sorted(r["k"] for r in b.read().collect()) == [0, 1, 2, 3]
        import os

        assert os.listdir(str(tmp_path / "txn")) == []  # manifest applied
        # claims released: a plain write succeeds immediately
        assert a.write(
            spark.range(5, 6).withColumnRenamed("id", "k"), mode="append"
        ) == 2

    def test_crash_before_commit_point_rolls_back(self, spark, tmp_path):
        """Crash with the manifest still .prepared: NO table may
        advance; recover() deletes staged data and frees the claims."""
        import pytest

        from data_seedling_spark.operators.ledger import MultiTableTransaction

        a, b = self._tables(spark, tmp_path)
        txn = MultiTableTransaction(spark, str(tmp_path / "txn"))
        txn.stage(a, spark.range(3, 5).withColumnRenamed("id", "k"))
        txn.stage(b, spark.range(2, 4).withColumnRenamed("id", "k"))

        boom = RuntimeError("crash before commit point")

        def crash(txn_id):
            raise boom

        txn._commit_point = crash
        with pytest.raises(RuntimeError, match="crash before commit"):
            txn.commit()
        assert a.latest_version() == 0 and b.latest_version() == 0
        out = MultiTableTransaction.recover(spark, str(tmp_path / "txn"))
        assert len(out["back"]) == 1 and out["forward"] == []
        assert a.latest_version() == 0 and b.latest_version() == 0
        assert sorted(r["k"] for r in a.read().collect()) == [0, 1, 2]
        # claims freed: both tables accept new writes at version 1
        assert a.write(
            spark.range(9, 10).withColumnRenamed("id", "k"), mode="append"
        ) == 1
        assert b.write(
            spark.range(9, 10).withColumnRenamed("id", "k"), mode="append"
        ) == 1

    def test_crash_mid_apply_rolls_forward_untorn(self, spark, tmp_path):
        """Crash AFTER the commit point with only table A's ledger
        advanced — the torn window. recover() must roll table B
        forward (and not double-apply A), restoring atomicity."""
        import pytest

        from data_seedling_spark.operators.ledger import MultiTableTransaction

        a, b = self._tables(spark, tmp_path)
        txn = MultiTableTransaction(spark, str(tmp_path / "txn"))
        txn.stage(a, spark.range(3, 5).withColumnRenamed("id", "k"))
        txn.stage(b, spark.range(2, 4).withColumnRenamed("id", "k"))

        real_apply_entry = txn._apply_entry
        calls = []

        def crashy(table, e):
            if len(calls) == 1:
                raise RuntimeError("crash mid-apply")
            calls.append(e["path"])
            real_apply_entry(table, e)

        txn._apply_entry = crashy
        with pytest.raises(RuntimeError, match="crash mid-apply"):
            txn.commit()
        # torn right now: exactly one table advanced
        assert {a.latest_version(), b.latest_version()} == {0, 1}
        out = MultiTableTransaction.recover(spark, str(tmp_path / "txn"))
        assert len(out["forward"]) == 1 and out["back"] == []
        assert a.latest_version() == 1 and b.latest_version() == 1
        assert sorted(r["k"] for r in a.read().collect()) == [0, 1, 2, 3, 4]
        assert sorted(r["k"] for r in b.read().collect()) == [0, 1, 2, 3]
        # recovery used the manifest timestamps: replaying again no-ops
        again = MultiTableTransaction.recover(spark, str(tmp_path / "txn"))
        assert again == {"forward": [], "back": []}

    def test_conflicting_txn_fails_whole_and_releases(self, spark, tmp_path):
        """A claim held by another writer on ANY staged table aborts
        the WHOLE transaction (no partial prepare survives)."""
        import pytest

        from data_seedling_spark.operators.ledger import (
            ConcurrentWriteConflictError,
            MultiTableTransaction,
        )

        a, b = self._tables(spark, tmp_path)
        b._claim(1)  # concurrent writer holds b's next version
        txn = MultiTableTransaction(spark, str(tmp_path / "txn"))
        txn.stage(a, spark.range(3, 5).withColumnRenamed("id", "k"))
        txn.stage(b, spark.range(2, 4).withColumnRenamed("id", "k"))
        with pytest.raises(ConcurrentWriteConflictError):
            txn.commit()
        # a's claim was released by the abort; only b's foreign claim stays
        assert a.write(
            spark.range(7, 8).withColumnRenamed("id", "k"), mode="append"
        ) == 1


class TestMultiTableTransactionConcurrency:
    """OCC conflict behavior: two transactions racing on a shared
    table — the loser must abort cleanly at prepare (no torn manifest,
    no leaked claim, no staged data) and succeed on retry after the
    winner applies (serializable: retry sees the winner's version)."""

    def _tables(self, spark, tmp_path):
        from data_seedling_spark.operators.ledger import VersionedTable

        a = VersionedTable(spark, str(tmp_path / "a"), write_partitions=1)
        b = VersionedTable(spark, str(tmp_path / "b"), write_partitions=1)
        c = VersionedTable(spark, str(tmp_path / "c"), write_partitions=1)
        for t in (a, b, c):
            t.write(spark.range(2).withColumnRenamed("id", "k"), mode="overwrite")
        return a, b, c

    def test_loser_aborts_cleanly_and_retry_serializes(self, spark, tmp_path):
        import os

        import pytest

        from data_seedling_spark.operators.ledger import (
            ConcurrentWriteConflictError,
            MultiTableTransaction,
            VersionedTable,
        )

        a, b, _ = self._tables(spark, tmp_path)
        t1 = MultiTableTransaction(spark, str(tmp_path / "txn"))
        t1.stage(a, spark.range(10, 12).withColumnRenamed("id", "k"))
        t1.stage(b, spark.range(10, 12).withColumnRenamed("id", "k"))
        t2 = MultiTableTransaction(spark, str(tmp_path / "txn"))
        t2.stage(b, spark.range(20, 22).withColumnRenamed("id", "k"))

        # Interleave: while t1 holds its prepare claims (manifest
        # .prepared, ledgers not yet advanced), t2 tries to commit on
        # the shared table b and must lose the O_EXCL claim race.
        real_commit_point = t1._commit_point
        raced = {}

        def commit_point_with_race(txn_id):
            with pytest.raises(ConcurrentWriteConflictError, match="claimed"):
                t2.commit()
            raced["done"] = True
            # loser left nothing behind: no manifest of t2, b's staged
            # version dir belongs to t1 only, and b's ledger is intact
            manifests = os.listdir(str(tmp_path / "txn"))
            assert [m for m in manifests if "prepared" in m] == [
                f"{txn_id}.prepared.json"
            ]
            assert b.latest_version() == 0
            real_commit_point(txn_id)

        t1._commit_point = commit_point_with_race
        versions = t1.commit()
        assert raced["done"]
        assert set(versions.values()) == {1}
        assert a.latest_version() == 1 and b.latest_version() == 1

        # loser retries: its staged frames are still queued; the claim
        # is re-read, so it lands on the NEXT version after the winner
        versions2 = t2.commit()
        assert versions2 == {os.path.abspath(b.path): 2}
        assert sorted(r["k"] for r in b.read().collect()) == [
            0, 1, 10, 11, 20, 21,
        ]
        # no residue: claims freed, manifests applied
        assert os.listdir(str(tmp_path / "txn")) == []
        fresh = VersionedTable(spark, str(tmp_path / "b"))
        assert fresh.write(
            spark.range(30, 31).withColumnRenamed("id", "k"), mode="append"
        ) == 3

    def test_overlapping_table_sets_collide_on_shared_table(
        self, spark, tmp_path
    ):
        """{a,b} vs {b,c}: path-sorted claiming means the collision
        happens on the first SHARED table; the loser's claim on its
        non-shared table is released on abort (no deadlock, no
        stranded claim)."""
        import pytest

        from data_seedling_spark.operators.ledger import (
            ConcurrentWriteConflictError,
            MultiTableTransaction,
        )

        a, b, c = self._tables(spark, tmp_path)
        t1 = MultiTableTransaction(spark, str(tmp_path / "txn"))
        t1.stage(a, spark.range(10, 11).withColumnRenamed("id", "k"))
        t1.stage(b, spark.range(10, 11).withColumnRenamed("id", "k"))
        t2 = MultiTableTransaction(spark, str(tmp_path / "txn"))
        t2.stage(b, spark.range(20, 21).withColumnRenamed("id", "k"))
        t2.stage(c, spark.range(20, 21).withColumnRenamed("id", "k"))

        real_commit_point = t1._commit_point

        def commit_point_with_race(txn_id):
            with pytest.raises(ConcurrentWriteConflictError):
                t2.commit()
            real_commit_point(txn_id)

        t1._commit_point = commit_point_with_race
        t1.commit()
        # c's claim (taken by t2 before colliding on b, since b < c
        # path-sorts after... b sorts before c, so t2 collides on b
        # FIRST and never claims c) — either way c must be writable:
        assert c.write(
            spark.range(40, 41).withColumnRenamed("id", "k"), mode="append"
        ) == 1
        # and the loser retries to success across its full set
        versions = t2.commit()
        assert b.latest_version() == 2 and c.latest_version() == 2
        assert len(versions) == 2


def test_hilbert_compact_clusters_both_columns(spark, tmp_table_dir):
    """compact(cluster_by=(x, y)): the Hilbert rewrite must shrink
    parquet row-group min/max spans on BOTH dimensions vs the
    scrambled layout (same contract the manual z-order rewrite
    satisfies), preserve every row, and refuse cluster_by+sort_by."""
    import glob

    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import functions as F

    t = VersionedTable(spark, tmp_table_dir)
    n = 4096
    grid = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
        F.col("id").alias("payload"),
    ).orderBy(F.rand(seed=11))
    t.write(grid.repartition(4), mode="overwrite")

    def spans(version, col):
        out = []
        for f in glob.glob(f"{tmp_table_dir}/v{version:05d}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            idx = [
                meta.schema.column(i).name for i in range(meta.num_columns)
            ].index(col)
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                out.append(st.max - st.min)
        return sum(out) / len(out)

    v = t.compact(cluster_by=("x", "y"), target_files=8)
    assert spans(v, "x") < spans(0, "x") * 0.6
    assert spans(v, "y") < spans(0, "y") * 0.6
    assert rows(t.read(), "payload") == rows(t.read(version=0), "payload")
    with pytest.raises(ValueError, match="either sort_by or cluster_by"):
        t.compact(sort_by=["x"], cluster_by=("x", "y"))


def _wap_rows(spark, vals):
    from pyspark.sql import Row

    return spark.createDataFrame([Row(k=i, v=float(i)) for i in vals])


def test_wap_staged_invisible_until_publish(spark, tmp_table_dir):
    """Staged data must be unreadable through every reader surface
    until publish; publish makes it the next version atomically."""
    t = VersionedTable(spark, tmp_table_dir)
    v0 = t.write(_wap_rows(spark, [1, 2]))
    t.stage(_wap_rows(spark, [3, 4]), "batch-1")
    assert t.latest_version() == v0
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    v1 = t.publish_staged(
        "batch-1",
        audits={
            "nonempty": lambda staged, live: staged.count() > 0,
            "no_shrink": lambda staged, live: staged.count() >= 0,
        },
    )
    assert v1 == v0 + 1
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 4]
    # staging id is consumed
    import pytest as _pytest

    with _pytest.raises(NoSuchVersionError):
        t.read_staged("batch-1")


def test_wap_failed_audit_keeps_table_and_stage(spark, tmp_table_dir):
    """A failing cross-frame audit (staged row count drops below 50%
    of live) must block publish, leave the table untouched, and KEEP
    the staged data for inspection; abort then discards it."""
    import pytest as _pytest

    t = VersionedTable(spark, tmp_table_dir)
    t.write(_wap_rows(spark, [1, 2, 3, 4]))
    t.stage(_wap_rows(spark, [9]), "suspicious")
    with _pytest.raises(ConstraintViolationError) as e:
        t.publish_staged(
            "suspicious",
            mode="overwrite",
            audits={
                "no_mass_delete": lambda staged, live: (
                    staged.count() >= 0.5 * live.count()
                )
            },
        )
    assert "no_mass_delete" in str(e.value)
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 4]
    assert t.read_staged("suspicious").count() == 1
    t.abort_staged("suspicious")
    with _pytest.raises(NoSuchVersionError):
        t.read_staged("suspicious")


def test_wap_publish_occ_and_cdc_consistency(spark, tmp_table_dir):
    """Publish goes through the standard OCC claim: a writer that
    advances the table between stage and publish does not corrupt the
    ledger — the publish lands as the NEXT version and CDC sees the
    staged rows as that version's inserts."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(_wap_rows(spark, [1]))
    t.stage(_wap_rows(spark, [7, 8]), "b")
    t.write(_wap_rows(spark, [2]))  # interleaved writer advances to v1
    v = t.publish_staged("b")
    assert v == 2
    changes = t.read_changes(v, v)
    assert sorted(r["k"] for r in changes.collect()) == [7, 8]
    assert all(r["_change_type"] == "insert" for r in changes.collect())


def test_wap_first_publish_and_schema_gate(spark, tmp_table_dir):
    """First publish works against an empty live baseline; staging a
    mismatched schema into an existing table raises at STAGE time
    (fail fast, before any audit spend)."""
    import pytest as _pytest

    t = VersionedTable(spark, tmp_table_dir)
    t.stage(_wap_rows(spark, [1]), "init")
    v = t.publish_staged(
        "init", audits={"nonempty": lambda s, l: s.count() > l.count()}
    )
    assert v == 0
    bad = spark.createDataFrame([(1, "x")], "k long, wrong string")
    with _pytest.raises(SchemaMismatchError):
        t.stage(bad, "bad-schema")


def test_update_emits_row_level_pre_post_images(spark, tmp_table_dir):
    """Delta CDF UPDATE parity: only MATCHED rows appear in the feed,
    once as update_preimage (old values) and once as update_postimage
    (new values); the snapshot reflects the update and stays a time-
    travel base."""
    from data_seedling_spark.operators.merge import (
        CHANGE_TYPE,
        CT_UPDATE_POST,
        CT_UPDATE_PRE,
    )

    t = VersionedTable(spark, tmp_table_dir)
    t.write(_wap_rows(spark, [1, 2, 3]))
    v = t.update(F.col("k") >= 2, {"v": F.lit(99.0)})
    assert v == 1
    snap = {r["k"]: r["v"] for r in t.read().collect()}
    assert snap == {1: 1.0, 2: 99.0, 3: 99.0}
    chg = t.read_changes(v, v).collect()
    pre = sorted(
        (r["k"], r["v"]) for r in chg if r[CHANGE_TYPE] == CT_UPDATE_PRE
    )
    post = sorted(
        (r["k"], r["v"]) for r in chg if r[CHANGE_TYPE] == CT_UPDATE_POST
    )
    assert pre == [(2, 2.0), (3, 3.0)]
    assert post == [(2, 99.0), (3, 99.0)]
    assert len(chg) == 4  # unmatched row 1 emits nothing
    # time travel: the update commit is a snapshot base
    assert sorted(r["k"] for r in t.read(version=v).collect()) == [1, 2, 3]
    assert sorted(r["k"] for r in t.read(version=0).collect()) == [1, 2, 3]
    assert {r["v"] for r in t.read(version=0).collect()} == {1.0, 2.0, 3.0}


def test_update_then_append_cdc_and_clone(spark, tmp_table_dir):
    """The update commit composes with later appends in one change
    range, and a shallow clone at the updated version reads the
    updated values."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(_wap_rows(spark, [1]))
    t.update(F.col("k") == 1, {"v": F.lit(-1.0)})
    t.write(_wap_rows(spark, [5]), mode="append")
    chg = t.read_changes(1, 2)
    kinds = sorted(r["_change_type"] for r in chg.collect())
    assert kinds == ["insert", "update_postimage", "update_preimage"]
    clone = t.clone(str(tmp_table_dir) + "_c", version=1)
    assert {r["v"] for r in clone.read().collect()} == {-1.0}


def test_branch_isolation_and_squash_merge(spark, tmp_table_dir):
    """Branch writes are invisible on main until merge; the squash
    merge lands the branch HEAD as one overwrite commit on main."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(_wap_rows(spark, [1, 2]))
    br = t.create_branch("feature")
    br.write(_wap_rows(spark, [3]), mode="append")
    br.write(_wap_rows(spark, [4]), mode="append")
    # isolation: main unchanged, branch sees everything
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    assert sorted(r["k"] for r in br.read().collect()) == [1, 2, 3, 4]
    v = t.merge_branch("feature")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 4]
    assert v == t.latest_version()
    # time travel on main still shows the pre-merge snapshot
    assert sorted(r["k"] for r in t.read(version=0).collect()) == [1, 2]


def test_branch_merge_conflict_on_divergence(spark, tmp_table_dir):
    """If main advances after the fork, merge must abort with a
    conflict instead of silently clobbering the concurrent write."""
    import pytest as _pytest

    from data_seedling_spark.operators.ledger import (
        ConcurrentWriteConflictError,
    )

    t = VersionedTable(spark, tmp_table_dir)
    t.write(_wap_rows(spark, [1]))
    br = t.create_branch("risky")
    br.write(_wap_rows(spark, [2]), mode="append")
    t.write(_wap_rows(spark, [9]), mode="append")  # main diverges
    with _pytest.raises(ConcurrentWriteConflictError):
        t.merge_branch("risky")
    # main keeps its own line; the branch survives for inspection
    assert sorted(r["k"] for r in t.read().collect()) == [1, 9]
    assert sorted(r["k"] for r in t.branch("risky").read().collect()) == [1, 2]
    t.drop_branch("risky")
    import pytest as _p

    with _p.raises(NoSuchVersionError):
        t.branch("risky")


def test_branch_noop_merge_and_duplicate_name(spark, tmp_table_dir):
    """Merging an untouched branch is a no-op; re-creating an existing
    branch name raises."""
    import pytest as _pytest

    t = VersionedTable(spark, tmp_table_dir)
    t.write(_wap_rows(spark, [1]))
    t.create_branch("idle")
    v = t.merge_branch("idle")
    assert v == 0 and t.latest_version() == 0
    with _pytest.raises(ValueError):
        t.create_branch("idle")


def test_wap_publish_retryable_after_ledger_write_failure(spark, tmp_table_dir, monkeypatch):
    """A ledger-write crash mid-publish must not consume the staged
    data: the rename rolls back before the claim releases, so the
    stage is still auditable and the SAME staging id publishes cleanly
    on retry (r8 ADVICE: previously the claim released with the
    version dir populated, wedging every retry)."""
    t = VersionedTable(spark, tmp_table_dir)
    t.write(_wap_rows(spark, [1, 2]))
    t.stage(_wap_rows(spark, [3, 4]), "crashy")

    real = VersionedTable._write_ledger

    def boom(self, commits):
        raise OSError("disk full")

    monkeypatch.setattr(VersionedTable, "_write_ledger", boom)
    with pytest.raises(OSError, match="disk full"):
        t.publish_staged("crashy")
    monkeypatch.setattr(VersionedTable, "_write_ledger", real)

    # table untouched, stage intact and auditable
    assert t.latest_version() == 0
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    assert sorted(r["k"] for r in t.read_staged("crashy").collect()) == [3, 4]

    # the same staging id retries to a clean commit
    v = t.publish_staged("crashy")
    assert v == 1
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 4]
    # publishing consumed the stage
    with pytest.raises(NoSuchVersionError):
        t.read_staged("crashy")


def test_ledger_torture_branch_wap_update_interleaved(spark, tmp_table_dir):
    """Serializability torture (r8 VERDICT #4): three writer sessions
    — a branch-merge, a WAP stage/publish, and a watermark-style point
    UPDATE — race the SAME table through separate handles on real OCC
    claims, each following the documented conflict-retry recipe:

      * append/publish: catch ConcurrentWriteConflictError, re-read,
        retry (appends and publishes commute; the stage survives a
        lost race);
      * branch merge: catch the conflict, RE-FORK from the advanced
        head, replay the branch delta, merge again (squash-merge
        overwrites with the branch snapshot, so merging a stale fork
        would clobber concurrent commits — the fork guard exists to
        force the re-fork);
      * update: catch the conflict and re-issue (read-modify-write
        against the new head).

    Afterward: no torn state (final content is exactly the union every
    serial order produces), contiguous version history, every
    intermediate version readable, and no undecided claims."""
    import threading

    from pyspark.sql import Row

    from data_seedling_spark.operators.ledger import (
        ConcurrentWriteConflictError,
    )

    def rows(src, ks):
        return spark.createDataFrame(
            [Row(k=int(k), v=float(k), src=src) for k in ks]
        )

    seed = VersionedTable(spark, tmp_table_dir)
    seed.write(
        rows("base", range(10)).unionByName(rows("wm", [-1])),
        mode="overwrite",
    )
    aux_dir = tmp_table_dir + "_aux"
    txn_dir = tmp_table_dir + "_txn"

    errors: list[BaseException] = []
    barrier = threading.Barrier(4)

    def branch_writer():
        t = VersionedTable(spark, tmp_table_dir)
        barrier.wait()
        for round_no in range(2):
            name = f"feat{round_no}"
            delta = rows(f"branch{round_no}", range(100 + round_no * 10,
                                                    105 + round_no * 10))
            t.create_branch(name)
            t.branch(name).write(delta, mode="append")
            while True:
                try:
                    t.merge_branch(name)
                    break
                except ConcurrentWriteConflictError:
                    # the retry recipe: re-fork at the new head, replay
                    t.drop_branch(name)
                    t.create_branch(name)
                    t.branch(name).write(delta, mode="append")
            t.drop_branch(name)

    def wap_writer():
        t = VersionedTable(spark, tmp_table_dir)
        barrier.wait()
        for round_no in range(2):
            sid = f"audited{round_no}"
            t.stage(rows(f"wap{round_no}", range(200 + round_no * 10,
                                                 205 + round_no * 10)), sid)
            while True:
                try:
                    t.publish_staged(
                        sid,
                        audits={"nonempty": lambda s, live: s.count() > 0},
                    )
                    break
                except ConcurrentWriteConflictError:
                    continue  # stage survives a lost race; re-publish

    def watermark_writer():
        t = VersionedTable(spark, tmp_table_dir)
        barrier.wait()
        for hi in (7.0, 11.0, 13.0):
            while True:
                try:
                    t.update(F.col("src") == "wm", {"v": F.lit(hi)})
                    break
                except ConcurrentWriteConflictError:
                    continue

    def txn_writer():
        # cross-table 2PC racing the same main table: atomicity must
        # hold against every other writer's commits
        from data_seedling_spark.operators.ledger import (
            MultiTableTransaction,
        )

        t = VersionedTable(spark, tmp_table_dir)
        aux = VersionedTable(spark, aux_dir)
        barrier.wait()
        for round_no in range(2):
            txn = MultiTableTransaction(spark, txn_dir)
            lo = 300 + round_no * 10
            txn.stage(t, rows(f"txn{round_no}", range(lo, lo + 5)))
            txn.stage(aux, rows(f"txn{round_no}", range(lo, lo + 5)))
            while True:
                try:
                    txn.commit()
                    break
                except ConcurrentWriteConflictError:
                    continue  # staged frames survive; re-prepare

    def guarded(fn):
        def run():
            try:
                fn()
            except BaseException as exc:  # surface thread failures
                errors.append(exc)
        run.__name__ = fn.__name__
        return run

    threads = [
        threading.Thread(target=guarded(w), name=w.__name__)
        for w in (branch_writer, wap_writer, watermark_writer, txn_writer)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
        assert not th.is_alive(), f"writer {th.name} wedged"
    assert errors == []

    t = VersionedTable(spark, tmp_table_dir)
    final = t.read().collect()
    by_src = {}
    for r in final:
        by_src.setdefault(r["src"], set()).add(r["k"])
    assert by_src["base"] == set(range(10))
    assert by_src["branch0"] == set(range(100, 105))
    assert by_src["branch1"] == set(range(110, 115))
    assert by_src["wap0"] == set(range(200, 205))
    assert by_src["wap1"] == set(range(210, 215))
    assert by_src["txn0"] == set(range(300, 305))
    assert by_src["txn1"] == set(range(310, 315))
    assert by_src["wm"] == {-1}
    # the watermark row holds the LAST advance in the updater's program
    # order (updates to one row serialize; later retries rebase)
    wm_v = [r["v"] for r in final if r["src"] == "wm"]
    assert wm_v == [13.0]
    assert len(final) == 10 + 5 + 5 + 5 + 5 + 5 + 5 + 1
    # the 2PC's second table got EXACTLY the same two commits — the
    # cross-table atomicity the manifest rename guarantees
    aux = VersionedTable(spark, aux_dir)
    aux_rows = {(r["src"], r["k"]) for r in aux.read().collect()}
    assert aux_rows == {
        (f"txn{i}", k) for i in (0, 1) for k in range(300 + i * 10, 305 + i * 10)
    }

    # version history is contiguous and every snapshot is readable
    versions = [c["version"] for c in t.history()]
    assert versions == list(range(t.latest_version() + 1))
    for v in versions:
        assert t.read(v).count() >= 0
    # every claim is decided (at or below latest); none undecided
    import os as _os

    claims_dir = _os.path.join(tmp_table_dir, "_claims")
    latest = t.latest_version()
    for name in _os.listdir(claims_dir):
        assert int(name.split(".")[0]) <= latest
    assert t.clear_stale_claims() != [] or _os.listdir(claims_dir) == []


# -- insert-only merges commit as appends ------------------------------------

FEED = "key long, value string, _change_type string"


@pytest.mark.parametrize("seed", range(3))
def test_merge_fast_path_equals_apply_change_feed(spark, tmp_path, seed):
    """Randomised feeds against one target: ``merge``'s snapshot equals
    ``apply_change_feed(target, feed)`` as a multiset, whichever path
    the merge took. Only fresh unique inserts commit as an append,
    whose CDF rows are exactly the feed's inserts; an update row still
    raises."""
    import random

    rng = random.Random(seed)
    base = [(k, f"v{k}") for k in rng.sample(range(100), 12)]
    present = [k for k, _ in base]
    absent = [k for k in range(100) if k not in present]
    fresh = [(k, f"n{k}", CT_INSERT) for k in rng.sample(absent, 6)]
    repeat = fresh[rng.randrange(len(fresh))][0]
    feeds = {
        "fresh": fresh,
        "duplicate": fresh + [(repeat, "again", CT_INSERT)],
        "upsert": fresh + [(rng.choice(present), "re-inserted", CT_INSERT)],
        "delete": fresh + [(k, "gone", CT_DELETE) for k in rng.sample(present, 3)],
    }
    for name, feed_rows in feeds.items():
        t = VersionedTable(spark, str(tmp_path / name), write_partitions=2)
        t.write(make_df(spark, base), mode="overwrite")
        feed = spark.createDataFrame(feed_rows, FEED)
        expected = rows(apply_change_feed(t.read(), feed, ["key"]), "key", "value")
        v = t.merge(feed, primary_keys=["key"])
        assert rows(t.read(), "key", "value") == expected, name
        commit = t.commits()[-1]
        if name == "fresh":
            assert (commit.mode, commit.has_changes_dir) == ("append", False)
            assert not os.path.exists(t._changes_dir(v))
            assert t.changes_insert_only(v, v) is True
            assert rows(t.read_changes(v, v), "key", "value", CHANGE_TYPE) == sorted(
                feed_rows
            )
        else:
            assert (commit.mode, commit.has_changes_dir) == ("merge", True), name
    # an update row among fresh inserts still takes the rejecting path
    t = VersionedTable(spark, str(tmp_path / "update"))
    t.write(make_df(spark, base), mode="overwrite")
    feed = spark.createDataFrame(fresh + [(present[0], "u", CT_UPDATE_POST)], FEED)
    with pytest.raises(UpdatesNotSupportedError):
        t.merge(feed, primary_keys=["key"])
    assert t.latest_version() == 0


def test_merge_replay_after_crash_before_watermark_applies_once(
    spark, tmp_path, monkeypatch
):
    """Crash between the silver commit (a fast-path append) and
    ``update_watermark``: the replay re-reads the same range, finds its
    keys present, takes the rewrite path and leaves silver unchanged."""
    from data_seedling_spark.streaming import incremental

    bronze = VersionedTable(spark, str(tmp_path / "bronze"))
    silver = VersionedTable(spark, str(tmp_path / "silver"))
    state = VersionedTable(spark, str(tmp_path / "state"))

    def run():
        inc = incremental.read_increment(spark, bronze, state, "silver", "t")
        incremental.write_increment(silver, inc, ["key"], state, "silver", "t")
        return inc

    bronze.write(make_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    run()
    bronze.write(make_df(spark, [(3, "c"), (4, "d")]), mode="append")

    def crash(*args):
        raise RuntimeError("crash before the watermark advance")

    with monkeypatch.context() as m:
        m.setattr(incremental, "update_watermark", crash)
        with pytest.raises(RuntimeError, match="crash"):
            run()
    assert silver.commits()[-1].mode == "append"
    before = rows(silver.read(), "key", "value")
    inc = run()
    assert (inc.low_watermark, inc.high_watermark) == (1, 1)
    assert silver.commits()[-1].mode == "merge"
    assert rows(silver.read(), "key", "value") == before == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")
    ]
    assert incremental.read_increment(
        spark, bronze, state, "silver", "t"
    ).is_empty_range


# -- every ledger write seeds the schema a scan would infer ------------------


def test_every_commit_kind_seeds_the_inferred_schema(spark, tmp_table_dir):
    """Each dir a commit writes is in the schema cache as soon as the
    commit returns, holding exactly the schema ``spark.read.parquet``
    infers for it, so no later scan runs an inference job."""
    import datetime as dt
    import time
    from decimal import Decimal

    from pyspark.sql import types as T

    from data_seedling_spark.tables import _DIR_SCHEMA_CACHE, _schema_key

    schema = T.StructType(
        [
            T.StructField("key", T.LongType(), False),
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("ltz", T.TimestampType()),
            T.StructField("amount", T.DecimalType(12, 2), False),
            T.StructField("tags", T.ArrayType(T.StringType(), False)),
            T.StructField("attrs", T.MapType(T.StringType(), T.IntegerType(), False)),
            T.StructField(
                "point",
                T.StructType(
                    [
                        T.StructField("x", T.DoubleType(), False),
                        T.StructField("y", T.DoubleType()),
                    ]
                ),
            ),
        ]
    )
    day = dt.datetime(2024, 3, 1, 12, 30)
    data = [
        (k, day, day, Decimal(f"{k}.25"), ["a", str(k)], {"n": k}, (k * 1.0, None))
        for k in range(6)
    ]
    t = VersionedTable(spark, tmp_table_dir, write_partitions=2)

    def seeded(*dirs):
        for d in dirs:
            cached = _DIR_SCHEMA_CACHE.get(_schema_key(d))
            assert cached is not None, f"{d} not seeded"
            assert cached == spark.read.parquet(d).schema, d

    def feed(keys, change):
        return (
            t.read().where(F.col("key") < 3)
            .withColumn("key", F.col("key") + keys)
            .withColumn(CHANGE_TYPE, F.lit(change))
        )

    v = t.write(spark.createDataFrame(data, schema), mode="overwrite")
    seeded(t._version_dir(v))
    v = t.write(t.read().withColumn("key", F.col("key") + 10), mode="append")
    seeded(t._version_dir(v))
    v = t.write(
        t.read().withColumn("key", F.col("key") + 20).withColumn("note", F.lit("x")),
        mode="append",
        merge_schema=True,
    )
    seeded(t._version_dir(v))
    v = t.write(
        t.read().where(F.col("key") < 3).withColumn("key", F.col("key") + 30),
        mode="append",
        constraints={"positive": F.col("amount") > 0},
    )
    seeded(t._version_dir(v))
    t.stage(
        t.read().where(F.col("key") < 3).withColumn("key", F.col("key") + 50), "wap"
    )
    v = t.publish_staged("wap")
    seeded(t._version_dir(v))
    v = t.merge(feed(40, CT_INSERT), ["key"])
    assert t.commits()[-1].mode == "append"
    seeded(t._version_dir(v))
    v = t.update(F.col("key") == 10, {"note": F.lit("updated")})
    seeded(t._version_dir(v), t._changes_dir(v))
    v = t.compact(sort_by=["key"])
    seeded(t._version_dir(v))
    v = t.merge(feed(0, CT_DELETE), ["key"])
    assert t.commits()[-1].mode == "merge"
    seeded(t._version_dir(v), t._changes_dir(v))
    v = t.write(t.read(), mode="overwrite", collect_stats=["key"])
    seeded(t._version_dir(v))
    # a later sidecar write moves the dir's mtime: the old entry no
    # longer matches, so the next scan infers afresh instead of going stale
    time.sleep(0.05)
    t.collect_file_stats(v, ["key"])
    assert _schema_key(t._version_dir(v)) not in _DIR_SCHEMA_CACHE
    assert t.read().schema == spark.read.parquet(t._version_dir(v)).schema
    assert rows(t.read(), "key") == rows(
        spark.read.parquet(t._version_dir(v)), "key"
    )


def _union_of_commit_scans(spark, t, version=None):
    """The snapshot as the ledger used to read it: one scan per live
    commit, chained with ``unionByName(allowMissingColumns=True)``."""
    from functools import reduce

    as_of = t.latest_version() if version is None else version
    scans = [
        spark.read.parquet(t._commit_data_dir(c)) for c in t._live_versions(as_of)
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), scans)


def _file_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan parquet")


@pytest.mark.parametrize("appends", [1, 6])
def test_snapshot_read_is_one_parquet_scan(spark, tmp_table_dir, appends):
    """However many appends are live, a snapshot is ONE multi-path
    parquet scan, with the rows the per-commit union gave."""
    t = VersionedTable(spark, tmp_table_dir, write_partitions=2)
    t.write(make_df(spark, [(k, f"v{k}") for k in range(20)]), mode="overwrite")
    for i in range(appends):
        batch = [(k, f"a{i}") for k in range(100 * (i + 1), 100 * (i + 1) + 15)]
        t.write(make_df(spark, batch + [(1, "dup")]), mode="append")
    got = t.read()
    assert len(t._live_versions(t.latest_version())) == appends + 1
    assert _file_scans(got) == 1
    want = _union_of_commit_scans(spark, t)
    assert got.columns == want.columns
    assert rows(got, "key", "value") == rows(want, "key", "value")
    assert got.count() == 20 + 16 * appends


def test_merge_schema_snapshot_keeps_the_union_column_order(spark, tmp_table_dir):
    """A mergeSchema append adds its new columns after the old ones in
    the order the per-commit union gave, and older commits read NULLs
    for them, all from the one scan."""
    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(spark.createDataFrame([(1, "a")], "k long, s string"), mode="overwrite")
    t.write(
        spark.createDataFrame([(2, "b", 3)], "k long, s string, n int"),
        mode="append",
        merge_schema=True,
    )
    t.write(
        spark.createDataFrame([(3, 4, 1.5, "c")], "k long, n int, x double, s string"),
        mode="append",
        merge_schema=True,
    )
    got = t.read()
    want = _union_of_commit_scans(spark, t)
    assert got.columns == want.columns == ["k", "s", "n", "x"]
    assert got.schema == want.schema
    assert _file_scans(got) == 1
    assert sorted(map(tuple, got.collect())) == [
        (1, "a", None, None),
        (2, "b", 3, None),
        (3, "c", 4, 1.5),
    ]
    # time travel reads the narrower snapshot of its own live commits
    assert t.read(version=1).columns == ["k", "s", "n"]


def test_scan_of_dirs_that_disagree_on_a_type_raises(spark, tmp_path):
    from data_seedling_spark.tables import scan_parquet, write_parquet_dir

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_parquet_dir(spark.createDataFrame([(1, "x")], "k long, s string"), a)
    write_parquet_dir(spark.createDataFrame([(2, 7)], "k long, s int"), b)
    with pytest.raises(SchemaMismatchError, match="'s'"):
        scan_parquet(spark, [a, b])


def test_rewrite_merge_into_a_map_column_table(spark, tmp_table_dir):
    """A deleting or upserting merge orders same-key rows by every
    column; a MAP column enters that order as its sorted entries."""
    schema = "k long, attrs map<string,int>, v string"
    t = VersionedTable(spark, tmp_table_dir, write_partitions=1)
    t.write(
        spark.createDataFrame([(k, {"n": k, "m": -k}, f"v{k}") for k in range(5)], schema),
        mode="overwrite",
    )
    feed = spark.createDataFrame(
        [
            (1, {"n": 1}, "v1", CT_DELETE),
            (3, {"n": 30, "a": 1}, "new", CT_INSERT),
            (3, {"n": 30, "b": 1}, "new", CT_INSERT),
        ],
        schema + ", _change_type string",
    )
    t.merge(feed, ["k"])
    assert t.commits()[-1].mode == "merge"
    got = {r["k"]: (dict(r["attrs"]), r["v"]) for r in t.read().collect()}
    # the greater sorted-entries array wins the tie: ("b", 1) > ("a", 1)
    assert got == {
        0: ({"n": 0, "m": 0}, "v0"),
        2: ({"n": 2, "m": -2}, "v2"),
        3: ({"n": 30, "b": 1}, "new"),
        4: ({"n": 4, "m": -4}, "v4"),
    }


def test_append_of_the_creating_frame_is_accepted(spark, tmp_table_dir):
    """The table schema reads back all-nullable; an append of the very
    frame that created the table (non-nullable nested types) matches."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("tags", T.ArrayType(T.StringType(), False)),
            T.StructField("attrs", T.MapType(T.StringType(), T.IntegerType(), False)),
        ]
    )
    df = spark.createDataFrame([(1, ["a"], {"x": 1})], schema)
    t = VersionedTable(spark, tmp_table_dir)
    t.write(df, mode="overwrite")
    t.write(df, mode="append")
    assert t.read().count() == 2
    with pytest.raises(SchemaMismatchError):
        t.write(df.withColumn("tags", F.lit(1)), mode="append")


def test_stats_on_a_decimal_column_keep_every_file(spark, tmp_table_dir):
    """pyarrow cannot extract decimal statistics: such a column records
    no stats, the write commits and pruning keeps every file."""
    from decimal import Decimal

    t = VersionedTable(spark, tmp_table_dir, write_partitions=2)
    df = spark.createDataFrame(
        [(k, Decimal(f"{k}.25")) for k in range(10)], "k long, amt decimal(12,2)"
    )
    v = t.write(df, mode="overwrite", collect_stats=["amt"])
    assert t.latest_version() == v == 0
    pruned = t.read_pruned({"amt": (Decimal("100"), None)})
    assert len(pruned.inputFiles()) == len(t.read().inputFiles())
    assert rows(pruned, "k", "amt") == rows(df, "k", "amt")
