"""SparkSession construction tuned for both local testing and scale.

The reference creates bare sessions (``SparkSession.builder.getOrCreate()``,
reference ``entrypoints/pseudonymisation.py:33``) and relies on cluster
config. We centralise the conf so every entry point (tests, bench,
driver contract) gets the same Catalyst posture:

- AQE on (runtime coalesce / skew-join handling — the 100 TB lever),
- Arrow on (Pandas-UDF fast path),
- UTC session timezone (oracle comparability; parquet NTZ timestamps),
- shuffle partitions sized to the local core count rather than the
  200 default (on a real cluster this is overridden per-job).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "data_seedling_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's standard conf."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # SPARK_GRAFT_SHUFFLE: per-run override for scale probes — at sf10
    # in one JVM the 32-partition default makes per-task hash maps the
    # memory ceiling; more, smaller tasks is the per-executor sizing a
    # real cluster applies (SCALE.md "heap" notes).
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", max(cpus, 8))
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The synthetic events table stores TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long and convert in
        # tables.load_table (lossless: values are µs-aligned).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Queries share one session, so what a query sets, writes or caches is
# given back: ``sql_conf`` scopes conf inside a query; ``query_scope``,
# held by the caller that owns the action, releases the rest after it.
_ROOT: ContextVar[str | None] = ContextVar("workspace_root", default=None)
_GROUP = "spark.jobGroup.id"


def conf_snapshot(spark: SparkSession):
    """Every explicitly set SQL conf entry as one immutable JVM map (one
    round trip, where ``spark.conf.getAll`` pays one per entry)."""
    return spark.conf._jconf.getAllAsJava()


def conf_changes(before, after) -> set[str]:
    """Keys whose value differs between two :func:`conf_snapshot` maps."""
    if before.equals(after):
        return set()
    keys = set(before.keySet().toArray()) | set(after.keySet().toArray())
    return {key for key in keys if before.get(key) != after.get(key)}


def _restore(spark: SparkSession, prior, keys) -> None:
    for key in keys:
        value = prior.get(key)
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@contextmanager
def sql_conf(spark: SparkSession, **overrides) -> Iterator[None]:
    """Set SQL conf ``overrides`` for the body; on exit restore each
    key's previous value, unsetting a key that was unset."""
    prior = conf_snapshot(spark)
    for key, value in overrides.items():
        spark.conf.set(key, str(value))
    try:
        yield
    finally:
        _restore(spark, prior, overrides)


def workspace(prefix: str) -> str:
    """A fresh temp dir, under the enclosing :func:`query_scope`'s root
    (removed on release) or, outside any scope, the system temp dir."""
    return tempfile.mkdtemp(prefix=prefix, dir=_ROOT.get())


def _cached_plans(manager) -> set:
    # the CacheManager has no public getter for its entries
    field = manager.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(manager)
    return {entries.apply(i).plan() for i in range(entries.size())}


def job_group(name: str) -> str:
    """The Spark job group :func:`query_scope` runs query ``name`` in."""
    return f"ds:{name}"


@contextmanager
def query_scope(spark: SparkSession, name: str) -> Iterator[None]:
    """Own one query's session footprint until its action has run. Its
    Spark jobs run in :func:`job_group` ``(name)``. On exit, the
    caller's job group and SQL conf are restored, the workspace root
    is removed, and the DataFrame caches and persisted RDDs (local
    checkpoints too) made inside are released."""
    sc = spark.sparkContext
    manager = spark._jsparkSession.sharedState().cacheManager()
    persistent = sc._jsc.getPersistentRDDs
    conf, plans = conf_snapshot(spark), _cached_plans(manager)
    rdds = set(persistent().keySet().toArray())
    group = sc.getLocalProperty(_GROUP)
    # only the group id: jobs keep their own descriptions
    sc.setLocalProperty(_GROUP, job_group(name))
    token = _ROOT.set(workspace("ds_query_"))
    try:
        yield
    finally:
        root = _ROOT.get()
        _ROOT.reset(token)
        sc.setLocalProperty(_GROUP, group)
        _restore(spark, conf, conf_changes(conf, conf_snapshot(spark)))
        shutil.rmtree(root, ignore_errors=True)
        for plan in _cached_plans(manager) - plans:
            manager.uncacheQuery(spark._jsparkSession, plan, False, True)
        now = persistent()
        for rdd_id in set(now.keySet().toArray()) - rdds:
            now.get(rdd_id).unpersist(True)
