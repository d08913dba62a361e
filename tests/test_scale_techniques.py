"""Cluster-scale join/pruning techniques, plan-asserted.

Companion to test_plans.py: these lock the three techniques a 100-TB
deployment leans on beyond per-query plan shape —

- **dynamic partition pruning** (DPP): a selective dim filter prunes
  fact *partitions at runtime*, so the big scan never reads dead
  partitions;
- **runtime bloom-filter row pruning**: a bloom filter built from the
  selective side is pushed into the big side's scan, dropping rows
  before the join shuffle.

(The third leg — bucketed co-located joins with no Exchange — is
already locked by ``tests/test_relational.py`` via
``operators.relational.write_bucketed``.)

Both are Catalyst/AQE features the engine *configures and preserves*
rather than reimplements — the tests prove our session and query
shapes actually trigger them (and would regress loudly if a refactor
broke the trigger conditions).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pruning_tables(spark, tmp_path_factory):
    """A fact table partitioned by a low-cardinality key + a dim with
    a selective flag — the canonical DPP/bloom shape."""
    base = str(tmp_path_factory.mktemp("scale_tech_"))
    facts = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).cast("string").alias("part"),
        (F.col("id") % 1000).alias("v"),
    )
    facts.write.partitionBy("part").parquet(base + "/facts")
    dim = spark.range(20).select(
        F.col("id").cast("string").alias("part"),
        F.when(F.col("id") < 3, "keep").otherwise("drop").alias("flag"),
    )
    dim.write.parquet(base + "/dim")
    return base


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dynamic_partition_pruning_reaches_fact_scan(spark, pruning_tables):
    facts = spark.read.parquet(pruning_tables + "/facts")
    dim = spark.read.parquet(pruning_tables + "/dim").where(F.col("flag") == "keep")
    joined = facts.join(dim, "part").groupBy("part").count()
    plan = executed_plan(joined)
    # the fact scan carries a runtime partition filter fed by the dim
    assert "dynamicpruning" in plan.lower(), plan
    # and the result only touches the 3 surviving partitions
    assert joined.count() == 3
    assert all(r["count"] == 1000 for r in joined.collect())


def test_runtime_bloom_filter_prunes_application_side(spark, pruning_tables):
    """With runtime bloom filters on, a selective creation side injects
    bloom_filter_agg + might_contain into the big side's scan stage:
    rows are dropped *before* the join shuffle. (Thresholds are floored
    here because the fixture is tiny; at real scale the defaults —
    10 MB creation side, 10 GB application side — gate injection.)"""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # bloom row pruning targets the join that CANNOT broadcast —
        # force the shuffle-join path the technique exists for
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        facts = spark.read.parquet(pruning_tables + "/facts")
        keys = (
            spark.read.parquet(pruning_tables + "/dim")
            .where(F.col("flag") == "keep")
            .select(F.col("part").cast("long").alias("pk"))
        )
        joined = facts.join(keys, facts.k % 20 == F.col("pk"))
        plan = executed_plan(joined)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan.lower(), plan
        assert joined.count() == 3_000
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
