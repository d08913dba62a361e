"""Pseudonymisation stage tests (reference ``test_pseudonymisation.py``
coverage: golden hash, missing-column KeyError, invalid datetime →
NULL, NULL-safe anonymisation, no-config passthrough)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_seedling_spark.config import DateTimeRoundOpt, TableConfig
from data_seedling_spark.pipelines.pseudonymise import (
    anonymise_columns,
    hash_columns,
    pseudo_transform,
    remove_columns,
    round_datetime_columns,
)

SALT = "unit-salt"


def test_hash_golden_value(spark):
    """Golden: sha256('1' + salt) hex — the reference pins the same
    shape (``test_pseudonymisation.py:219-224``)."""
    df = spark.createDataFrame([Row(id=1)])
    out = hash_columns(df, ["id"], SALT)
    expected = hashlib.sha256(f"1{SALT}".encode()).hexdigest()
    assert out.columns == ["id_hashed"]
    assert out.first()["id_hashed"] == expected


def test_hash_missing_column_raises(spark):
    df = spark.createDataFrame([Row(id=1)])
    with pytest.raises(KeyError):
        hash_columns(df, ["nope"], SALT)


def test_round_datetime_hour_and_invalid_to_null(spark):
    df = spark.createDataFrame(
        [Row(k=1, ts="2023-11-05 13:37:42"), Row(k=2, ts="not a date")]
    )
    out = round_datetime_columns(df, {"ts": DateTimeRoundOpt.HOUR})
    got = {r["k"]: r["ts"] for r in out.collect()}
    assert str(got[1]) == "2023-11-05 13:00:00"
    assert got[2] is None


def test_remove_columns_validates(spark):
    df = spark.createDataFrame([Row(a=1, b=2)])
    assert remove_columns(df, ["b"]).columns == ["a"]
    with pytest.raises(KeyError):
        remove_columns(df, ["z"])


def test_anonymise_masks_and_is_null_safe(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, text="mail bob@example.com then visit https://x.io/a"),
            Row(k=2, text="customer called on 2023-11-05"),
            Row(k=3, text=None),
        ]
    )
    out = {r["k"]: r["text"] for r in anonymise_columns(df, ["text"]).collect()}
    assert out[1] == "mail <EMAIL_ADDRESS> then visit <URL>"
    assert out[2] == "<PERSON> called on <DATE_TIME>"
    assert out[3] is None


def test_pseudo_transform_dispatch_and_passthrough(spark):
    df = spark.createDataFrame([Row(id=7, name="x", ts="2024-02-03 04:05:06", keep=1)])
    cfg = TableConfig(
        primary_keys=["id"],
        hash_columns=["id"],
        round_datetime_columns={"ts": DateTimeRoundOpt.MONTH},
        remove_columns=["name"],
        salt=SALT,
    )
    out = pseudo_transform(df, cfg)
    assert set(out.columns) == {"id_hashed", "ts", "keep"}
    row = out.first()
    assert str(row["ts"]) == "2024-02-01 00:00:00"
    # empty config = passthrough (reference test_pseudonymisation.py:101-118)
    passthrough = pseudo_transform(df, TableConfig(primary_keys=["id"]))
    assert passthrough.columns == df.columns
    assert passthrough.collect() == df.collect()


def test_broadcast_lookup_udf(spark):
    """X3 parity (reference ``presidio.py:37-46``): driver-built state
    shipped to executors once via sc.broadcast and used inside a
    vectorized UDF — the lookup-table flavor (model engines use
    per-worker lazy init instead; see pipelines docstring)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    lookup = spark.sparkContext.broadcast({0: "AFRICA", 1: "AMERICA", 2: "ASIA"})

    # the hints are strings (PEP 563) resolved against module globals,
    # hence the module-level pandas import
    @F.pandas_udf(T.StringType())
    def region_name(keys: pd.Series) -> pd.Series:
        table = lookup.value  # deserialized once per worker, not per row
        return keys.map(lambda k: table.get(k, "UNKNOWN"))

    df = spark.createDataFrame([Row(k=0), Row(k=2), Row(k=9)])
    got = {r["k"]: r["name"] for r in df.select("k", region_name("k").alias("name")).collect()}
    assert got == {0: "AFRICA", 2: "ASIA", 9: "UNKNOWN"}


def test_stateful_engine_injection_inits_once_per_worker(spark, tmp_path):
    """UD1 pluggability under a heavyweight stateful engine: inject a
    fake Presidio-style analyzer (expensive stateful init) through
    per_worker() and prove (a) the output is identical to the default
    regex path on its domain, (b) the engine initialised at most once
    per executor Python process even though the job ran many
    tasks/batches. The fake is a closure so it pickles by value
    (worker processes cannot import the test module); every init and
    every batch drop pid-stamped marker files the driver counts."""
    import os

    from data_seedling_spark.pipelines.pseudonymise import (
        anonymise_columns,
        per_worker,
    )
    from tests.conftest import SF_SMOKE

    marker_dir = str(tmp_path / "inits")
    batch_dir = str(tmp_path / "batches")
    os.makedirs(marker_dir)
    os.makedirs(batch_dir)

    def build_engine():
        # runs ON the worker: one call = one heavyweight engine init
        import os as _os
        import pathlib as _pathlib
        import uuid as _uuid

        from data_seedling_spark.pipelines.pseudonymise import _compile_rules

        _pathlib.Path(
            marker_dir, f"init_{_os.getpid()}_{_uuid.uuid4().hex}"
        ).touch()
        rules = _compile_rules()  # same rule set as the default path

        def engine(series):
            _pathlib.Path(
                batch_dir, f"batch_{_os.getpid()}_{_uuid.uuid4().hex}"
            ).touch()

            def mask(text):
                if text is None:
                    return None
                for rx, repl in rules:
                    text = rx.sub(repl, text)
                return text

            return series.map(mask)

        return engine

    # 64 partitions: the worker POOL can hold more idle workers than this
    # job's concurrency (earlier suite tests grow it, and Spark rotates
    # the pool FIFO), so "reuse happened" is only guaranteed once task
    # count safely exceeds any plausible pool size.
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").repartition(64)
    injected = anonymise_columns(
        docs, ["text"], anonymiser=per_worker("fake-heavy", build_engine)
    ).select("doc_id", "text")
    baseline = anonymise_columns(docs, ["text"]).select("doc_id", "text")
    got = {r["doc_id"]: r["text"] for r in injected.collect()}
    want = {r["doc_id"]: r["text"] for r in baseline.collect()}
    assert got == want and len(got) > 0

    inits = os.listdir(marker_dir)
    batches = os.listdir(batch_dir)
    init_pids = {f.split("_")[1] for f in inits}
    # one init per worker process, full stop
    assert len(inits) == len(init_pids) >= 1
    # and the cache was exercised: strictly more batches than inits
    assert len(batches) > len(inits)


def test_feistel_permutation_bijective_and_invertible(spark):
    """The 4-round Feistel network is a true permutation of
    [0, 2^32): distinct inputs stay distinct, the inverse network
    recovers every original key, a different salt yields a different
    permutation, and outputs stay inside the 32-bit domain."""
    from pyspark.sql import functions as F

    from data_seedling_spark.pipelines.pseudonymise import (
        feistel_permute_key,
        feistel_unpermute_key,
    )

    df = spark.range(5000).select(F.col("id").alias("k"))
    out = df.select(
        "k",
        feistel_permute_key(F.col("k"), "s1").alias("p1"),
        feistel_permute_key(F.col("k"), "s2").alias("p2"),
    ).withColumn(
        "back", feistel_unpermute_key(F.col("p1"), "s1")
    )
    agg = out.agg(
        F.count_distinct("p1").alias("d1"),
        F.sum((F.col("back") == F.col("k")).cast("long")).alias("rt"),
        F.sum((F.col("p1") == F.col("p2")).cast("long")).alias("same"),
        F.max("p1").alias("mx"),
        F.min("p1").alias("mn"),
    ).collect()[0]
    assert agg["d1"] == 5000          # injective on the sample
    assert agg["rt"] == 5000          # inverse recovers every key
    assert agg["same"] < 5            # salts give unrelated permutations
    assert 0 <= agg["mn"] and agg["mx"] < (1 << 32)
    # keyspace scrambling: outputs leave the input range (not identity)
    moved = out.where(F.col("p1") != F.col("k")).count()
    assert moved > 4990


def test_dp_laplace_transform_properties(spark):
    """Inverse-CDF Laplace on the md5-uniform grid: u=0.5 -> zero
    noise, symmetry around 0.5, and the tail bound |noise| <= b*33ln2
    (the grid's extreme points)."""
    import math

    from pyspark.sql import functions as F

    from data_seedling_spark.queries_pipeline import _laplace_col

    us = [0.5, 0.25, 0.75, (0 + 0.5) / 2**32, (2**32 - 1 + 0.5) / 2**32]
    df = spark.createDataFrame([(u,) for u in us], "u double").select(
        F.col("u"), _laplace_col(F.col("u"), 2.0).alias("noise")
    )
    got = {r.u: r.noise for r in df.collect()}
    assert got[0.5] == 0.0
    assert abs(got[0.25] + got[0.75]) < 1e-12  # antisymmetric
    assert got[0.25] < 0 and got[0.75] > 0  # u below median -> negative noise
    bound = 2.0 * 33 * math.log(2.0) + 1e-9
    assert all(abs(v) <= bound for v in got.values())
