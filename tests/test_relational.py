"""Scale-join strategy tests: bucketed joins must be exchange-free,
salted joins must preserve exact join semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_seedling_spark.operators.relational import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from data_seedling_spark.session import sql_conf
from tests.conftest import SF_SMOKE


def test_bucketed_join_has_no_exchange(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", buckets=4)
    write_bucketed(lineitem, "b_lineitem", "o_orderkey", buckets=4)
    # force a sort-merge join so the test checks bucket co-location
    # (a broadcast join would hide the shuffle anyway)
    with sql_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": -1}):
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
    # result parity with the plain join
    plain = orders.join(lineitem, "o_orderkey")
    assert joined.count() == plain.count()


def test_salted_join_matches_plain_join(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    salted = salted_join(orders, customer, "o_custkey", salt_factor=4)
    plain = orders.join(customer, "o_custkey")
    assert salted.count() == plain.count()
    a = salted.groupBy("o_custkey").count().orderBy("o_custkey").collect()
    b = plain.groupBy("o_custkey").count().orderBy("o_custkey").collect()
    assert a == b


def test_salted_left_join_keeps_unmatched_rows(spark):
    from pyspark.sql import Row

    big = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b"), Row(k=9, v="z")])
    small = spark.createDataFrame([Row(k=1, w="X"), Row(k=2, w="Y")])
    out = salted_join(big, small, "k", salt_factor=3, how="left")
    got = {(r["k"], r["w"]) for r in out.collect()}
    assert got == {(1, "X"), (2, "Y"), (9, None)}


def test_salted_join_rejects_unsupported_how(spark):
    from pyspark.sql import Row

    import pytest as _pytest

    big = spark.createDataFrame([Row(k=1)])
    small = spark.createDataFrame([Row(k=1)])
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, "k", how="right")


def test_fuzzy_blocking_guards_cap_block_size_sf01(spark):
    """fuzzy_name_matches' skew guards at sf0.1: the (noun, band, salt)
    build-side cells must be far smaller than the raw noun blocks
    (Zipfian noun -> one quadratic straggler without the guards)."""
    from data_seedling_spark.tables import load_table

    part = load_table(spark, "/root/testdata/sf0.1", "part")
    keyed = part.select(
        F.split("p_name", " ").getItem(1).alias("_block"),
        (F.length("p_name") / 2).cast("int").alias("_band"),
        F.pmod(F.xxhash64("p_partkey"), F.lit(8)).alias("_salt"),
    )
    noun_max = keyed.groupBy("_block").count().agg(F.max("count")).first()[0]
    cell_max = (
        keyed.groupBy("_block", "_band", "_salt").count().agg(F.max("count")).first()[0]
    )
    assert cell_max * 4 < noun_max  # straggler split into even cells
    assert cell_max <= noun_max / 8 * 1.5  # salt spreads ~evenly


def test_runtime_bloom_filter_prunes_big_side(spark):
    """With runtime bloom filtering on, a selective dimension filter
    induces a bloom_filter_agg on the small side and a might_contain
    probe on the fact side's scan — row-level pruning before the
    shuffle (the 100 TB join lever beyond static partition pruning)."""
    from data_seedling_spark.operators.relational import (
        RUNTIME_BLOOM_CONF,
        enable_runtime_bloom,
    )

    # sql_conf owns the restore of everything enable_runtime_bloom sets
    with sql_conf(
        spark, **RUNTIME_BLOOM_CONF, **{"spark.sql.autoBroadcastJoinThreshold": -1}
    ):
        enable_runtime_bloom(spark)
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").where(
            F.col("o_totalprice") > 400000
        )
        lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        j = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # sanity: result unchanged vs plain join
        assert j.count() == lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()


def test_interval_join_matches_theta_join_no_nested_loop(spark):
    """Binned interval join equals the naive theta join and plans as an
    equi-join (no BroadcastNestedLoop / cartesian)."""
    from pyspark.sql import Row

    from data_seedling_spark.operators.relational import interval_join

    points = spark.createDataFrame(
        [Row(pid=i, x=float(i)) for i in range(100)]
    )
    ivs = spark.createDataFrame(
        [
            Row(iid=1, lo=10.0, hi=20.0),
            Row(iid=2, lo=15.0, hi=40.0),
            Row(iid=3, lo=90.0, hi=200.0),
            Row(iid=4, lo=300.0, hi=310.0),  # matches nothing
        ]
    )
    got = interval_join(points, ivs, "x", "lo", "hi", bin_width=16)
    naive = points.join(
        ivs, (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi"))
    )
    key = lambda df: sorted((r["pid"], r["iid"]) for r in df.collect())
    assert key(got) == key(naive)
    # each pair meets in exactly one bin — no duplicates to dedup
    assert len(key(got)) == len(set(key(got)))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_table_diff_statuses_and_null_handling(spark):
    """added/removed/changed verdicts; NULL vs empty string are
    DIFFERENT values (the sentinel distinguishes them); unchanged rows
    are omitted; column order never affects the verdict."""
    from pyspark.sql import Row

    from data_seedling_spark.operators.diff import table_diff

    left = spark.createDataFrame(
        [
            Row(pk=1, a="x", b="same"),
            Row(pk=2, a=None, b="same"),
            Row(pk=3, a="gone", b="gone"),
            Row(pk=4, a="u", b="v"),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(pk=1, a="x", b="same"),        # unchanged -> omitted
            Row(pk=2, a="", b="same"),          # NULL -> "" must be 'changed'
            Row(pk=4, a="u", b="v"),            # same values...
            Row(pk=5, a="new", b="new"),
        ]
    ).select("pk", "b", "a")                    # ...reordered columns
    got = {r["pk"]: r["diff_status"] for r in table_diff(left, right, ["pk"]).collect()}
    assert got == {2: "changed", 3: "removed", 5: "added"}


def test_hll_md5_accuracy_and_merge(spark):
    """First-principles HLL: estimate within the m=256 error envelope
    of exact distinct, and shard registers max-merge to the corpus
    registers (the mergeable-state property)."""
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.relational import (
        hll_estimate,
        hll_registers,
    )

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    exact = orders.select("o_custkey").distinct().count()
    est = hll_estimate(hll_registers(orders, "o_custkey")).collect()[0]
    # m=256 → ~6.5% standard error; allow 3 sigma
    assert abs(est["estimate"] - exact) / exact < 0.20, (est, exact)

    left = hll_registers(orders.where(F.col("o_orderkey") % 2 == 0), "o_custkey")
    right = hll_registers(orders.where(F.col("o_orderkey") % 2 == 1), "o_custkey")
    merged = (
        left.unionByName(right).groupBy("bucket").agg(F.max("reg").alias("reg"))
    )
    whole = hll_registers(orders, "o_custkey")
    diff = merged.join(whole, ["bucket"], "full_outer").where(
        merged["reg"].eqNullSafe(whole["reg"]) == False  # noqa: E712
    )
    assert diff.count() == 0
    m_est = hll_estimate(merged).collect()[0]["estimate"]
    assert m_est == est["estimate"]


def test_variant_shred_malformed_and_missing_paths(spark):
    """VARIANT robustness: try_parse_json nulls malformed rows instead
    of failing the job; try_variant_get returns NULL for absent paths
    and un-castable types."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, '{"k": 5, "tag": "x"}'), (2, "not-json"), (3, '{"other": 1}')],
        ["id", "props"],
    )
    v = df.select("id", F.try_parse_json("props").alias("v"))
    out = {
        r["id"]: (r["k"], r["tag"])
        for r in v.select(
            "id",
            F.try_variant_get("v", "$.k", "bigint").alias("k"),
            F.try_variant_get("v", "$.tag", "string").alias("tag"),
        ).collect()
    }
    assert out[1] == (5, "x")
    assert out[2] == (None, None)
    assert out[3] == (None, None)


def test_zorder_key_matches_python_morton_and_clusters(spark):
    """zorder_key2 equals a reference Morton encoding on an exact 16x16
    grid, and z-regions bound both dimensions' ranges."""
    from data_seedling_spark.operators.relational import zorder_key2
    from pyspark.sql import functions as F

    rows = [(a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, ["a", "b"])
    # 16 values into 256 buckets with range 16 → bucket = v * 16
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", zorder_key2(F.col("a"), F.col("b"), 0, 15, 0, 15).alias("z")
        ).collect()
    }

    def morton(qa, qb):
        k = 0
        for i in range(8):
            k |= ((qa >> i) & 1) << (2 * i + 1)
            k |= ((qb >> i) & 1) << (2 * i)
        return k

    for (a, b), z in got.items():
        assert z == morton(a * 256 // 16, b * 256 // 16), (a, b)
    # clustering property: within one z-region (key>>8), both dims span
    # at most a quarter of the full domain on this uniform grid
    regions = {}
    for (a, b), z in got.items():
        regions.setdefault(z >> 8, []).append((a, b))
    for pts in regions.values():
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        assert max(xs) - min(xs) <= 4 and max(ys) - min(ys) <= 4


def test_zorder_key2_exact_division_beyond_double_mantissa(spark):
    """Regression for the r6 exact-IntegralDivide fix: a range where
    (v − min)·2^bits ≈ 2^62 exceeds the 53-bit double mantissa.
    floor(double /) computes bucket 101 here; exact integer division
    gives 100 — the key must agree with Python's `//`, not the float
    path (a one-bucket error silently mis-clusters the file layout)."""
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.relational import zorder_key2

    m0 = 22_180_000_000_000
    a_max = 1024 * m0 - 1          # divisor a_max+1 = 1024·m0 (·256 < 2^63)
    hot = 812 * m0 - 1             # (hot·256)/(a_max+1): exact 202, double 203
    import math

    assert (hot * 256) // (a_max + 1) == 202
    assert math.floor((hot * 256) / (a_max + 1)) == 203  # the trap
    rows = [(hot, 3), (0, 3), (a_max, 3)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        r["a"]: r["z"]
        for r in df.select(
            "a", zorder_key2(F.col("a"), F.col("b"), 0, a_max, 0, 15).alias("z")
        ).collect()
    }

    def morton(qa, qb):
        k = 0
        for i in range(8):
            k |= ((qa >> i) & 1) << (2 * i + 1)
            k |= ((qb >> i) & 1) << (2 * i)
        return k

    for a in (hot, 0, a_max):
        qa = (a * 256) // (a_max + 1)
        qb = (3 * 256) // 16
        assert got[a] == morton(qa, qb), a


def _hilbert_xy2d(n: int, x: int, y: int) -> int:
    """Reference Hilbert xy→d (the standard rotate-and-flip walk)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_and_is_adjacent(spark):
    """Both hilbert forms (single-expression and chained-projection)
    equal the reference walk on an exact 16x16 grid; the key is a
    bijection onto [0, 256); and consecutive keys are ALWAYS
    grid-adjacent (Manhattan distance 1) — the locality property that
    distinguishes Hilbert from Z-order."""
    from data_seedling_spark.operators.relational import (
        hilbert_key2,
        with_hilbert_key,
    )

    rows = [(a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = {
        (r["a"], r["b"]): r["h"]
        for r in df.select(
            "a", "b",
            hilbert_key2(F.col("a"), F.col("b"), 0, 15, 0, 15, bits=4).alias("h"),
        ).collect()
    }
    staged = {
        (r["a"], r["b"]): r["h"]
        for r in with_hilbert_key(
            df, "a", "b", F.lit(0), F.lit(15), F.lit(0), F.lit(15),
            bits=4, out_col="h",
        ).collect()
    }
    assert staged == got
    for (a, b), h in got.items():
        assert h == _hilbert_xy2d(16, a, b), (a, b)
    pos = {h: ab for ab, h in got.items()}
    assert sorted(pos) == list(range(256))
    for i in range(255):
        (x1, y1), (x2, y2) = pos[i], pos[i + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, i


def test_hilbert_files_tighter_than_zorder(spark):
    """The measured layout claim, on a dense 256×256 grid (sparse
    smoke-SF data is noise-dominated at ~9 rows/file): for a
    non-power-of-two file size (100 keys/file — a realistic row-count
    compaction target), Hilbert files bound BOTH dimensions in a ~2×
    smaller average bounding box than Z-order files, and the worst
    file is ~16× tighter — i.e. min/max data skipping prunes better.
    (At power-of-two file sizes both curves produce perfect subsquares
    and tie; the advantage is exactly the non-aligned case.)"""
    from data_seedling_spark.operators.relational import (
        with_hilbert_key,
        zorder_key2,
    )

    grid = (
        spark.range(256).select(F.col("id").alias("a"))
        .crossJoin(spark.range(256).select(F.col("id").alias("b")))
    )

    def bbox_stats(df, key_col):
        return (
            df.groupBy(F.floor(F.col(key_col) / 100).alias("f"))
            .agg(
                ((F.max("a") - F.min("a") + 1)
                 * (F.max("b") - F.min("b") + 1)).alias("area")
            )
            .agg(F.avg("area").alias("avg"), F.max("area").alias("mx"))
            .collect()[0]
        )

    h = with_hilbert_key(
        grid, "a", "b", F.lit(0), F.lit(255), F.lit(0), F.lit(255),
        bits=8, out_col="k",
    )
    z = grid.select(
        "a", "b",
        zorder_key2(
            F.col("a"), F.col("b"), 0, 255, 0, 255, bits=8
        ).alias("k"),
    )
    hb, zb = bbox_stats(h, "k"), bbox_stats(z, "k")
    # offline reference: hilbert avg 134.8 / max 192; morton avg 280.1
    # / max 3072
    assert hb["avg"] < 0.6 * zb["avg"], (hb, zb)
    assert hb["mx"] * 8 <= zb["mx"], (hb, zb)


def test_expectations_report_counts_injected_violations(spark):
    """Each expectation must count exactly its injected violations:
    nulls, out-of-set, out-of-range, bad format, duplicate keys, and
    FK orphans — and pass flags flip accordingly."""
    from pyspark.sql import Row

    from data_seedling_spark.operators.quality import (
        expectations_report,
        in_range,
        in_set,
        matches,
        not_null,
    )

    rows = [
        Row(k=1, cust=10, status="O", price=5.0, pri="1-URGENT"),
        Row(k=2, cust=None, status="F", price=3.0, pri="2-HIGH"),   # null
        Row(k=3, cust=10, status="X", price=2.0, pri="3-MEDIUM"),   # set
        Row(k=4, cust=11, status="P", price=-1.0, pri="4-LOW"),     # range
        Row(k=5, cust=11, status="O", price=1.0, pri="oops"),       # format
        Row(k=5, cust=10, status="O", price=1.0, pri="5-LOW"),      # dup key
        Row(k=6, cust=99, status="O", price=1.0, pri="1-URGENT"),   # orphan
    ]
    df = spark.createDataFrame(rows)
    dim = spark.createDataFrame([Row(ck=10), Row(ck=11)])
    rep = {
        r["check"]: (r["n_violations"], r["passed"])
        for r in expectations_report(
            df,
            expectations=[
                not_null("cust"),
                in_set("status", ("O", "F", "P")),
                in_range("price", 0.0, 100.0),
                matches("pri", r"^[1-5]-[A-Z]+$"),
            ],
            unique_keys=["k"],
            references=[("cust", dim, "ck")],
        ).collect()
    }
    assert rep["not_null_cust"] == (1, False)
    assert rep["in_set_status"] == (1, False)
    assert rep["range_price"] == (1, False)
    assert rep["matches_pri"] == (1, False)
    assert rep["unique_k"] == (1, False)
    assert rep["references_cust"] == (1, False)

    clean = expectations_report(
        df.where(F.col("k") == 1),
        expectations=[not_null("cust")],
        unique_keys=["k"],
        references=[("cust", dim, "ck")],
    ).collect()
    assert all(r["passed"] for r in clean)


def test_orc_partitioned_write_prunes_partitions(spark, tmp_path):
    """The ORC partitioned round-trip must serve a partition predicate
    from the directory listing: PartitionFilters carries the
    l_returnflag filter and non-matching partitions never reach the
    scan (file-count check)."""
    import os

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    path = str(tmp_path / "orc")
    li.write.mode("overwrite").partitionBy("l_returnflag").orc(path)
    back = spark.read.orc(path).where(F.col("l_returnflag") == "R")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
        "PartitionFilters"
    )[1][:200]
    flags = {d for d in os.listdir(path) if d.startswith("l_returnflag=")}
    assert len(flags) >= 2  # several partitions exist on disk...
    # ...and the filtered count equals the parquet-side truth
    truth = li.where(F.col("l_returnflag") == "R").count()
    assert back.count() == truth
