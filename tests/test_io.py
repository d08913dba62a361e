"""Source/sink tests: catalog DDL registration, gated JDBC errors."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_seedling_spark.io import (
    JdbcConfig,
    jdbc_append,
    register_parquet_table,
    sql,
)
from tests.conftest import SF_SMOKE


def test_register_parquet_table_and_query(spark):
    register_parquet_table(spark, "nation_ext", f"{SF_SMOKE}/nation.parquet")
    out = sql(spark, "SELECT COUNT(*) AS n FROM default.`nation_ext`").first()
    assert out["n"] == 25
    # idempotent re-register
    register_parquet_table(spark, "nation_ext", f"{SF_SMOKE}/nation.parquet")


def test_jdbc_config_url_shape():
    cfg = JdbcConfig(host="h", database="db", username="u", password="p")
    assert cfg.url == "jdbc:sqlserver://h:1433;databaseName=db"
    opts = cfg.options("features")
    assert opts["dbtable"] == "features"
    assert opts["driver"].endswith("SQLServerDriver")


def test_jdbc_append_without_driver_raises_clearly(spark):
    cfg = JdbcConfig(host="h", database="db", username="u", password="p")
    df = spark.createDataFrame([Row(value=1)])
    with pytest.raises(RuntimeError, match="driver .* not on the classpath"):
        jdbc_append(df, cfg, "features")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    from data_seedling_spark.io import read_partitioned, write_partitioned

    events = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = str(tmp_path / "parted")
    write_partitioned(events, out, ["o_orderstatus"])
    df = read_partitioned(spark, out).where("o_orderstatus = 'F'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # only the F partition contributes rows
    assert df.count() == events.where("o_orderstatus = 'F'").count()
    got_statuses = {r["o_orderstatus"] for r in df.select("o_orderstatus").distinct().collect()}
    assert got_statuses == {"F"}


def test_csv_and_json_roundtrip(spark, tmp_path):
    from data_seedling_spark.io import (
        read_csv,
        read_json_lines,
        write_csv,
        write_json_lines,
    )

    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    csv_path, json_path = str(tmp_path / "csv"), str(tmp_path / "json")

    write_csv(nation, csv_path)
    back_csv = read_csv(spark, csv_path, schema=nation.schema)
    assert sorted(map(tuple, back_csv.collect())) == sorted(map(tuple, nation.collect()))

    write_json_lines(nation, json_path)
    back_json = read_json_lines(spark, json_path, schema=nation.schema)
    assert sorted(map(tuple, back_json.collect())) == sorted(map(tuple, nation.collect()))


def test_sorted_write_narrows_row_group_stats(spark, tmp_path):
    """Row-group min/max spans on the sort key must shrink massively vs
    the unsorted layout — the statistic data skipping relies on."""
    import glob

    import pyarrow.parquet as pq

    from data_seedling_spark.io import write_sorted

    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = str(tmp_path / "sorted")
    write_sorted(lineitem, out, ["l_shipdate"], partitions=4)

    spans, total_span = [], None
    for f in glob.glob(f"{out}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        idx = [meta.schema.column(i).name for i in range(meta.num_columns)].index(
            "l_shipdate"
        )
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
    lo = min(s[0] for s in spans)
    hi = max(s[1] for s in spans)
    total_span = (hi - lo).total_seconds()
    avg_span = sum((b - a).total_seconds() for a, b in spans) / len(spans)
    # sorted layout → each row group covers a small slice of the range
    assert avg_span < total_span / 2
    # and the sorted table still reads back complete
    assert spark.read.parquet(out).count() == lineitem.count()


def test_orc_roundtrip_with_nested_types(spark, tmp_path):
    """ORC round-trip preserves values AND nested struct/array types
    (the shape the feature-extraction output uses)."""
    from data_seedling_spark.io import read_orc, write_orc

    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    nested = nation.select(
        "n_nationkey",
        F.struct(
            F.col("n_name").alias("name"),
            F.array(F.col("n_regionkey"), F.lit(99)).alias("keys"),
        ).alias("meta"),
    )
    path = str(tmp_path / "orc")
    write_orc(nested, path)
    back = read_orc(spark, path)
    # names and types survive; nullability widens on read (standard for
    # self-describing file formats)
    assert back.schema.simpleString() == nested.schema.simpleString()
    assert sorted(map(repr, back.collect())) == sorted(map(repr, nested.collect()))


def test_jdbc_derby_roundtrip_e2e(spark):
    """S12 end-to-end over embedded Derby (jars ship with Spark): the
    feature-store append + pushdown-query read, exercising the exact
    reader/writer option plumbing the SQL Server target uses."""
    from data_seedling_spark.io import jdbc_read

    cfg = JdbcConfig.derby_memory("feature_store")
    df = spark.createDataFrame(
        [Row(pk=1, score=0.5), Row(pk=2, score=0.7), Row(pk=3, score=0.9)]
    )
    jdbc_append(df, cfg, "features")
    jdbc_append(df.where(F.col("pk") == 1), cfg, "features")  # append, not replace

    # Spark's writer quotes identifiers, so Derby stores them
    # case-sensitively — quote them in the pushdown query too.
    back = jdbc_read(
        spark, cfg, 'SELECT "pk", "score" FROM features WHERE "score" < 0.9'
    )
    got = sorted((r["pk"], r["score"]) for r in back.collect())
    assert got == [(1, 0.5), (1, 0.5), (2, 0.7)]


def test_read_binary_files_feeds_multimodal_contract(spark, tmp_path):
    """binaryFile rows (path/length/content) flow into the multimodal
    payload+metadata shape; glob pushdown skips non-matching files."""
    from data_seedling_spark.io import read_binary_files

    (tmp_path / "a.jpg").write_bytes(b"\xff\xd8JPEGDATA")
    (tmp_path / "b.jpg").write_bytes(b"\xff\xd8MORE")
    (tmp_path / "skip.txt").write_bytes(b"not an image")
    df = read_binary_files(spark, str(tmp_path), glob="*.jpg")
    rows = df.orderBy("path").collect()
    assert [r["length"] for r in rows] == [10, 6]
    assert rows[0]["content"].startswith(b"\xff\xd8")
    # compose with the multimodal metadata struct
    from pyspark.sql import functions as F

    assets = df.select(
        F.col("path").alias("asset_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.col("length").alias("n_bytes"),
        ).alias("meta"),
    )
    got = assets.select("meta.mime", "meta.n_bytes").collect()
    assert all(r["mime"] == "image/jpeg" for r in got)


def test_python_datasource_synthetic_docs(spark):
    """Custom Python Data Source (Spark 4 API): partitioned planning,
    content a pure function of doc_id (partitioning never changes the
    corpus), options respected."""
    from data_seedling_spark.sources import register_sources

    register_sources(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", 500)
        .option("partitions", 8)
        .load()
    )
    assert df.count() == 500
    assert df.rdd.getNumPartitions() == 8
    narrow = (
        spark.read.format("synthetic_docs")
        .option("rows", 500)
        .option("partitions", 2)
        .load()
    )
    wide_rows = sorted(tuple(r) for r in df.collect())
    narrow_rows = sorted(tuple(r) for r in narrow.collect())
    assert wide_rows == narrow_rows  # repartition-invariant content
    first = dict(zip(df.columns, wide_rows[0]))
    assert first["doc_id"] == 0 and first["n_chars"] == len(first["text"])


def test_ledger_python_datasource_snapshot_and_time_travel(spark, tmp_path):
    """spark.read.format('ledger'): the Python DataSource connector
    (Spark 4 pyspark.sql.datasource) resolves the same snapshot as
    VersionedTable.read — schema from the footer, one InputPartition
    per file, Arrow-batch reads — including the version= time-travel
    option."""
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.sources_pyds import LedgerDataSource

    spark.dataSource.register(LedgerDataSource)
    t = VersionedTable(spark, str(tmp_path / "t"), write_partitions=2)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t.write(orders.where(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    t.write(orders.where(F.col("o_orderkey") % 2 == 1), mode="append")

    via_ds = spark.read.format("ledger").option("path", str(tmp_path / "t")).load()
    assert via_ds.schema == t.read().schema
    assert via_ds.count() == t.read().count()
    assert sorted(
        (r["o_orderstatus"], r["count"])
        for r in via_ds.groupBy("o_orderstatus").count().collect()
    ) == sorted(
        (r["o_orderstatus"], r["count"])
        for r in t.read().groupBy("o_orderstatus").count().collect()
    )
    v0 = (
        spark.read.format("ledger")
        .option("path", str(tmp_path / "t"))
        .option("version", 0)
        .load()
    )
    assert v0.count() == t.read(0).count()

    def same_rows(path, table, version=None):
        reader = spark.read.format("ledger").option("path", path)
        if version is not None:
            reader = reader.option("version", version)
        got = sorted(tuple(r) for r in reader.load().collect())
        assert got == sorted(tuple(r) for r in table.read(version).collect())

    # an update commit is a snapshot base, like overwrite and merge
    t.update(F.col("o_orderkey") < 100, {"o_orderstatus": F.lit("Z")})
    same_rows(str(tmp_path / "t"), t)
    same_rows(str(tmp_path / "t"), t, version=1)
    # a rewrite merge
    delete = t.read().where(F.col("o_orderkey") < 50).withColumn(
        "_change_type", F.lit("delete")
    )
    t.merge(delete, ["o_orderkey"])
    assert t.commits()[-1].mode == "merge"
    same_rows(str(tmp_path / "t"), t)
    # a shallow clone reads its commits' data in the source's dirs
    clone = t.clone(str(tmp_path / "clone"), version=1)
    same_rows(str(tmp_path / "clone"), clone)
    same_rows(str(tmp_path / "clone"), clone, version=1)
