"""Parquet table access for the synthetic star schema (TESTDATA.md).

Mirrors the reference's source surface (SURVEY §2.1): batch scans
(S1/S5), in-memory sources (S4), and schema-preserving empty relations
(S3, reference ``datalake.py:83-86``). The CDC scan (S2) lives in
``operators.ledger``.

Every parquet scan here and in ``operators.ledger`` goes through
:func:`scan_parquet`, and every ledger write through
:func:`write_parquet_dir`; the two share one schema cache, so a path
already scanned or written in this process is read with its known
schema instead of a listing + footer-inference job.

Scale note: loaders only *declare* the scan — column pruning and
predicate pushdown happen in Catalyst, so callers should ``select``/
``filter`` on the returned DataFrame rather than materialise it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_NS_TS_CACHE: dict[str, tuple[str, ...]] = {}


def _nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as
    long under ``spark.sql.legacy.parquet.nanosAsLong``. Footer-only
    check, cached per path."""
    if path not in _NS_TS_CACHE:
        import pyarrow.parquet as pq
        import pyarrow as pa

        footer = path
        if os.path.isdir(path):
            # Spark writes directory-style tables; all parts share one
            # schema, so any part footer answers the question.
            parts = sorted(
                f
                for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            if not parts:
                _NS_TS_CACHE[path] = ()
                return _NS_TS_CACHE[path]
            footer = os.path.join(path, parts[0])
        schema = pq.read_schema(footer)
        _NS_TS_CACHE[path] = tuple(
            f.name for f in schema if f.type == pa.timestamp("ns")
        )
    return _NS_TS_CACHE[path]


#: Parquet schema per scanned or written path, keyed by (path, mtime_ns,
#: size). The ledger's commit dirs are immutable once written and the
#: base tables are files nobody rewrites in place, so a schema learnt
#: once can be replayed: a replayed scan skips the driver's listing +
#: footer-inference job. A rewritten or recreated path changes its
#: mtime (and usually its size), so it misses instead of reading a
#: stale schema. Filled by :func:`scan_parquet` on a miss and seeded by
#: :func:`write_parquet_dir` with the schema it just wrote.
_DIR_SCHEMA_CACHE: dict = {}


def _schema_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_mtime_ns, st.st_size)


def seed_schema(path: str, schema: T.StructType) -> None:
    """Record ``schema`` for ``path`` as it is now on disk. Call only
    once the last file has landed in it: the key is its current mtime."""
    key = _schema_key(path)
    if key is not None:
        _DIR_SCHEMA_CACHE[key] = schema


class SchemaMismatchError(ValueError):
    """Append schema diverges from the table schema (S6 validation)."""


def scan_parquet(
    spark: SparkSession, paths: str | list[str], files: list[str] | None = None
) -> DataFrame:
    """The one parquet scan: read every path in ``paths`` (or only
    ``files`` inside them) as ONE multi-path scan. Its schema joins each
    path's cached one (inferred and cached on a miss): the first path's
    fields, then each later path's new ones, the order a
    ``unionByName(..., allowMissingColumns=True)`` chain gives. The
    reader fills NULLs for a column a path lacks. Paths that disagree on
    a column's type raise :class:`SchemaMismatchError`."""
    paths = [paths] if isinstance(paths, str) else paths
    fields: dict[str, T.StructField] = {}
    for path in paths:
        schema = _DIR_SCHEMA_CACHE.get(_schema_key(path))
        if schema is None:
            schema = spark.read.parquet(path).schema
            seed_schema(path, schema)
        for f in schema.fields:
            first = fields.setdefault(f.name, f)
            if first.dataType != f.dataType:
                raise SchemaMismatchError(
                    f"{path}: {f.name!r} is {f.dataType}, {first.dataType} before"
                )
    return spark.read.schema(T.StructType(list(fields.values()))).parquet(
        *(paths if files is None else files)
    )


def _as_written(dt: T.DataType) -> T.DataType:
    """``dt`` as a parquet scan reports it back: every field, element
    and map value nullable (Spark writes file sources ``asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_written(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_written(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_written(dt.keyType), _as_written(dt.valueType), True)
    return dt


def write_parquet_dir(df: DataFrame, path: str) -> T.StructType:
    """The one parquet write: write ``df`` as the (new, immutable) dir
    ``path``, seed the scan cache with the schema it wrote and return
    that schema, so the next scan of ``path`` runs no inference job."""
    df.write.mode("overwrite").parquet(path)
    schema = _as_written(df.schema)
    seed_schema(path, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S5 batch scan of one table.

    Nanosecond parquet timestamps are converted to TIMESTAMP_NTZ
    (values in the testdata are µs-aligned, so this is lossless and
    matches DuckDB's read of the same file).
    """
    path = table_path(sf_dir, name)
    ns_cols = _nanos_timestamp_columns(path)
    if ns_cols:
        # Runtime-settable SQL conf; required even under a session we
        # didn't build (the driver creates its own SparkSession).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = scan_parquet(spark, path)
    # Only repair columns Spark ACTUALLY surfaced as long: pyarrow also
    # reports legacy INT96 timestamps as timestamp[ns], but Spark reads
    # those natively as TIMESTAMP — the DIV-1000 rebuild applies solely
    # to true TIMESTAMP(NANOS) columns read under nanosAsLong.
    long_cols = {f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"}
    ns_cols = tuple(c for c in ns_cols if c in long_cols)
    for c in ns_cols:
        # Integer DIV, not `/`: epoch-nanos (~1.7e18) exceeds double's
        # 2^53 integer range, so float division corrupts the low digits.
        # Truncation (floor for positive epochs) matches DuckDB's ns→µs.
        df = df.withColumn(
            c,
            F.timestamp_micros(F.expr(f"`{c}` DIV 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register each table as a temp view so ``spark.sql`` can address it."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def empty_like(spark: SparkSession, df: DataFrame) -> DataFrame:
    """S3 schema-preserving empty relation (reference ``datalake.py:83-86``).

    Used by the incremental reader when there are no new versions to
    consume; downstream transforms see the same schema either way.
    """
    return spark.createDataFrame([], df.schema)
