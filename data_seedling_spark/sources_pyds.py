"""Python DataSource connector for the versioned ledger (Spark 4's
user-defined data source API, ``pyspark.sql.datasource``).

Everywhere else the engine reads ledger tables through
``VersionedTable.read()`` (one multi-path parquet scan — fastest, fully
native). This connector exposes the SAME table as a first-class format
string::

    spark.dataSource.register(LedgerDataSource)
    spark.read.format("ledger").option("path", p).load()
    spark.read.format("ledger").option("path", p).option("version", 3).load()

which is what SQL-only consumers and catalog bindings need (``CREATE
TABLE ... USING ledger`` shapes). It demonstrates the connector
contract end-to-end: schema discovery without a session (pyarrow
footer read), snapshot resolution by the ledger's own session-free rule
(``operators.ledger.live_files``; time travel via the ``version``
option), and one ``InputPartition`` per parquet file so a 10k-file
snapshot fans out across the cluster. ``read`` yields Arrow record
batches (the vectorized path — rows never materialize as Python
tuples).

Trade-off, stated plainly: batches cross the JVM↔Python boundary once
(Arrow IPC), so the native ``VersionedTable.read()`` path remains the
default inside the engine; this connector is the integration seam, not
the hot path. Capability parity target: the reference's Delta tables
are addressable as ``spark.read.format("delta")`` (reference
``datalake.py:88-94``) — this gives the ledger substrate the same
format-string addressability.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .operators.ledger import live_files


class _FilePartition(InputPartition):
    def __init__(self, file_path: str, columns):
        self.file_path = file_path
        self.columns = columns


def _live_parquet_files(path: str, version: int | None) -> list[str]:
    """The files of the snapshot at ``version`` (default: the latest)."""
    if version is not None:
        version = int(version)
    return [f for _, files in live_files(path, version) for f in files]


class LedgerReader(DataSourceReader):
    def __init__(self, schema, options):
        self.options = options
        self.columns = schema.fieldNames()

    def partitions(self):
        files = _live_parquet_files(
            self.options["path"], self.options.get("version")
        )
        return [_FilePartition(f, self.columns) for f in files]

    def read(self, partition):
        import pyarrow.parquet as pq

        table = pq.read_table(partition.file_path, columns=partition.columns)
        yield from table.to_batches()


class LedgerDataSource(DataSource):
    """``spark.read.format("ledger")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "ledger"

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        files = _live_parquet_files(
            self.options["path"], self.options.get("version")
        )
        return from_arrow_schema(pq.read_schema(files[-1]))

    def reader(self, schema) -> LedgerReader:
        return LedgerReader(schema, self.options)
