"""Custom connectors via the Python Data Source API (Spark 4,
SPARK-44076): the engine's extension point for sources no built-in
reader covers — internal services, bespoke formats, synthetic load.

``SyntheticDocsDataSource`` is the reference implementation: a
deterministic, PARTITIONED document generator (seeded per partition, so
`local[32]` and a 1000-executor cluster produce byte-identical corpora
— the property load-generation and soak tests need). Each partition
plans independently: Spark schedules one task per ``InputPartition``
and the generator never materialises on the driver.

Usage::

    from data_seedling_spark.sources import register_sources
    register_sources(spark)
    df = (spark.read.format("synthetic_docs")
          .option("rows", 10_000).option("partitions", 8).load())
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from .operators.ledger import commit_dir, read_ledger

_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

_WORDS = (
    "the a and of to data spark table row scan filter join merge batch "
    "stream window agg sort hash value part key fast slow big small line "
    "customer order query vector"
).split()

_LANGS = ("en", "de", "es", "fr", "pt")


class _Partition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("partitions", 8))

    def partitions(self):
        per = -(-self.rows // self.n_parts)  # ceil
        return [
            _Partition(i * per, min((i + 1) * per, self.rows))
            for i in range(self.n_parts)
            if i * per < self.rows
        ]

    def read(self, partition):
        # Pure function of doc_id — partitioning never changes content.
        for i in range(partition.start, partition.end):
            n_words = 20 + (i * 37) % 80
            words = [_WORDS[(i * 13 + j * 7) % len(_WORDS)] for j in range(n_words)]
            text = " ".join(words)
            yield (i, text, _LANGS[i % len(_LANGS)], f"synth/{i % 10}", len(text))


class SyntheticDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return SyntheticDocsReader(self.options)


def register_sources(spark) -> None:
    """Register all custom Python data sources on the session."""
    spark.dataSource.register(SyntheticDocsDataSource)


# ---------------------------------------------------------------------------
# Streaming CDC tail over the versioned ledger: readStream.format(
# "ledger_appends").option("path", table_dir) — native Structured
# Streaming offsets over commit versions, so checkpoints give
# exactly-once delivery of each append WITHOUT the foreachBatch/
# availableNow emulation the batch protocol uses.
# ---------------------------------------------------------------------------


class _VersionPartition(InputPartition):
    def __init__(self, data_dir: str, version: int):
        self.data_dir = data_dir
        self.version = version


class LedgerAppendsStreamReader(DataSourceStreamReader):
    """Offsets are ledger commit versions — monotone, replayable, and
    committed by the engine's checkpoint, which is exactly the contract
    the batch watermark table implements by hand (ST1). One input
    partition per new version; executors read that version's parquet
    via pyarrow and tag the CDC metadata columns.

    Append-only by design: a commit other than an append or the
    table's first (its creation, also on a clone or branch) raises
    instead of silently emitting wrong change semantics (full CDC
    replay is the batch ``read_changes`` path)."""

    def __init__(self, options):
        self.path = options["path"]

    def initialOffset(self):
        return {"version": -1}

    def latestOffset(self):
        commits = read_ledger(self.path)
        return {"version": commits[-1].version if commits else -1}

    def partitions(self, start, end):
        commits = read_ledger(self.path)
        parts = []
        for c in commits:
            if not start["version"] < c.version <= end["version"]:
                continue
            if c.mode != "append" and c is not commits[0]:
                raise ValueError(
                    f"ledger_appends is an append-only stream; version "
                    f"{c.version} is a {c.mode} commit — consume it via "
                    "read_changes()"
                )
            parts.append(_VersionPartition(commit_dir(self.path, c), c.version))
        return parts

    def read(self, partition):
        import pyarrow.dataset as ds

        table = ds.dataset(partition.data_dir, format="parquet").to_table()
        for row in table.to_pylist():
            yield tuple(row.values()) + (partition.version,)

    def commit(self, end):
        return None


class LedgerAppendsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ledger_appends"

    def schema(self):
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import LongType, StructField

        commits = read_ledger(self.options["path"])
        if not commits:
            raise ValueError(f"no commits at {self.options['path']}")
        first = commit_dir(self.options["path"], commits[0])
        base = from_arrow_schema(ds.dataset(first, format="parquet").schema)
        return StructType(base.fields + [StructField("_commit_version", LongType())])

    def streamReader(self, schema):
        return LedgerAppendsStreamReader(self.options)


def register_streaming_sources(spark) -> None:
    spark.dataSource.register(LedgerAppendsDataSource)
