"""The three benchmark workloads.

Each workload is a closed loop driven by ``run.py`` with one client:
:meth:`prepare` builds a fresh workspace, :meth:`inputs` generates the
next op's inputs (outside the timed window), :meth:`op` is the timed
call into the program, and :meth:`check` verifies the op's result
against a twin computed without the code under test (outside the timed
window). README.md says why each workload exists and which layers it
stresses.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

import numpy as np
import pyarrow.parquet as pq

import datagen

#: Warehouse registry queries: JVM-only TPC-H/TPC-DS shapes over the
#: star schema, each with a DuckDB ``oracle_sql`` twin.
WAREHOUSE_QUERIES = (
    "flagship_revenue_by_nation",
    "tpch_q15_top_supplier",
    "tpcds_q3_brand_year_sales",
)


# -- ledger layout twin ------------------------------------------------------
#
# The checks and the space accounting read the ledger's files directly:
# ``<table>/_ledger.json`` lists commits; a snapshot is the data dir of
# the last overwrite/merge/update commit plus every later append, each
# in ``v<version:05d>/`` unless the commit points elsewhere.


def ledger_commits(table_dir: str) -> list[dict]:
    with open(os.path.join(table_dir, "_ledger.json")) as f:
        return json.load(f)


def live_commits(commits: list[dict]) -> list[dict]:
    """The commits a snapshot read of ``commits``' last version unions."""
    base = max(
        (i for i, c in enumerate(commits) if c["mode"] != "append"), default=0
    )
    return commits[base:]


def live_dirs(table_dir: str) -> list[str]:
    return [
        c.get("data_dir") or os.path.join(table_dir, f"v{c['version']:05d}")
        for c in live_commits(ledger_commits(table_dir))
    ]


def read_live(table_dir: str, columns=None):
    """The live snapshot of a ledger table as one pandas frame."""
    import pandas as pd

    parts = [pq.read_table(d, columns=columns).to_pandas() for d in live_dirs(table_dir)]
    return pd.concat(parts, ignore_index=True)


def parquet_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


class Workload:
    """Shared shape: subclasses set ``name`` and implement the hooks."""

    name = ""

    def __init__(self, spark, seed: int, ws: str, tracer, params: dict):
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.ws = ws
        self.tracer = tracer
        self.params = params
        #: Arrow bytes of user rows handed to the program so far
        self.user_bytes = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> list[dict]:
        """Op options for the warm-up: every op shape at least twice."""
        return [{}, {}]

    def cycle(self) -> int:
        """Ops in one repeating cycle; a run times whole cycles."""
        return 1

    def inputs(self, i: int, **opts) -> None:
        """Generate op ``i``'s inputs (untimed)."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> bool:
        raise NotImplementedError

    def live_bytes(self) -> int:
        """Parquet bytes of the live snapshots in the workspace."""
        total = 0
        for root, dirs, files in os.walk(self.ws):
            if "_ledger.json" in files:
                total += sum(parquet_bytes(d) for d in live_dirs(root))
                dirs[:] = []
        return total

    def op_counts(self) -> dict:
        """Per-op layer counts read from storage (untimed)."""
        return {}


# -- medallion_cdc -----------------------------------------------------------


class MedallionCdc(Workload):
    """The reference ``patient_notes`` pipeline: bronze change batches
    → ``read_increment`` → ``pseudo_transform`` → ``write_increment``
    into silver, which merges and advances the watermark."""

    name = "medallion_cdc"
    ACTIVITY, TABLE = "patient_notes_silver", "patient_notes"

    def prepare(self):
        from pyspark.sql import types as T

        from data_seedling_spark.config import DateTimeRoundOpt, TableConfig
        from data_seedling_spark.operators.ledger import VersionedTable
        from data_seedling_spark.operators.watermark import WATERMARK_SCHEMA

        spark, p = self.spark, self.params
        self.config = TableConfig(
            primary_keys=["NoteID"],
            free_text_columns=["NoteText"],
            round_datetime_columns={"AppointmentDate": DateTimeRoundOpt.DAY},
            remove_columns=["UserID"],
        )
        self.schema = T.StructType(
            [
                T.StructField("NoteID", T.LongType()),
                T.StructField("NoteText", T.StringType()),
                T.StructField("UserID", T.LongType()),
                T.StructField("AppointmentDate", T.TimestampType()),
            ]
        )
        self.stream = datagen.NoteStream(self.rng, datagen.Corpus(self.rng))
        self.bronze = VersionedTable(spark, f"{self.ws}/bronze", write_partitions=4)
        self.silver = VersionedTable(spark, f"{self.ws}/silver", write_partitions=4)
        self.state = VersionedTable(spark, f"{self.ws}/state", write_partitions=1)
        # The initial load, one batch of inserts, goes straight into all
        # three tables: bronze holds the raw notes, silver their expected
        # pseudonymised rows, and the state row marks bronze's first
        # version as processed.
        ins, _ = self.stream.batch(p["batch_rows"], 0)
        self.user_bytes += ins.nbytes
        version = self.bronze.write(self._frame(ins), mode="overwrite")
        silver_schema = T.StructType(
            [self.schema[0], self.schema[1],
             T.StructField("AppointmentDate", T.TimestampNTZType())]
        )
        expected = [(nid, text, day.astype(object))
                    for nid, (text, day) in self.stream.expected.items()]
        self.silver.write(spark.createDataFrame(expected, silver_schema), mode="overwrite")
        self.state.write(
            spark.createDataFrame(
                [(version + 1, self.ACTIVITY, self.TABLE)], WATERMARK_SCHEMA
            ),
            mode="overwrite",
        )

    def _frame(self, table):
        return self.spark.createDataFrame(table.to_pandas(), self.schema)

    def warmup(self):
        # a deleting op runs every call of a plain op plus the bronze
        # merge, so two of them run every op shape twice
        return [{"deletes": True}, {"deletes": True}]

    def cycle(self):
        return self.params["delete_every"]

    def inputs(self, i, deletes=None):
        p = self.params
        if deletes is None:
            deletes = i % p["delete_every"] == 0
        n_del = p["batch_deletes"] if deletes else 0
        self.batch = self.stream.batch(p["batch_rows"] - n_del, n_del)
        self.user_bytes += self.batch[0].nbytes + self.batch[1].nbytes

    def op(self, i):
        from pyspark.sql import functions as F

        from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE
        from data_seedling_spark.pipelines import pseudonymise
        from data_seedling_spark.streaming import incremental

        ins, dels = self.batch
        self.bronze.write(self._frame(ins), mode="append")
        if dels.num_rows:
            feed = self._frame(dels).withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
            self.bronze.merge(feed, ["NoteID"])
        inc = incremental.read_increment(
            self.spark, self.bronze, self.state, self.ACTIVITY, self.TABLE
        )
        inc = incremental.Increment(
            pseudonymise.pseudo_transform(inc.changes, self.config),
            inc.low_watermark,
            inc.high_watermark,
        )
        incremental.write_increment(
            self.silver, inc, ["NoteID"], self.state, self.ACTIVITY, self.TABLE
        )

    def check(self, i, result):
        silver = read_live(self.silver.path)
        got = {
            f"{r.NoteID}\x1f{r.NoteText}\x1f{np.datetime64(r.AppointmentDate, 'us')}"
            for r in silver.itertuples(index=False)
        }
        want = {
            f"{nid}\x1f{text}\x1f{day}"
            for nid, (text, day) in self.stream.expected.items()
        }
        if len(silver) != len(got) or got != want:
            print(f"medallion_cdc op {i}: silver differs from its twin "
                  f"({len(silver)} rows, {len(got ^ want)} mismatched)", file=sys.stderr)
            return False
        state = read_live(self.state.path)
        row = state[(state.activity == self.ACTIVITY) & (state.table_name == self.TABLE)]
        bronze_latest = ledger_commits(self.bronze.path)[-1]["version"]
        if list(row.low_watermark) != [bronze_latest + 1]:
            print(f"medallion_cdc op {i}: watermark {list(row.low_watermark)} "
                  f"!= bronze latest {bronze_latest} + 1", file=sys.stderr)
            return False
        return True

    def op_counts(self):
        return {"ledger.versions_per_read": len(live_dirs(self.silver.path))}


# -- warehouse_queries --------------------------------------------------------


class WarehouseQueries(Workload):
    """Read-only registry queries over the generated star schema, in a
    seeded order that cycles through every query once per pass."""

    name = "warehouse_queries"

    def prepare(self):
        import duckdb

        from data_seedling_spark.queries import registry
        from tools.check_oracle import frame_digest

        reg = registry()
        self.fns = {q: reg[q].fn for q in WAREHOUSE_QUERIES}
        self.sf_dir = f"{self.ws}/sf"
        self.user_bytes += datagen.write_star_schema(
            self.sf_dir, self.params["sf"], self.rng
        )
        con = duckdb.connect()
        try:
            for f in os.listdir(self.sf_dir):
                con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{f}')"
                )
            self.oracle = {
                q: frame_digest(con.execute(reg[q].oracle).fetchdf())[:3]
                for q in WAREHOUSE_QUERIES
            }
        finally:
            con.close()
        self.order: list[str] = []

    def warmup(self):
        return [{}] * (2 * len(WAREHOUSE_QUERIES))

    def cycle(self):
        # two passes: every query is timed at least twice a cycle
        return 2 * len(WAREHOUSE_QUERIES)

    def inputs(self, i, **opts):
        if not self.order:
            self.order = list(self.rng.permutation(WAREHOUSE_QUERIES))
        self.query = self.order.pop()
        self.spark.catalog.clearCache()

    def op(self, i):
        tr = self.tracer
        with tr.span("queries.build"):
            df = self.fns[self.query](self.spark, self.sf_dir)
        with tr.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.execute"):
            return df.toPandas()

    def check(self, i, result):
        from tools.check_oracle import frame_digest

        got = frame_digest(result)[:3]
        if got != self.oracle[self.query]:
            print(f"warehouse_queries op {i} ({self.query}): {got} != oracle "
                  f"{self.oracle[self.query]}", file=sys.stderr)
            return False
        return True

    def live_bytes(self):
        return sum(
            os.path.getsize(os.path.join(self.sf_dir, f)) for f in os.listdir(self.sf_dir)
        )


# -- lsh_ingest ---------------------------------------------------------------


def band_rows_twin(doc_id: int, text: str, num_perm=16, bands=4, n=3) -> list[tuple]:
    """``(doc_id, band, bkey)`` rows of one document, computed the way the
    index defines them (distinct word ``n``-grams; permutation ``i`` is a
    15-hex-digit window of ``md5("<i // 2>|<shingle>")``; a band key is
    the md5 of its comma-joined signature slice) but in plain Python."""
    words = text.split(" ")
    grams = {" ".join(words[k : k + n]) for k in range(len(words) - n + 1)}
    if not grams:
        return []
    sig = [math.inf] * num_perm
    for g in grams:
        for half in range(num_perm // 2):
            h = hashlib.md5(f"{half}|{g}".encode()).hexdigest()
            a, b = int(h[0:15], 16), int(h[16:31], 16)
            if a < sig[2 * half]:
                sig[2 * half] = a
            if b < sig[2 * half + 1]:
                sig[2 * half + 1] = b
    r = num_perm // bands
    return [
        (doc_id, bi, hashlib.md5(",".join(map(str, sig[bi * r : bi * r + r])).encode()).hexdigest())
        for bi in range(bands)
    ]


class LshIngest(Workload):
    """Append document batches to a source ledger, refresh the
    CDC-maintained MinHash-LSH index, count the batch's new-vs-all
    candidates, and compact the index every ``compact_every`` commits."""

    name = "lsh_ingest"
    BUCKET_CAP = 64

    def prepare(self):
        from pyspark.sql import types as T

        from data_seedling_spark.operators.dedup import MaterializedLshIndex
        from data_seedling_spark.operators.ledger import VersionedTable

        self.schema = T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        )
        self.corpus = datagen.Corpus(self.rng)
        self.src = VersionedTable(self.spark, f"{self.ws}/src", write_partitions=4)
        self.index = MaterializedLshIndex(
            self.spark,
            VersionedTable(self.spark, f"{self.ws}/idx", write_partitions=4),
            text_col="text",
            id_col="doc_id",
            num_perm=16,
            bands=4,
            shingle_n=3,
        )
        self.rows: set[tuple] = set()
        self.buckets: dict[tuple, list[int]] = {}
        self.since_compact = 0
        # the initial load is one batch, of the same shape as an op's
        self._draw(self.params["batch_docs"])
        self.src.write(self._frame(), mode="overwrite")
        self.index.refresh(self.src)
        self.since_compact = 1
        if not self.check(-1, None):
            raise RuntimeError("lsh_ingest: initial index does not match its twin")

    def _draw(self, n: int):
        import pyarrow as pa

        first = len(self.corpus.texts)
        texts = self.corpus.draw(n)
        self.docs = pa.table(
            {"doc_id": pa.array(range(first, first + n), pa.int64()), "text": texts}
        )
        self.user_bytes += self.docs.nbytes
        self.batch_ids = list(range(first, first + n))
        for doc_id, text in zip(self.batch_ids, texts):
            for row in band_rows_twin(doc_id, text):
                self.rows.add(row)
                self.buckets.setdefault(row[1:], []).append(doc_id)

    def _frame(self):
        return self.spark.createDataFrame(self.docs.to_pandas(), self.schema)

    def warmup(self):
        # a compacting op runs every call of a plain op plus the
        # compaction, so two of them run every op shape twice
        return [{"compact": True}, {"compact": True}]

    def cycle(self):
        return self.params["compact_every"]

    def inputs(self, i, compact=None):
        self._draw(self.params["batch_docs"])
        self.compact_now = (
            compact if compact is not None
            else self.since_compact + 1 >= self.params["compact_every"]
        )

    def op(self, i):
        tr = self.tracer
        version = self.src.write(self._frame(), mode="append")
        self.index.refresh(self.src)
        with tr.span("dedup.candidates"):
            inc_ids = self.src.read_changes(version, version).select("doc_id")
            n = self.index.new_vs_all_candidates(inc_ids, bucket_cap=self.BUCKET_CAP).count()
        self.since_compact += 1
        if self.compact_now:
            self.index.table.compact()
            self.since_compact = 0
        return n

    def _candidates_twin(self) -> int:
        """Distinct pairs with a side in the batch that share a bucket and
        the bucket's salt subgroup (the hot-bucket split at the cap)."""
        batch, pairs = set(self.batch_ids), set()

        def sub(band, bkey, doc_id, nsplits):
            h = hashlib.md5(f"{band}:{bkey}:{doc_id}".encode()).hexdigest()
            return int(h[:8], 16) % nsplits

        for doc_id, band, bkey in (r for r in self.rows if r[0] in batch):
            members = self.buckets[(band, bkey)]
            nsplits = -(-len(members) // self.BUCKET_CAP)
            mine = sub(band, bkey, doc_id, nsplits)
            for other in members:
                if other != doc_id and sub(band, bkey, other, nsplits) == mine:
                    pairs.add((min(doc_id, other), max(doc_id, other)))
        return len(pairs)

    def check(self, i, result):
        idx = read_live(self.index.table.path, columns=["doc_id", "band", "bkey"])
        idx = idx[idx.doc_id.notna()]
        got = set(zip(idx.doc_id.astype("int64"), idx.band.astype("int64"), idx.bkey))
        if len(idx) != len(got) or got != self.rows:
            print(f"lsh_ingest op {i}: index differs from one-shot banding "
                  f"({len(idx)} rows, {len(got ^ self.rows)} mismatched)", file=sys.stderr)
            return False
        if result is not None and result != self._candidates_twin():
            print(f"lsh_ingest op {i}: {result} candidates, twin "
                  f"{self._candidates_twin()}", file=sys.stderr)
            return False
        return True

    def op_counts(self):
        # live commits the op's candidate read unioned: the snapshot
        # before this op's compaction, if it compacted
        commits = ledger_commits(self.index.table.path)
        if self.compact_now:
            commits = commits[:-1]
        return {"ledger.versions_per_read": len(live_commits(commits))}


WORKLOADS = {w.name: w for w in (MedallionCdc, WarehouseQueries, LshIngest)}
