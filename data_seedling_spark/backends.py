"""Storage-backend seam: the protocol every pipeline writes against.

The engine's local substrate is :class:`~data_seedling_spark.operators.
ledger.VersionedTable` — a parquet + JSON-commit-ledger table that
reproduces the observable Delta Lake semantics the reference relies on
(change data feed with ``_change_type`` insert/delete rows, time
travel, vacuum, CHECK constraints, mergeSchema evolution; reference
``patient_notes/src/patient_notes/datalake.py:88-94`` reads Delta CDF
with exactly these options). ``TableBackend`` names that contract so a
real delta-spark table can drop in where the jars exist (Databricks /
OSS Delta): :class:`DeltaBackend` is that adapter, import-gated
because this environment ships no Delta jars.

Activation: ``backend_for(spark, path, fmt="delta")`` on a cluster
with ``delta-spark`` installed; everything downstream
(``streaming.incremental``'s read_increment/merge_increment protocol,
the foreachBatch CDC apply, the watermark table) only touches the
protocol surface. ``tests/test_backends.py`` is the conformance suite:
it runs against every *available* backend, so the same assertions that
gate the ledger locally gate Delta wherever it can import.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession

from .operators.ledger import VersionedTable
from .session import sql_conf


@runtime_checkable
class TableBackend(Protocol):
    """The storage contract the engine's pipelines depend on.

    Semantics (the conformance suite asserts each):

    - ``write(df, mode)``: append | overwrite; returns the new version
      (0-based, monotone).
    - ``merge(changes, primary_keys)``: apply an insert/delete change
      feed keyed on ``primary_keys``; update rows are rejected
      upstream (reference merge semantics — S7/S8/S9).
    - ``read(version=None)``: latest or time-travel snapshot.
    - ``read_changes(lo, hi)``: row-level CDF for versions [lo, hi],
      Delta column names (``_change_type``/``_commit_version``/
      ``_commit_timestamp``), overwrite = delete-all + insert-all.
    - ``history()``: commit metadata, newest first.
    - ``update(condition, assignments)``: point UPDATE as a new
      version.
    - ``vacuum(...)``: drop unreferenced data beyond the retention
      policy without breaking the latest snapshot.
    """

    def exists(self) -> bool: ...

    def latest_version(self) -> int: ...

    def write(self, df: DataFrame, mode: str = "append", **kwargs) -> int: ...

    def merge(self, changes: DataFrame, primary_keys: list[str]) -> int: ...

    def read(self, version: int | None = None) -> DataFrame: ...

    def read_changes(self, starting_version: int, ending_version: int) -> DataFrame: ...

    def history(self) -> list[dict]: ...

    def update(self, condition, assignments: dict) -> int: ...

    def empty_like(self) -> DataFrame: ...

    def vacuum(self, retain_last_versions: int | None = None) -> list: ...


class DeltaBackend:
    """delta-spark adapter for :class:`TableBackend`.

    Maps the protocol onto a real Delta table 1:1 — written for the
    delta-spark ≥2.4 API the reference pins
    (``patient_notes/pyproject.toml:14``):

    - ``write`` → ``df.write.format("delta")`` with
      ``delta.enableChangeDataFeed=true`` set at creation,
    - ``merge`` → ``DeltaTable.merge`` with ``whenMatchedDelete`` on
      ``_change_type = 'delete'`` + ``whenNotMatchedInsert`` for
      inserts (update feeds are rejected before the sink, matching the
      ledger's guard),
    - ``read_changes`` → ``spark.read.format("delta")
      .option("readChangeFeed", "true")`` with starting/endingVersion —
      the exact option surface the reference consumes,
    - ``update``/``vacuum``/``history`` → their DeltaTable twins.

    Change data feed is enabled the way the reference does it
    (``patient_notes/conftest.py:58``): the session default
    ``spark.databricks.delta.properties.defaults.enableChangeDataFeed``
    is set at adapter construction, so every table this backend
    creates gets the ``delta.enableChangeDataFeed`` TABLE property in
    its creation commit itself — CDF covers version 0 onward, and no
    reliance on writer-level ``delta.*`` options (which are not
    reliably persisted as table properties across delta-spark
    versions).

    Import-gated: constructing it without delta-spark on the classpath
    raises ImportError with the activation hint; no other module
    imports delta at module scope, so the engine stays runnable
    without the jars.
    """

    def __init__(self, spark: SparkSession, path: str):
        try:
            from delta.tables import DeltaTable  # noqa: F401
        except ImportError as e:  # pragma: no cover - no jars here
            raise ImportError(
                "DeltaBackend needs delta-spark (pip install delta-spark and "
                "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension); "
                "use VersionedTable for the jar-free local substrate"
            ) from e
        self.spark = spark
        self.path = path
        # Reference mechanism for CDF-on-create; a per-table property
        # set post-hoc would miss the creation commit's changes.
        spark.conf.set(
            "spark.databricks.delta.properties.defaults.enableChangeDataFeed",
            "true",
        )

    def _table(self):  # pragma: no cover - exercised only with jars
        from delta.tables import DeltaTable

        return DeltaTable.forPath(self.spark, self.path)

    def exists(self) -> bool:  # pragma: no cover
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(self.spark, self.path)

    def latest_version(self) -> int:  # pragma: no cover
        return int(self._table().history(1).collect()[0]["version"])

    def write(self, df: DataFrame, mode: str = "append", **kwargs) -> int:  # pragma: no cover
        (
            df.write.format("delta")
            .mode(mode)
            .option("mergeSchema", str(kwargs.get("merge_schema", False)).lower())
            .save(self.path)
        )
        return self.latest_version()

    def merge(self, changes: DataFrame, primary_keys: list[str]) -> int:  # pragma: no cover
        from .operators.merge import CHANGE_TYPE, CT_DELETE, CT_INSERT

        cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in primary_keys)
        data_cols = [c for c in changes.columns if c != CHANGE_TYPE]
        (
            self._table()
            .alias("t")
            .merge(changes.alias("s"), cond)
            .whenMatchedDelete(condition=f"s.`{CHANGE_TYPE}` = '{CT_DELETE}'")
            .whenNotMatchedInsert(
                condition=f"s.`{CHANGE_TYPE}` = '{CT_INSERT}'",
                values={f"t.`{c}`": f"s.`{c}`" for c in data_cols},
            )
            .execute()
        )
        return self.latest_version()

    def read(self, version: int | None = None) -> DataFrame:  # pragma: no cover
        reader = self.spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        return reader.load(self.path)

    def read_changes(self, starting_version: int, ending_version: int) -> DataFrame:  # pragma: no cover
        return (
            self.spark.read.format("delta")
            .option("readChangeFeed", "true")
            .option("startingVersion", starting_version)
            .option("endingVersion", ending_version)
            .load(self.path)
            # Delta splits overwrites into update_preimage/postimage
            # when rows match; normalise to the insert/delete vocabulary
            # the engine's apply_change_feed consumes.
            .replace(
                {"update_preimage": "delete", "update_postimage": "insert"},
                subset=["_change_type"],
            )
        )

    def history(self) -> list[dict]:  # pragma: no cover
        return [r.asDict() for r in self._table().history().collect()]

    def update(self, condition, assignments: dict) -> int:  # pragma: no cover
        self._table().update(condition=condition, set=assignments)
        return self.latest_version()

    def empty_like(self) -> DataFrame:  # pragma: no cover
        return self.spark.createDataFrame([], self.read().schema)

    def vacuum(self, retain_last_versions: int | None = None) -> list:  # pragma: no cover
        """Protocol-shaped vacuum. ``None`` → Delta's default-retention
        vacuum (the reference's no-op call shape, S14). An int is
        translated to Delta's hour-based retention via the commit
        timestamp of the Nth-newest version in ``history()`` — files
        referenced by a retained snapshot survive either way. Delta
        guards sub-default retention behind
        ``spark.databricks.delta.retentionDurationCheck.enabled``;
        callers opting into aggressive version-based cleanup must
        disable that check, exactly as on any Delta deployment.
        Returns [] — Delta does not report vacuumed versions, and
        vacuumed history stays queryable, matching the ledger.
        """
        if retain_last_versions is None:
            self._table().vacuum()
            return []
        import datetime

        hist = sorted(self.history(), key=lambda h: h["version"], reverse=True)
        keep = hist[: max(retain_last_versions, 1)]
        cutoff = min(h["timestamp"] for h in keep)
        now = datetime.datetime.now(tz=cutoff.tzinfo)
        hours = max((now - cutoff).total_seconds() / 3600.0, 0.0)
        self._table().vacuum(hours)
        return []


def backend_for(
    spark: SparkSession, path: str, fmt: str = "ledger", **kwargs
) -> TableBackend:
    """Factory: ``fmt="ledger"`` (always available), ``fmt="delta"``
    (requires delta-spark on the classpath), or ``fmt="iceberg"``
    (``path`` is the catalog table identifier; requires an Iceberg
    catalog configured on the session)."""
    if fmt == "delta":
        return DeltaBackend(spark, path)
    if fmt == "iceberg":
        return IcebergBackend(spark, path)
    if fmt == "ledger":
        return VersionedTable(spark, path, **kwargs)
    raise ValueError(f"unknown table backend {fmt!r} (ledger | delta | iceberg)")


class IcebergBackend:
    """Apache Iceberg adapter for :class:`TableBackend` (config-gated:
    Iceberg ships as JVM jars + catalog conf, no Python package — the
    gate probes the Spark catalog instead of an import).

    Identity: Iceberg tables live in a CATALOG (``cat.db.table``), not
    at a bare path — the constructor takes the table identifier and
    verifies its catalog is configured
    (``spark.sql.catalog.<cat> = org.apache.iceberg.spark.SparkCatalog``
    plus ``spark.sql.extensions = ...IcebergSparkSessionExtensions``),
    raising with the activation recipe otherwise.

    Version mapping: the protocol's 0-based monotone version is the
    table's snapshot INDEX in ``committed_at`` order (Iceberg snapshot
    ids are random longs; the ordered-index view restores the ledger/
    Delta numbering contract). Mappings:

    - ``write`` → ``df.writeTo(ident).append()`` /
      ``.createOrReplace()``;
    - ``merge`` → SQL ``MERGE INTO`` with ``WHEN MATCHED AND
      s._change_type='delete' THEN DELETE`` + ``WHEN NOT MATCHED AND
      s._change_type='insert' THEN INSERT`` (update feeds rejected
      upstream, same guard as the ledger);
    - ``read(version)`` → ``VERSION AS OF <snapshot_id>``;
    - ``read_changes`` → the ``.changes`` changelog relation sliced by
      start/end snapshot ids, change types lowercased to the Delta
      vocabulary the engine consumes;
    - ``update`` → SQL ``UPDATE``;
    - ``vacuum(retain_last_versions=N)`` →
      ``CALL <cat>.system.expire_snapshots(table => ..., retain_last
      => N)`` — Iceberg's retention is natively version-counted, so
      the protocol signature maps with no timestamp arithmetic
      (unlike Delta's hour-based translation above).

    ``tests/test_backends.py`` auto-adds this backend to the
    conformance matrix when a session catalog named ``iceberg`` (or
    ``ICEBERG_TEST_CATALOG``) resolves.
    """

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier
        cat = identifier.split(".", 1)[0]
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{cat}")
        except Exception:
            impl = None
        if not impl or "iceberg" not in impl.lower():
            raise RuntimeError(
                f"IcebergBackend needs an Iceberg catalog at "
                f"spark.sql.catalog.{cat} (org.apache.iceberg.spark."
                f"SparkCatalog + iceberg-spark-runtime jars + "
                f"spark.sql.extensions=org.apache.iceberg.spark.extensions."
                f"IcebergSparkSessionExtensions); use VersionedTable for "
                f"the jar-free local substrate"
            )
        self._catalog = cat

    # -- helpers -------------------------------------------------------------

    @staticmethod
    def order_snapshots(rows: list[dict]) -> list[dict]:
        """Version numbering contract: snapshots order by commit time
        with a snapshot_id tiebreak. committed_at has millisecond
        grain, so two fast commits can share a timestamp — without the
        tiebreak the version→snapshot_id mapping would be
        nondeterministic across calls."""
        return sorted(rows, key=lambda r: (r["committed_at"], r["snapshot_id"]))

    def _snapshots(self) -> list[dict]:  # pragma: no cover - needs jars
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at FROM "
            f"{self.identifier}.snapshots"
        ).collect()
        return self.order_snapshots([r.asDict() for r in rows])

    def _snapshot_id(self, version: int) -> int:  # pragma: no cover
        snaps = self._snapshots()
        if not 0 <= version < len(snaps):
            raise ValueError(
                f"{self.identifier}: no version {version} "
                f"(have 0..{len(snaps) - 1})"
            )
        return snaps[version]["snapshot_id"]

    # -- protocol ------------------------------------------------------------

    def exists(self) -> bool:  # pragma: no cover
        return self.spark.catalog.tableExists(self.identifier)

    def latest_version(self) -> int:  # pragma: no cover
        return len(self._snapshots()) - 1

    def write(self, df: DataFrame, mode: str = "append", **kwargs) -> int:  # pragma: no cover
        writer = df.writeTo(self.identifier)
        if mode == "overwrite" or not self.exists():
            writer.createOrReplace()
        elif kwargs.get("merge_schema"):
            # check-ordering is a SESSION conf on a shared SparkSession:
            # relax it only for this append.
            key = f"spark.sql.catalog.{self._catalog}.check-ordering"
            with sql_conf(self.spark, **{key: "false"}):
                writer.option("merge-schema", "true").append()
        else:
            writer.append()
        return self.latest_version()

    def merge(self, changes: DataFrame, primary_keys: list[str]) -> int:  # pragma: no cover
        from .operators.merge import CHANGE_TYPE, CT_DELETE, CT_INSERT

        view = "_ds_merge_src"
        changes.createOrReplaceTempView(view)
        cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in primary_keys)
        data_cols = [c for c in changes.columns if c != CHANGE_TYPE]
        cols = ", ".join(f"`{c}`" for c in data_cols)
        vals = ", ".join(f"s.`{c}`" for c in data_cols)
        self.spark.sql(
            f"MERGE INTO {self.identifier} t USING {view} s ON {cond} "
            f"WHEN MATCHED AND s.`{CHANGE_TYPE}` = '{CT_DELETE}' THEN DELETE "
            f"WHEN NOT MATCHED AND s.`{CHANGE_TYPE}` = '{CT_INSERT}' "
            f"THEN INSERT ({cols}) VALUES ({vals})"
        )
        return self.latest_version()

    def read(self, version: int | None = None) -> DataFrame:  # pragma: no cover
        if version is None:
            return self.spark.table(self.identifier)
        return (
            self.spark.read.option("snapshot-id", self._snapshot_id(version))
            .table(self.identifier)
        )

    def read_changes(self, starting_version: int, ending_version: int) -> DataFrame:  # pragma: no cover
        from pyspark.sql import functions as F

        reader = self.spark.read.format("iceberg")
        if starting_version > 0:
            reader = reader.option(
                "start-snapshot-id", self._snapshot_id(starting_version - 1)
            )
        reader = reader.option(
            "end-snapshot-id", self._snapshot_id(ending_version)
        )
        chg = reader.load(f"{self.identifier}.changes")
        return chg.withColumn(
            "_change_type", F.lower(F.col("_change_type"))
        ).replace(
            {"update_before": "delete", "update_after": "insert"},
            subset=["_change_type"],
        )

    def history(self) -> list[dict]:  # pragma: no cover
        snaps = self._snapshots()
        return [
            {"version": i, "snapshot_id": s["snapshot_id"],
             "timestamp": s["committed_at"]}
            for i, s in reversed(list(enumerate(snaps)))
        ]

    def update(self, condition, assignments: dict) -> int:  # pragma: no cover
        sets = ", ".join(f"`{c}` = {expr}" for c, expr in assignments.items())
        self.spark.sql(
            f"UPDATE {self.identifier} SET {sets} WHERE {condition}"
        )
        return self.latest_version()

    def empty_like(self) -> DataFrame:  # pragma: no cover
        return self.spark.createDataFrame([], self.read().schema)

    def vacuum(self, retain_last_versions: int | None = None) -> list:  # pragma: no cover
        if retain_last_versions is None:
            return []
        self.spark.sql(
            f"CALL {self._catalog}.system.expire_snapshots("
            f"table => '{self.identifier}', "
            f"retain_last => {max(retain_last_versions, 1)})"
        )
        return []
