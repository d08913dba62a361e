"""Versioned table substrate: Parquet + JSON commit ledger.

Reproduces the observable semantics of the reference's Delta Lake usage
(SURVEY §1.1, §2.1) without Delta on the classpath:

- every write is a numbered **version** (S6; reference ``datalake.py:225``),
- ``read_changes(lo, hi)`` is the CDC scan (S2; reference
  ``datalake.py:88-94``) emitting ``_change_type`` /
  ``_commit_version`` / ``_commit_timestamp`` rows, including
  *overwrite = delete-all-previous + insert-all-new* (reference
  ``test_datalake.py:273-334``),
- ``latest_version()`` is the table-history scan (S11; reference
  ``watermark.py:98-103``),
- ``merge(changes, pks)`` is the MERGE sink (S7/S8/S9; reference
  ``datalake.py:142-239``) built on ``operators.merge``,
- ``update(...)`` is the point-UPDATE (S10; reference
  ``watermark.py:125-130``).

Layout::

    table_dir/
      _ledger.json          # ordered commit records
      v00000/*.parquet      # rows written by that commit
      v00003.changes/       # explicit change rows (merge/update commits)

A merge whose feed is only inserts of fresh, unique keys commits as an
``append``: its version dir holds just the feed's rows and it has no
``.changes`` dir (its change feed is those rows as inserts). Every
other merge commits the full new snapshot plus its ``.changes`` dir.

The snapshot rule is also read from outside the engine: the benchmark's
correctness twin (``perfbench/workloads.py`` ``live_commits`` /
``read_live``) rebuilds a snapshot as the last non-append commit's dir
plus every later append, straight from ``_ledger.json``. Insert-only
merges keep that rule unchanged. A layout that adds files a read must
subtract (key files, tombstones) makes that twin count deleted rows, so
such a change lands only after the benchmark's reader learns the new
rule.

Every dir a commit writes goes through ``tables.write_parquet_dir``,
which seeds the schema cache with the schema it wrote, and every read
through ``tables.scan_parquet``, which replays it: no scan of a dir this
process wrote runs a schema-inference job.

Scale note: this substrate is the *local test double* for Delta/Iceberg
— the protocol (watermark + change-feed read + idempotent merge) is
what the engine owns; on a real lakehouse the same call sites bind to
``spark.read.format("delta").option("readChangeFeed", ...)``. A snapshot
read is ONE multi-path parquet scan over the dirs live at that version,
as a Delta snapshot is one scan of its live files, so Catalyst sees a
plain parquet scan with full pushdown/pruning.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import (
    CHANGE_TYPE,
    COMMIT_TIMESTAMP,
    COMMIT_VERSION,
    CT_DELETE,
    CT_INSERT,
    RESERVED_COLUMNS,
    apply_change_feed,
    strip_reserved_columns,
)
from ..tables import SchemaMismatchError, _as_written, scan_parquet
from ..tables import seed_schema, write_parquet_dir

_LEDGER = "_ledger.json"
_CLAIMS = "_claims"


class NoSuchVersionError(ValueError):
    pass


class ConcurrentWriteConflictError(RuntimeError):
    """Another writer claimed the target version first (optimistic
    concurrency): re-read the table and retry the operation, or let
    the built-in retry loops do it (blind appends and merges retry
    automatically; overwrites surface the conflict)."""


class ConstraintViolationError(ValueError):
    """A write violated a CHECK constraint (Delta invariant parity)."""


@dataclass
class Commit:
    version: int
    mode: str  # "overwrite" | "append" | "merge"
    timestamp_ms: int
    has_changes_dir: bool = False
    #: shallow-clone pointer: when set, this commit's data files live
    #: in another table's version directory (absolute path). The clone
    #: never owns them — vacuum/compact only touch LOCAL version dirs.
    data_dir: str | None = None

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "mode": self.mode,
            "timestamp_ms": self.timestamp_ms,
            "has_changes_dir": self.has_changes_dir,
            "data_dir": self.data_dir,
        }


class VersionedTable:
    """A parquet table with Delta-like versioning + change feed."""

    def __init__(
        self, spark: SparkSession, path: str, write_partitions: int | None = None
    ):
        """``write_partitions`` caps output files per commit — set it
        for small/state tables so each version is one or a few files;
        leave ``None`` for data tables (writer parallelism preserved)."""
        self.spark = spark
        self.path = path
        self.write_partitions = write_partitions

    def _shape(self, df: DataFrame) -> DataFrame:
        return df.coalesce(self.write_partitions) if self.write_partitions else df

    def _write_dir(self, df: DataFrame, d: str):
        """Write ``df`` as the immutable dir ``d`` and return the schema
        it wrote, seeded for every later scan
        (:func:`tables.write_parquet_dir`)."""
        return write_parquet_dir(self._shape(df), d)

    # -- ledger bookkeeping -------------------------------------------------

    def _ledger_path(self) -> str:
        return os.path.join(self.path, _LEDGER)

    def commits(self) -> list[Commit]:
        if not os.path.exists(self._ledger_path()):
            return []
        with open(self._ledger_path()) as f:
            return [Commit(**c) for c in json.load(f)]

    def _write_ledger(self, commits: list[Commit]) -> None:
        tmp = self._ledger_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump([c.to_json() for c in commits], f, indent=1)
        os.replace(tmp, self._ledger_path())  # atomic commit point

    # -- optimistic concurrency ---------------------------------------------
    #
    # Multi-writer protocol (Delta-style OCC, single-FS flavor): before
    # writing version N, a writer takes an EXCLUSIVE claim on N via
    # O_CREAT|O_EXCL — the one atomic-create point every shared
    # filesystem gives. Exactly one concurrent writer wins each version
    # number; losers see ConcurrentWriteConflictError and either retry
    # against the advanced snapshot (blind appends, merges — they
    # commute / recompute) or surface the conflict (overwrites, whose
    # intent may be stale). The ledger file itself is still written
    # only by claim holders, in version order, so its atomic-rename
    # update needs no further coordination. A writer that crashes
    # between claim and ledger write leaves a stale claim blocking its
    # version; `clear_stale_claims` is the documented recovery.

    def _claim_path(self, version: int) -> str:
        return os.path.join(self.path, _CLAIMS, f"{version:05d}.claim")

    def _claim(self, version: int) -> None:
        os.makedirs(os.path.join(self.path, _CLAIMS), exist_ok=True)
        try:
            fd = os.open(
                self._claim_path(version), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            raise ConcurrentWriteConflictError(
                f"{self.path}: version {version} already claimed by a "
                "concurrent writer; re-read and retry"
            ) from None
        with os.fdopen(fd, "w") as f:
            json.dump({"pid": os.getpid(), "ts_ms": int(time.time() * 1000)}, f)

    def _release_claim(self, version: int) -> None:
        try:
            os.remove(self._claim_path(version))
        except FileNotFoundError:
            pass

    def _await_version(self, version: int, timeout_s: float = 30.0) -> bool:
        """After losing a claim race, wait for the winner's ledger
        entry to land before recomputing (the claim exists for the
        winner's whole data-write window; retrying before the ledger
        advances just re-collides). True once ``version`` is
        committed; False on timeout — a stale claim from a crashed
        writer (see :meth:`clear_stale_claims`)."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            commits = self.commits()
            if commits and commits[-1].version >= version:
                return True
            time.sleep(0.05)
        return False

    def clear_stale_claims(self, older_than_s: float = 3600.0) -> list[int]:
        """Recovery for crashed writers: drop claims that never became
        commits and are older than ``older_than_s``. Claims at or below
        the latest committed version are always garbage (their race was
        decided); the claim for latest+1 is removed only past the age
        threshold, since a live writer may hold it mid-commit."""
        claims_dir = os.path.join(self.path, _CLAIMS)
        if not os.path.isdir(claims_dir):
            return []
        committed = {c.version for c in self.commits()}
        latest = max(committed, default=-1)
        now_ms = time.time() * 1000
        cleared = []
        for name in sorted(os.listdir(claims_dir)):
            v = int(name.split(".")[0])
            if v in committed or v <= latest:
                os.remove(os.path.join(claims_dir, name))
                cleared.append(v)
                continue
            try:
                with open(os.path.join(claims_dir, name)) as f:
                    ts = json.load(f).get("ts_ms", 0)
            except (json.JSONDecodeError, OSError):
                ts = 0
            if now_ms - ts > older_than_s * 1000:
                os.remove(os.path.join(claims_dir, name))
                cleared.append(v)
        return cleared

    def exists(self) -> bool:
        return bool(self.commits())

    def latest_version(self) -> int:
        """S11 high-watermark read (reference ``watermark.py:98-103``)."""
        commits = self.commits()
        if not commits:
            raise NoSuchVersionError(f"table {self.path} has no commits")
        return commits[-1].version

    def history(self) -> list[dict]:
        return [c.to_json() for c in self.commits()]

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version:05d}")

    def _changes_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version:05d}.changes")

    def _commit_data_dir(self, c: Commit) -> str:
        """Where this commit's data files actually live: the local
        version dir, or (shallow clone) the source table's dir."""
        return c.data_dir or self._version_dir(c.version)

    # -- writes ---------------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        merge_schema: bool = False,
        constraints: dict[str, "F.Column"] | None = None,
        expected_version: int | None = None,
        max_retries: int = 2,
        collect_stats: list[str] | None = None,
    ) -> int:
        """S6 sink: persist ``df`` as a new version. ``mode`` is
        ``append`` or ``overwrite`` (a create is an overwrite of an
        empty table). Reserved CDC columns are stripped before the
        write (reference ``datalake.py:219-223``).

        ``merge_schema=True`` is Delta's ``mergeSchema`` append
        evolution: the incoming frame may ADD nullable columns (shared
        columns must still type-match); older versions surface NULLs
        for the new columns on read. ``constraints`` maps name →
        boolean Column (Delta CHECK-invariant parity): the data is
        written first, then all constraints are counted in ONE
        aggregate pass over the *materialised* parquet (so the upstream
        pipeline executes exactly once, like ``merge``); on any
        violation the ledger entry is never committed — the orphaned
        directory stays invisible to readers — and the write raises
        with per-constraint violation counts. NULL predicate results
        count as violations (a constraint must prove itself true).

        Concurrency (OCC): the target version is claimed exclusively
        before any data lands. On a claim conflict, blind appends
        retry against the advanced snapshot up to ``max_retries``
        (appends commute); overwrites raise — their intent was formed
        against a snapshot that no longer exists.
        ``expected_version`` makes read-modify-write safe: the write
        aborts if the table advanced past the version the caller read
        (what :meth:`update` passes).

        ``collect_stats=[cols]`` records per-file min/max stats for the
        new version at commit time (Delta stats parity — see
        :meth:`collect_file_stats` / :meth:`read_pruned`); stats are
        written inside the version dir before the ledger entry, so they
        can never exist for an uncommitted version's readers.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")
        attempts = 0
        while True:
            commits = self.commits()
            latest = commits[-1].version if commits else -1
            if expected_version is not None and latest != expected_version:
                raise ConcurrentWriteConflictError(
                    f"{self.path}: expected latest version {expected_version}, "
                    f"found {latest}; re-read and retry the read-modify-write"
                )
            if mode == "append" and commits:
                self._validate_schema(df, merge_schema=merge_schema)
            version = latest + 1
            os.makedirs(self.path, exist_ok=True)
            try:
                self._claim(version)
                break
            except ConcurrentWriteConflictError:
                attempts += 1
                if (
                    mode == "append"
                    and expected_version is None
                    and attempts <= max_retries
                    and self._await_version(version)
                ):
                    continue
                raise
        try:
            vdir = self._version_dir(version)
            schema = self._write_dir(strip_reserved_columns(df), vdir)
            if constraints:
                self._check_constraints(scan_parquet(self.spark, vdir), constraints)
            if collect_stats:
                # Delta-parity: stats land at write time (footer-only
                # metadata reads), so readers can prune immediately.
                self.collect_file_stats(version, collect_stats)
                # the sidecar moved the dir's mtime: seed the new key
                seed_schema(vdir, schema)
            commits.append(Commit(version, mode, int(time.time() * 1000)))
            self._write_ledger(commits)
        except BaseException:
            # failed or aborted writes must not block the version slot
            self._release_claim(version)
            raise
        return version

    def _check_constraints(self, df: DataFrame, constraints: dict) -> None:
        counts = df.agg(
            *[
                F.sum(
                    F.when(F.coalesce(expr, F.lit(False)), 0).otherwise(1)
                ).alias(name)
                for name, expr in constraints.items()
            ]
        ).first()
        violated = {n: counts[n] for n in constraints if (counts[n] or 0) > 0}
        if violated:
            raise ConstraintViolationError(
                f"write to {self.path} rejected; violations: {violated}"
            )

    def merge(
        self, changes: DataFrame, primary_keys: list[str], max_retries: int = 2
    ) -> int:
        """S7/S8/S9 MERGE sink: apply a CDC feed (insert/delete rows,
        updates rejected) and commit the new snapshot plus the explicit
        change rows for downstream CDF readers.

        The feed is materialised once (the ``.changes`` dir). When every
        row is an ``insert`` of a key that is unique in the feed and
        absent from the target, the merge's net effect is the feed
        itself: it is written as the new version dir and committed as
        an ``append`` (the ``.changes`` dir is removed), so the commit
        costs O(changes) and ``read_changes`` reports its rows as
        inserts, as for any append. Delta's insert-only MERGE likewise
        writes only the new files. Any other feed commits a ``merge``:
        the full snapshot from ``apply_change_feed`` plus the change
        rows. The snapshot rule is the same for both (last non-append
        commit plus later appends). The insert-only test runs first,
        so a removal-bearing feed pays one extra job for the decision.

        Concurrency (OCC): the version is claimed before the target
        snapshot is read, so the snapshot the feed applies to is the
        claim's immediate predecessor. A claim conflict retries the
        whole merge against the advanced table (each attempt
        recomputes from a fresh ``read()``, so retrying is safe) up to
        ``max_retries``."""
        attempts = 0
        while True:
            commits = self.commits()
            version = commits[-1].version + 1 if commits else 0
            try:
                self._claim(version)
                break
            except ConcurrentWriteConflictError:
                attempts += 1
                if attempts <= max_retries and self._await_version(version):
                    continue
                raise
        try:
            target = self.read()
            # Write the feed first, then compute the snapshot FROM the
            # written parquet: the (possibly expensive) upstream feed
            # pipeline executes exactly once — the insert-only checks,
            # the guard count inside apply_change_feed and the two
            # anti-joins all read the materialised copy.
            feed_cols = [
                c for c in changes.columns if c in (*target.columns, *RESERVED_COLUMNS)
            ]
            cdir = self._changes_dir(version)
            self._write_dir(changes.select(*feed_cols), cdir)
            materialised = scan_parquet(self.spark, cdir)
            if _fresh_inserts(target, materialised, primary_keys):
                self._write_dir(
                    materialised.select(*target.columns), self._version_dir(version)
                )
                shutil.rmtree(cdir)
                commit = Commit(version, "append", int(time.time() * 1000))
            else:
                new_snapshot = apply_change_feed(target, materialised, primary_keys)
                self._write_dir(new_snapshot, self._version_dir(version))
                commit = Commit(
                    version, "merge", int(time.time() * 1000), has_changes_dir=True
                )
            commits.append(commit)
            self._write_ledger(commits)
        except BaseException:
            self._release_claim(version)
            raise
        return version

    def update(self, condition, assignments: dict) -> int:
        """S10 point UPDATE (reference ``watermark.py:125-130``): new
        version with ``assignments`` applied where ``condition`` holds.
        Read-modify-write: the target version is claimed first and the
        update aborts with ConcurrentWriteConflictError if another
        writer advanced the table, instead of silently dropping the
        concurrent rows.

        Delta CDF UPDATE parity: the commit records ROW-LEVEL change
        images — each matched row as ``update_preimage`` (old values) +
        ``update_postimage`` (new values) — and ``read_changes``
        surfaces them verbatim, so CDC consumers see exactly what
        changed instead of the coarse whole-snapshot delete+insert an
        overwrite commit implies. Unmatched rows emit nothing. The
        commit itself is a full snapshot (mode ``update`` is a base
        for time travel, like overwrite/merge)."""
        from .merge import CT_UPDATE_POST, CT_UPDATE_PRE

        expected = self.latest_version()
        commits = self.commits()
        version = expected + 1
        self._claim(version)
        try:
            if self.latest_version() != expected:
                raise ConcurrentWriteConflictError(
                    f"{self.path}: table advanced past version {expected} "
                    "during update; re-read and retry"
                )
            df = self.read()
            updated = df
            for col_name, value in assignments.items():
                updated = updated.withColumn(
                    col_name,
                    F.when(condition, value).otherwise(F.col(col_name)),
                )
            self._write_dir(strip_reserved_columns(updated), self._version_dir(version))
            pre = df.where(condition)
            post = pre
            for col_name, value in assignments.items():
                post = post.withColumn(col_name, value)
            changes = pre.withColumn(CHANGE_TYPE, F.lit(CT_UPDATE_PRE)).unionByName(
                post.withColumn(CHANGE_TYPE, F.lit(CT_UPDATE_POST))
            )
            self._write_dir(changes, self._changes_dir(version))
            commits.append(
                Commit(
                    version,
                    "update",
                    int(time.time() * 1000),
                    has_changes_dir=True,
                )
            )
            self._write_ledger(commits)
        except BaseException:
            self._release_claim(version)
            raise
        return version

    def _validate_schema(self, df: DataFrame, merge_schema: bool = False) -> None:
        """Delta-style schema validation on append (reference
        ``design_doc.md:47``): same column names and types as the
        current snapshot, order-insensitive. Overwrites may evolve the
        schema; appends may not silently diverge. With
        ``merge_schema`` the incoming frame may be a superset (new
        columns evolve the table; shared columns must still
        type-match) — Delta's ``mergeSchema`` option."""
        written = _as_written(strip_reserved_columns(df).schema)  # as a scan reads it
        incoming = {f.name: f.dataType for f in written.fields}
        current = {f.name: f.dataType for f in self.schema().fields}
        if merge_schema:
            mismatched = {
                n for n, t in current.items() if n in incoming and incoming[n] != t
            }
            missing = set(current) - set(incoming)
            if mismatched or missing:
                raise SchemaMismatchError(
                    f"mergeSchema append at {self.path}: type-changed "
                    f"{sorted(mismatched)}, dropped {sorted(missing)} "
                    "(evolution may only ADD columns)"
                )
            return
        if incoming != current:
            raise SchemaMismatchError(
                f"append schema {sorted(incoming)} does not match table "
                f"schema {sorted(current)} at {self.path}"
            )

    # -- reads ----------------------------------------------------------------

    def _live_versions(self, as_of: int) -> list[Commit]:
        """Commits contributing to the snapshot at ``as_of``: the latest
        overwrite/merge at-or-before it, plus later appends."""
        commits = [c for c in self.commits() if c.version <= as_of]
        if not commits:
            raise NoSuchVersionError(f"{self.path}: no version <= {as_of}")
        base = 0
        for i, c in enumerate(commits):
            if c.mode in ("overwrite", "merge", "update"):
                base = i
        return commits[base:]

    def read(self, version: int | None = None) -> DataFrame:
        """S1 snapshot scan (optionally time-travel to ``version``): ONE
        parquet scan over every live commit's dir, however many appends
        are live. After a ``mergeSchema`` append, older commits read
        NULLs for the added columns (Delta read semantics)."""
        as_of = self.latest_version() if version is None else version
        live = self._live_versions(as_of)
        vacuumed = [c.version for c in live if not os.path.exists(self._commit_data_dir(c))]
        if vacuumed:
            raise NoSuchVersionError(
                f"{self.path}: snapshot {as_of} needs vacuumed version(s) {vacuumed}"
            )
        return scan_parquet(self.spark, [self._commit_data_dir(c) for c in live])

    # -- file statistics / data skipping ------------------------------------
    #
    # Delta parity: the transaction log records per-file min/max column
    # stats at WRITE time, and readers prune files from the manifest
    # before any scan task launches. At 100 TB that is the difference
    # between opening every footer in the table and opening only the
    # files whose [min, max] can intersect the predicate. Stats live in
    # a `_file_stats.json` sidecar per version dir (footer-only pyarrow
    # reads at commit time — metadata, not data); files or columns
    # without stats are always kept (pruning is a safe
    # over-approximation, never a correctness gate).

    def _stats_path(self, version: int) -> str:
        return os.path.join(self._version_dir(version), "_file_stats.json")

    def collect_file_stats(self, version: int, columns: list[str]) -> dict:
        """Record per-file [min, max] for ``columns`` of one committed
        version. Footer-only reads (O(files) metadata RPCs, no data);
        min/max come from parquet row-group statistics aggregated per
        file. Values are stored JSON-native (numbers/strings;
        timestamps as ISO strings via ``str``), compared on read with
        the same coercion. A column whose statistics pyarrow cannot
        extract (decimal) is recorded as having none."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        stats: dict[str, dict[str, list]] = {}
        for fpath in sorted(
            glob.glob(os.path.join(self._version_dir(version), "*.parquet"))
        ):
            md = pq.ParquetFile(fpath).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            per_col: dict[str, list] = {}
            for col in columns:
                if col not in names:
                    continue
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(names[col]).statistics
                    try:
                        usable = st is not None and st.has_min_max
                        if usable:
                            mins.append(st.min)
                            maxs.append(st.max)
                    except pa.ArrowNotImplementedError:  # e.g. decimal
                        usable = False
                    if not usable:
                        mins = []
                        break
                if mins:
                    per_col[col] = [
                        _json_stat(min(mins)), _json_stat(max(maxs))
                    ]
            if per_col:
                stats[os.path.basename(fpath)] = per_col
        tmp = self._stats_path(version) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stats, f, indent=1)
        os.replace(tmp, self._stats_path(version))
        return stats

    def read_pruned(
        self,
        ranges: dict[str, tuple] | None = None,
        version: int | None = None,
        equals: dict | None = None,
    ) -> DataFrame:
        """Snapshot scan that skips files whose metadata proves they
        cannot satisfy the predicate: ``ranges`` (col → (lo, hi),
        either bound None for half-open) prunes on min/max stats;
        ``equals`` (col → value) additionally probes the per-file
        Bloom index (``collect_bloom_index``) — the point-lookup case
        where min/max is useless because every file spans the key
        range. The surviving files still go through the normal Spark
        scan — callers apply their actual filter on top, so pruning
        only ever removes provably-dead IO (Bloom has no false
        negatives). Files without recorded stats/blooms are kept."""
        ranges = ranges or {}
        as_of = self.latest_version() if version is None else version
        dirs = [self._commit_data_dir(c) for c in self._live_versions(as_of)]
        kept = []
        for vdir in dirs:
            stats = {}
            stats_path = os.path.join(vdir, "_file_stats.json")
            if os.path.exists(stats_path):
                with open(stats_path) as f:
                    stats = json.load(f)
            blooms = {}
            bloom_path = os.path.join(vdir, "_bloom_index.json")
            if equals and os.path.exists(bloom_path):
                with open(bloom_path) as f:
                    blooms = json.load(f)
            kept += [
                f
                for f in sorted(glob.glob(os.path.join(vdir, "*.parquet")))
                if _file_may_match(stats.get(os.path.basename(f)), ranges)
                and _bloom_may_match(
                    blooms.get(os.path.basename(f)), equals or {}
                )
            ]
        if not kept:
            return self.empty_like()
        return scan_parquet(self.spark, dirs, files=kept)

    def _bloom_path(self, version: int) -> str:
        return os.path.join(self._version_dir(version), "_bloom_index.json")

    def collect_bloom_index(
        self, version: int, columns: list[str], bits_per_key: int = 10
    ) -> dict:
        """Record a per-file Bloom filter over ``columns`` of one
        committed version — the Hudi/Delta bloom-index pattern for
        point lookups on high-cardinality keys, where min/max stats
        prune nothing because every file spans the key range.

        Unlike ``collect_file_stats`` this reads the indexed COLUMN
        data (not just footers) — the index build is a deliberate
        one-time cost per commit, paid on the few key columns worth
        indexing. Sizing is the textbook optimum: m = bits_per_key ×
        distinct keys, k = round(ln2 · m/n) hashes (≈1% false
        positives at 10 bits/key). Bits serialize as base64 into a
        ``_bloom_index.json`` sidecar."""
        import base64
        import pyarrow.parquet as pq

        index: dict[str, dict] = {}
        for fpath in sorted(
            glob.glob(os.path.join(self._version_dir(version), "*.parquet"))
        ):
            pf = pq.ParquetFile(fpath)
            present = [c for c in columns if c in pf.schema_arrow.names]
            if not present:
                continue
            table = pf.read(columns=present)
            per_col: dict[str, dict] = {}
            for col in present:
                values = {v for v in table.column(col).to_pylist() if v is not None}
                if not values:
                    continue
                n = len(values)
                m = max(64, bits_per_key * n)
                k = max(1, round(0.693 * m / n))
                bits = bytearray((m + 7) // 8)
                for v in values:
                    for pos in _bloom_positions(v, m, k):
                        bits[pos >> 3] |= 1 << (pos & 7)
                per_col[col] = {
                    "m": m,
                    "k": k,
                    "bits": base64.b64encode(bytes(bits)).decode(),
                }
            if per_col:
                index[os.path.basename(fpath)] = per_col
        tmp = self._bloom_path(version) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(index, f)
        os.replace(tmp, self._bloom_path(version))
        return index

    def version_at_timestamp(self, timestamp_ms: int) -> int:
        """Timestamp-based time travel (the ``timestampAsOf`` half of
        the Delta contract, next to ``read(version)``'s ``versionAsOf``):
        latest version whose commit timestamp is at-or-before the given
        epoch-millis. Driver-side over the JSON ledger — commit counts,
        not data, so O(commits)."""
        eligible = [c.version for c in self.commits() if c.timestamp_ms <= timestamp_ms]
        if not eligible:
            raise NoSuchVersionError(
                f"{self.path}: no commit at or before timestamp {timestamp_ms}"
            )
        return max(eligible)

    def read_at_timestamp(self, timestamp_ms: int) -> DataFrame:
        """Snapshot as of an epoch-millis timestamp."""
        return self.read(self.version_at_timestamp(timestamp_ms))

    def schema(self):
        return self.read().schema

    # -- restore / tags -----------------------------------------------------

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION`` parity: commit the
        historical snapshot as a NEW overwrite version — history stays
        intact (the bad versions remain queryable and vacuumable), the
        change feed shows the restore as delete-all + re-insert, and
        downstream incremental consumers therefore converge on the
        restored state with no special casing."""
        return self.write(self.read(version), mode="overwrite")

    def clone(self, dest_path: str, version: int | None = None) -> "VersionedTable":
        """Zero-copy shallow clone (Delta ``CREATE TABLE ... SHALLOW
        CLONE`` parity): create a NEW ledger at ``dest_path`` whose
        commits POINT at this table's data files for the snapshot at
        ``version`` — no data is copied, the clone is O(metadata).

        Semantics:

        - the clone's history is the source's live commits at the
          cloned version (base recorded as ``overwrite`` + the live
          appends), keeping their version numbers, so time travel
          inside the cloned range works;
        - subsequent writes land in the clone's OWN directory and
          never touch the source;
        - ``vacuum`` on either side is safe: each table only ever
          deletes its LOCAL version dirs (pointer commits aren't
          local), matching Delta's rule that a shallow clone's vacuum
          does not reclaim source files — and a source vacuum CAN
          break clones pointing at the removed versions, exactly as
          in Delta (readers get NoSuchVersionError, not silent loss);
        - merge-commit change files are not cloned: the clone's CDC
          feed re-derives the base as inserts only (a table-creation
          commit — there is no prior snapshot on the clone to diff
          against), which is the correct net effect of a snapshot.
        """
        as_of = self.latest_version() if version is None else version
        live = self._live_versions(as_of)
        os.makedirs(dest_path, exist_ok=True)
        dest = VersionedTable(self.spark, dest_path, self.write_partitions)
        cloned = []
        for i, c in enumerate(live):
            cloned.append(
                Commit(
                    version=c.version,
                    mode="overwrite" if i == 0 else "append",
                    timestamp_ms=c.timestamp_ms,
                    has_changes_dir=False,
                    data_dir=os.path.abspath(self._commit_data_dir(c)),
                )
            )
        dest._write_ledger(cloned)
        return dest

    def _tags_path(self) -> str:
        return os.path.join(self.path, "_tags.json")

    def tags(self) -> dict[str, int]:
        if not os.path.exists(self._tags_path()):
            return {}
        with open(self._tags_path()) as f:
            return json.load(f)

    def set_tag(self, name: str, version: int | None = None) -> int:
        """Name a version (lakeFS/Nessie-style tag; Delta has no
        native tags — teams use naming conventions). Tags are
        metadata-only: vacuum does not protect tagged versions beyond
        its normal retention, so tag + retention policy travel
        together."""
        v = self.latest_version() if version is None else int(version)
        if not any(c.version == v for c in self.commits()):
            raise NoSuchVersionError(f"{self.path}: no version {v} to tag")
        tags = self.tags()
        tags[name] = v
        tmp = self._tags_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(tags, f, indent=1)
        os.replace(tmp, self._tags_path())
        return v

    def read_tag(self, name: str) -> DataFrame:
        tags = self.tags()
        if name not in tags:
            raise NoSuchVersionError(f"{self.path}: no tag {name!r}")
        return self.read(tags[name])

    def read_changes(self, starting_version: int, ending_version: int) -> DataFrame:
        """S2 CDC scan: row-level changes in ``[lo, hi]`` with reserved
        metadata columns (reference ``datalake.py:88-94``).

        - append commit → its rows as ``insert``
        - overwrite commit → previous snapshot as ``delete`` + new rows
          as ``insert`` (Delta CDF overwrite semantics)
        - merge commit → its recorded change rows verbatim
        """
        by_version = {c.version: c for c in self.commits()}
        if not by_version:
            raise NoSuchVersionError(f"{self.path}: table has no commits")
        # A shallow clone keeps the source's version numbers, so its
        # FIRST commit can be an overwrite with version > 0. That commit
        # is still the table's creation: there is no prior snapshot to
        # diff against, so it must surface as inserts only (same shape
        # Delta CDF gives for a cloned table's base). Versions requested
        # below the first commit simply predate the table — skip them,
        # matching Delta's startingVersion-before-creation behaviour.
        first_version = min(by_version)
        if starting_version < 0:
            # Negative versions never exist on ANY table — clamping
            # them would mask caller cursor-arithmetic bugs. Only the
            # [0, first_version) window of a clone's retained numbering
            # legitimately predates the table and is skipped below.
            raise NoSuchVersionError(
                f"{self.path}: no version {starting_version}"
            )
        if ending_version < first_version:
            raise NoSuchVersionError(
                f"{self.path}: change range [{starting_version}, "
                f"{ending_version}] ends before first commit {first_version}"
            )
        # One scan per commit, unlike read(): each part carries its own
        # _commit_version / _commit_timestamp literals.
        parts: list[DataFrame] = []
        for v in range(max(starting_version, first_version), ending_version + 1):
            commit = by_version.get(v)
            if commit is None:
                raise NoSuchVersionError(f"{self.path}: version {v} does not exist")
            ts = F.lit(commit.timestamp_ms).cast("long")
            if commit.mode in ("merge", "update"):
                chg = scan_parquet(self.spark, self._changes_dir(v))
                parts.append(
                    chg.withColumn(COMMIT_VERSION, F.lit(v).cast("long")).withColumn(
                        COMMIT_TIMESTAMP, ts
                    )
                )
                continue
            rows = scan_parquet(self.spark, self._commit_data_dir(commit))
            if commit.mode == "overwrite" and v > first_version:
                prev = self.read(version=v - 1)
                parts.append(
                    prev.withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
                    .withColumn(COMMIT_VERSION, F.lit(v).cast("long"))
                    .withColumn(COMMIT_TIMESTAMP, ts)
                )
            parts.append(
                rows.withColumn(CHANGE_TYPE, F.lit(CT_INSERT))
                .withColumn(COMMIT_VERSION, F.lit(v).cast("long"))
                .withColumn(COMMIT_TIMESTAMP, ts)
            )
        if not parts:
            raise NoSuchVersionError(
                f"{self.path}: empty change range [{starting_version}, {ending_version}]"
            )
        # allowMissingColumns: change ranges that straddle a mergeSchema
        # append still union (pre-evolution rows carry NULLs).
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )

    def changes_insert_only(self, lo: int, hi: int) -> bool | None:
        """Decide from ledger METADATA alone whether the change feed of
        ``[lo, hi]`` is pure inserts — the Delta-CDF reasoning: append
        commits (and the creation commit) only ever surface inserts; a
        post-creation overwrite surfaces the previous snapshot as
        deletes; merge/update commits carry recorded change rows whose
        types are data-dependent. Returns True (provably insert-only),
        False (provably remove-bearing), or None (merge/update in
        range — the caller must probe the rows). Saves the per-refresh
        emptiness-probe Spark job on the common append-ingest path
        (guide §5: driver round-trips)."""
        by_version = {c.version: c for c in self.commits()}
        if not by_version:
            return None
        first = min(by_version)
        for v in range(max(lo, first), hi + 1):
            c = by_version.get(v)
            if c is None:
                return None  # let read_changes raise on the real path
            if c.mode == "append":
                continue
            if c.mode == "overwrite":
                if v > first:
                    return False
                continue
            return None
        return True

    def column_max_footer(self, col: str):
        """Metadata-only max of ``col`` over the LAST commit's data
        files, from parquet row-group statistics (no Spark job — the
        same footer-only driver reads ``collect_file_stats`` does).
        Correct as a TABLE-wide max only when the caller guarantees the
        last commit contains the column's maximum — true for protocol
        watermarks (``_source_hi``), which ride in every commit and
        increase monotonically. Returns None when any row group's
        statistics are unusable (caller falls back to a scan)."""
        import pyarrow.parquet as pq

        commits = self.commits()
        if not commits:
            return None
        d = self._commit_data_dir(commits[-1])
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            return None
        best = None
        for fpath in files:
            md = pq.ParquetFile(fpath).metadata
            names = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            if col not in names:
                return None
            idx = names[col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None:
                    return None
                if not st.has_min_max:
                    # all-NULL row groups carry no min/max and are
                    # skippable (max ignores NULLs); anything else
                    # without stats forces the scan fallback
                    if st.has_null_count and st.null_count == md.row_group(
                        rg
                    ).num_rows:
                        continue
                    return None
                best = st.max if best is None else max(best, st.max)
        return best

    def row_count_footer(self) -> int | None:
        """Metadata-only row count of the current snapshot, from the
        parquet footers of every live commit's data files (no Spark
        job — the same driver-side reads ``column_max_footer`` does).
        Exact: parquet footers record num_rows per file. Returns None
        when a live commit's directory has no parquet files to read
        (caller falls back to a count job)."""
        import pyarrow.parquet as pq

        commits = self.commits()
        if not commits:
            return None
        total = 0
        for c in self._live_versions(commits[-1].version):
            d = self._commit_data_dir(c)
            files = sorted(glob.glob(os.path.join(d, "*.parquet")))
            if not files:
                return None
            for fpath in files:
                total += pq.ParquetFile(fpath).metadata.num_rows
        return total

    def empty_like(self) -> DataFrame:
        """S3 schema-preserving empty relation (reference ``datalake.py:83-86``)."""
        return self.spark.createDataFrame([], self.schema())

    def vacuum(
        self, retain_last_versions: int | None = None, dry_run: bool = False
    ) -> list[int]:
        """S14 physical-file maintenance. With no argument this is the
        reference's no-op call shape (``test_datalake.py:240-241``) —
        a no-op change to readers. With ``retain_last_versions=N`` it
        behaves like Delta's retention vacuum: delete the data files of
        versions that do NOT contribute to any of the last N snapshots,
        and return the vacuumed version numbers. Contributing versions
        are computed from the ledger (an old *append* stays live inside
        later snapshots until an overwrite/merge supersedes it, so it
        is never deleted just for being old). Vacuumed versions keep
        their ledger entry (history stays queryable) but time-travel to
        them raises ``NoSuchVersionError``. ``dry_run=True`` returns
        the versions that WOULD be removed without touching a file —
        the retention-policy review every operator wants before an
        irreversible delete (Delta ``VACUUM ... DRY RUN`` parity).
        """
        if retain_last_versions is None:
            return []
        commits = self.commits()
        if not commits:
            return []
        retained = commits[-max(retain_last_versions, 1):]
        live: set[int] = set()
        for c in retained:
            live.update(x.version for x in self._live_versions(c.version))
        removed: list[int] = []
        for c in commits:
            target = self._version_dir(c.version)
            if c.version not in live and os.path.exists(target):
                if not dry_run:
                    shutil.rmtree(target)
                removed.append(c.version)
        return removed

    def compact(
        self,
        sort_by: list[str] | None = None,
        target_files: int = 1,
        collect_stats: list[str] | None = None,
        cluster_by: tuple[str, str] | None = None,
    ) -> int:
        """OPTIMIZE-style compaction: rewrite the live snapshot as one
        overwrite commit of ``target_files`` files, optionally sorted by
        ``sort_by`` so parquet row-group min/max stats become selective
        on those columns (the poor man's clustering/Z-order — at 100 TB
        the append path accumulates small files and unsorted row
        groups, and scan throughput + pruning degrade until a compact).

        ``collect_stats`` records per-file min/max for the rewritten
        files (Delta's OPTIMIZE ZORDER + stats composition): with
        ``target_files > 1`` the snapshot range-partitions on
        ``sort_by`` first, so each output file owns a disjoint key
        range and :meth:`read_pruned` can skip whole files, not just
        row groups.

        ``cluster_by=(a, b)`` multi-dimensionally clusters the rewrite
        on a Hilbert key computed from the snapshot's own min/max
        (four driver-side scalars — the same driver-state budget
        ``collect_stats`` has): consecutive keys are always
        grid-adjacent, so per-file bounding boxes stay compact on BOTH
        dimensions even at non-power-of-two file counts, where
        Z-order's bit-interleave takes long diagonal jumps (measured
        comparison in tests/test_relational.py). Mutually exclusive
        with ``sort_by``.

        A no-op change to readers: same rows, new version. Returns the
        new version number.
        """
        snapshot = self.read()
        if cluster_by:
            if sort_by:
                raise ValueError("pass either sort_by or cluster_by")
            from .relational import with_hilbert_key

            a, b = cluster_by
            st = snapshot.agg(
                F.min(a).alias("_amin"), F.max(a).alias("_amax"),
                F.min(b).alias("_bmin"), F.max(b).alias("_bmax"),
            ).collect()[0]
            keyed = with_hilbert_key(
                snapshot, a, b,
                F.lit(st["_amin"]), F.lit(st["_amax"]),
                F.lit(st["_bmin"]), F.lit(st["_bmax"]),
                bits=8, out_col="_hkey",
            )
            snapshot = (
                keyed.repartitionByRange(target_files, "_hkey")
                .sortWithinPartitions("_hkey")
                .drop("_hkey")
            )
            return self.write(
                snapshot, mode="overwrite", collect_stats=collect_stats
            )
        if sort_by and target_files > 1:
            snapshot = snapshot.repartitionByRange(target_files, *sort_by)
            snapshot = snapshot.sortWithinPartitions(*sort_by)
        elif sort_by:
            snapshot = snapshot.sortWithinPartitions(*sort_by)
            snapshot = snapshot.coalesce(target_files)
        else:
            snapshot = snapshot.coalesce(target_files)
        # Safe to write directly: overwrite commits land in a NEW
        # version directory (old files survive until vacuum), so the
        # snapshot's lineage never reads files the write replaces and
        # the rewrite streams without a checkpoint.
        return self.write(
            snapshot, mode="overwrite", collect_stats=collect_stats
        )

    # ------------------------------------------------------------------
    # Write-Audit-Publish (WAP): stage invisibly, audit with arbitrary
    # cross-frame checks (staged vs live), publish without rewriting.
    # ------------------------------------------------------------------

    def _staging_dir(self, staging_id: str) -> str:
        return os.path.join(self.path, "_staging", staging_id)

    def stage(self, df: DataFrame, staging_id: str) -> str:
        """WAP step 1: materialise ``df`` under ``_staging/<id>`` —
        durable and re-readable, but INVISIBLE to every reader (the
        ledger never references staging paths; ``read``/CDC/time
        travel cannot see it). Unlike ``write(constraints=...)`` — a
        row-predicate gate inside one commit — staging decouples the
        expensive write from the audit, so audits can be arbitrary
        queries (staged vs LIVE comparisons, distribution drift,
        row-count deltas) run minutes later, by another process, or by
        a human. Returns the staged path. Restaging the same id
        overwrites (idempotent retry)."""
        if self.commits():
            self._validate_schema(df)
        sdir = self._staging_dir(staging_id)
        self._write_dir(strip_reserved_columns(df), sdir)
        return sdir

    def read_staged(self, staging_id: str) -> DataFrame:
        """The audit surface: the staged snapshot, exactly as it would
        publish."""
        sdir = self._staging_dir(staging_id)
        if not os.path.isdir(sdir):
            raise NoSuchVersionError(f"no staged write {staging_id!r}")
        return scan_parquet(self.spark, sdir)

    def publish_staged(
        self,
        staging_id: str,
        audits: dict[str, "object"] | None = None,
        mode: str = "append",
    ) -> int:
        """WAP step 3: run ``audits`` (name → callable
        ``(staged_df, live_df) -> bool``; live is the CURRENT snapshot,
        or an empty frame for a first publish) and, only if ALL pass,
        commit the staged directory as the next version by a
        data-movement-free rename under the standard OCC claim. On any
        audit failure the staged data is kept for inspection and
        nothing becomes visible; on a crash after stage and before
        publish the table is untouched (staging is outside the
        ledger). Publishing consumes the staging id."""
        sdir = self._staging_dir(staging_id)
        staged = self.read_staged(staging_id)
        live = self.read() if self.commits() else self.empty_like_from(staged)
        failed = {}
        for name, check in (audits or {}).items():
            if not check(staged, live):
                failed[name] = False
        if failed:
            raise ConstraintViolationError(
                f"publish of staged {staging_id!r} to {self.path} rejected; "
                f"failed audits: {sorted(failed)}"
            )
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")
        commits = self.commits()
        version = (commits[-1].version if commits else -1) + 1
        self._claim(version)
        try:
            os.rename(sdir, self._version_dir(version))
        except BaseException:
            self._release_claim(version)
            raise
        seed_schema(self._version_dir(version), staged.schema)
        try:
            commits.append(Commit(version, mode, int(time.time() * 1000)))
            self._write_ledger(commits)
        except BaseException:
            # The rename already consumed the staging dir; without a
            # rollback a failed ledger write would wedge the publish —
            # the claim is released but the version dir is populated,
            # so a retry of the same staging id dies on rename-onto-
            # existing with its staged data gone (r8 ADVICE). Move the
            # data back BEFORE releasing the claim so the staged write
            # survives and publish_staged(staging_id) stays retryable.
            try:
                os.rename(self._version_dir(version), sdir)
            finally:
                self._release_claim(version)
            raise
        return version

    def empty_like_from(self, df: DataFrame) -> DataFrame:
        """Empty frame with ``df``'s schema (first-publish audit
        baseline)."""
        return self.spark.createDataFrame([], df.schema)

    def abort_staged(self, staging_id: str) -> None:
        """WAP abort: drop the staged data; the table was never
        touched."""
        sdir = self._staging_dir(staging_id)
        if os.path.isdir(sdir):
            shutil.rmtree(sdir)

    # ------------------------------------------------------------------
    # Branches (Iceberg/Nessie-style): fork a zero-copy writable branch,
    # work in isolation, squash-merge back under OCC.
    # ------------------------------------------------------------------

    def _branch_dir(self, name: str) -> str:
        return os.path.join(self.path, "_branches", name)

    def create_branch(self, name: str) -> "VersionedTable":
        """Fork a writable branch at the current snapshot: a shallow
        clone under ``_branches/<name>`` (zero-copy pointer commits —
        O(metadata)) plus a recorded fork version. Branch writes land
        in the branch's own directory; main never sees them until
        :meth:`merge_branch`. The isolation/merge/conflict protocol is
        the Iceberg branch workflow (write to a branch, validate,
        fast-forward) with the merge realised as a squash."""
        base = self.latest_version()
        dest = self._branch_dir(name)
        if os.path.isdir(dest):
            raise ValueError(f"branch {name!r} already exists at {dest}")
        br = self.clone(dest, version=base)
        with open(os.path.join(dest, "_branch_meta.json"), "w") as fh:
            json.dump({"base_version": base, "source": self.path}, fh)
        return br

    def branch(self, name: str) -> "VersionedTable":
        """Open an existing branch."""
        dest = self._branch_dir(name)
        if not os.path.isfile(os.path.join(dest, "_branch_meta.json")):
            raise NoSuchVersionError(f"no branch {name!r} at {dest}")
        return VersionedTable(self.spark, dest, self.write_partitions)

    def _branch_base(self, name: str) -> int:
        with open(
            os.path.join(self._branch_dir(name), "_branch_meta.json")
        ) as fh:
            return int(json.load(fh)["base_version"])

    def merge_branch(self, name: str) -> int:
        """Squash-merge the branch back: commit the branch HEAD
        snapshot onto main as ONE overwrite, guarded by
        ``expected_version = fork version`` — if main advanced since
        the fork the merge aborts with ConcurrentWriteConflictError
        (divergence needs a re-fork; silent last-writer-wins is
        exactly what the guard exists to prevent). A branch with no
        new commits is a no-op returning main's current version. The
        branch stays readable afterwards; :meth:`drop_branch` discards
        it."""
        base = self._branch_base(name)
        br = self.branch(name)
        if br.latest_version() == base:
            return self.latest_version()
        if self.latest_version() != base:
            raise ConcurrentWriteConflictError(
                f"{self.path}: advanced past fork version {base} of branch "
                f"{name!r}; re-fork and replay the branch work"
            )
        return self.write(
            br.read(), mode="overwrite", expected_version=base
        )

    def drop_branch(self, name: str) -> None:
        """Discard a branch (its local version dirs with it; pointer
        commits never owned main's files)."""
        dest = self._branch_dir(name)
        if os.path.isdir(dest):
            shutil.rmtree(dest)


def _fresh_inserts(
    target: DataFrame, feed: DataFrame, primary_keys: list[str]
) -> bool:
    """True when merging ``feed`` into ``target`` only adds the feed's
    rows: every row is an ``insert`` (one scan of the feed, run first),
    and its keys are unique in the feed and absent from the target (a
    broadcast key-only semi-join). Then ``apply_change_feed`` would
    return target ∪ feed, and the merge can commit the feed as an
    append. A feed whose columns or types differ from the target's is
    left to the rewrite path, which owns those errors and coercions."""
    columns = {f.name: f.dataType for f in feed.schema.fields}
    if CHANGE_TYPE not in columns or any(
        columns.get(f.name) != f.dataType for f in target.schema.fields
    ):
        return False
    if not feed.where(~F.col(CHANGE_TYPE).eqNullSafe(CT_INSERT)).isEmpty():
        return False
    keys = feed.select(*primary_keys)
    repeated = (
        keys.groupBy(*primary_keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .drop("_n")
    )
    present = target.select(*primary_keys).join(
        F.broadcast(keys), primary_keys, "left_semi"
    )
    return repeated.unionByName(present).isEmpty()


def _json_stat(v):
    """JSON-native form of a parquet statistic (numbers/strings pass
    through; everything else — timestamps, dates, bytes — via str so
    ordering-compatible text compares on read)."""
    if isinstance(v, (int, float, str)) or v is None:
        return v
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


def _file_may_match(file_stats: dict | None, ranges: dict) -> bool:
    """False only when stats PROVE the file cannot contain a matching
    row: some predicate column has [min, max] disjoint from (lo, hi).
    Missing stats (file or column) keep the file."""
    if not file_stats:
        return True
    for col, (lo, hi) in ranges.items():
        if col not in file_stats:
            continue
        fmin, fmax = file_stats[col]
        try:
            if lo is not None and fmax is not None and fmax < lo:
                return False
            if hi is not None and fmin is not None and fmin > hi:
                return False
        except TypeError:  # mixed-type compare: keep the file
            continue
    return True


def _bloom_positions(value, m: int, k: int):
    """k bit positions for ``value`` via md5 of a seeded canonical
    string — the same portable-hash convention as ``sampling.
    hash_bucket`` (no library, deterministic across processes)."""
    import hashlib

    canon = str(value)
    for i in range(k):
        h = hashlib.md5(f"{i}:{canon}".encode()).hexdigest()
        yield int(h[:12], 16) % m


def _bloom_may_match(file_blooms: dict | None, equals: dict) -> bool:
    """False only when a Bloom filter PROVES a point predicate can't
    match (some probe bit unset). Missing index/column keeps the file;
    false positives only ever keep extra files."""
    if not file_blooms or not equals:
        return True
    import base64

    for col, value in equals.items():
        spec = file_blooms.get(col)
        if spec is None:
            continue
        bits = base64.b64decode(spec["bits"])
        for pos in _bloom_positions(value, spec["m"], spec["k"]):
            if not bits[pos >> 3] & (1 << (pos & 7)):
                return False
    return True


def zorder_key(col_a, col_b, bits: int = 16):
    """Bit-interleaved Z-order key over two rank-normalised integer
    columns — the multi-dimensional clustering key behind Delta's
    OPTIMIZE ZORDER BY. Sorting by the interleaved key gives row
    groups that are selective on BOTH columns at once (a plain
    compound sort is selective only on its leading column).

    Callers pre-normalise each column to [0, 2^bits) ranks (e.g.
    ``ntile(65536)`` or a min/max affine map); the interleave itself
    is pure JVM bit arithmetic — shiftleft/or per bit, folded into one
    codegen expression, no Python.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(col_a.cast("long"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(col_b.cast("long"), i).bitwiseAND(F.lit(1))
        z = (
            z.bitwiseOR(F.shiftleft(bit_a, 2 * i + 1))
            .bitwiseOR(F.shiftleft(bit_b, 2 * i))
        )
    return z


class MultiTableTransaction:
    """Atomic commit across N :class:`VersionedTable`\\ s (ROADMAP #6 —
    cross-table atomicity, which Delta itself lacks and Iceberg gets
    only from catalog-level transactions on a real catalog).

    Two-phase protocol over the same single-FS atomic primitives the
    ledger already trusts (O_EXCL claims + rename):

    1. **prepare** — claim the next version on every staged table
       (path-sorted, so two transactions over the same tables collide
       on the FIRST shared table instead of deadlocking), then write
       every table's data files into its (still invisible) version
       dir, then persist a manifest ``<txn>.prepared.json`` listing
       (table path, version, mode, timestamp).
    2. **commit point** — one ``os.replace`` renames the manifest to
       ``<txn>.committed.json``. Before the rename, NO table's ledger
       has advanced; after it, the transaction is durable.
    3. **apply** — append each table's ledger entry (idempotent: a
       version already present is skipped), release claims, delete
       the manifest.

    A crash anywhere leaves a recoverable state, never a torn one:

    - before the rename → no reader anywhere sees any new version;
      :meth:`recover` rolls the ``.prepared`` manifest BACK (deletes
      staged data dirs, releases claims);
    - after the rename → :meth:`recover` rolls the ``.committed``
      manifest FORWARD (re-applies the missing ledger entries with the
      manifest's recorded timestamps, so replay is byte-identical).

    The claims held from prepare to apply keep concurrent writers off
    the in-flight version numbers, so the window where table A's
    ledger shows the commit and table B's does not is closed by
    roll-forward without any writer having interleaved.
    """

    def __init__(self, spark: SparkSession, txn_dir: str):
        self.spark = spark
        self.txn_dir = txn_dir
        self._staged: list[tuple[VersionedTable, DataFrame, str]] = []

    def stage(
        self, table: VersionedTable, df: DataFrame, mode: str = "append"
    ) -> None:
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")
        self._staged.append((table, df, mode))

    # -- commit ---------------------------------------------------------------

    def _manifest_path(self, txn_id: str, state: str) -> str:
        return os.path.join(self.txn_dir, f"{txn_id}.{state}.json")

    def commit(self) -> dict[str, int]:
        """Run the two-phase commit; returns {table_path: version}."""
        if not self._staged:
            raise ValueError("nothing staged")
        os.makedirs(self.txn_dir, exist_ok=True)
        txn_id = f"txn-{int(time.time() * 1000)}-{os.getpid()}"
        staged = sorted(self._staged, key=lambda t: t[0].path)
        claimed: list[tuple[VersionedTable, int]] = []
        entries = []
        try:
            for table, df, mode in staged:
                commits = table.commits()
                if mode == "append" and commits:
                    table._validate_schema(df)
                version = (commits[-1].version if commits else -1) + 1
                os.makedirs(table.path, exist_ok=True)
                table._claim(version)
                claimed.append((table, version))
                entries.append(
                    {
                        "path": os.path.abspath(table.path),
                        "version": version,
                        "mode": mode,
                        "timestamp_ms": int(time.time() * 1000),
                    }
                )
            for (table, df, mode), e in zip(staged, entries):
                table._write_dir(
                    strip_reserved_columns(df), table._version_dir(e["version"])
                )
            prepared = self._manifest_path(txn_id, "prepared")
            tmp = prepared + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"txn_id": txn_id, "entries": entries}, f, indent=1)
            os.replace(tmp, prepared)
        except BaseException:
            for table, version in claimed:
                table._release_claim(version)
            raise
        self._commit_point(txn_id)
        self._apply(txn_id)
        self._staged = []
        return {e["path"]: e["version"] for e in entries}

    def _commit_point(self, txn_id: str) -> None:
        """THE commit point: one atomic rename (crash-injection seam —
        a crash before this call leaves a ``.prepared`` manifest that
        recovery rolls back; after it, a ``.committed`` manifest that
        recovery rolls forward)."""
        os.replace(
            self._manifest_path(txn_id, "prepared"),
            self._manifest_path(txn_id, "committed"),
        )

    def _apply(self, txn_id: str) -> None:
        """Roll the committed manifest forward (idempotent)."""
        path = self._manifest_path(txn_id, "committed")
        with open(path) as f:
            manifest = json.load(f)
        for e in manifest["entries"]:
            table = VersionedTable(self.spark, e["path"])
            self._apply_entry(table, e)
            table._release_claim(e["version"])
        os.remove(path)

    def _apply_entry(self, table: VersionedTable, e: dict) -> None:
        """Append ONE ledger entry (seam for crash injection in
        tests). Skips versions already applied, so replay after a
        mid-apply crash is safe."""
        commits = table.commits()
        if any(c.version == e["version"] for c in commits):
            return
        commits.append(Commit(e["version"], e["mode"], e["timestamp_ms"]))
        table._write_ledger(commits)

    # -- recovery -------------------------------------------------------------

    @classmethod
    def recover(cls, spark: SparkSession, txn_dir: str) -> dict[str, list[str]]:
        """Crash recovery: roll ``.committed`` manifests forward and
        ``.prepared`` manifests back. Returns the txn ids handled per
        outcome. Safe to run any time — both directions are
        idempotent, and applied manifests no longer exist."""
        rolled_forward, rolled_back = [], []
        if not os.path.isdir(txn_dir):
            return {"forward": rolled_forward, "back": rolled_back}
        me = cls(spark, txn_dir)
        for name in sorted(os.listdir(txn_dir)):
            if name.endswith(".committed.json"):
                txn_id = name[: -len(".committed.json")]
                me._apply(txn_id)
                rolled_forward.append(txn_id)
            elif name.endswith(".prepared.json"):
                with open(os.path.join(txn_dir, name)) as f:
                    manifest = json.load(f)
                for e in manifest["entries"]:
                    table = VersionedTable(spark, e["path"])
                    vdir = table._version_dir(e["version"])
                    if os.path.isdir(vdir):
                        shutil.rmtree(vdir)
                    table._release_claim(e["version"])
                os.remove(os.path.join(txn_dir, name))
                rolled_back.append(name[: -len(".prepared.json")])
        return {"forward": rolled_forward, "back": rolled_back}
