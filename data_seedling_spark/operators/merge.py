"""Relational MERGE semantics (reference ``datalake.py:142-239``).

The reference applies a CDC feed to a Delta table with
``whenMatchedDelete`` / ``whenNotMatchedInsertAll`` branches and rejects
updates by design (reference ``design_doc.md:79-81``). Without Delta on
the classpath, we express the same semantics as pure DataFrame algebra —
anti-joins + union — which is also the *oracle-checkable* form and, at
scale, exactly the shuffle-join plan Delta's MERGE would run anyway
(minus the file-level ACID commit, which ``operators.ledger`` provides).

Scale posture: both branches are single equi-joins on the primary keys.
Catalyst picks broadcast-hash when the change feed is small (the common
CDC case — feeds are incremental), sort-merge otherwise; AQE converts to
broadcast at runtime when the feed turns out tiny.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Reserved CDC metadata columns (reference ``common_types.py:79-82``).
CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
COMMIT_TIMESTAMP = "_commit_timestamp"
RESERVED_COLUMNS = (CHANGE_TYPE, COMMIT_VERSION, COMMIT_TIMESTAMP)

#: Change kinds (reference ``common_types.py:70-75``).
CT_INSERT = "insert"
CT_DELETE = "delete"
CT_UPDATE_PRE = "update_preimage"
CT_UPDATE_POST = "update_postimage"


class UpdatesNotSupportedError(ValueError):
    """Raised when a CDC feed contains update images (S9 guard,
    reference ``datalake.py:177-188``)."""


def strip_reserved_columns(df: DataFrame) -> DataFrame:
    """Drop CDC metadata before persisting (reference ``datalake.py:219-223``)."""
    present = [c for c in RESERVED_COLUMNS if c in df.columns]
    return df.drop(*present) if present else df


def reject_updates(changes: DataFrame) -> None:
    """S9 guard: raise if the feed carries update pre/post images.

    Single job; the isin filter is pushed to the scan.
    """
    n_updates = changes.where(
        F.col(CHANGE_TYPE).isin([CT_UPDATE_PRE, CT_UPDATE_POST])
    ).count()
    if n_updates:
        raise UpdatesNotSupportedError(
            f"change feed contains {n_updates} update rows; updates are "
            "not supported (insert/delete only)"
        )


def apply_deletes(
    target: DataFrame, deletes: DataFrame, primary_keys: Sequence[str]
) -> DataFrame:
    """MERGE matched-delete branch (S8): remove target rows whose PKs
    appear in ``deletes``. Plan: LEFT ANTI equi-join on the PKs."""
    keys = list(primary_keys)
    return target.join(deletes.select(*keys).distinct(), on=keys, how="left_anti")


def apply_inserts(
    target: DataFrame, source: DataFrame, primary_keys: Sequence[str]
) -> DataFrame:
    """MERGE not-matched-insert branch (S7): append source rows whose
    PKs are absent from the target. Plan: source LEFT ANTI target on
    PKs, then union-all. Target columns define the output schema.

    The source is deduplicated per PK first (deterministically: the
    max row by the remaining columns wins) — without this, two source
    rows sharing a key that is absent from the target would BOTH pass
    the anti-join and break the PK invariant.
    """
    keys = list(primary_keys)
    source = dedupe_by_keys(source.select(*target.columns), keys)
    new_rows = source.join(target.select(*keys).distinct(), on=keys, how="left_anti")
    return target.unionByName(new_rows.select(*target.columns))


def _row_order(df: DataFrame, columns: Sequence[str]):
    """``columns`` of ``df`` as one orderable struct, the tie-break that
    picks a deterministic winner among same-key rows. Spark cannot order
    a MAP, so a map column enters as its entries sorted by key."""
    return F.struct(
        *[
            F.array_sort(F.map_entries(c)).alias(c)
            if isinstance(df.schema[c].dataType, T.MapType)
            else F.col(c)
            for c in columns
        ]
    )


def dedupe_by_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """One row per key, deterministic winner (greatest remaining-column
    struct — unlike ``dropDuplicates``, which keeps an arbitrary row
    that can differ between runs and break replay idempotence)."""
    from pyspark.sql import Window as W

    others = [c for c in df.columns if c not in keys]
    if not others:
        return df.distinct()
    w = W.partitionBy(*keys).orderBy(_row_order(df, others).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_change_feed(
    target: DataFrame, changes: DataFrame, primary_keys: Sequence[str]
) -> DataFrame:
    """Apply a full CDC feed: reject updates, then apply the **net
    effect per primary key** (ST3 change routing, reference
    ``datalake.py:177-216``).

    A multi-version feed can carry several changes for one key (insert
    in v1, delete in v2, …). Applying "all deletes, then all inserts"
    would resurrect deleted rows and double-insert re-created keys, so
    the feed is first reduced to each key's LAST change, ordered by
    ``_commit_version`` (inserts outrank deletes within one version —
    a single merge commit deletes before it inserts). Feeds without
    ``_commit_version`` are treated as one version. The reduced feed
    then routes: last=delete → anti-join out; last=insert → upsert.
    """
    from pyspark.sql import Window as W

    reject_updates(changes)

    version = (
        F.col(COMMIT_VERSION)
        if COMMIT_VERSION in changes.columns
        else F.lit(0).cast("long")
    )
    is_insert = (F.col(CHANGE_TYPE) == CT_INSERT).cast("int")
    keys = list(primary_keys)
    w = W.partitionBy(*keys).orderBy(
        version.desc(),
        is_insert.desc(),
        # deterministic tie-break among same-version duplicates
        _row_order(changes, target.columns).desc(),
    )
    last_change = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    deletes = last_change.where(F.col(CHANGE_TYPE) == CT_DELETE)
    inserts = strip_reserved_columns(
        last_change.where(F.col(CHANGE_TYPE) == CT_INSERT)
    )
    # upsert = delete both the deleted AND re-inserted keys, then insert
    result = apply_deletes(target, last_change.select(*keys), primary_keys)
    return apply_inserts(result, inserts, primary_keys)
