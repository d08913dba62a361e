"""Pipeline-protocol queries: CDC roundtrip, watermark advance.

These exercise the Phase-2 machinery (``operators.ledger``,
``operators.watermark``, ``streaming.incremental``) end-to-end inside a
driver-checkable query: the versioned table is built in a fresh temp
dir from deterministic slices of ``orders``, processed incrementally,
and the final snapshot is returned — which plain SQL can reproduce.
"""

from __future__ import annotations

import os
import tempfile
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.ledger import ConstraintViolationError, VersionedTable
from .queries import query
from .session import sql_conf, workspace
from .tables import load_table

_ORDER_COLS = ("o_orderkey", "o_orderstatus", "o_totalprice")
# Small-data protocol demos cap commit files and run their eager work
# at a narrow shuffle width, so the many tiny jobs don't pay
# 200-partition overhead under a default session; the returned lazy
# frame plans under the session's own value.
_PROTOCOL_SHUFFLE = {"spark.sql.shuffle.partitions": 8}


@query(
    "cdc_incremental_roundtrip",
    oracle="""
    WITH created  AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 1),
         appended AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 2),
         inserted AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 3),
         deleted  AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 8 = 1)
    SELECT * FROM (
      SELECT * FROM created UNION ALL
      SELECT * FROM appended UNION ALL
      SELECT * FROM inserted
    ) s
    WHERE NOT EXISTS (SELECT 1 FROM deleted d WHERE d.o_orderkey = s.o_orderkey)
    """,
    tags=("S2", "S6", "S7", "S8", "ST1", "ST2", "ST3"),
)
def cdc_incremental_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full incremental protocol over a versioned source built from
    deterministic ``orders`` slices:

    - v0 create (keys ≡1 mod 4), v1 append (≡2), v2 merge feed
      (delete ≡1 mod 8, insert ≡3 mod 4),
    - two pipeline runs: after v0–v1, then after v2 — watermark
      advances ``lo = hi + 1`` between them,
    - returns the target's final snapshot, which the oracle reproduces
      relationally.

    Capability parity: reference entry-point frame SURVEY §3.1 (read
    CDF → merge → advance) on the reference's own Delta semantics
    (overwrite-as-delete+insert included via v2's merge commit).
    """
    orders = load_table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    base = workspace("cdc_roundtrip_")
    source = VersionedTable(spark, f"{base}/src", write_partitions=4)
    target = VersionedTable(spark, f"{base}/dst", write_partitions=4)
    state = VersionedTable(spark, f"{base}/state", write_partitions=1)
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        return _run_roundtrip(spark, orders, source, target, state)


def _run_roundtrip(spark, orders, source, target, state) -> DataFrame:
    from .operators.merge import CHANGE_TYPE, CT_DELETE, CT_INSERT
    from .streaming.incremental import run_incremental_activity

    key = F.col("o_orderkey")
    source.write(orders.where(key % 4 == 1), mode="overwrite")
    source.write(orders.where(key % 4 == 2), mode="append")

    # run 1: consume v0..v1
    run_incremental_activity(
        spark, source, target, state,
        activity="cdc_roundtrip", table_name="orders",
        primary_keys=["o_orderkey"],
    )

    # v2: merge feed with deletes and inserts
    feed = (
        orders.where(key % 8 == 1)
        .withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
        .unionByName(orders.where(key % 4 == 3).withColumn(CHANGE_TYPE, F.lit(CT_INSERT)))
    )
    source.merge(feed, primary_keys=["o_orderkey"])

    # run 2: consume v2 only (watermark skips v0..v1)
    run_incremental_activity(
        spark, source, target, state,
        activity="cdc_roundtrip", table_name="orders",
        primary_keys=["o_orderkey"],
    )
    return target.read()


# ---------------------------------------------------------------------------
# Pseudonymisation / NLP pipeline queries (Phase 3)
# ---------------------------------------------------------------------------


@query(
    "pseudonymise_customers",
    oracle="""
    SELECT c_nationkey, c_acctbal, c_mktsegment,
           sha256(CAST(c_custkey AS VARCHAR) || '2b6ef354-salt') AS c_custkey_hashed
    FROM customer
    """,
    tags=("UD3", "F1", "F2", "P3"),
)
def pseudonymise_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven pseudonymisation of the customer table: salted
    SHA-256 of the key (renamed ``_hashed``), direct identifier
    removed (reference ``transform.py:156-195`` dispatch)."""
    from .config import TABLE_CONFIG
    from .pipelines.pseudonymise import pseudo_transform

    customer = load_table(spark, sf_dir, "customer")
    return pseudo_transform(customer, TABLE_CONFIG["customer"])


@query(
    "pseudonymise_events",
    oracle="""
    SELECT event_id, date_trunc('hour', ts) AS ts, event_type, value,
           sha256(CAST(user_id AS VARCHAR) || '2b6ef354-salt') AS user_id_hashed
    FROM events
    """,
    tags=("UD3", "F1", "F3", "P3"),
)
def pseudonymise_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymise the event stream: hash the user id, truncate the
    timestamp to the hour (k-anonymity generalisation), drop free-form
    properties."""
    from .config import TABLE_CONFIG
    from .pipelines.pseudonymise import pseudo_transform

    events = load_table(spark, sf_dir, "events")
    return pseudo_transform(events, TABLE_CONFIG["events"])


@query(
    "anonymise_documents",
    oracle=r"""
    SELECT doc_id, lang,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL_ADDRESS>', 'g'),
                   'https?://[^\s]+', '<URL>', 'g'),
                 '\b\d{4}-\d{2}-\d{2}\b', '<DATE_TIME>', 'g'),
               '\b(?:\+?\d[\d\s-]{7,}\d)\b', '<PHONE_NUMBER>', 'g'),
             '\b(?:customer|supplier)\b', '<PERSON>', 'g') AS text
    FROM documents
    """,
    tags=("UD1",),
)
def anonymise_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text entity masking (UD1; reference ``presidio.py:24-46``)
    as an Arrow-batched pandas UDF with the deterministic regex rule
    set; the oracle applies the identical rules via RE2."""
    from .pipelines.pseudonymise import anonymise_columns

    documents = load_table(spark, sf_dir, "documents")
    return anonymise_columns(documents, ["text"]).select("doc_id", "lang", "text")


@query(
    "feature_extract_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         t -> t IN ('customer','supplier','part','order','query','scan')
             ) AS ents
      FROM documents
    )
    SELECT doc_id,
           len(ents) AS n_entities,
           CASE WHEN len(ents) > 0 THEN ents[1] END AS first_entity,
           greatest(len(ents) - 1, 0) AS n_relations
    FROM toks
    """,
    tags=("UD2", "UD4", "P5"),
)
def feature_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mock-NLP feature extraction (UD2/UD4) + dotted-path projection
    into the nested output (P5; reference
    ``test_feature_extraction.py:181-215``): entity count, first entity
    text, relation count per document."""
    from .config import TableConfig
    from .pipelines.feature_extraction import extract_features

    documents = load_table(spark, sf_dir, "documents")
    cfg = TableConfig(primary_keys=["doc_id"], analysed_columns=["text"])
    extracted = extract_features(
        documents, cfg, api_keys=("key0", "key1"), probe_rows=100
    )
    ents = F.col("text_extracted.document.entities")
    rels = F.col("text_extracted.document.relations")
    return extracted.select(
        "doc_id",
        F.size(ents).cast("bigint").alias("n_entities"),
        F.when(F.size(ents) > 0, F.element_at(ents, 1).getField("text")).alias(
            "first_entity"
        ),
        F.size(rels).cast("bigint").alias("n_relations"),
    )


@query(
    "incremental_pseudonymisation",
    oracle="""
    WITH feed AS (
      SELECT * FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT c_nationkey, c_acctbal, c_mktsegment,
           sha256(CAST(c_custkey AS VARCHAR) || '2b6ef354-salt') AS c_custkey_hashed
    FROM feed
    """,
    tags=("ST1", "ST3", "UD3", "pipeline-e2e"),
)
def incremental_pseudonymisation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship pipeline end-to-end (SURVEY §3.1):
    bronze versioned source → CDC read → **pseudonymise the increment**
    (hash key, drop name) → merge into silver → advance watermark —
    then return the silver snapshot. The oracle reproduces the final
    state relationally.

    Primary key after pseudonymisation is the hashed key (the original
    is dropped), matching the reference's silver-zone key convention.
    """
    from .config import TABLE_CONFIG
    from .pipelines.pseudonymise import pseudo_transform
    from .streaming.incremental import run_incremental_activity

    customer = load_table(spark, sf_dir, "customer")
    base = workspace("inc_pseudo_")
    bronze = VersionedTable(spark, f"{base}/bronze", write_partitions=4)
    silver = VersionedTable(spark, f"{base}/silver", write_partitions=4)
    state = VersionedTable(spark, f"{base}/state", write_partitions=1)

    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        bronze.write(customer.where(F.col("c_custkey") % 2 == 0), mode="overwrite")
        run_incremental_activity(
            spark, bronze, silver, state,
            activity="pseudonymisation", table_name="customer",
            primary_keys=["c_custkey_hashed"],
            transform=lambda df: pseudo_transform(df, TABLE_CONFIG["customer"]),
        )
        return silver.read()


@query(
    "nested_relations_projection",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         t -> t IN ('customer','supplier','part','order','query','scan')
             ) AS ents
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(ents) >= 2 THEN 'FOLLOWED_BY' END AS first_relation_type,
           CASE WHEN len(ents) >= 2 THEN ents[1] END AS first_relation_source,
           CASE WHEN len(ents) >= 2 THEN ents[2] END AS first_relation_target,
           greatest(len(ents) - 1, 0) AS n_relations
    FROM toks
    """,
    tags=("P5", "UD2"),
)
def nested_relations_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dotted-path projection into the *relations* branch of the nested
    extraction output (reference ``test_feature_extraction.py:211-215``
    queries ``.document.relations.relationType``): first relation's
    type/source/target plus the relation count per document."""
    from .config import TableConfig
    from .pipelines.feature_extraction import extract_features

    documents = load_table(spark, sf_dir, "documents")
    cfg = TableConfig(primary_keys=["doc_id"], analysed_columns=["text"])
    extracted = extract_features(documents, cfg)
    rels = F.col("text_extracted.document.relations")
    # try_element_at: ANSI mode throws on out-of-bounds (empty relations)
    first = F.try_element_at(rels, F.lit(1))
    return extracted.select(
        "doc_id",
        first.getField("relationType").alias("first_relation_type"),
        first.getField("source").alias("first_relation_source"),
        first.getField("target").alias("first_relation_target"),
        F.size(rels).cast("bigint").alias("n_relations"),
    )


@query(
    "streaming_pseudonymise_pipeline",
    oracle="""
    SELECT event_id, date_trunc('hour', ts) AS ts, event_type, value,
           sha256(CAST(user_id AS VARCHAR) || '2b6ef354-salt') AS user_id_hashed
    FROM events
    """,
    tags=("streaming-e2e", "ST3", "UD3"),
)
def streaming_pseudonymise_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming end-to-end pipeline: file-source event stream →
    pseudonymise each micro-batch (hash user id, truncate timestamp,
    drop props) → foreachBatch PK-merge into a versioned silver table →
    return the final snapshot. Same result as the batch
    ``pseudonymise_events`` — which is exactly the point: one transform
    definition serves both execution modes."""
    from .config import TABLE_CONFIG
    from .pipelines.pseudonymise import pseudo_transform
    from .streaming.windows import (
        read_events_stream,
        require_stream_progress,
        stream_merge_into,
    )

    base = workspace("stream_pseudo_")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_events_stream(spark, sf_dir, schema, glob="events.parquet")
    transformed = pseudo_transform(stream, TABLE_CONFIG["events"])
    target = VersionedTable(spark, f"{base}/silver", write_partitions=4)
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        q = stream_merge_into(
            transformed, target, primary_keys=["event_id"],
            checkpoint_dir=f"{base}/ck",
        )
        q.awaitTermination(300)
        require_stream_progress(q, os.path.join(sf_dir, "events.parquet"))
        return target.read()


@query(
    "stream_interval_join_clicks",
    oracle="""
    SELECT c.user_id AS user_id,
           c.event_id AS l_event_id, c.ts AS l_ts,
           p.event_id AS r_event_id, p.ts AS r_ts
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    tags=("streaming", "stream-stream-join"),
)
def stream_interval_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, hash-verified against the batch
    truth: purchases within one hour after a click by the same user,
    both sides consumed as event-time streams with watermarks. The
    watermark + range predicate bound the join state (state ∝ rate ×
    horizon); the memory sink collects the joined rows, which must
    equal the static interval join the oracle runs."""
    import uuid as _uuid

    from .streaming.windows import (
        read_events_stream,
        require_stream_progress,
        stream_interval_join,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def side(event_type: str) -> DataFrame:
        return (
            read_events_stream(spark, sf_dir, schema, glob="events.parquet")
            .where(F.col("event_type") == event_type)
            .select("user_id", "ts", "event_id")
        )

    joined = stream_interval_join(
        side("click"), side("purchase"), key="user_id", horizon="1 hour"
    )
    name = f"ssj_{_uuid.uuid4().hex[:10]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    require_stream_progress(q, os.path.join(sf_dir, "events.parquet"))
    q.stop()
    return spark.table(name)


@query(
    "jdbc_feature_store_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("S12", "jdbc"),
)
def jdbc_feature_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 feature-store sink + source end-to-end (reference
    ``db.py:111-136``): aggregate orders, overwrite-append the feature
    frame over JDBC into embedded Derby (driver jars ship inside the
    Spark distribution), then read it back through the pushdown-query
    source. The returned frame is what came OUT of the database, so the
    oracle checks the whole write→read loop, not just the aggregate.
    Overwrite mode keeps the query idempotent across driver re-runs."""
    from .io import JdbcConfig, jdbc_read
    from .queries import dec_sum

    features = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice"), "total_value"),
        )
    )
    cfg = JdbcConfig.derby_memory("feature_store_q")
    (
        features.write.format("jdbc")
        .mode("overwrite")
        .options(**cfg.options("order_features"))
        .save()
    )
    return jdbc_read(
        spark,
        cfg,
        'SELECT "o_orderpriority", "n_orders", "total_value" FROM order_features',
    )


@query(
    "streaming_dedup_exact",
    oracle="""
    SELECT DISTINCT sha256(text) AS content_sha FROM documents
    """,
    tags=("streaming", "dedup-exact"),
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: consume documents as a file stream,
    ``dropDuplicates`` on the 32-byte content hash (so dedup state
    stores hashes, not bodies — the same shuffle-bytes argument as the
    batch operator, applied to the state store), memory-sink the
    surviving hashes. Result must equal the batch DISTINCT —
    hash-verified by the oracle. In production the state is bounded
    with a watermark (dropDuplicatesWithinWatermark); this availableNow
    run processes one bounded backlog."""
    import uuid as _uuid

    from .streaming.windows import require_stream_progress

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    hashes = stream.select(
        F.sha2(F.col("text").cast("binary"), 256).alias("content_sha")
    ).dropDuplicates(["content_sha"])
    name = f"sdd_{_uuid.uuid4().hex[:10]}"
    q = (
        hashes.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    require_stream_progress(q, os.path.join(sf_dir, "documents.parquet"))
    q.stop()
    return spark.table(name)


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS segment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
    tags=("streaming", "stream-static-join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: purchase events consumed as a file
    stream, joined per micro-batch against the static customer
    dimension (broadcast — no stream state at all, the cheapest join
    class in Structured Streaming). Result must equal the batch join,
    hash-verified by the oracle."""
    import uuid as _uuid

    from .streaming.windows import read_events_stream, require_stream_progress

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    events = (
        read_events_stream(spark, sf_dir, schema, glob="events.parquet")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "event_type")
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    enriched = events.join(
        F.broadcast(customer), events.user_id == F.col("c_custkey")
    ).drop("c_custkey")
    name = f"sse_{_uuid.uuid4().hex[:10]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    require_stream_progress(q, os.path.join(sf_dir, "events.parquet"))
    q.stop()
    return spark.table(name)


@query(
    "incremental_dedup_ingest",
    oracle="""
    WITH c0 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0),
         c1 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 1),
         base AS (
           SELECT min(doc_id) AS doc_id FROM c0 GROUP BY text
         ),
         inc AS (
           SELECT min(doc_id) AS doc_id FROM c1
           WHERE text NOT IN (SELECT text FROM c0)
           GROUP BY text
         )
    SELECT d.doc_id, d.lang FROM base b JOIN documents d ON b.doc_id = d.doc_id
    UNION ALL
    SELECT d.doc_id, d.lang FROM inc i JOIN documents d ON i.doc_id = d.doc_id
    """,
    tags=("S2", "ST1", "dedup-exact", "llm-pipeline"),
)
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus marriage of the reference's CDC protocol: a
    curated target corpus ingests document batches incrementally, and
    every increment is deduplicated (a) within itself and (b) against
    everything already ingested — without ever rescanning the corpus
    text (the anti-join keys on sha2, 32-byte hashes).

    Batch 0 (keys ≡0 mod 3) seeds the target; batch 1 (≡1 mod 3)
    arrives as a CDC append and only its genuinely-new texts land. At
    100 TB this is THE dedup deployment shape — re-running blocked
    all-pairs over the full corpus per ingest is the anti-pattern;
    increment × hash-index is linear in the increment.
    """
    documents = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    from .operators.dedup import exact_dedup

    base = workspace("inc_dedup_")
    source = VersionedTable(spark, f"{base}/src", write_partitions=4)
    target = VersionedTable(spark, f"{base}/dst", write_partitions=4)
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        key = F.col("doc_id")
        source.write(documents.where(key % 3 == 0), mode="overwrite")
        # run 1: seed the target with the deduped initial snapshot
        target.write(
            exact_dedup(source.read_changes(0, 0).select("doc_id", "text", "lang"),
                        "text", "doc_id"),
            mode="overwrite",
        )
        # batch 1 arrives; run 2 consumes ONLY the increment
        source.write(documents.where(key % 3 == 1), mode="append")
        increment = source.read_changes(1, 1).select("doc_id", "text", "lang")
        within = exact_dedup(increment, "text", "doc_id")
        seen = target.read().select(
            F.sha2(F.col("text").cast("binary"), 256).alias("_h")
        )
        fresh = within.withColumn(
            "_h", F.sha2(F.col("text").cast("binary"), 256)
        ).join(seen, "_h", "left_anti").drop("_h")
        target.write(fresh, mode="append")
        return target.read().select("doc_id", "lang")


@query(
    "minhash_lsh_index_maintenance",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
      FROM t
    ), shf AS (
      SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0
    ), sig AS (
      SELECT doc_id,
             [list_min([CAST(('0x' || substr(md5(CAST(p // 2 AS VARCHAR) || '|' || s),
                                      CASE WHEN p % 2 = 0 THEN 1 ELSE 17 END, 15))
                             AS BIGINT)
                        FOR s IN shingles])
              FOR p IN range(0, 16)] AS sg
      FROM shf
    ), bandrows AS (
      SELECT doc_id, b.b AS band,
             md5(array_to_string(sg[b.b*4 + 1 : b.b*4 + 4], ',')) AS bkey
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ), salted AS (
      SELECT doc_id, band, bkey,
             CAST('0x' || substr(md5(CAST(band AS VARCHAR) || ':' || bkey
                                     || ':' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT)
               % ((COUNT(*) OVER (PARTITION BY band, bkey) + 63) // 64) AS sub
      FROM bandrows
    ), cands AS (
      SELECT least(x.doc_id, y.doc_id) AS doc_a,
             greatest(x.doc_id, y.doc_id) AS doc_b
      FROM salted x JOIN salted y
        ON x.band = y.band AND x.bkey = y.bkey AND x.sub = y.sub
           AND x.doc_id <> y.doc_id
      WHERE x.doc_id % 3 = 2
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
             AS jaccard,
           CAST(3 AS BIGINT) AS wm_next
    FROM cands
    JOIN shf a ON a.doc_id = doc_a
    JOIN shf b ON b.doc_id = doc_b
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
          >= 0.8
    """,
    tags=("dedup-minhash", "ivm", "S2", "ST1", "ST2", "oracle-twin"),
)
def minhash_lsh_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental NEAR-dup maintenance (VERDICT r12 #1): a MinHash-LSH
    band-row index kept current over a versioned document corpus — the
    near-dup sibling of ``incremental_dedup_ingest``'s exact hash
    index, and the missing 100 TB deployment shape: at corpus scale
    you never re-shingle/re-sign/re-band the corpus per ingest; each
    refresh bands ONLY that commit's documents (O(increment text),
    append-sized write, watermark riding inside the index commit —
    ``operators.dedup.MaterializedLshIndex``), and the arriving
    batch's new-vs-all candidates come from equi-joining its band rows
    against the index inside touched buckets, with the same hot-bucket
    salt split (bucket_cap=64) as the one-shot query.

    Three incremental refreshes (doc_id ≡ 0,1,2 mod 3) + a replay
    no-op, then the LAST increment's verified near-dup pairs
    (exact Jaccard ≥ 0.8 over candidate docs only). Band rows are a
    pure per-document function and the salt's per-bucket counts are
    taken over the full index, so the maintained protocol's output is
    IDENTICAL to the one-shot capped bucket join restricted to pairs
    touching the increment — which is exactly what the oracle
    computes one-shot, turning the whole incremental protocol into a
    hash-exact check (the ``incremental_distinct_maintenance`` proof
    pattern). ``wm_next`` pins the advanced watermark.

    vs ``incremental_neardup_ingest`` (r10): that query persists a
    SIGNATURE index and re-derives band rows for the whole index on
    every probe, with no watermark protocol and no hot-bucket cap;
    this one stores the band rows themselves (read back as-is — zero
    per-probe recompute), folds arbitrarily many commits exactly-once,
    handles deletes, and caps hot buckets like the one-shot query."""
    from .operators.dedup import (
        MaterializedLshIndex,
        jaccard,
        word_shingles,
    )

    documents = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    base = workspace("lsh_idx_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    index = MaterializedLshIndex(
        spark,
        VersionedTable(spark, f"{base}/idx", write_partitions=4),
        text_col="text",
        id_col="doc_id",
        num_perm=16,
        bands=4,
        shingle_n=3,
    )
    # Unlike the orders-protocol incremental queries (tiny ledger
    # frames → shuffle partitions pinned at 8), the refresh here does
    # corpus-scale TEXT work (shingle + sign the increment), so it
    # keeps the ambient shuffle partitions and scale_outs the
    # increment before banding — pinned at 8 with 4-file commit
    # parallelism the sf10 probe read 99 s; unpinned + scale_out it
    # reads 37 s (decades 1.55x/2.15x).
    key = F.col("doc_id")
    src.write(documents.where(key % 3 == 0), mode="overwrite")
    lo, hi = index.refresh(src)                    # folds v0
    assert (lo, hi) == (0, 0), (lo, hi)
    src.write(documents.where(key % 3 == 1), mode="append")
    lo, hi = index.refresh(src)                    # folds v1 only
    assert (lo, hi) == (1, 1), (lo, hi)
    src.write(documents.where(key % 3 == 2), mode="append")
    lo, hi = index.refresh(src)                    # folds v2 only
    assert (lo, hi) == (2, 2), (lo, hi)
    lo, hi = index.refresh(src)                    # replay: no-op
    assert lo > hi, "replayed refresh must be a no-op"
    inc_ids = src.read_changes(2, 2).select("doc_id")
    cands = index.new_vs_all_candidates(inc_ids, bucket_cap=64)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        documents.join(cand_ids, "doc_id", "semi")
        .select(
            "doc_id", word_shingles(F.col("text"), 3).alias("_sh")
        )
        .where(F.size("_sh") > 0)
    )
    verified = (
        cands.join(
            sh.select(
                F.col("doc_id").alias("doc_a"), F.col("_sh").alias("sh_a")
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"), F.col("_sh").alias("sh_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= 0.8)
    )
    return verified.withColumn(
        "wm_next", F.lit(index.applied_hi() + 1).cast("long")
    )


@query(
    "streaming_neardup_lsh_ingest",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
      FROM t
    ), shf AS (
      SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0
    ), sig AS (
      SELECT doc_id,
             [list_min([CAST(('0x' || substr(md5(CAST(p // 2 AS VARCHAR) || '|' || s),
                                      CASE WHEN p % 2 = 0 THEN 1 ELSE 17 END, 15))
                             AS BIGINT)
                        FOR s IN shingles])
              FOR p IN range(0, 16)] AS sg
      FROM shf
    ), bandrows AS (
      SELECT doc_id, b.b AS band,
             md5(array_to_string(sg[b.b*4 + 1 : b.b*4 + 4], ',')) AS bkey
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ), salted AS (
      SELECT doc_id, band, bkey,
             CAST('0x' || substr(md5(CAST(band AS VARCHAR) || ':' || bkey
                                     || ':' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT)
               % ((COUNT(*) OVER (PARTITION BY band, bkey) + 63) // 64) AS sub
      FROM bandrows
    ), cands AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM salted x JOIN salted y
        ON x.band = y.band AND x.bkey = y.bkey AND x.sub = y.sub
           AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
             AS jaccard
    FROM cands
    JOIN shf a ON a.doc_id = doc_a
    JOIN shf b ON b.doc_id = doc_b
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) >= 0.8
    """,
    tags=("streaming", "dedup-minhash", "ivm", "ST2", "oracle-twin"),
)
def streaming_neardup_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup ingest — the Structured-Streaming deployment
    of the maintained LSH index: documents consumed as a file stream,
    every micro-batch shingled/signed/banded and folded into the
    ledger-backed band-row index via ``foreachBatch`` with the
    batch-id idempotence guard
    (``operators.dedup.MaterializedLshIndex.fold_batch`` — the LSH twin
    of ``matview.fold_stream_batch``), then the FULL near-dup pair set
    computed from the index alone (capped bucket join + exact-Jaccard
    verification over candidate docs only; no document is ever
    re-banded).

    The correctness property that makes this oracle-checkable despite
    micro-batch nondeterminism: band rows are a pure PER-DOCUMENT
    function, so the maintained index equals the one-shot banding of
    the corpus for ANY batch split — the result is
    batch-order-INDEPENDENT and hash-matches the same one-shot SQL as
    the batch query (`minhash_md5_lsh_near_dup`'s oracle verbatim).
    Scale: per-batch work is O(batch text); the pair query touches
    only band rows and candidate ids."""
    import uuid as _uuid

    from .operators.dedup import (
        MaterializedLshIndex,
        band_bucket_candidates,
        jaccard,
        word_shingles,
    )
    from .streaming.windows import read_events_stream, require_stream_progress

    base = workspace("stream_lsh_")
    index = MaterializedLshIndex(
        spark,
        VersionedTable(spark, f"{base}/idx", write_partitions=4),
        text_col="text",
        id_col="doc_id",
    )
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # read_events_stream, not a raw pathGlobFilter: the driver's
    # testdata tables are single FILES but scale sets are Spark-written
    # DIRECTORIES, where a glob naming the directory matches no leaf
    # file and the stream terminates zero-batch (the r10 bug the
    # helper closes; no ts column in documents, so the event-time
    # plumbing is a no-op).
    stream = read_events_stream(
        spark, sf_dir, schema, glob="documents.parquet"
    ).select("doc_id", "text")
    name = f"snl_{_uuid.uuid4().hex[:10]}"
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: index.fold_batch(batch, bid) and None
        )
        .option("checkpointLocation", f"{base}/ckpt")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    require_stream_progress(q, os.path.join(sf_dir, "documents.parquet"))
    q.stop()
    cands = band_bucket_candidates(index.read(), "doc_id", bucket_cap=64)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    documents = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = (
        documents.join(cand_ids, "doc_id", "semi")
        .select("doc_id", word_shingles(F.col("text"), 3).alias("_sh"))
        .where(F.size("_sh") > 0)
    )
    verified = (
        cands.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
    )
    return verified.where(F.col("jaccard") >= 0.8)


def _fold_emit_neardup_batch(index, corpus, pairs_tbl, batch, batch_id) -> bool:
    """One micro-batch of the per-batch pair-emission protocol
    (``streaming_neardup_pair_emission``): fold the batch's band rows
    into the LSH index, append its documents to the corpus ledger,
    then emit the batch's verified new-vs-all near-dup pairs into the
    results table — EACH of the three commits behind its own batch-id
    watermark (the index via ``fold_batch``'s guard; corpus and pairs
    via their own in-commit ``_source_hi``), so a crash between any
    two commits replays safely: the already-applied prefix no-ops and
    only the missing commits run (at-least-once foreachBatch →
    exactly-once tables, the r13 ``fold_stream_batch`` discipline
    applied per table). Returns False when the batch was already fully
    applied (nothing re-emitted).

    Exactly-once pair semantics: candidates use the UNCAPPED bucket
    predicate (``bucket_cap=None`` — a pair is a candidate iff the two
    docs share any (band, bkey), a timing-independent property of the
    pair alone), and a pair is emitted by exactly the batch of its
    LATER-arriving member (the earlier member is already in the index;
    the later one is in ``batch``). The hot-bucket cap is deliberately
    NOT used here: the capped subgroup split depends on bucket counts
    AT EMISSION TIME, which would make the accumulated pair set depend
    on the batch split — the capped variant lives in the maintained
    batch query (``minhash_lsh_index_maintenance``)."""
    from .operators.dedup import jaccard, word_shingles
    from .operators.matview import SOURCE_HI, mapped_index_applied_hi

    batch = batch.select("doc_id", "text")
    folded = index.fold_batch(batch, batch_id)
    did_work = folded
    if mapped_index_applied_hi(corpus) < batch_id:
        corpus.write(
            batch.withColumn(SOURCE_HI, F.lit(batch_id).cast("long")),
            mode="append" if corpus.exists() else "overwrite",
        )
        did_work = True
    if mapped_index_applied_hi(pairs_tbl) >= batch_id:
        return did_work
    cands = index.new_vs_all_candidates(
        batch.select("doc_id"), bucket_cap=None
    )
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        corpus.read()
        .join(cand_ids, "doc_id", "semi")
        .select("doc_id", word_shingles(F.col("text"), 3).alias("_sh"))
        .where(F.size("_sh") > 0)
    )
    verified = (
        cands.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.8)
    )
    pairs_tbl.write(
        verified.withColumn(SOURCE_HI, F.lit(batch_id).cast("long")),
        mode="append" if pairs_tbl.exists() else "overwrite",
    )
    return True


@query(
    "streaming_neardup_pair_emission",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
      FROM t
    ), shf AS (
      SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0
    ), sig AS (
      SELECT doc_id,
             [list_min([CAST(('0x' || substr(md5(CAST(p // 2 AS VARCHAR) || '|' || s),
                                      CASE WHEN p % 2 = 0 THEN 1 ELSE 17 END, 15))
                             AS BIGINT)
                        FOR s IN shingles])
              FOR p IN range(0, 16)] AS sg
      FROM shf
    ), bandrows AS (
      SELECT doc_id, b.b AS band,
             md5(array_to_string(sg[b.b*4 + 1 : b.b*4 + 4], ',')) AS bkey
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ), cands AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bandrows x JOIN bandrows y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
             AS jaccard
    FROM cands
    JOIN shf a ON a.doc_id = doc_a
    JOIN shf b ON b.doc_id = doc_b
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) >= 0.8
    """,
    tags=("streaming", "dedup-minhash", "ivm", "ST2", "ST4", "oracle-twin"),
)
def streaming_neardup_pair_emission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-batch near-dup PAIR EMISSION (VERDICT r13 #4) — the
    deployment shape ``streaming_neardup_lsh_ingest`` stops short of:
    instead of folding batches and computing the pair set one-shot at
    the end, every micro-batch emits its own verified new-vs-all
    pairs INSIDE ``foreachBatch`` (fold band rows → append corpus →
    candidates against the index → exact-Jaccard verify → append to a
    results ledger). At 100 TB the one-shot final join over the whole
    index is exactly what streaming exists to avoid; per-batch work
    here is O(batch text + batch's bucket pools).

    The accumulated pair table is BATCH-SPLIT-INDEPENDENT: band rows
    are per-document pure and a pair is emitted by exactly the batch
    of its later-arriving member, so for ANY split the union of
    per-batch emissions equals the one-shot near-dup pair set of the
    whole corpus — which is what the oracle computes (uncapped bucket
    predicate; see ``_fold_emit_neardup_batch`` for why the hot-bucket
    cap would break timing-independence). Replayed batches no-op on
    the fold guard and emit nothing, keeping the accumulation
    exactly-once."""
    import uuid as _uuid

    from .operators.dedup import MaterializedLshIndex
    from .streaming.windows import read_events_stream, require_stream_progress

    base = workspace("stream_emit_")
    index = MaterializedLshIndex(
        spark,
        VersionedTable(spark, f"{base}/idx", write_partitions=4),
        text_col="text",
        id_col="doc_id",
    )
    corpus = VersionedTable(spark, f"{base}/docs", write_partitions=4)
    pairs_tbl = VersionedTable(spark, f"{base}/pairs", write_partitions=4)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = read_events_stream(
        spark, sf_dir, schema, glob="documents.parquet"
    ).select("doc_id", "text")
    name = f"snp_{_uuid.uuid4().hex[:10]}"
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: _fold_emit_neardup_batch(
                index, corpus, pairs_tbl, batch, bid
            )
            and None
        )
        .option("checkpointLocation", f"{base}/ckpt")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    require_stream_progress(q, os.path.join(sf_dir, "documents.parquet"))
    q.stop()
    return pairs_tbl.read().select("doc_a", "doc_b", "jaccard")


@query(
    "incremental_ivf_assign_maintenance",
    oracle="""
    WITH c AS (
      SELECT vec_id // 150 AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id % 150 = 0
    ), v AS (
      SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings
    ), assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_dot_product(vv, vv) + list_dot_product(cv, cv)
                                - 2 * list_dot_product(vv, cv), 6),
                          c.centroid_id
               ) AS rn
        FROM v, c
      ) WHERE rn = 1
    ), cells AS (
      SELECT v.vec_id, a.centroid_id, v.vv FROM v JOIN assigned a USING (vec_id)
    ), pairs AS (
      SELECT least(x.vec_id, y.vec_id) AS vec_a,
             greatest(x.vec_id, y.vec_id) AS vec_b,
             round(list_dot_product(x.vv, y.vv)
                   / (sqrt(list_dot_product(x.vv, x.vv))
                      * sqrt(list_dot_product(y.vv, y.vv))), 6) AS score
      FROM cells x JOIN cells y
        ON x.centroid_id = y.centroid_id AND x.vec_id <> y.vec_id
      WHERE x.vec_id % 3 = 2
      GROUP BY 1, 2, 3
    )
    SELECT vec_a, vec_b, score, CAST(3 AS BIGINT) AS wm_next
    FROM pairs WHERE score >= 0.4
    """,
    tags=("similarity-ivf", "ivm", "S2", "ST1", "ST2", "index-lifecycle"),
)
def incremental_ivf_assign_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ANN-index maintenance — the embedding-side sibling
    of ``minhash_lsh_index_maintenance``: an IVF assignment index
    (frozen stride-150 centroids, all of which live in batch 0 — the
    build-once / search-many split of ``ann_index_lifecycle``) kept
    current over a versioned embedding corpus. Each refresh assigns
    ONLY that commit's vectors against the broadcast centroids
    (O(increment), no corpus rescan) and appends through the shared
    row-mapped-index protocol
    (``operators.similarity.MaterializedIvfIndex``); three refreshes
    (vec_id ≡ 0,1,2 mod 3) + a replay no-op, then the LAST
    increment's new-vs-all cosine near-dup pairs (≥ 0.4) within
    shared cells. Assignment against fixed centroids is a pure
    per-vector function, so maintained ≡ one-shot and the one-shot
    oracle replays the whole protocol hash-exactly; ``wm_next`` pins
    the advanced watermark.

    **WARNING — do not copy the ``vec_id % 150`` centroid grid to a
    real deployment.** The pinned modulo exists ONLY so the DuckDB
    oracle can replay centroid choice deterministically; it grows
    centroid COUNT linearly with the corpus, so the broadcast and the
    assignment scan grow with it — measured at a 300× embeddings set,
    where this query exceeds a 10-minute probe budget while the same
    protocol with a FROZEN fixed-size centroid frame reads 1.33×
    wall for 3× data (SCALE.md r14 "IVF sf30"). Pass
    ``MaterializedIvfIndex`` an adaptive-stride or k-means centroid
    frame (√N sizing for the pair-query path); the ctor takes any
    ``(centroid_id, vec)`` DataFrame."""
    from .operators.similarity import MaterializedIvfIndex, oracle_arrow

    embeddings = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = embeddings.where(F.col("vec_id") % 150 == 0).select(
        (F.col("vec_id") / 150).cast("long").alias("centroid_id"),
        F.col("embedding"),
    )
    base = workspace("ivf_idx_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    index = MaterializedIvfIndex(
        spark,
        VersionedTable(spark, f"{base}/idx", write_partitions=4),
        centroids=centroids,
        id_col="vec_id",
        vec_col="embedding",
        arrow=oracle_arrow(),
    )
    key = F.col("vec_id")
    src.write(embeddings.where(key % 3 == 0), mode="overwrite")
    lo, hi = index.refresh(src)                    # folds v0
    assert (lo, hi) == (0, 0), (lo, hi)
    src.write(embeddings.where(key % 3 == 1), mode="append")
    lo, hi = index.refresh(src)                    # folds v1 only
    assert (lo, hi) == (1, 1), (lo, hi)
    src.write(embeddings.where(key % 3 == 2), mode="append")
    lo, hi = index.refresh(src)                    # folds v2 only
    assert (lo, hi) == (2, 2), (lo, hi)
    lo, hi = index.refresh(src)                    # replay: no-op
    assert lo > hi, "replayed refresh must be a no-op"
    inc_ids = src.read_changes(2, 2).select("vec_id")
    pairs = index.new_vs_all_pairs(embeddings, inc_ids, threshold=0.4)
    return pairs.withColumn(
        "wm_next", F.lit(index.applied_hi() + 1).cast("long")
    )


@query(
    "ngram_decontamination_index_maintenance",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS w,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                          'g')), ' ')) AS n,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 100 < 90
                  THEN 'train' ELSE 'holdout' END AS split
      FROM documents
    ), occ AS (
      SELECT doc_id, split, n, u.key FROM (
        SELECT doc_id, split, n,
               unnest([{'key': md5(array_to_string(w[i : i + 12], ' '))}
                       FOR i IN range(1, n - 13 + 2)]) AS u
        FROM t WHERE n >= 13
      )
    ), tk AS (
      SELECT DISTINCT key FROM occ WHERE split = 'train'
    )
    SELECT h.doc_id AS holdout_doc_id,
           CAST(COUNT(DISTINCT h.key) AS BIGINT) AS n_contaminated_ngrams,
           CAST(MAX(h.n) - 13 + 1 AS BIGINT) AS n_ngrams,
           round(CAST(COUNT(DISTINCT h.key) AS DOUBLE)
                 / (MAX(h.n) - 13 + 1), 4) AS contaminated_frac,
           CAST(3 AS BIGINT) AS wm_next
    FROM occ h JOIN tk USING (key)
    WHERE h.split = 'holdout'
    GROUP BY h.doc_id
    """,
    tags=("contamination", "dedup-substring", "ivm", "S2", "ST1", "ST2",
          "oracle-twin"),
)
def ngram_decontamination_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental DECONTAMINATION maintenance (VERDICT r13 #1) — the
    last one-shot-only text family joins the mapped-index protocol:
    the TRAIN corpus's 13-gram window fingerprints are persisted as a
    CDC-maintained index (``operators.dedup.MaterializedNgramIndex``,
    the decontamination sibling of ``minhash_lsh_index_maintenance``'s
    band rows), so arriving eval/holdout sets left-semi against the
    stored 32-char keys WITHOUT re-hashing a single train document.
    At 100 TB this is THE decontamination deployment shape: the train
    corpus is huge and static-ish, holdout sets arrive continuously;
    ``ngram_decontamination_check`` re-hashes the whole train split
    per run, this query hashes each train commit exactly once
    (narrow-only refresh — split/explode/md5, zero shuffle).

    Three incremental refreshes (train docs, doc_id ≡ 0,1,2 mod 3) +
    a replay no-op, then the GPT-3-style contamination report for the
    holdout split computed against the INDEX: per contaminated holdout
    doc, its distinct leaked 13-grams, window total, and contaminated
    fraction — identical output to the one-shot query because window
    extraction is per-document pure, so the maintained index equals
    the one-shot train key set under any commit split (the
    ``minhash_lsh_index_maintenance`` hash-proof verbatim, which is
    exactly what the oracle computes one-shot). ``wm_next`` pins the
    advanced watermark."""
    from .operators.dedup import MaterializedNgramIndex, scale_out
    from .operators.sampling import hash_bucket

    L = 13
    documents = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    split = F.when(hash_bucket(F.col("doc_id")) < 90, "train").otherwise(
        "holdout"
    )
    train = documents.where(split == "train")
    base = workspace("ngram_idx_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    index = MaterializedNgramIndex(
        spark,
        VersionedTable(spark, f"{base}/idx", write_partitions=4),
        text_col="text",
        id_col="doc_id",
        n=L,
    )
    # Same shuffle posture as the LSH index refresh: corpus-scale TEXT
    # work keeps the ambient shuffle partitions; the refresh itself is
    # narrow (no shuffle), the consumer's semi-join shuffles 32 B keys.
    key = F.col("doc_id")
    src.write(train.where(key % 3 == 0), mode="overwrite")
    lo, hi = index.refresh(src)                    # folds v0
    assert (lo, hi) == (0, 0), (lo, hi)
    src.write(train.where(key % 3 == 1), mode="append")
    lo, hi = index.refresh(src)                    # folds v1 only
    assert (lo, hi) == (1, 1), (lo, hi)
    src.write(train.where(key % 3 == 2), mode="append")
    lo, hi = index.refresh(src)                    # folds v2 only
    assert (lo, hi) == (2, 2), (lo, hi)
    lo, hi = index.refresh(src)                    # replay: no-op
    assert lo > hi, "replayed refresh must be a no-op"
    holdout = documents.where(split == "holdout")
    occ = (
        scale_out(holdout)
        .select(
            "doc_id",
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            ).alias("_w"),
        )
        .withColumn("_n", F.size("_w"))
        .where(F.col("_n") >= L)
        .select(
            "doc_id",
            "_n",
            F.explode(F.sequence(F.lit(1), F.col("_n") - L + 1)).alias("pos"),
            "_w",
        )
        .select(
            "doc_id",
            "_n",
            F.md5(F.array_join(F.slice("_w", F.col("pos"), L), " ")).alias(
                "key"
            ),
        )
    )
    report = (
        occ.join(index.read().select("key"), "key", "left_semi")
        .groupBy(F.col("doc_id").alias("holdout_doc_id"))
        .agg(
            F.countDistinct("key").alias("n_contaminated_ngrams"),
            (F.max("_n") - L + 1).cast("long").alias("n_ngrams"),
            F.round(
                F.countDistinct("key").cast("double")
                / (F.max("_n") - L + 1),
                4,
            ).alias("contaminated_frac"),
        )
    )
    return report.withColumn(
        "wm_next", F.lit(index.applied_hi() + 1).cast("long")
    )


@query(
    "exact_substring_incremental_ingest",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), occ AS (
      SELECT doc_id, u.pos, u.key FROM (
        SELECT doc_id,
               unnest([{'pos': i,
                        'key': md5(array_to_string(w[i : i + 14], ' '))}
                       FOR i IN range(1, n - 15 + 2)]) AS u
        FROM t WHERE n >= 15
      )
    ), ranked AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rk,
             COUNT(*) OVER (PARTITION BY key) AS cnt
      FROM occ
    ), dup_occ AS (
      SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rk > 1
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - COALESCE(lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos), -1000000000) > 15
                  THEN 1 ELSE 0 END AS b
      FROM dup_occ
    ), isl AS (
      SELECT doc_id, pos,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM brk
    ), spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 15 - 1 AS e
      FROM isl GROUP BY doc_id, g
    ), sp AS (
      SELECT doc_id, list({'s': s, 'e': e}) AS spans
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           CASE WHEN sp.spans IS NULL THEN t.text
                ELSE COALESCE(array_to_string(
                  [t.w[i] FOR i IN range(1, t.n + 1)
                   IF len(list_filter(sp.spans,
                          x -> i >= x.s AND i <= x.e)) = 0], ' '), '')
           END AS clean_text,
           CAST(CASE WHEN sp.spans IS NULL THEN 0
                ELSE len([i FOR i IN range(1, t.n + 1)
                          IF len(list_filter(sp.spans,
                                 x -> i >= x.s AND i <= x.e)) > 0])
                END AS BIGINT) AS n_removed_tokens
    FROM t LEFT JOIN sp USING (doc_id)
    """,
    tags=("dedup-substring", "exactsubstr", "ivm", "S2", "ST1", "ST2",
          "oracle-twin"),
)
def exact_substring_incremental_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ExactSubstr ingest — duplicated-SPAN removal
    without ever re-hashing the ingested corpus: a maintained seed
    index (``MaterializedNgramIndex`` with ``normalize=False``,
    ``n=15`` — the raw-split ExactSubstr window convention, on the
    shared mapped-index protocol) stores the ORIGINAL text's window
    keys of everything ingested so far; each arriving batch is
    trimmed by ``operators.dedup.exact_substring_trim_batch``
    (batch windows left-semi the index = cross-batch duplicates;
    intra-batch keeper logic covers the rest), the CLEANED docs land
    in the corpus ledger, and the batch's ORIGINAL windows fold into
    the index (indexing cleaned text would un-mark seeds whose keeper
    occurrence lost tokens to an overlapping span — the Lee et al.
    §4.1 caveat — and resurrect their later duplicates). At 100 TB
    this is the ExactSubstr deployment shape: the one-shot operator
    re-windows the whole corpus per run; here each ingested token is
    hashed exactly once, and a batch costs O(batch text) plus
    key-only joins.

    Batches partition the corpus in increasing doc_id RANGES (tertile
    thresholds from a scalar max — ingestion order must equal the
    one-shot keeper order ``min(doc, pos)``), which makes the union
    of per-batch trims IDENTICAL to the one-shot
    ``exact_substring_dedup`` of the whole corpus — the oracle is
    that one-shot SQL verbatim, so the entire incremental protocol
    (three refreshes + replay no-op) is hash-checked."""
    from .operators.dedup import (
        MaterializedNgramIndex,
        exact_substring_trim_batch,
    )

    L = 15
    documents = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    hi_id = documents.agg(F.max("doc_id")).collect()[0][0]
    t1, t2 = hi_id // 3, (2 * hi_id) // 3
    key = F.col("doc_id")
    batches = [
        documents.where(key <= t1),
        documents.where((key > t1) & (key <= t2)),
        documents.where(key > t2),
    ]
    base = workspace("xsub_inc_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    index = MaterializedNgramIndex(
        spark,
        VersionedTable(spark, f"{base}/idx", write_partitions=4),
        text_col="text",
        id_col="doc_id",
        n=L,
        normalize=False,
    )
    corpus = VersionedTable(spark, f"{base}/out", write_partitions=4)
    empty_keys = spark.createDataFrame([], "key string")
    for i, batch in enumerate(batches):
        keys = index.read().select("key") if i else empty_keys
        # with_occ: the trim's persisted window expansion IS the
        # index increment (same split/explode/md5 over the same batch
        # rows), so the refresh folds it directly instead of
        # re-hashing the committed copy — each ingested token is
        # md5-hashed exactly once per batch (r15, guide §1.2).
        trimmed, occ = exact_substring_trim_batch(
            batch, keys, "text", "doc_id", span_words=L, with_occ=True
        )
        mode = "append" if i else "overwrite"
        # The two commits are independent tables fed by the same batch
        # (guide §2.6: actions are only sequential because the driver
        # calls them sequentially) — submitting both lets the light
        # src commit back-fill cores idled by the trim job's tail.
        # Both must land before the refresh reads src's watermark.
        # Each pool thread runs under a copy of the caller's local
        # properties, so both commits keep its job group.
        with ThreadPoolExecutor(max_workers=2) as pool:
            fc = pool.submit(inheritable_thread_target(spark)(corpus.write), trimmed, mode)
            fs = pool.submit(inheritable_thread_target(spark)(src.write), batch, mode)
            fc.result()
            fs.result()
        lo, hi = index.refresh(       # folds commit i only
            src,
            precomputed_keys=occ.select("doc_id", F.col("_key").alias("key")),
        )
        assert (lo, hi) == (i, i), (lo, hi)
    lo, hi = index.refresh(src)                   # replay: no-op
    assert lo > hi, "replayed refresh must be a no-op"
    return corpus.read().select("doc_id", "clean_text", "n_removed_tokens")


@query(
    "streaming_decontamination_ingest",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS w,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                          'g')), ' ')) AS n,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 100 < 90
                  THEN 'train' ELSE 'holdout' END AS split
      FROM documents
    ), occ AS (
      SELECT doc_id, split, n, u.key FROM (
        SELECT doc_id, split, n,
               unnest([{'key': md5(array_to_string(w[i : i + 12], ' '))}
                       FOR i IN range(1, n - 13 + 2)]) AS u
        FROM t WHERE n >= 13
      )
    ), tk AS (
      SELECT DISTINCT key FROM occ WHERE split = 'train'
    )
    SELECT h.doc_id AS holdout_doc_id,
           CAST(COUNT(DISTINCT h.key) AS BIGINT) AS n_contaminated_ngrams,
           CAST(MAX(h.n) - 13 + 1 AS BIGINT) AS n_ngrams,
           round(CAST(COUNT(DISTINCT h.key) AS DOUBLE)
                 / (MAX(h.n) - 13 + 1), 4) AS contaminated_frac
    FROM occ h JOIN tk USING (key)
    WHERE h.split = 'holdout'
    GROUP BY h.doc_id
    """,
    tags=("contamination", "streaming", "dedup-substring", "ST2", "ST4",
          "oracle-twin"),
)
def streaming_decontamination_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming DECONTAMINATION — the deployment composition of this
    round's two pieces: the train corpus's 13-gram fingerprint index
    is built ONCE (``MaterializedNgramIndex`` — in production it is
    CDC-maintained; here one refresh folds the whole train split),
    and eval/holdout documents arrive as a Structured-Streaming file
    stream; every micro-batch computes its own contamination report
    INSIDE ``foreachBatch`` (window-expand the batch → left-semi the
    stored 32-char keys → per-doc aggregate → append to a results
    ledger, guarded by batch id for idempotent replay). At 100 TB
    this is how eval sets are screened continuously: per-batch work
    is O(batch text) + a key-only semi-join against the static index
    — the train corpus is never re-read, let alone re-hashed.

    The accumulated report is trivially batch-split-INDEPENDENT: each
    holdout doc's row depends only on its own windows and the static
    index, and every doc arrives in exactly one batch — so for ANY
    split the union of per-batch reports equals the one-shot
    decontamination report, which is what the oracle computes
    (identical SQL to ``ngram_decontamination_check``). A replayed
    batch no-ops on the results ledger's own watermark."""
    import uuid as _uuid

    from .operators.dedup import MaterializedNgramIndex, scale_out
    from .operators.matview import SOURCE_HI, mapped_index_applied_hi
    from .operators.sampling import hash_bucket
    from .streaming.windows import read_events_stream, require_stream_progress

    L = 13
    documents = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    split = F.when(hash_bucket(F.col("doc_id")) < 90, "train").otherwise(
        "holdout"
    )
    base = workspace("stream_decon_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    index = MaterializedNgramIndex(
        spark,
        VersionedTable(spark, f"{base}/idx", write_partitions=4),
        text_col="text",
        id_col="doc_id",
        n=L,
    )
    src.write(documents.where(split == "train"), mode="overwrite")
    lo, hi = index.refresh(src)                    # one-shot build here;
    assert (lo, hi) == (0, 0), (lo, hi)            # CDC-maintained in prod
    train_keys = index.read().select("key")
    results = VersionedTable(spark, f"{base}/out", write_partitions=4)

    def handle(batch: DataFrame, batch_id: int) -> None:
        # Idempotent-replay guard on the RESULTS ledger itself (the
        # fold_batch pattern): the applied batch id rides inside the
        # commit as _source_hi.
        if batch_id <= mapped_index_applied_hi(results):
            return
        occ = (
            scale_out(batch.where(split == "holdout"))
            .select(
                "doc_id",
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                    " ",
                ).alias("_w"),
            )
            .withColumn("_n", F.size("_w"))
            .where(F.col("_n") >= L)
            .select(
                "doc_id",
                "_n",
                F.explode(
                    F.sequence(F.lit(1), F.col("_n") - L + 1)
                ).alias("pos"),
                "_w",
            )
            .select(
                "doc_id",
                "_n",
                F.md5(F.array_join(F.slice("_w", F.col("pos"), L), " "))
                .alias("key"),
            )
        )
        report = (
            occ.join(train_keys, "key", "left_semi")
            .groupBy(F.col("doc_id").alias("holdout_doc_id"))
            .agg(
                F.countDistinct("key").alias("n_contaminated_ngrams"),
                (F.max("_n") - L + 1).cast("long").alias("n_ngrams"),
                F.round(
                    F.countDistinct("key").cast("double")
                    / (F.max("_n") - L + 1),
                    4,
                ).alias("contaminated_frac"),
            )
            .withColumn(SOURCE_HI, F.lit(batch_id).cast("long"))
        )
        results.write(
            report, mode="append" if results.exists() else "overwrite"
        )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = read_events_stream(
        spark, sf_dir, schema, glob="documents.parquet"
    ).select("doc_id", "text")
    name = f"sdc_{_uuid.uuid4().hex[:10]}"
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{base}/ckpt")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    require_stream_progress(q, os.path.join(sf_dir, "documents.parquet"))
    q.stop()
    return results.read().select(
        "holdout_doc_id", "n_contaminated_ngrams", "n_ngrams",
        "contaminated_frac",
    )


@query(
    "lsh_index_gdpr_tombstone_maintenance",
    oracle="""
    WITH live AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3
    ), t AS (SELECT doc_id, string_split(text, ' ') AS w FROM live),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
      FROM t
    ), shf AS (
      SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0
    ), sig AS (
      SELECT doc_id,
             [list_min([CAST(('0x' || substr(md5(CAST(p // 2 AS VARCHAR) || '|' || s),
                                      CASE WHEN p % 2 = 0 THEN 1 ELSE 17 END, 15))
                             AS BIGINT)
                        FOR s IN shingles])
              FOR p IN range(0, 16)] AS sg
      FROM shf
    ), bandrows AS (
      SELECT doc_id, b.b AS band,
             md5(array_to_string(sg[b.b*4 + 1 : b.b*4 + 4], ',')) AS bkey
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ), salted AS (
      SELECT doc_id, band, bkey,
             CAST('0x' || substr(md5(CAST(band AS VARCHAR) || ':' || bkey
                                     || ':' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT)
               % ((COUNT(*) OVER (PARTITION BY band, bkey) + 63) // 64) AS sub
      FROM bandrows
    ), cands AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM salted x JOIN salted y
        ON x.band = y.band AND x.bkey = y.bkey AND x.sub = y.sub
           AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
             AS jaccard,
           CAST(3 AS BIGINT) AS wm_next
    FROM cands
    JOIN shf a ON a.doc_id = doc_a
    JOIN shf b ON b.doc_id = doc_b
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) >= 0.8
    """,
    tags=("dedup-minhash", "ivm", "gdpr", "S2", "S8", "ST1", "ST2",
          "oracle-twin"),
)
def lsh_index_gdpr_tombstone_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GDPR-forget folding through the TOMBSTONE delete path (VERDICT
    r13 #3 made oracle-checkable): the MinHash-LSH band-row index is
    maintained in ``deletes="tombstone"`` mode, so a forget batch
    appends one tombstone per forgotten document — O(changes), the
    index body is never read or rewritten — and read-time
    last-writer-wins resolution (``matview.read_mapped_index``) hides
    every forgotten document's band rows immediately. At 100 TB this
    is the GDPR deployment shape: the rewrite mode's O(index) pass per
    forget batch is the weak joint this closes.

    Two insert commits seed the corpus, then a CDC delete batch
    (doc_id ≡ 3 mod 7) folds as tombstones, plus a replay no-op; the
    returned result is the FULL verified near-dup pair set computed
    from the resolved index (capped bucket join + exact Jaccard ≥ 0.8
    over candidate docs of the LIVE ledger). Because band rows are
    per-document pure and resolution yields exactly the live corpus's
    rows, the maintained-through-deletes index equals the one-shot
    banding of the live corpus — the oracle computes that one-shot
    over ``documents`` minus the forgotten slice, so tombstone
    resolution itself is what the hash check proves. ``wm_next`` pins
    the advanced watermark."""
    from .operators.dedup import (
        MaterializedLshIndex,
        band_bucket_candidates,
        jaccard,
        word_shingles,
    )
    from .operators.merge import CHANGE_TYPE, CT_DELETE

    documents = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    base = workspace("lsh_gdpr_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    index = MaterializedLshIndex(
        spark,
        VersionedTable(spark, f"{base}/idx", write_partitions=4),
        text_col="text",
        id_col="doc_id",
        num_perm=16,
        bands=4,
        shingle_n=3,
        deletes="tombstone",
    )
    key = F.col("doc_id")
    src.write(documents.where(key % 3 < 2), mode="overwrite")
    lo, hi = index.refresh(src)                    # folds v0
    assert (lo, hi) == (0, 0), (lo, hi)
    src.write(documents.where(key % 3 == 2), mode="append")
    lo, hi = index.refresh(src)                    # folds v1 only
    assert (lo, hi) == (1, 1), (lo, hi)
    forget = documents.where(key % 7 == 3).withColumn(
        CHANGE_TYPE, F.lit(CT_DELETE)
    )
    src.merge(forget, primary_keys=["doc_id"])     # v2: the GDPR batch
    lo, hi = index.refresh(src)                    # folds as tombstones
    assert (lo, hi) == (2, 2), (lo, hi)
    lo, hi = index.refresh(src)                    # replay: no-op
    assert lo > hi, "replayed refresh must be a no-op"
    # Threshold compaction (r15, VERDICT r14 #3): the forget batch
    # left ~1/7 of raw rows invisible (old generations + tombstones),
    # past the 10% policy knob — one O(index) rewrite here and every
    # read below (the bucket join references the index on several
    # branches) skips the last-writer-wins window via the
    # COMPACTED_TAG proof instead of re-paying it per branch.
    compacted = index.compact(min_stale_fraction=0.1)
    assert compacted, "GDPR batch must cross the stale threshold"
    cands = band_bucket_candidates(index.read(), "doc_id", bucket_cap=64)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        src.read()
        .join(cand_ids, "doc_id", "semi")
        .select("doc_id", word_shingles(F.col("text"), 3).alias("_sh"))
        .where(F.size("_sh") > 0)
    )
    verified = (
        cands.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.8)
    )
    return verified.withColumn(
        "wm_next", F.lit(index.applied_hi() + 1).cast("long")
    )


@query(
    "scd2_order_history",
    oracle="""
    WITH chg AS (
      SELECT o_orderkey, o_totalprice, 'insert' AS ct, 0 AS v
      FROM orders WHERE o_orderkey % 4 = 1
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'insert', 1
      FROM orders WHERE o_orderkey % 4 = 2
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'delete', 2
      FROM orders WHERE o_orderkey % 8 = 1
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'insert', 2
      FROM orders WHERE o_orderkey % 4 = 3
    ), led AS (
      SELECT *,
             lead(v) OVER (PARTITION BY o_orderkey ORDER BY v, ct) AS vto
      FROM chg
    )
    SELECT o_orderkey, o_totalprice,
           CAST(v AS BIGINT) AS valid_from_version,
           CAST(vto AS BIGINT) AS valid_to_version,
           CAST(vto IS NULL AS INT) AS is_current
    FROM led WHERE ct = 'insert'
    """,
    tags=("scd2", "S2", "warehouse"),
)
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history built from the CDC
    feed of a versioned source (same deterministic commit slices as
    `cdc_incremental_roundtrip`): one lead() window per key turns the
    raw change stream into validity segments — deleted keys' segments
    close, superseded inserts chain (operators.scd.scd2_from_changes)."""
    from .operators.scd import scd2_from_changes

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = workspace("scd2_")
    source = VersionedTable(spark, f"{base}/src", write_partitions=4)
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        from .operators.merge import CHANGE_TYPE, CT_DELETE, CT_INSERT

        key = F.col("o_orderkey")
        source.write(orders.where(key % 4 == 1), mode="overwrite")
        source.write(orders.where(key % 4 == 2), mode="append")
        feed = (
            orders.where(key % 8 == 1)
            .withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
            .unionByName(
                orders.where(key % 4 == 3).withColumn(CHANGE_TYPE, F.lit(CT_INSERT))
            )
        )
        source.merge(feed, primary_keys=["o_orderkey"])
        changes = source.read_changes(0, source.latest_version())
        return scd2_from_changes(changes, ["o_orderkey"], ["o_totalprice"])


@query(
    "ann_index_lifecycle",
    oracle="""
    WITH c AS (
      SELECT vec_id // 50 AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id % 50 = 0
    ), v AS (
      SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings
    ), assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_dot_product(vv, vv) + list_dot_product(cv, cv)
                                - 2 * list_dot_product(vv, cv), 6),
                          c.centroid_id
               ) AS rn
        FROM v, c
      ) WHERE rn = 1
    ), cells AS (
      SELECT v.vec_id, a.centroid_id, v.vv FROM v JOIN assigned a USING (vec_id)
    ), scored AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             round(list_dot_product(q.vv, x.vv)
                   / (sqrt(list_dot_product(q.vv, q.vv))
                      * sqrt(list_dot_product(x.vv, x.vv))), 6) AS score
      FROM cells q JOIN cells x
        ON q.centroid_id = x.centroid_id AND x.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 3
    """,
    tags=("similarity-ivf", "index-lifecycle", "S6"),
)
def ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index deployment lifecycle end-to-end: build the IVF
    coarse index once, persist it as a versioned feature table
    (ledger S6 sink), read it back, and search with the PERSISTED
    copy. Parquet double/float arrays round-trip bit-exactly, so the
    search result must hash-equal the same pinned-stride-50 index
    built inline (the unrolled-CTE oracle; since r8 the inline
    queries default to adaptive √N sizing, so this also serves as an
    IVF-family pinned-stride regression twin) — which is precisely
    the property a build-once/search-many index service relies on."""
    from .operators.similarity import ivf_topk, oracle_arrow

    embeddings = load_table(spark, sf_dir, "embeddings")
    centroids = embeddings.where((F.col("vec_id") % 50) == 0).select(
        (F.col("vec_id") / 50).cast("long").alias("centroid_id"),
        F.col("embedding"),
    )
    base = workspace("ann_index_")
    index_table = VersionedTable(spark, f"{base}/ivf_index", write_partitions=1)
    index_table.write(centroids, mode="overwrite")
    persisted = index_table.read()
    return ivf_topk(
        embeddings, query_ids=range(10), k=3, centroids=persisted,
        arrow=oracle_arrow(),
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH cohorts AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS balance_band,
             CAST(count(*) AS BIGINT) AS cohort_size
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2, 3
    )
    SELECT nation, segment, balance_band, cohort_size,
           CAST(cohort_size < 5 AS BOOLEAN) AS below_k,
           round(1.0 / cohort_size, 6) AS reident_risk
    FROM cohorts
    ORDER BY cohort_size, nation, segment, balance_band
    LIMIT 200
    """,
    tags=("privacy", "k-anonymity", "pseudonymisation", "audit"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the re-identification
    risk check a pseudonymisation pipeline (the reference's entire
    domain: hospital notes, ``patient_notes/docs/design_doc.md:23-39``)
    runs on its OUTPUT: hashing direct identifiers is not enough if
    the remaining quasi-identifier combination (here nation × market
    segment × coarsened balance band) isolates individuals into
    cohorts smaller than k. Emits every cohort with its size, a
    below-k flag (k=5, the conventional floor), and the worst-case
    re-identification probability 1/size. One shuffle on the
    quasi-identifier tuple with map-side partial aggregation; the
    dimension join broadcasts. The 1/size division is a single IEEE
    op on exact integers — identical in both engines.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cohorts = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 2000).alias("balance_band"),
        )
        .agg(F.count("*").alias("cohort_size"))
    )
    return (
        cohorts.select(
            "nation",
            "segment",
            "balance_band",
            "cohort_size",
            (F.col("cohort_size") < 5).alias("below_k"),
            F.round(F.lit(1.0) / F.col("cohort_size"), 6).alias("reident_risk"),
        )
        .orderBy("cohort_size", "nation", "segment", "balance_band")
        .limit(200)
    )


@query(
    "l_diversity_audit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS cohort_size,
           CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct,
           CAST(count(DISTINCT o.o_orderpriority) < 3 AS BOOLEAN) AS below_l
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("privacy", "l-diversity", "pseudonymisation", "audit"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's companion check: a cohort can
    be large (k-anonymous) yet still leak if everyone in it shares the
    same sensitive value, so each quasi-identifier cohort (nation ×
    order year) must carry at least l distinct sensitive values
    (order priority standing in for the sensitive attribute; l=3).
    Count-distinct per cohort expands to the standard two-phase
    aggregate (distinct-tuple partial, then count) — map-side combine
    on both phases, broadcast dimension joins, integer outputs
    (hash-exact).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    l_distinct = F.countDistinct("o_orderpriority")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.count("*").alias("cohort_size"),
            l_distinct.alias("l_distinct"),
            (l_distinct < 3).alias("below_l"),
        )
        .orderBy("nation", "order_year")
    )


@query(
    "t_closeness_audit",
    oracle="""
    WITH c AS (
      SELECT n.n_name AS nation,
             CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS band
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), gband AS (
      SELECT band, CAST(count(*) AS BIGINT) AS cnt_q FROM c GROUP BY band
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT band) AS BIGINT) AS m
      FROM c
    ), gcum AS (
      SELECT band, SUM(cnt_q) OVER (ORDER BY band) AS cum_q FROM gband
    ), grp AS (
      SELECT nation, band, CAST(count(*) AS BIGINT) AS cnt_p
      FROM c GROUP BY nation, band
    ), ng AS (
      SELECT nation, CAST(SUM(cnt_p) AS BIGINT) AS n_g FROM grp GROUP BY nation
    ), grid AS (
      SELECT ng.nation, g.band, ng.n_g, COALESCE(grp.cnt_p, 0) AS cnt_p
      FROM ng CROSS JOIN gband g
      LEFT JOIN grp ON grp.nation = ng.nation AND grp.band = g.band
    ), cum AS (
      SELECT nation, band, n_g,
             SUM(cnt_p) OVER (PARTITION BY nation ORDER BY band) AS cum_p
      FROM grid
    ), emd AS (
      SELECT c.nation, max(c.n_g) AS cohort_size,
             SUM(abs(CAST(c.cum_p AS BIGINT) * t.n
                     - CAST(g.cum_q AS BIGINT) * c.n_g)) AS emd_scaled
      FROM cum c JOIN gcum g ON c.band = g.band CROSS JOIN tot t
      GROUP BY c.nation
    )
    SELECT nation, cohort_size,
           round(CAST(emd_scaled AS DOUBLE)
                 / (cohort_size * t.n * (t.m - 1)), 6) AS t_emd,
           CAST(emd_scaled * 20 > cohort_size * t.n * (t.m - 1) * 3
                AS BOOLEAN) AS above_t
    FROM emd CROSS JOIN tot t
    ORDER BY nation
    """,
    tags=("privacy", "t-closeness", "pseudonymisation", "audit"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the re-identification
    battery (k-anonymity: cohorts big enough; l-diversity: sensitive
    values varied enough; t-closeness: the cohort's sensitive
    DISTRIBUTION must not stray from the corpus-wide one, or cohort
    membership itself leaks the attribute). Sensitive attribute =
    coarsened account-balance band (ordered), distance = the ordered
    Earth Mover's Distance of Li et al.: mean absolute difference of
    the two cumulative distributions. The whole decision path is
    integer-exact: per-band cumulative counts are compared
    cross-multiplied (``|cum_p*n - cum_q*n_g|`` — no per-row
    division), summed as exact integers, with ONE IEEE division at
    the end and the t>0.15 flag as a pure integer comparison
    (``emd*20 > denom*3``), so both engines agree bit-for-bit.
    Products stay inside int64 for cohorts up to ~3e9 rows. Plan: one
    shuffle to (nation, band) counts, every later frame is
    band-cardinality-sized; the dense nation x band grid and the
    global CDF both broadcast."""
    cust = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    from pyspark.sql.window import Window

    c = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("band"),
    )
    glob = c.groupBy("band").agg(F.count("*").alias("cnt_q"))
    tot = glob.agg(
        F.sum("cnt_q").alias("n"), F.count("*").alias("m")
    )
    gcum = glob.select(
        "band",
        F.sum("cnt_q").over(Window.orderBy("band")).alias("cum_q"),
    )
    grp = c.groupBy("nation", "band").agg(F.count("*").alias("cnt_p"))
    ng = grp.groupBy("nation").agg(F.sum("cnt_p").alias("n_g"))
    grid = (
        ng.crossJoin(F.broadcast(glob.select("band")))
        .join(grp, ["nation", "band"], "left")
        .select(
            "nation", "band", "n_g", F.coalesce("cnt_p", F.lit(0)).alias("cnt_p")
        )
    )
    cum = grid.select(
        "nation",
        "band",
        "n_g",
        F.sum("cnt_p")
        .over(Window.partitionBy("nation").orderBy("band"))
        .alias("cum_p"),
    )
    emd = (
        cum.join(F.broadcast(gcum), "band")
        .crossJoin(F.broadcast(tot))
        .groupBy("nation")
        .agg(
            F.max("n_g").alias("cohort_size"),
            F.sum(
                F.abs(F.col("cum_p") * F.col("n") - F.col("cum_q") * F.col("n_g"))
            ).alias("emd_scaled"),
        )
    )
    denom = F.col("cohort_size") * F.col("n") * (F.col("m") - 1)
    return (
        emd.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "cohort_size",
            F.round(F.col("emd_scaled").cast("double") / denom, 6).alias("t_emd"),
            (F.col("emd_scaled") * 20 > denom * 3).alias("above_t"),
        )
        .orderBy("nation")
    )


@query(
    "incremental_agg_maintenance",
    oracle="""
    WITH created  AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 1),
         appended AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 2),
         inserted AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 3),
         deleted  AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 8 = 1),
         final AS (
           SELECT * FROM (
             SELECT * FROM created UNION ALL
             SELECT * FROM appended UNION ALL
             SELECT * FROM inserted
           ) s
           WHERE NOT EXISTS (SELECT 1 FROM deleted d
                             WHERE d.o_orderkey = s.o_orderkey))
    SELECT o_orderstatus,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM final GROUP BY o_orderstatus
    """,
    tags=("S2", "ST1", "ST2", "A1", "ivm", "gold-layer"),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (IVM): a gold
    ``GROUP BY o_orderstatus`` revenue table kept current from the CDC
    feed of a versioned orders source — the fact table is never
    rescanned after the first fold.

    Same deterministic commit slices as ``cdc_incremental_roundtrip``
    (v0 create ≡1 mod 4, v1 append ≡2, v2 merge deleting ≡1 mod 8 and
    inserting ≡3 mod 4). Refresh #1 folds v0–v1; refresh #2 folds only
    v2's increment (delete pre-images contribute −1/−price, inserts
    +1/+price); refresh #3 proves the replay no-op path (the applied
    watermark rides inside the view commit — ``operators.matview``).
    The oracle recomputes the aggregate from the net final state; the
    incremental path must land on exactly the same decimal sums.
    """
    from .operators.matview import COUNT_COL, SOURCE_HI, MaterializedAggregate
    from .operators.merge import CHANGE_TYPE, CT_DELETE, CT_INSERT

    orders = load_table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    base = workspace("ivm_")
    source = VersionedTable(spark, f"{base}/src", write_partitions=4)
    view = MaterializedAggregate(
        spark,
        VersionedTable(spark, f"{base}/gold", write_partitions=1),
        group_keys=["o_orderstatus"],
        sum_measures={"revenue": "o_totalprice"},
    )
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        key = F.col("o_orderkey")
        source.write(orders.where(key % 4 == 1), mode="overwrite")
        source.write(orders.where(key % 4 == 2), mode="append")
        view.refresh(source)  # folds v0..v1
        feed = (
            orders.where(key % 8 == 1)
            .withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
            .unionByName(
                orders.where(key % 4 == 3).withColumn(CHANGE_TYPE, F.lit(CT_INSERT))
            )
        )
        source.merge(feed, primary_keys=["o_orderkey"])
        lo, hi = view.refresh(source)  # folds v2 only
        assert (lo, hi) == (2, 2), f"expected to fold exactly v2, got {(lo, hi)}"
        lo, hi = view.refresh(source)  # replay: already current
        assert lo > hi, "replayed refresh must be a no-op"
        return view.table.read().select(
            "o_orderstatus",
            F.col(COUNT_COL).alias("order_cnt"),
            F.col("revenue").cast("double").alias("revenue"),
        )


@query(
    "gdpr_forget_propagation",
    oracle="""
    SELECT c_nationkey, c_acctbal, c_mktsegment,
           sha256(CAST(c_custkey AS VARCHAR) || '2b6ef354-salt')
             AS c_custkey_hashed
    FROM customer
    WHERE c_custkey % 13 <> 0
    """,
    tags=("S2", "S8", "ST3", "privacy", "right-to-erasure"),
)
def gdpr_forget_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure propagation through a pseudonymised zone: the
    silver mirror is keyed by the salted hash (the raw key was dropped
    at ingest), so a forget request arriving as raw-key CDC deletes
    must flow *through the same pseudonymisation transform* to find
    its silver rows — the hash is deterministic precisely so erasure
    stays routable after de-identification (the reference's salted-
    SHA-256 design, ``transform.py:141-145``; its docs motivate salt
    rotation vs erasure trade-offs).

    v0 seeds bronze with every customer; run 1 builds silver. The
    forget feed deletes custkeys ≡ 0 (mod 13) from bronze; run 2
    consumes only that increment, pseudonymises the delete pre-images,
    and the hashed-key MERGE removes the silver rows. The oracle is
    the surviving customers pseudonymised relationally."""
    from .config import TABLE_CONFIG
    from .operators.merge import CHANGE_TYPE, CT_DELETE
    from .pipelines.pseudonymise import pseudo_transform
    from .streaming.incremental import run_incremental_activity

    customer = load_table(spark, sf_dir, "customer")
    base = workspace("gdpr_")
    bronze = VersionedTable(spark, f"{base}/bronze", write_partitions=4)
    silver = VersionedTable(spark, f"{base}/silver", write_partitions=4)
    state = VersionedTable(spark, f"{base}/state", write_partitions=1)
    run = lambda: run_incremental_activity(  # noqa: E731
        spark, bronze, silver, state,
        activity="pseudonymisation", table_name="customer",
        primary_keys=["c_custkey_hashed"],
        transform=lambda df: pseudo_transform(df, TABLE_CONFIG["customer"]),
    )
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        bronze.write(customer, mode="overwrite")
        run()
        forget = customer.where(F.col("c_custkey") % 13 == 0).withColumn(
            CHANGE_TYPE, F.lit(CT_DELETE)
        )
        bronze.merge(forget, primary_keys=["c_custkey"])
        run()
        return silver.read()


@query(
    "csv_source_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
    """,
    tags=("S5-csv", "source-format", "A1"),
)
def csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source fidelity, driver-checked: a deterministic orders
    slice writes to headered CSV (`io.write_csv`) and reads back with
    an explicit schema (`io.read_csv` — no inference job at scale),
    then aggregates. Doubles survive because Spark writes the
    shortest-roundtrip representation; the oracle aggregates the
    original parquet, so any text-encode/parse drift (quoting, nulls,
    locale, precision) breaks the hash."""
    from .io import read_csv, write_csv

    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = workspace("csv_rt_") + "/orders"
    write_csv(orders, path)
    back = read_csv(
        spark, path,
        schema="o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    from .queries import dec_sum

    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dec_sum(F.col("o_totalprice"), "revenue"),
    )


@query(
    "json_source_nested_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE o_orderkey % 7 = 0
    GROUP BY o_orderpriority
    """,
    tags=("S5-json", "source-format", "P5", "A1"),
)
def json_source_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source fidelity with a NESTED payload: orders rows
    nest into ``detail: {status, priority, price}`` structs, write as
    JSON lines, read back with an explicit nested schema, and the
    aggregate projects through the dotted path — proving struct
    encode/decode plus nested-field projection on a text source (the
    P5 capability over S5-json). Oracle aggregates the original
    parquet."""
    from .io import read_json_lines, write_json_lines
    from .queries import dec_sum

    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").alias("price"),
            ).alias("detail"),
        )
    )
    path = workspace("json_rt_") + "/orders"
    write_json_lines(orders, path)
    back = read_json_lines(
        spark, path,
        schema="o_orderkey long, "
        "detail struct<status:string, priority:string, price:double>",
    )
    return back.groupBy(
        F.col("detail.priority").alias("o_orderpriority")
    ).agg(
        F.count("*").alias("n_orders"),
        dec_sum(F.col("detail.price"), "revenue"),
    )


@query(
    "orc_source_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS gross
    FROM lineitem
    WHERE l_orderkey % 11 = 0
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("S5-orc", "source-format", "A1"),
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source fidelity (the third columnar format next to parquet
    and the text sources): a deterministic lineitem slice writes to ORC
    and reads back, then aggregates; the oracle aggregates the original
    parquet, so any type-mapping or compression drift breaks the hash.
    ORC scans keep predicate pushdown and column pruning like parquet —
    the formats are interchangeable at the plan level."""
    from .io import read_orc, write_orc
    from .queries import dec_sum

    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 11 == 0)
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice")
    )
    path = workspace("orc_rt_") + "/lineitem"
    write_orc(lineitem, path)
    back = read_orc(spark, path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        dec_sum(F.col("l_extendedprice"), "gross"),
    )


@query(
    "incremental_join_agg_maintenance",
    oracle="""
    WITH created  AS (SELECT o_orderkey, o_custkey, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 1),
         appended AS (SELECT o_orderkey, o_custkey, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 2),
         inserted AS (SELECT o_orderkey, o_custkey, o_totalprice
                      FROM orders WHERE o_orderkey % 4 = 3),
         deleted  AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 8 = 1),
         final AS (
           SELECT * FROM (
             SELECT * FROM created UNION ALL
             SELECT * FROM appended UNION ALL
             SELECT * FROM inserted
           ) s
           WHERE NOT EXISTS (SELECT 1 FROM deleted d
                             WHERE d.o_orderkey = s.o_orderkey))
    SELECT n_name,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM final
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("S2", "ST1", "A1", "J1", "ivm", "join-view"),
)
def incremental_join_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view IVM: a gold per-nation revenue table over
    orders ⋈ customer ⋈ nation, maintained from the orders CDC feed
    alone — the delta rule Δ(F ⋈ dim) = ΔF ⋈ dim for dimensions
    static within a fold, so each refresh joins only the *increment*
    to the broadcast dims and folds the signed delta
    (``MaterializedAggregate.refresh(transform=...)``). Neither the
    fact table nor the join is ever recomputed. Same commit slices as
    ``incremental_agg_maintenance``; oracle recomputes the joined
    aggregate from the net state."""
    from .operators.matview import COUNT_COL, MaterializedAggregate
    from .operators.merge import CHANGE_TYPE, CT_DELETE, CT_INSERT

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def to_nation(changes: DataFrame) -> DataFrame:
        return (
            changes.join(F.broadcast(cust), changes.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .select("n_name", "o_totalprice", CHANGE_TYPE)
        )

    base = workspace("join_ivm_")
    source = VersionedTable(spark, f"{base}/src", write_partitions=4)
    view = MaterializedAggregate(
        spark,
        VersionedTable(spark, f"{base}/gold", write_partitions=1),
        group_keys=["n_name"],
        sum_measures={"revenue": "o_totalprice"},
    )
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        key = F.col("o_orderkey")
        source.write(orders.where(key % 4 == 1), mode="overwrite")
        source.write(orders.where(key % 4 == 2), mode="append")
        view.refresh(source, transform=to_nation)
        feed = (
            orders.where(key % 8 == 1)
            .withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
            .unionByName(
                orders.where(key % 4 == 3).withColumn(CHANGE_TYPE, F.lit(CT_INSERT))
            )
        )
        source.merge(feed, primary_keys=["o_orderkey"])
        lo, hi = view.refresh(source, transform=to_nation)
        assert (lo, hi) == (2, 2), f"expected to fold exactly v2, got {(lo, hi)}"
        return view.table.read().select(
            "n_name",
            F.col(COUNT_COL).alias("order_cnt"),
            F.col("revenue").cast("double").alias("revenue"),
        )


@query(
    "incremental_neardup_ingest",
    oracle="""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 < 2
    ), t AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
      FROM t
    ), shf AS (
      SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0
    ), sig AS (
      SELECT doc_id,
             [list_min([CAST(('0x' || substr(md5(CAST(p // 2 AS VARCHAR) || '|' || s),
                                      CASE WHEN p % 2 = 0 THEN 1 ELSE 17 END, 15))
                             AS BIGINT)
                        FOR s IN shingles])
              FOR p IN range(0, 16)] AS sg
      FROM shf
    ), bandrows AS (
      SELECT doc_id, b.b AS band,
             md5(array_to_string(sg[b.b*4 + 1 : b.b*4 + 4], ',')) AS bkey
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ), cands AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bandrows x JOIN bandrows y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
      WHERE x.doc_id % 3 = 1 OR y.doc_id % 3 = 1
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
             AS jaccard
    FROM cands
    JOIN shf a ON a.doc_id = doc_a
    JOIN shf b ON b.doc_id = doc_b
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) >= 0.8
    """,
    tags=("S2", "ST1", "dedup-minhash", "llm-pipeline", "oracle-twin"),
)
def incremental_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup index maintenance under CDC ingest — the deployment
    shape where re-running LSH over the whole corpus per batch is the
    anti-pattern. Batch 0 (ids ≡0 mod 3) seeds a persisted signature
    index (a versioned ledger table of ``(doc_id, signature)``); batch
    1 (≡1 mod 3) arrives as an increment: ONLY the increment is
    shingled and signed, its band keys probe the index (plus itself,
    for intra-batch pairs), and exact-Jaccard verification re-shingles
    only the candidate pair ids. Work per ingest is
    O(increment + candidates), never O(corpus). The md5 hash family
    makes the whole incremental run hash-checkable against a
    full-recompute oracle filtered to increment-touching pairs — which
    is also the correctness property that matters: incremental ==
    recompute, restricted to the new arrivals."""
    from .operators.dedup import (
        jaccard,
        md5_band_rows,
        minhash_md5_signatures_from_shingles,
        word_shingles,
    )

    documents = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_dir = workspace("inc_neardup_")
    index = VersionedTable(spark, f"{base_dir}/sig_index", write_partitions=4)
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        def signatures(docs: DataFrame) -> DataFrame:
            sh = docs.select(
                "doc_id", word_shingles(F.col("text"), 3).alias("shingles")
            ).where(F.size("shingles") > 0)
            return minhash_md5_signatures_from_shingles(
                sh, "shingles", "doc_id", num_perm=16
            )

        # ingest 0: sign the seed corpus, persist the index.
        index.write(signatures(documents.where(F.col("doc_id") % 3 == 0)),
                    mode="overwrite")
        # ingest 1: sign ONLY the increment; probe index ∪ increment.
        inc_sigs = signatures(documents.where(F.col("doc_id") % 3 == 1)).persist()
        all_sigs = index.read().unionByName(inc_sigs)
        inc_band = md5_band_rows(inc_sigs, "doc_id", 16, 4)
        all_band = md5_band_rows(all_sigs, "doc_id", 16, 4)
        hits = (
            all_band.alias("x")
            .join(inc_band.alias("y"), ["band", "bkey"])
            .where(F.col("x.doc_id") != F.col("y.doc_id"))
            .select(
                F.least("x.doc_id", "y.doc_id").alias("doc_a"),
                F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        # verification shingles only the candidate ids, not the corpus.
        cand_ids = (
            hits.select(F.col("doc_a").alias("doc_id"))
            .unionAll(hits.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        cand_sh = (
            documents.join(cand_ids, "doc_id", "left_semi")
            .select("doc_id", word_shingles(F.col("text"), 3).alias("shingles"))
        )
        verified = (
            hits.join(
                cand_sh.select(
                    F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
                ),
                "doc_a",
            )
            .join(
                cand_sh.select(
                    F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
                ),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
            )
        )
        return verified.where(F.col("jaccard") >= 0.8)


@query(
    "streaming_classify_documents",
    oracle="""
    WITH tk AS (
      SELECT doc_id, lang, tok FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ), ctk AS (
      SELECT lang, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2
    ), ct AS (
      SELECT lang, COUNT(*) AS tot FROM tk GROUP BY 1
    ), v AS (
      SELECT COUNT(DISTINCT tok) AS v FROM tk
    ), nd AS (
      SELECT COUNT(*) AS n FROM documents
    ), pri AS (
      SELECT lang,
             CAST(round(ln(COUNT(*)::DOUBLE / (SELECT n FROM nd)), 6)
                  AS DECIMAL(18,6)) AS log_prior
      FROM documents GROUP BY lang
    ), cond AS (
      SELECT ctk.lang, ctk.tok,
             CAST(round(ln((ctk.c + 1.0) / (ct.tot + 1.0 * v.v)), 6)
                  AS DECIMAL(18,6)) AS log_cond
      FROM ctk JOIN ct USING (lang) CROSS JOIN v
    ), unseen AS (
      SELECT ct.lang,
             CAST(round(ln(1.0 / (ct.tot + 1.0 * v.v)), 6)
                  AS DECIMAL(18,6)) AS log_unseen
      FROM ct CROSS JOIN v
    ), dt AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2
    ), scored AS (
      SELECT dt.doc_id, u.lang,
             CAST(SUM(CAST(dt.c * coalesce(cond.log_cond, u.log_unseen)
                           AS DECIMAL(28,6))) + p.log_prior
                  AS DECIMAL(28,6)) AS s
      FROM dt
      CROSS JOIN unseen u
      LEFT JOIN cond ON cond.lang = u.lang AND cond.tok = dt.tok
      JOIN pri p ON p.lang = u.lang
      GROUP BY dt.doc_id, u.lang, p.log_prior
    ), top AS (
      SELECT doc_id, MAX(s) AS s FROM scored GROUP BY doc_id
    )
    SELECT scored.doc_id, MIN(scored.lang) AS predicted,
           CAST(scored.s AS DOUBLE) AS score
    FROM scored JOIN top ON scored.doc_id = top.doc_id AND scored.s = top.s
    GROUP BY scored.doc_id, scored.s
    """,
    tags=("streaming-e2e", "classifier", "model-serving"),
)
def streaming_classify_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming model serving: train the multinomial NB classifier
    ONCE in batch over the static corpus, then score a document STREAM
    against the broadcast model micro-batch by micro-batch
    (foreachBatch → versioned sink, availableNow) — the train-batch /
    serve-stream split every production classifier deployment runs.
    Result is bit-identical to the batch ``naive_bayes_language_
    classify`` (same oracle), which is the point: one scoring
    definition serves both execution modes. Per-batch work is
    token-explode + broadcast-model join + grouped decimal sums — no
    streaming state beyond the file-source checkpoint."""
    from .operators.nbayes import nb_score, nb_train
    from .streaming.windows import read_events_stream, require_stream_progress

    static_docs = load_table(spark, sf_dir, "documents")
    cond, priors = nb_train(static_docs, "text", "lang", alpha=1.0)
    # Materialize the tiny model once so every micro-batch joins
    # against computed frames, not a re-derivation of the corpus scan.
    cond = cond.cache()
    priors = priors.cache()

    base = workspace("stream_nb_")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = read_events_stream(
        spark, sf_dir, schema, ts_col="_none", glob="documents.parquet"
    )
    target = VersionedTable(spark, f"{base}/scored", write_partitions=4)
    try:
        with sql_conf(spark, **_PROTOCOL_SHUFFLE):

            def score_batch(batch_df, batch_id: int) -> None:
                scored = nb_score(batch_df, "text", "doc_id", cond, priors, "lang")
                target.write(scored, mode="append")

            q = (
                stream.writeStream.foreachBatch(score_batch)
                .option("checkpointLocation", f"{base}/ck")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            require_stream_progress(q, os.path.join(sf_dir, "documents.parquet"))
            return target.read()
    finally:
        cond.unpersist()
        priors.unpersist()


@query(
    "synthetic_customers_generate",
    oracle="""
    WITH g AS (
      SELECT r.range AS id,
             md5('syn_' || CAST(r.range AS VARCHAR)) AS h
      FROM range(0, 1000) r
    )
    SELECT id,
           'cust_' || substr(h, 1, 8) AS name,
           CASE CAST(('0x' || substr(h, 9, 4)) AS BIGINT) % 5
             WHEN 0 THEN 'AUTOMOBILE' WHEN 1 THEN 'BUILDING'
             WHEN 2 THEN 'FURNITURE' WHEN 3 THEN 'HOUSEHOLD'
             ELSE 'MACHINERY' END AS segment,
           CAST(CAST(('0x' || substr(h, 13, 6)) AS BIGINT) % 25 AS INT)
             AS nation_key,
           round(CAST(('0x' || substr(h, 19, 8)) AS BIGINT)
                 % 1000000 / 100.0, 2) AS acct_balance
    FROM g
    """,
    tags=("synthetic-data", "generation"),
)
def synthetic_customers_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic-data generation (the privacy-safe test
    fixture / augmentation path every training-data platform needs):
    1000 synthetic customers derived entirely from md5 of a row index
    — names, categorical segment draw, nation key, account balance —
    so the corpus is reproducible across engines and runs with NO RNG
    state. Generation is ``spark.range`` + JVM hash/substr exprs:
    embarrassingly parallel, no input, no shuffle; any schema extends
    by adding md5-slice columns."""
    g = spark.range(0, 1000).select(
        F.col("id"),
        F.md5(F.concat(F.lit("syn_"), F.col("id").cast("string"))).alias("h"),
    )
    seg = F.element_at(
        F.array(
            F.lit("AUTOMOBILE"),
            F.lit("BUILDING"),
            F.lit("FURNITURE"),
            F.lit("HOUSEHOLD"),
            F.lit("MACHINERY"),
        ),
        (F.conv(F.substring("h", 9, 4), 16, 10).cast("long") % 5 + 1).cast(
            "int"
        ),
    )
    return g.select(
        "id",
        F.concat(F.lit("cust_"), F.substring("h", 1, 8)).alias("name"),
        seg.alias("segment"),
        (F.conv(F.substring("h", 13, 6), 16, 10).cast("long") % 25)
        .cast("int")
        .alias("nation_key"),
        F.round(
            (F.conv(F.substring("h", 19, 8), 16, 10).cast("long") % 1000000)
            / 100.0,
            2,
        ).alias("acct_balance"),
    )


@query(
    "incremental_lm_maintenance",
    oracle="""
    WITH final AS (
      SELECT * FROM (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3
        UNION ALL
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
      ) s
      WHERE NOT EXISTS (
        SELECT 1 FROM documents d
        WHERE d.doc_id % 8 = 1 AND d.doc_id = s.doc_id
      )
    )
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS mv_count
    FROM (
      SELECT unnest(string_split(text, ' ')) AS tok FROM final
    ) WHERE tok <> '' GROUP BY tok
    """,
    tags=("ivm", "lm-maintenance", "S2", "ST1"),
)
def incremental_lm_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained LANGUAGE-MODEL counts: the corpus
    unigram table (the LM numerator every quality/perplexity scorer
    reads) kept current from document CDC without rescanning the
    corpus — the IVM transform seam carries an EXPLODE this time
    (Δ(explode(F)) = explode(ΔF): every token occurrence inherits its
    document's change sign), proving the signed-delta algebra covers
    generators, not just joins/projections. v0 creates the corpus
    minus ≡3 (mod 4); a merge then deletes ≡1 (mod 8) and inserts
    ≡3 (mod 4); one refresh folds each commit's increment."""
    from .operators.matview import COUNT_COL, SOURCE_HI, MaterializedAggregate
    from .operators.merge import CHANGE_TYPE, CT_DELETE, CT_INSERT

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = workspace("ivm_lm_")
    source = VersionedTable(spark, f"{base}/src", write_partitions=4)
    view = MaterializedAggregate(
        spark,
        VersionedTable(spark, f"{base}/lm", write_partitions=1),
        group_keys=["tok"],
        sum_measures={},
    )

    def explode_tokens(ch):
        reserved = [c for c in ch.columns if c.startswith("_")]
        return ch.select(
            F.explode(F.split(F.col("text"), " ")).alias("tok"), *reserved
        ).where(F.col("tok") != "")

    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        key = F.col("doc_id")
        source.write(docs.where(key % 4 != 3), mode="overwrite")
        view.refresh(source, transform=explode_tokens)
        feed = (
            docs.where(key % 8 == 1)
            .withColumn(CHANGE_TYPE, F.lit(CT_DELETE))
            .unionByName(
                docs.where(key % 4 == 3).withColumn(
                    CHANGE_TYPE, F.lit(CT_INSERT)
                )
            )
        )
        source.merge(feed, primary_keys=["doc_id"])
        view.refresh(source, transform=explode_tokens)
        return view.table.read().select("tok", F.col(COUNT_COL))


@query(
    "txn_atomic_pseudonymise_advance",
    oracle="""
    SELECT event_id, date_trunc('hour', ts) AS ts, event_type, value,
           sha256(CAST(user_id AS VARCHAR) || '2b6ef354-salt') AS user_id_hashed,
           CAST(3 AS BIGINT) AS wm_next
    FROM events
    """,
    tags=("S6", "ST1", "ST2", "txn"),
)
def txn_atomic_pseudonymise_advance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table transactional commit (ROADMAP #6): each incremental
    run stages the pseudonymised OUTPUT append and the WATERMARK
    advance in ONE :class:`MultiTableTransaction` — the commit point
    is a single manifest rename, so output-without-advance (duplicate
    reprocessing) and advance-without-output (data loss) are both
    impossible even across crashes (crash-injection proof:
    ``tests/test_ledger.py::TestMultiTableTransaction``). Two runs
    over a 3-version source (v0 create, v1+v2 appends, event_id mod 3
    slices); the oracle reproduces the final output — the full
    pseudonymised event set — and the advanced watermark lo = hi + 1
    = 3 read back from the committed state table."""
    from .config import TABLE_CONFIG
    from .operators.ledger import MultiTableTransaction
    from .operators.merge import CHANGE_TYPE, CT_INSERT
    from .operators.watermark import (
        WATERMARK_SCHEMA,
        get_or_create_low_watermark,
    )
    from .pipelines.pseudonymise import pseudo_transform
    from pyspark.sql import Row

    events = load_table(spark, sf_dir, "events")
    base = workspace("txn_advance_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    out = VersionedTable(spark, f"{base}/out", write_partitions=4)
    state = VersionedTable(spark, f"{base}/state", write_partitions=1)
    key = F.col("event_id")
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        src.write(events.where(key % 3 == 0), mode="overwrite")
        src.write(events.where(key % 3 == 1), mode="append")

        def run_once():
            lo = get_or_create_low_watermark(spark, state, "txn_pseudo", "events")
            hi = src.latest_version()
            inc = (
                src.read_changes(lo, hi)
                .where(F.col(CHANGE_TYPE) == CT_INSERT)
                .select(*events.columns)
            )
            txn = MultiTableTransaction(spark, f"{base}/txn")
            txn.stage(out, pseudo_transform(inc, TABLE_CONFIG["events"]))
            txn.stage(
                state,
                spark.createDataFrame(
                    [Row(low_watermark=hi + 1, activity="txn_pseudo",
                         table_name="events")],
                    WATERMARK_SCHEMA,
                ),
                mode="overwrite",
            )
            txn.commit()

        run_once()                                    # consumes v0..v1
        src.write(events.where(key % 3 == 2), mode="append")
        run_once()                                    # consumes v2 only
        wm = state.read().select(
            F.col("low_watermark").alias("wm_next")
        )
        return out.read().crossJoin(F.broadcast(wm))


def _ikll_oracle() -> str:
    """Unrolled replay of the sketch-as-matview protocol: three
    per-increment 4-round compaction chains (prefixes a/b/g — one per
    source commit), each merge step unions the stored survivors with
    the new increment's sketch and compacts 2 more rounds (prefixes
    ma/mb), quantiles off the final survivor frame — CTE-for-commit
    the same schedule `MaterializedSketch.refresh` executes."""
    from .queries_analytics import _kll_quantile_sql, _kll_round_sql

    def inc(p: str, r: int) -> str:
        return f"""{p}c0 AS (
      SELECT o_totalprice AS v, o_orderkey AS id, CAST(1 AS BIGINT) AS w
      FROM orders WHERE o_orderkey % 3 = {r}
    )""" + "".join(_kll_round_sql(i, prefix=p) for i in range(1, 5))

    merge1 = """, m1u AS (
      SELECT v, id, w FROM ac4 UNION ALL SELECT v, id, w FROM bc4
    )""" + _kll_round_sql(1, src="m1u", prefix="ma") + _kll_round_sql(
        2, prefix="ma"
    )
    merge2 = """, m2u AS (
      SELECT v, id, w FROM mac2 UNION ALL SELECT v, id, w FROM gc4
    )""" + _kll_round_sql(1, src="m2u", prefix="mb") + _kll_round_sql(
        2, prefix="mb"
    )
    return (
        "WITH "
        + inc("a", 0)
        + ", "
        + inc("b", 1)
        + merge1
        + ", "
        + inc("g", 2)
        + merge2
        + _kll_quantile_sql(2, prefix="mb")
    )


@query(
    "incremental_quantile_maintenance",
    oracle=_ikll_oracle(),
    tags=("sketch", "quantile", "kll", "ivm", "ST1", "ST2"),
)
def incremental_quantile_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming-percentile maintenance (r7 verdict gap #5): a KLL
    survivor frame kept current as a MATERIALIZED SKETCH over a
    versioned orders source — each refresh sketches only that commit's
    increment (O(changes) rows, 4 compaction rounds) and merges it
    into the stored survivors (2 rounds, KLL's same-level buffer
    merge), so the p25/p50/p75/p95 feed stays current without ever
    rescanning the fact table. The applied source version rides inside
    the sketch commit (`operators.sketch.MaterializedSketch`, the
    `matview` exactly-once marker), proven here by the replay no-op
    refresh. Every compaction coin is md5-derived, so the oracle
    replays the identical create/append/append schedule commit by
    commit and the estimates hash-match exactly. Scale: refresh cost
    is O(|increment| + |survivors|); survivors shrink geometrically
    with rounds; rank windows are range-bucketed distributed
    row_numbers (no global sort)."""
    from .operators.sketch import MaterializedSketch

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = workspace("ikll_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    sketch = MaterializedSketch(
        spark,
        VersionedTable(spark, f"{base}/sketch", write_partitions=1),
        value_col="o_totalprice",
        id_col="o_orderkey",
        inc_rounds=4,
        merge_rounds=2,
    )
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        key = F.col("o_orderkey")
        src.write(orders.where(key % 3 == 0), mode="overwrite")
        lo, hi = sketch.refresh(src)                   # folds v0
        assert (lo, hi) == (0, 0), (lo, hi)
        src.write(orders.where(key % 3 == 1), mode="append")
        lo, hi = sketch.refresh(src)                   # folds v1 only
        assert (lo, hi) == (1, 1), (lo, hi)
        src.write(orders.where(key % 3 == 2), mode="append")
        lo, hi = sketch.refresh(src)                   # folds v2 only
        assert (lo, hi) == (2, 2), (lo, hi)
        lo, hi = sketch.refresh(src)                   # replay: no-op
        assert lo > hi, "replayed refresh must be a no-op"
        return sketch.quantiles([0.25, 0.5, 0.75, 0.95])


def _itdigest_oracle() -> str:
    """Unrolled replay of the centroid-matview protocol
    (`MaterializedTDigest.refresh`): one scale-2 digest chain per
    source commit (prefixes a/b/g — orders split by o_orderkey % 3),
    each merge step re-digesting stored ∪ increment centroids at
    scale 6 (Dunning's centroid merge — the `tdigest_merge_shards`
    recipe), and interpolated quantiles (head-clamp leg included, the
    `tdigest_quantiles` contract) off the final centroid frame —
    CTE-for-commit the exact schedule the refreshes execute."""

    def digest(p: str, h_body: str, scale: int) -> str:
        return f"""{p}_h AS (
      {h_body}
    ), {p}_tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM {p}_h
    ), {p}_cdf AS (
      SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
      FROM {p}_h
    ), {p}_kk AS (
      SELECT v, cnt,
             CAST(floor(round(50.0 * (asin(2.0 * ((cum - cnt / 2.0) / n)
                  - 1.0) / 3.141592653589793 + 0.5), 9)) AS BIGINT) AS cluster
      FROM {p}_cdf, {p}_tot
    ), {p}_cent AS (
      SELECT cluster, CAST(SUM(cnt) AS BIGINT) AS n_c,
             ((2 * CAST(CAST(SUM(CAST(v * cnt AS DECIMAL(28,{scale}))) * 1000000
                             AS DECIMAL(38,0)) AS BIGINT)
               + CAST(SUM(cnt) AS BIGINT))
              // (2 * CAST(SUM(cnt) AS BIGINT))) / 1000000.0 AS mean
      FROM {p}_kk GROUP BY cluster
    )"""

    def inc(p: str, r: int) -> str:
        return digest(
            p,
            "SELECT round(o_totalprice, 2) AS v, "
            "CAST(COUNT(*) AS BIGINT) AS cnt\n"
            f"      FROM orders WHERE o_orderkey % 3 = {r} GROUP BY 1",
            2,
        )

    def merge(p: str, left: str, right: str) -> str:
        return digest(
            p,
            "SELECT round(mean, 6) AS v, CAST(SUM(n_c) AS BIGINT) AS cnt\n"
            f"      FROM (SELECT mean, n_c FROM {left}_cent\n"
            f"            UNION ALL SELECT mean, n_c FROM {right}_cent) u\n"
            "      GROUP BY 1",
            6,
        )

    quant = """, qcm AS (
      SELECT cluster, n_c, mean,
             CAST(SUM(n_c) OVER (ORDER BY cluster) AS BIGINT) AS cum
      FROM m2_cent
    ), qcm2 AS (
      SELECT cluster, mean, n_c, cum - n_c / 2.0 AS cum_mid,
             lead(mean) OVER (ORDER BY cluster) AS next_mean,
             lead(cum - n_c / 2.0) OVER (ORDER BY cluster) AS next_cum_mid
      FROM qcm
    ), probs AS (
      SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS prob
    ), cand AS (
      SELECT p.prob, c.mean, c.cum_mid, c.next_mean, c.next_cum_mid,
             p.prob * t.n AS t, t.n AS total_weight,
             row_number() OVER (PARTITION BY p.prob
                                ORDER BY c.cum_mid DESC) AS rn
      FROM probs p, qcm2 c, m2_tot t
      WHERE c.cum_mid <= p.prob * t.n
    ), sel AS (
      SELECT prob,
             round(CASE WHEN next_cum_mid IS NULL THEN mean
                   ELSE mean + (next_mean - mean)
                        * ((t - cum_mid) / (next_cum_mid - cum_mid)) END,
                   6) AS est,
             total_weight
      FROM cand WHERE rn = 1
    ), head AS (
      SELECT p.prob, round(fc.mean, 6) AS est, t.n AS total_weight
      FROM probs p
      CROSS JOIN m2_tot t
      CROSS JOIN (SELECT mean FROM qcm2 ORDER BY cluster LIMIT 1) fc
      WHERE p.prob NOT IN (SELECT prob FROM sel)
    )
    SELECT prob, est, total_weight FROM sel
    UNION ALL
    SELECT prob, est, total_weight FROM head"""

    return (
        "WITH " + inc("a", 0) + ", " + inc("b", 1) + ", "
        + merge("m1", "a", "b") + ", " + inc("g", 2) + ", "
        + merge("m2", "m1", "g") + quant
    )


@query(
    "incremental_tdigest_maintenance",
    oracle=_itdigest_oracle(),
    tags=("sketch", "quantile", "tdigest", "ivm", "ST1", "ST2"),
)
def incremental_tdigest_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The t-digest twin of `incremental_quantile_maintenance` (r9
    verdict #8 — KLL had an O(changes) refresh, the second quantile
    family didn't): a centroid frame kept current as a MATERIALIZED
    DIGEST over a versioned orders source. Each refresh digests only
    that commit's increment (cardinality-bounded after the first
    map-side-combinable groupBy) and folds it into the stored
    centroids with Dunning's centroid merge — re-digest the ≤2·delta
    (mean, n_c) weighted rows at value_scale=6, exactly
    `tdigest_merge_shards`'s merge phase — so the interpolated
    p25/p50/p75/p95 feed stays current without ever rescanning the
    fact table. The applied source version rides inside the centroid
    commit (exactly-once), proven here by the replay no-op refresh.
    Deterministic digests + integer half-up means make the whole
    schedule a pure function of the commit partition: the oracle
    replays the identical create/append/append schedule commit by
    commit and the estimates hash-match exactly. Scale: refresh cost
    is O(|increment| + delta); stored state never exceeds ~delta
    centroid rows — at 100 TB only centroids move."""
    from .operators.sketch import MaterializedTDigest

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = workspace("itd_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    dig = MaterializedTDigest(
        spark,
        VersionedTable(spark, f"{base}/dig", write_partitions=1),
        value_col="o_totalprice",
        delta=50,
    )
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        key = F.col("o_orderkey")
        src.write(orders.where(key % 3 == 0), mode="overwrite")
        lo, hi = dig.refresh(src)                      # folds v0
        assert (lo, hi) == (0, 0), (lo, hi)
        src.write(orders.where(key % 3 == 1), mode="append")
        lo, hi = dig.refresh(src)                      # folds v1 only
        assert (lo, hi) == (1, 1), (lo, hi)
        src.write(orders.where(key % 3 == 2), mode="append")
        lo, hi = dig.refresh(src)                      # folds v2 only
        assert (lo, hi) == (2, 2), (lo, hi)
        lo, hi = dig.refresh(src)                      # replay: no-op
        assert lo > hi, "replayed refresh must be a no-op"
        return dig.quantiles([0.25, 0.5, 0.75, 0.95])


@query(
    "incremental_drift_maintenance",
    oracle="""
    WITH base AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN year(o_orderdate) <= 1997 THEN 'ref' ELSE 'cur' END
               AS split
      FROM orders
    ), binned AS (
      SELECT split, least(v // 6000000, 9) AS bin FROM base
    ), counts AS (
      SELECT bin,
             COUNT(*) FILTER (WHERE split = 'ref') + 1 AS c_ref,
             COUNT(*) FILTER (WHERE split = 'cur') + 1 AS c_cur
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT SUM(c_ref) AS t_ref, SUM(c_cur) AS t_cur FROM counts
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(c_ref - 1 AS BIGINT) AS n_ref,
           CAST(c_cur - 1 AS BIGINT) AS n_cur,
           round((CAST(c_cur AS DOUBLE) / t_cur
                  - CAST(c_ref AS DOUBLE) / t_ref)
                 * ln((CAST(c_cur AS DOUBLE) / t_cur)
                      / (CAST(c_ref AS DOUBLE) / t_ref)), 6) AS psi_term
    FROM counts CROSS JOIN tot
    """,
    tags=("ml-monitoring", "drift", "ivm", "ST1", "ST2"),
)
def incremental_drift_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drift monitoring as a continuously-maintained view — the
    production shape of ``psi_distribution_drift``: the per-(era, bin)
    histogram is a MaterializedAggregate kept current from the CDC
    feed of a versioned orders source (each refresh folds ONLY that
    commit's increment), and the PSI report is a fixed expression over
    the maintained counts — the fact table is never rescanned after
    the first fold, which is what lets a serving-time monitor run
    per-commit at 100 TB. Unlike the batch query, bucket edges are
    STATIC (cents DIV 6e6, capped at bin 9 — frozen at "training
    time" like real monitors) so an increment bins without a global
    min/max rescan. Commits arrive in event-time order (v0 = ≤1997
    reference era, v1 = 1998–99, v2 = 2000+), the applied watermark
    rides inside the view commit (exactly-once, replay-no-op proven),
    and the oracle recomputes the same static-bin histogram + PSI
    from the net source state. +1 smoothing keeps empty bins finite
    in both engines identically."""
    from .operators.matview import COUNT_COL, MaterializedAggregate

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    base = workspace("idrift_")
    source = VersionedTable(spark, f"{base}/src", write_partitions=4)
    view = MaterializedAggregate(
        spark,
        VersionedTable(spark, f"{base}/hist", write_partitions=1),
        group_keys=["split", "bin"],
        sum_measures={},
    )

    def to_bins(ch: DataFrame) -> DataFrame:
        v = F.round(F.col("o_totalprice") * 100).cast("long")
        return ch.withColumn(
            "split",
            F.when(F.year("o_orderdate") <= 1997, F.lit("ref")).otherwise(
                F.lit("cur")
            ),
        ).withColumn("bin", F.least(F.floor(v / 6_000_000), F.lit(9)))

    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        yr = F.year("o_orderdate")
        source.write(orders.where(yr <= 1997), mode="overwrite")
        lo, hi = view.refresh(source, transform=to_bins)     # ref era
        assert (lo, hi) == (0, 0), (lo, hi)
        source.write(orders.where((yr >= 1998) & (yr <= 1999)), mode="append")
        source.write(orders.where(yr >= 2000), mode="append")
        lo, hi = view.refresh(source, transform=to_bins)     # v1..v2 only
        assert (lo, hi) == (1, 2), (lo, hi)
        lo, hi = view.refresh(source, transform=to_bins)     # replay no-op
        assert lo > hi, "replayed refresh must be a no-op"

        hist = view.table.read().select("split", "bin", COUNT_COL)
        counts = hist.groupBy("bin").agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(F.col("split") == "ref", F.col(COUNT_COL))
                    ),
                    F.lit(0),
                )
                + 1
            ).alias("c_ref"),
            (
                F.coalesce(
                    F.sum(
                        F.when(F.col("split") == "cur", F.col(COUNT_COL))
                    ),
                    F.lit(0),
                )
                + 1
            ).alias("c_cur"),
        )
        tot = counts.agg(
            F.sum("c_ref").alias("t_ref"), F.sum("c_cur").alias("t_cur")
        )
        p_ref = F.col("c_ref").cast("double") / F.col("t_ref")
        p_cur = F.col("c_cur").cast("double") / F.col("t_cur")
        return counts.crossJoin(F.broadcast(tot)).select(
            F.col("bin").cast("int").alias("bin"),
            (F.col("c_ref") - 1).cast("long").alias("n_ref"),
            (F.col("c_cur") - 1).cast("long").alias("n_cur"),
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
                "psi_term"
            ),
        )


@query(
    "incremental_distinct_maintenance",
    oracle="""
    WITH hs AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)
                  AS BIGINT) AS h
      FROM orders
    ), sk AS (SELECT h FROM hs ORDER BY h LIMIT 64),
       st AS (SELECT count(*) AS n, max(h) AS mx FROM sk)
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN n < 64 THEN 4503599627370496 ELSE mx END AS theta,
           CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                ELSE round(63.0 * (4503599627370496.0 / mx), 4)
                END AS estimate,
           (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_distinct,
           CAST(3 AS BIGINT) AS wm_next
    FROM st
    """,
    tags=("sketch", "theta", "distinct", "ivm", "ST1", "ST2"),
)
def incremental_distinct_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct-count monitoring as a continuously-maintained view: a
    k-row theta sketch of customer ids kept current over a versioned
    orders source — each refresh sketches only that commit's increment
    and merges it into the stored k rows
    (`operators.sketch.MaterializedThetaSketch`). KMV merge is
    LOSSLESS (the k smallest of a union lie within the per-shard k
    smallest), so after three incremental refreshes the maintained
    sketch must equal the one-shot full-corpus sketch — which is
    exactly what the oracle computes, turning the whole incremental
    protocol into a hash-exact check. The applied source version rides
    inside the sketch commit (exactly-once marker), proven by the
    replay no-op refresh; wm_next in the output pins the watermark.
    Scale: refresh cost is O(|increment|) + a k-row merge — the
    distinct-count feed stays current without rescanning the fact
    table."""
    from .operators.sketch import MaterializedThetaSketch

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    base = workspace("itheta_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    sketch = MaterializedThetaSketch(
        spark,
        VersionedTable(spark, f"{base}/sketch", write_partitions=1),
        key_col="o_custkey",
        k=64,
    )
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        key = F.col("o_orderkey")
        src.write(orders.where(key % 3 == 0), mode="overwrite")
        lo, hi = sketch.refresh(src)                   # folds v0
        assert (lo, hi) == (0, 0), (lo, hi)
        src.write(orders.where(key % 3 == 1), mode="append")
        lo, hi = sketch.refresh(src)                   # folds v1 only
        assert (lo, hi) == (1, 1), (lo, hi)
        src.write(orders.where(key % 3 == 2), mode="append")
        lo, hi = sketch.refresh(src)                   # folds v2 only
        assert (lo, hi) == (2, 2), (lo, hi)
        lo, hi = sketch.refresh(src)                   # replay: no-op
        assert lo > hi, "replayed refresh must be a no-op"
        exact = orders.agg(
            F.count_distinct("o_custkey").alias("exact_distinct")
        )
        wm = spark.range(1).select(
            F.lit(sketch.applied_hi() + 1).cast("long").alias("wm_next")
        )
        return (
            sketch.stats()
            .crossJoin(F.broadcast(exact))
            .crossJoin(F.broadcast(wm))
        )


@query(
    "incremental_frequency_maintenance",
    oracle="""
    WITH surv AS (
      SELECT o_orderpriority AS k FROM orders
      WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 12 <> 0
    ), ds AS (SELECT unnest(range(0, 4)) AS d),
    counters AS (
      SELECT d,
             CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || k), 1, 8)
                  AS BIGINT) % 256 AS bucket,
             count(*) AS c
      FROM surv CROSS JOIN ds GROUP BY 1, 2
    ), probes AS (
      SELECT DISTINCT o_orderpriority AS k FROM orders
    ), pb AS (
      SELECT k, d,
             CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || k), 1, 8)
                  AS BIGINT) % 256 AS bucket
      FROM probes CROSS JOIN ds
    )
    SELECT pb.k AS o_orderpriority,
           CAST(min(coalesce(c, 0)) AS BIGINT) AS cm_estimate,
           (SELECT count(*) FROM surv WHERE surv.k = pb.k) AS true_count,
           CAST(3 AS BIGINT) AS wm_next
    FROM pb LEFT JOIN counters USING (d, bucket)
    GROUP BY pb.k
    """,
    tags=("sketch", "count-min", "frequency", "ivm", "ST1", "ST2", "ST3"),
)
def incremental_frequency_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frequency monitoring as a continuously-maintained view — and
    the one sketch that self-maintains under DELETES: count-min is
    linear (counters form an abelian group), so inserts add 1 to each
    of the key's d counters and deletes subtract 1
    (`operators.sketch.MaterializedCountMin`; KLL/theta are
    insert-only by mathematical necessity). History here is two insert
    commits then a MERGE-delete commit; by linearity the maintained
    grid must equal the one-shot sketch of the SURVIVING rows exactly,
    which is what the oracle computes — folding the delete-handling
    protocol into a hash-exact check. Estimates (min over d counters)
    for every order priority ship next to the true surviving counts;
    the replayed refresh is proven a no-op and wm_next pins the
    watermark. Scale: refresh is O(|changes| × depth) fixed-width
    rows merged into a (depth × width)-bounded grid — the frequency
    feed never rescans the fact table."""
    from .operators.merge import CHANGE_TYPE, CT_DELETE
    from .operators.sketch import MaterializedCountMin

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    base = workspace("icm_")
    src = VersionedTable(spark, f"{base}/src", write_partitions=4)
    mcm = MaterializedCountMin(
        spark,
        VersionedTable(spark, f"{base}/cm", write_partitions=1),
        key_col="o_orderpriority",
        depth=4,
        width=256,
    )
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        key = F.col("o_orderkey")
        src.write(orders.where(key % 3 == 0), mode="overwrite")
        lo, hi = mcm.refresh(src)                      # folds v0
        assert (lo, hi) == (0, 0), (lo, hi)
        src.write(orders.where(key % 3 == 1), mode="append")
        lo, hi = mcm.refresh(src)                      # folds v1 only
        assert (lo, hi) == (1, 1), (lo, hi)
        src.merge(                                     # delete commit
            orders.where((key % 12 == 0) & (key % 3 == 0)).withColumn(
                CHANGE_TYPE, F.lit(CT_DELETE)
            ),
            primary_keys=["o_orderkey"],
        )
        lo, hi = mcm.refresh(src)                      # folds the deletes
        assert (lo, hi) == (2, 2), (lo, hi)
        lo, hi = mcm.refresh(src)                      # replay: no-op
        assert lo > hi, "replayed refresh must be a no-op"
        probes = orders.select("o_orderpriority").distinct()
        est = mcm.estimates(probes, "o_orderpriority").select(
            "o_orderpriority",
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
        )
        truth = (
            src.read()
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("true_count"))
        )
        return (
            est.join(truth, "o_orderpriority")
            .withColumn(
                "wm_next", F.lit(mcm.applied_hi() + 1).cast("long")
            )
        )


@query(
    "orc_source_partitioned_roundtrip",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(18,2)))
                AS DOUBLE) AS total_qty
    FROM lineitem
    WHERE l_orderkey % 7 = 0 AND l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
    tags=("S5-orc", "source-format", "partition-pruning", "A1"),
)
def orc_source_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORC source fidelity + partition pruning, driver-checked: a
    deterministic lineitem slice writes to ORC PARTITIONED BY
    l_returnflag (Hive-style directory layout), reads back
    self-described, and filters one partition — the scan must touch
    only that directory (PartitionFilters, locked in pytest) and the
    aggregate must hash-match the oracle computed from the original
    parquet, so any ORC encode/decode or partition-encoding drift
    breaks the check. Completes the source-format matrix beside
    parquet/CSV/JSON/JDBC. Scale: partitioned columnar layout is the
    standard warehouse table shape; pruning serves the predicate from
    file listing alone."""
    orders_slice = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 7 == 0)
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
    )
    path = workspace("orc_rt_") + "/lineitem"
    orders_slice.write.mode("overwrite").partitionBy("l_returnflag").orc(path)
    from .io import read_orc
    from .queries import dec_sum

    back = read_orc(spark, path).where(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count("*").alias("n_items"),
        dec_sum(F.col("l_quantity"), "total_qty", scale=2),
    )


@query(
    "aes_reversible_tokenise",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_name) AS n_distinct_tokens,
           COUNT(*) AS n_rows,
           COUNT(*) AS n_decrypt_ok
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("privacy", "tokenisation", "aes", "UD3"),
)
def aes_reversible_tokenise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reversible tokenisation with Spark's built-in AES — the
    re-identifiable-under-key complement to the one-way salted-sha2
    pseudonymisation the reference ships: names encrypt with
    deterministic AES-ECB (same plaintext → same token, so joins and
    DISTINCT survive tokenisation exactly like the hash path), and the
    key holder can decrypt back. The query proves all three contracts
    in-plan: per segment, the DISTINCT count over tokens equals the
    distinct count over plaintext names (determinism + injectivity),
    and every row's decrypt(token) round-trips to its original name
    (n_decrypt_ok = n_rows). The oracle computes the same facts from
    plaintext — any codec drift breaks the hash. ECB is the right mode
    HERE precisely because tokenisation REQUIRES determinism (format
    workarounds like SIV/convergent encryption serve the same role at
    production grade); for non-joinable encryption-at-rest use the
    default GCM with random IVs. Scale: two codegen'd JVM expressions
    per row, no shuffle beyond the aggregate."""
    key = "0123456789abcdef"  # 128-bit demo key (config/KMS in prod)
    customer = load_table(spark, sf_dir, "customer")
    tok = customer.select(
        "c_mktsegment",
        "c_name",
        F.expr(f"aes_encrypt(c_name, '{key}', 'ECB')").alias("token"),
    ).withColumn(
        "decrypted",
        F.expr(f"CAST(aes_decrypt(token, '{key}', 'ECB') AS STRING)"),
    )
    return tok.groupBy("c_mktsegment").agg(
        F.count_distinct("token").alias("n_distinct_tokens"),
        F.count("*").alias("n_rows"),
        F.sum(
            (F.col("decrypted") == F.col("c_name")).cast("long")
        ).alias("n_decrypt_ok"),
    )


def _feistel_sql_cte(src: str, key: str, alias: str, salt: str, rounds: int = 4) -> str:
    sql = (
        f", {alias}0 AS (SELECT *, "
        f"((CAST({key} AS BIGINT) >> 16) & 65535) AS l0, "
        f"(CAST({key} AS BIGINT) & 65535) AS r0 FROM {src})"
    )
    for i in range(rounds):
        fk = (
            f"(CAST('0x' || substr(md5(CAST(r{i} AS VARCHAR) "
            f"|| ':{i}:{salt}'), 1, 8) AS BIGINT) & 65535)"
        )
        sql += (
            f", {alias}{i + 1} AS (SELECT *, r{i} AS l{i + 1}, "
            f"xor(l{i}, {fk}) AS r{i + 1} FROM {alias}{i})"
        )
    sql += (
        f", {alias} AS (SELECT *, (l{rounds} << 16) + r{rounds} AS sk "
        f"FROM {alias}{rounds})"
    )
    return sql


_FEISTEL_SALT = "r8pepper"


@query(
    "feistel_key_pseudonymise",
    oracle="WITH base AS (SELECT 1)"
    + _feistel_sql_cte("customer", "c_custkey", "cs", _FEISTEL_SALT)
    + _feistel_sql_cte("orders", "o_custkey", "os", _FEISTEL_SALT)
    + """
    , per_cust AS (
      SELECT c_mktsegment,
             COUNT(*) AS n_customers,
             COUNT(DISTINCT sk) AS n_distinct_scrambled,
             SUM(sk) AS sum_scrambled
      FROM cs GROUP BY c_mktsegment
    ), per_orders AS (
      SELECT c_mktsegment, COUNT(*) AS n_orders
      FROM cs JOIN os USING (sk) GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n_customers, n_distinct_scrambled,
           CAST(sum_scrambled AS BIGINT) AS sum_scrambled, n_orders
    FROM per_cust JOIN per_orders USING (c_mktsegment)
    """,
    tags=("privacy", "pseudonymisation", "feistel", "F1"),
)
def feistel_key_pseudonymise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-preserving key pseudonymisation via a 4-round Feistel
    network (pipelines.pseudonymise.feistel_permute_key): customer
    keys scramble to a salt-keyed PERMUTATION of [0, 2^32) — still
    integers, still unique (n_distinct_scrambled == n_customers, the
    bijection salted-sha2 cannot guarantee), and foreign keys
    scrambled with the same salt STILL JOIN (per-segment order counts
    through the scrambled join equal the plaintext join's). The
    md5-based round function makes the permutation engine-portable;
    the oracle unrolls the identical 4 rounds per table and must
    reproduce the per-segment SUM of scrambled keys exactly — a
    replay of the full network, not just its cardinalities. Scale:
    ~16 codegen'd integer/md5 expressions per row, zero shuffle
    beyond the aggregates; the inverse network (same salt) recovers
    originals, round-trip pinned in pytest."""
    from .pipelines.pseudonymise import feistel_permute_key

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cs = customer.select(
        "c_mktsegment",
        feistel_permute_key(F.col("c_custkey"), _FEISTEL_SALT).alias("sk"),
    )
    os_ = orders.select(
        feistel_permute_key(F.col("o_custkey"), _FEISTEL_SALT).alias("sk")
    )
    per_cust = cs.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.count_distinct("sk").alias("n_distinct_scrambled"),
        F.sum("sk").cast("long").alias("sum_scrambled"),
    )
    per_orders = (
        cs.join(os_, "sk")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"))
    )
    return per_cust.join(per_orders, "c_mktsegment")


_DP_DENOM = 4294967296.0  # 2^32: md5 uniform grid, exact power of two
_DP_EPS_COUNT = 0.5
_DP_EPS_SUM = 0.5
_DP_CLIP = 5000.0  # per-record contribution clip for the sum release
_DP_B_COUNT = 1.0 / _DP_EPS_COUNT  # sensitivity 1
_DP_B_SUM = _DP_CLIP / _DP_EPS_SUM


def _laplace_sql(u: str, b: float) -> str:
    """DuckDB twin of the inverse-CDF Laplace draw, op-for-op."""
    return f"(-{b!r} * sign(({u}) - 0.5)) * ln(1.0 - 2.0 * abs(({u}) - 0.5))"


def _laplace_col(u, b: float):
    return (F.lit(-b) * F.signum(u - F.lit(0.5))) * F.log(
        F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5))
    )


@query(
    "dp_noisy_release_nation",
    oracle=f"""
    WITH per AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS n_true,
             CAST(SUM(CAST(ROUND(least(greatest(c.c_acctbal, 0.0), {_DP_CLIP!r}), 2)
                           AS DECIMAL(18,2))) AS DOUBLE) AS sum_clipped
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    ),
    draws AS (
      SELECT nation, n_true, sum_clipped,
             (CAST('0x' || substr(md5('dp-count:' || nation), 1, 8) AS BIGINT) + 0.5)
               / {_DP_DENOM!r} AS u1,
             (CAST('0x' || substr(md5('dp-sum:' || nation), 1, 8) AS BIGINT) + 0.5)
               / {_DP_DENOM!r} AS u2
      FROM per
    )
    SELECT nation, n_true, sum_clipped,
           round(n_true + {_laplace_sql("u1", _DP_B_COUNT)}, 4) AS noisy_count,
           round(sum_clipped + {_laplace_sql("u2", _DP_B_SUM)}, 4) AS noisy_sum,
           {_DP_EPS_COUNT + _DP_EPS_SUM!r} AS eps_total
    FROM draws
    ORDER BY nation
    """,
    tags=("privacy", "differential-privacy", "laplace", "audit"),
)
def dp_noisy_release_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of per-nation statistics - the
    third leg of the privacy-audit family (with ``k_anonymity_audit``
    and ``l_diversity_audit``): a count release (sensitivity 1,
    eps=0.5) and a CLIPPED-sum release (per-record contribution capped
    at 5000 so sensitivity is the clip, eps=0.5), with the sequential-
    composition total eps in the output. The Laplace draw is the
    inverse-CDF transform of an md5-uniform in (0,1) - deterministic
    given the release key, so both engines produce the IDENTICAL noise
    (the repo's md5-coin idiom, ``operators/sketch.py``) and the query
    is oracle-exact while exercising the real DP mechanism. The
    uniform (h + 0.5) / 2^32 sits exactly on the 2^-33 grid: every
    arithmetic step before the ln is IEEE-exact; ln is the same
    round(libm, 4) determinism class as the oracle-green entropy
    queries. True values ship alongside noisy ones because this is the
    calibration/audit shape (a production release would project them
    away). Clipped sum uses the round-decimal-sum-double pattern so
    partial aggregation order cannot perturb the pre-noise value.

    Scale: one broadcast dimension join + one map-side-combinable
    aggregate; the noise transform is per-GROUP (25 rows), free at any
    data scale.
    """
    from .queries import dec_sum

    cust = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    clipped = F.least(F.greatest(F.col("c_acctbal"), F.lit(0.0)), F.lit(_DP_CLIP))
    per = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_true"),
            dec_sum(clipped, "sum_clipped"),
        )
    )

    def uniform(salt: str):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("nation"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        return (h.cast("double") + F.lit(0.5)) / F.lit(_DP_DENOM)

    return per.select(
        "nation",
        "n_true",
        "sum_clipped",
        F.round(
            F.col("n_true") + _laplace_col(uniform("dp-count"), _DP_B_COUNT), 4
        ).alias("noisy_count"),
        F.round(
            F.col("sum_clipped") + _laplace_col(uniform("dp-sum"), _DP_B_SUM), 4
        ).alias("noisy_sum"),
        F.lit(_DP_EPS_COUNT + _DP_EPS_SUM).alias("eps_total"),
    ).orderBy("nation")


_DP_USER_CAP = 4
_DP_USER_B = 8.0  # cap / eps = 4 / 0.5


@query(
    "dp_user_level_bounded",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderpriority, o_custkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY md5('cap:' || CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rn
      FROM orders
    ), capped AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_capped,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_users
      FROM ranked WHERE rn <= {_DP_USER_CAP}
      GROUP BY o_orderpriority
    ), raw AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM orders GROUP BY o_orderpriority
    ), draws AS (
      SELECT c.o_orderpriority AS priority, n_raw, n_capped, n_users,
             (CAST('0x' || substr(md5('dp-user:' || c.o_orderpriority), 1, 8)
                   AS BIGINT) + 0.5) / {_DP_DENOM!r} AS u
      FROM capped c JOIN raw r ON c.o_orderpriority = r.o_orderpriority
    )
    SELECT priority, n_raw, n_capped, n_users,
           round(n_capped + {{lap}}, 4) AS noisy_count,
           {_DP_USER_CAP} AS k_cap, 0.5 AS eps
    FROM draws
    ORDER BY priority
    """.format(lap=_laplace_sql("u", _DP_USER_B)),
    tags=("privacy", "differential-privacy", "contribution-bounding", "audit"),
)
def dp_user_level_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-level differential privacy via contribution bounding —
    the piece record-level DP (``dp_noisy_release_nation``) misses
    when one user owns many records: cap every customer at K=4 orders
    (deterministic md5-ranked sample per user, so both engines keep
    the IDENTICAL rows), then Laplace-noise the per-priority counts
    with sensitivity K (one user can shift a count by at most the
    cap). Emits raw vs capped counts (the bias the cap introduces is
    visible, which is how you tune K), distinct contributing users,
    and the deterministic md5-coin noise — oracle-exact end to end.
    Scale: the rank-and-cap is one hash shuffle on the user key (the
    same partitioning user-level ops need anyway); noise is per-group,
    free at any scale."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    rn = F.row_number().over(
        Window.partitionBy("o_custkey").orderBy(
            F.md5(F.concat(F.lit("cap:"), F.col("o_orderkey").cast("string"))),
            "o_orderkey",
        )
    )
    capped = (
        orders.withColumn("rn", rn)
        .where(F.col("rn") <= _DP_USER_CAP)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_capped"),
            F.countDistinct("o_custkey").alias("n_users"),
        )
    )
    raw = orders.groupBy("o_orderpriority").agg(F.count("*").alias("n_raw"))
    per = capped.join(raw, "o_orderpriority").select(
        F.col("o_orderpriority").alias("priority"),
        "n_raw",
        "n_capped",
        "n_users",
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dp-user:"), F.col("priority"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(_DP_DENOM)
    return per.select(
        "priority",
        "n_raw",
        "n_capped",
        "n_users",
        F.round(
            F.col("n_capped") + _laplace_col(u, _DP_USER_B), 4
        ).alias("noisy_count"),
        F.lit(_DP_USER_CAP).alias("k_cap"),
        F.lit(0.5).alias("eps"),
    ).orderBy("priority")


@query(
    "xml_source_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS balance_total
    FROM customer
    WHERE c_custkey % 3 = 0
    GROUP BY c_mktsegment
    """,
    tags=("S5-xml", "source-format", "A1"),
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source fidelity — Spark 4's built-in XML reader (spark-xml
    merged upstream, SPARK-44265) completes the text-source matrix
    (CSV / JSON / XML): a deterministic customer slice writes as
    row-tagged XML, reads back with an explicit schema (no inference
    scan), and aggregates; the oracle aggregates the original parquet,
    so any markup encode/parse drift (escaping, empty elements,
    numeric text forms) breaks the hash."""
    customers = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    path = workspace("xml_rt_") + "/customer"
    (
        customers.write.format("xml")
        .option("rootTag", "customers")
        .option("rowTag", "customer")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema("c_custkey long, c_mktsegment string, c_acctbal double")
        .load(path)
    )
    from .queries import dec_sum

    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        dec_sum(F.col("c_acctbal"), "balance_total"),
    )


@query(
    "sql_pipe_syntax_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("S15", "sql-entry", "pipe-syntax", "A1"),
)
def sql_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point in Spark 4.1's PIPE syntax (SQL-standard
    pipelined queries, SPARK-49555): the same pricing-summary shape as
    the ANSI form, written as a linear ``FROM |> WHERE |> EXTEND
    |> AGGREGATE |> ORDER BY`` flow. Catalyst parses both to the same
    logical plan — which is the point: pipe syntax is a parser
    feature, not a different engine path, and the hash check against
    the ANSI oracle proves the equivalence."""
    from .tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        FROM lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |> EXTEND CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                       AS DECIMAL(18,4)) AS disc_price
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(disc_price) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
    """)


@query(
    "wap_publish_pipeline",
    oracle="""
    WITH inc1 AS (
      SELECT event_id, user_id, event_type FROM events WHERE event_id % 2 = 0
    ), inc2 AS (
      SELECT event_id, user_id, event_type FROM events WHERE event_id % 2 = 1
    )
    SELECT event_id, user_id, event_type FROM inc1
    UNION ALL
    SELECT event_id, user_id, event_type FROM inc2
    """,
    tags=("S6", "wap", "quality", "ledger"),
)
def wap_publish_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish end to end (the Iceberg/Netflix staging
    pattern; reference quality scope: datalake write path): two
    increments stage invisibly under the table, each is audited with
    CROSS-FRAME checks the in-commit constraint gate cannot express —
    staged row count vs live (mass-delete guard), no event_id already
    live (duplicate-feed guard) — and only then published by a
    data-movement-free rename commit. A third, poisoned increment
    (duplicates of live keys) FAILS its audit, is aborted, and must
    leave no trace. The returned frame is the published table read
    back through the normal ledger reader; the oracle reproduces it as
    pure SQL over the source — any audit misfire, ghost publish or
    lost stage breaks the hash. Crash/OCC coverage:
    ``tests/test_ledger.py`` WAP suite."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    base = workspace("wap_pub_")
    t = VersionedTable(spark, f"{base}/tbl", write_partitions=4)
    audits = {
        "no_mass_delete": lambda staged, live: (
            staged.count() >= 0.5 * max(live.count(), 1) or live.count() == 0
        ),
        "no_duplicate_ids": lambda staged, live: (
            staged.join(live, "event_id", "left_semi").count() == 0
        ),
    }
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        t.stage(events.where(F.col("event_id") % 2 == 0), "inc-1")
        t.publish_staged("inc-1", audits=audits)
        t.stage(events.where(F.col("event_id") % 2 == 1), "inc-2")
        t.publish_staged("inc-2", audits=audits)
        # poisoned feed: re-sends rows that are already live
        t.stage(events.where(F.col("event_id") % 10 == 0), "inc-3-dup")
        try:
            t.publish_staged("inc-3-dup", audits=audits)
            raise AssertionError("duplicate feed must not publish")
        except ConstraintViolationError:
            t.abort_staged("inc-3-dup")
        return t.read().select("event_id", "user_id", "event_type")


@query(
    "update_cdc_images_roundtrip",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, value FROM events
    ), matched AS (
      SELECT event_id, user_id, value FROM base WHERE user_id % 10 = 3
    )
    SELECT event_id, user_id, value, 'update_preimage' AS _change_type
    FROM matched
    UNION ALL
    SELECT event_id, user_id, CAST(0.0 AS DOUBLE) AS value,
           'update_postimage' AS _change_type
    FROM matched
    """,
    tags=("S2", "S10", "cdc", "update"),
)
def update_cdc_images_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE change images through the full ledger
    round-trip (Delta CDF parity): load events into a versioned table,
    run a point UPDATE (zero out the value of one user cohort), and
    return what a CDC consumer reads for that commit — each matched
    row exactly once as update_preimage with old values and once as
    update_postimage with new, unmatched rows absent. The oracle
    derives the same images as pure SQL over the source; any coarse
    delete+insert fallback, double-emission or missed row breaks the
    hash. Protocol-level crash/OCC coverage lives in
    tests/test_ledger.py."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    base = workspace("upd_cdc_")
    t = VersionedTable(spark, f"{base}/tbl", write_partitions=4)
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        t.write(events, mode="overwrite")
        v = t.update(F.col("user_id") % 10 == 3, {"value": F.lit(0.0)})
        return t.read_changes(v, v).select(
            "event_id", "user_id", "value", "_change_type"
        )


@query(
    "branch_merge_pipeline",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    WHERE event_id % 3 <> 2
    UNION ALL
    SELECT event_id, user_id,
           upper(event_type) AS event_type
    FROM events WHERE event_id % 3 = 2
    """,
    tags=("S6", "branch", "ledger"),
)
def branch_merge_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table branching end to end (the Iceberg/Nessie workflow): main
    is created from two-thirds of the events; a zero-copy branch forks
    off, appends the remaining third UPPER-CASED (the risky transform
    worked in isolation — main provably never sees it mid-flight), and
    squash-merges back under the fork-version OCC guard. The returned
    frame is main read through the normal ledger reader after the
    merge; the oracle reproduces it as pure SQL — a leaked pre-merge
    row, a lost branch commit or a clobbered main row all break the
    hash. Isolation/conflict/no-op protocol coverage:
    tests/test_ledger.py branch suite."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    base = workspace("branch_pipe_")
    t = VersionedTable(spark, f"{base}/tbl", write_partitions=4)
    with sql_conf(spark, **_PROTOCOL_SHUFFLE):
        t.write(events.where(F.col("event_id") % 3 != 2), mode="overwrite")
        br = t.create_branch("upcase-third")
        br.write(
            events.where(F.col("event_id") % 3 == 2).withColumn(
                "event_type", F.upper("event_type")
            ),
            mode="append",
        )
        t.merge_branch("upcase-third")
        return t.read().select("event_id", "user_id", "event_type")


#: (applicationId, abspath(sf_dir)) -> (orders_table, lineitem_table).
#: The bucketed layout is build-once/join-many by definition; memoizing
#: per session+dataset lets `bucketed_colocated_join` measure the JOIN
#: (the technique's payoff) while `bucketed_layout_build` measures the
#: one-off ingest shuffle (its cost) — the split the r9 verdict asked
#: for after the combined entry billed the build to the join.
_BUCKETED_LAYOUTS: dict[tuple[str, str], tuple[str, str]] = {}


def _bucketed_layout(
    spark: SparkSession, sf_dir: str, fresh: bool = False
) -> tuple[str, str]:
    """Write (or reuse) the bucketed orders/lineitem layout; returns
    the two catalog table names. Table names carry a per-build uuid
    token and the data lives in a per-build tempdir (EXTERNAL tables),
    so concurrent runs in one session and multiple sessions sharing a
    warehouse never clobber each other — and no managed-table orphan
    dirs accumulate under spark-warehouse/ (r9 ADVICE #5). A refresh
    drops the previous build's catalog entries for this key AND
    deletes its data directory, so at most one build's files exist
    per (session, dataset) at any time."""
    import shutil
    import uuid

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if not fresh and key in _BUCKETED_LAYOUTS:
        return _BUCKETED_LAYOUTS[key][0]
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "O"
    ).select("o_orderkey", "o_orderpriority")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    token = uuid.uuid4().hex[:12]
    # memoised across queries by design, so outside any query workspace
    base = tempfile.mkdtemp(prefix="ds_bkt_")
    names = (f"ds_bkt_orders_{token}", f"ds_bkt_lineitem_{token}")
    for df, name, bucket_col in (
        (orders, names[0], "o_orderkey"),
        (lineitem, names[1], "l_orderkey"),
    ):
        (
            df.write.bucketBy(8, bucket_col).sortBy(bucket_col)
            .option("path", os.path.join(base, name))
            .mode("overwrite").format("parquet").saveAsTable(name)
        )
    old = _BUCKETED_LAYOUTS.get(key)
    if old:
        old_names, old_base = old
        for name in old_names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        # The DROP only removes catalog entries (EXTERNAL tables):
        # delete the superseded build's data too, or each fresh build
        # leaks a full bucketed copy of the facts into /tmp.
        shutil.rmtree(old_base, ignore_errors=True)
    _BUCKETED_LAYOUTS[key] = (names, base)
    return names


@query(
    "bucketed_layout_build",
    oracle="""
    SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 'lineitem' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
    tags=("bucketing", "colocated-join", "scale-technique", "S6", "ingest"),
)
def bucketed_layout_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD half of the bucketed co-located join (split from the
    join per the r9 verdict): write both fact tables
    ``bucketBy(8, orderkey).sortBy(orderkey)`` as external catalog
    tables — the one-off layout shuffle a 100 TB deployment pays at
    ingest so that every subsequent orderkey equi-join (merges, CDC
    reconciliation, point-in-time audits) runs shuffle-free. Returns
    per-table row counts read back from the BUCKETED tables, so the
    oracle (raw-parquet counts) proves the layout write landed
    losslessly. Always builds fresh — this entry's benched time IS the
    ingest cost; `bucketed_colocated_join` reuses the layout and
    measures the join-many payoff."""
    o_name, l_name = _bucketed_layout(spark, sf_dir, fresh=True)
    o_cnt = spark.table(o_name).select(
        F.lit("orders").alias("tbl")
    ).groupBy("tbl").agg(F.count("*").alias("n_rows"))
    l_cnt = spark.table(l_name).select(
        F.lit("lineitem").alias("tbl")
    ).groupBy("tbl").agg(F.count("*").alias("n_rows"))
    return o_cnt.unionByName(l_cnt)


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    tags=("bucketing", "colocated-join", "scale-technique", "S6"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JOIN half of the bucketed co-located join — the
    build-once/join-many layout the brief names beside broadcast and
    salting: the join of the READ-BACK bucketed tables needs NO
    shuffle on either side (the bucketed scans already satisfy the
    join's required distribution — plan-locked in tests/test_plans.py:
    exactly one Exchange in the whole query, the final aggregate's).
    The layout comes from the per-session memoized
    :func:`_bucketed_layout` (built by `bucketed_layout_build` or on
    first use), so this entry's benched time measures the join-many
    payoff, not the ingest shuffle — the r9 verdict's split. The
    oracle computes the same aggregate from the raw parquet; bucketing
    is a layout property, not a semantic one, which is exactly what
    the hash check proves."""
    o_name, l_name = _bucketed_layout(spark, sf_dir)
    o = spark.table(o_name)
    li = spark.table(l_name)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                ).cast("decimal(18,4)")
            ).cast("double").alias("revenue"),
        )
    )


@query(
    "salted_skew_join",
    oracle="""
    WITH dim AS (
      SELECT event_type, MAX(value) AS t_max
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN e.value >= 0.5 * d.t_max THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hot,
           CAST(SUM(CAST(ROUND(CASE WHEN e.value >= 0.5 * d.t_max
                                     THEN e.value ELSE 0 END, 2)
                         AS DECIMAL(18,2))) AS DOUBLE) AS hot_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    tags=("skew", "salting", "scale-technique", "J1"),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join over a HOT key — the third leg of the brief's skew
    triad beside broadcast (`flagship_revenue_by_nation`) and bucketing
    (`bucketed_colocated_join`): ``event_type`` has only 5 distinct
    values, so a plain shuffle join lands the whole fact table on 5
    reducers no matter how many executors exist. Salting fans each hot
    key across ``_SALT`` sub-keys: the fact side gets
    ``pmod(xxhash64(event_id), _SALT)`` and the (aggregated) dimension
    side is replicated ``_SALT``× with `explode(sequence(...))`, so the
    join key becomes ``(event_type, salt)`` — 5×32 = 160 evenly-sized
    shuffle groups instead of 5 monsters. The MERGE hint pins a
    sort-merge join (a 5-row dim would otherwise broadcast, which is
    the RIGHT choice here and taken by the flagship — this entry exists
    to demonstrate the technique for when BOTH sides are too large to
    broadcast; the docstring is the honesty, the plan-lock in
    tests/test_plans.py is the proof). Arithmetic stays on exact
    grids: ``value`` sits on the 2-decimal grid (TESTDATA), ``t_max``
    is a MAX (no new values), and ``0.5 * t_max`` halves a double —
    exact in binary — so the hot flag and the dec_sum are engine-exact.

    Scale: the salt column is data-independent (hash of the fact PK),
    so the fan-out survives any key distribution; dimension
    replication is |dim|×_SALT rows — negligible against a 100 TB
    fact side. Reference analogue: none (the reference has no skew
    mitigation); pattern per the Spark perf guide's salting idiom.
    """
    from .queries import dec_sum

    n_salt = 32
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = (
        ev.groupBy("event_type")
        .agg(F.max("value").alias("t_max"))
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
    )
    fact = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salt)).cast("int")
    )
    joined = fact.join(
        dim.hint("merge"), on=["event_type", "salt"], how="inner"
    )
    hot = F.col("value") >= F.lit(0.5) * F.col("t_max")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(hot.cast("bigint")).alias("n_hot"),
            dec_sum(F.when(hot, F.col("value")).otherwise(F.lit(0.0)), "hot_value"),
        )
    )
