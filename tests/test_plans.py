"""Physical-plan audits: regression-lock the scale properties.

Correctness tests prove the answers right; these prove the *plans*
stay right — filters reach the parquet scan, small sides broadcast,
rank windows prune before sorting. A regression here is invisible at
sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from data_seedling_spark.queries import registry
from data_seedling_spark.session import conf_changes, conf_snapshot, query_scope, sql_conf
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def reg():
    return registry()


def plan_of(spark, reg, name: str) -> str:
    df = reg[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_pushes_filters_and_broadcasts(spark, reg):
    plan = plan_of(spark, reg, "flagship_revenue_by_nation")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    # the 4-column projection reaches the scan: no full-width lineitem read
    assert "l_comment" not in plan


def test_pricing_summary_partial_aggregation(spark, reg):
    plan = plan_of(spark, reg, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_topk_window_group_limit_pushdown(spark, reg):
    plan = plan_of(spark, reg, "window_top_orders_per_segment")
    assert "WindowGroupLimit" in plan


def test_merge_branches_are_single_joins(spark, reg):
    insert_plan = plan_of(spark, reg, "merge_insert_apply")
    delete_plan = plan_of(spark, reg, "merge_delete_apply")
    assert "LeftAnti" in insert_plan
    assert "LeftAnti" in delete_plan


def test_semi_join_for_exists(spark, reg):
    plan = plan_of(spark, reg, "exists_subquery_orders")
    assert "LeftSemi" in plan


def test_similarity_topk_broadcasts_queries_no_python(spark, reg):
    plan = plan_of(spark, reg, "similarity_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # all math stays JVM-side: no Python evaluation nodes
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_exact_dedup_shuffles_hash_not_text(spark, reg):
    plan = plan_of(spark, reg, "dedup_exact_documents")
    # grouping key is the sha2 hash; the raw text column must not
    # survive past the scan-side projection into the exchange
    exchange = plan[plan.index("Exchange") :] if "Exchange" in plan else plan
    assert "sha2" in plan
    assert "text" not in exchange.split("\n")[0]


def test_range_join_is_broadcast_not_cartesian_shuffle(spark, reg):
    plan = plan_of(spark, reg, "range_join_price_bands")
    assert "BroadcastNestedLoopJoin" in plan


def test_market_share_broadcasts_all_dims(spark, reg):
    """Q8 shape: every dimension side must broadcast — the plan is one
    pass over lineitem; a sort-merge join against any dim means a
    full-fact shuffle per dim at 100 TB."""
    plan = plan_of(spark, reg, "market_share_by_year")
    assert plan.count("BroadcastHashJoin") >= 5
    # part filter reaches the scan, not a post-join Filter
    assert "PushedFilters: [IsNotNull(p_type), EqualTo(p_type,STANDARD)" in plan


def test_waiting_suppliers_single_lineitem_pass(spark, reg):
    """Q21 window reformulation: one scan of lineitem (the EXISTS /
    NOT-EXISTS formulation would take three), supplier broadcast."""
    plan = plan_of(spark, reg, "waiting_suppliers")
    assert plan.count("FileScan parquet") == 2 or (
        # AQE may reuse-exchange; count raw scans of the lineitem file
        plan.count("lineitem.parquet") <= 2
    )
    assert "BroadcastHashJoin" in plan


def test_customer_distribution_left_join_pushdown(spark, reg):
    """Q13 shape: the orders-side filter must be pushed to the scan
    (filtering after a left join would change semantics AND read more);
    the join itself must stay a shuffled join on the customer key."""
    plan = plan_of(spark, reg, "customer_order_distribution")
    assert "PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority" in plan
    assert "LeftOuter" in plan


def test_kmeans_assign_is_joinless_projection(spark, reg):
    """k-means: the final assignment is a pure projection over a
    constant-folded literal centroid array (argmin via array_min) —
    no join of ANY kind, no shuffle, no Python stage. One scan of the
    vectors produces the answer."""
    plan = plan_of(spark, reg, "kmeans_cluster_assignment")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "array_min" in plan


def test_q5_shape_broadcasts_all_dimensions(spark, reg):
    plan = plan_of(spark, reg, "region_supplier_revenue")
    # customer, supplier, nation, region all broadcast; only
    # lineitem joins orders over a shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q6_shape_is_scan_filter_agg_only(spark, reg):
    plan = plan_of(spark, reg, "forecast_revenue_change")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    # plan dump truncates the filter list — check the stable prefix
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in plan


def test_q10_shape_take_ordered(spark, reg):
    plan = plan_of(spark, reg, "returned_item_customers")
    assert "TakeOrderedAndProject" in plan  # no global sort for top-20
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_repetition_ratio_no_shuffle_no_python(spark, reg):
    plan = plan_of(spark, reg, "repetition_ratio_documents")
    assert "Exchange" not in plan  # one scan, per-row math only
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_tfidf_joins_on_token_key(spark, reg):
    plan = plan_of(spark, reg, "tfidf_top_terms")
    # doc-frequency side must NOT be collected/broadcast by our code:
    # vocabulary is unbounded at corpus scale. (AQE may still choose a
    # broadcast at this tiny SF — assert the logical shape instead:
    # both aggregates and the rank window are present.)
    assert plan.count("HashAggregate") >= 4  # tf + df two-phase each
    assert "Window" in plan


def test_stratified_sample_filter_reaches_scan(spark, reg):
    plan = plan_of(spark, reg, "stratified_sample_documents")
    assert "Exchange" not in plan  # pure filter: no shuffle at all
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1][:200]


def test_domain_mix_no_shuffle_no_python(spark, reg):
    """Mixing is scan → filter → generate: zero Exchange, zero Python."""
    plan = plan_of(spark, reg, "domain_mix_documents")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode(sequence) replicator
    assert "EvalPython" not in plan


def test_chunk_dedup_shuffles_hashes_not_text(spark, reg):
    """Duplicate-span removal: frequency group-by and removal anti-join
    both key on sha2; no Python anywhere in the plan."""
    plan = plan_of(spark, reg, "chunk_dedup_documents")
    assert "LeftAnti" in plan
    assert "sha2" in plan
    assert "EvalPython" not in plan


def test_pq_ann_broadcasts_lut_no_nested_loop(spark, reg):
    """ADC scan: the (subspace, code) LUT join must be a broadcast
    hash join — the corpus streams codes, vectors never re-shuffle."""
    plan = plan_of(spark, reg, "pq_ann_topk")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_interval_join_plans_as_equi_join(spark, reg):
    """The binned interval join must never fall back to the range-join
    nested-loop cliff."""
    plan = plan_of(spark, reg, "interval_join_ship_windows")
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window specs with no partition columns: windowspecdefinition's
    FIRST argument is already an ordered column/expression
    (`expr ASC/DESC ...`) instead of a bare partition column. Single
    source of truth in config.GLOBAL_WINDOW_PATTERN, shared with
    tools/plan_doctor.py (r11 ADVICE)."""
    import re

    from data_seedling_spark.config import GLOBAL_WINDOW_PATTERN

    return re.findall(GLOBAL_WINDOW_PATTERN, plan)


def test_global_window_regex_catches_inlined_expressions():
    """r11 ADVICE: a partition-less window whose ORDER BY expression is
    INLINED (parenthesised) rather than projected to a `_w#` attribute
    must still be caught, while partitioned windows — including ones
    whose partition key is itself a paren expression — must not."""
    caught = [
        "windowspecdefinition(x#1L ASC NULLS FIRST, specifiedwindowframe(...))",
        "windowspecdefinition(floor(x#1L) ASC NULLS FIRST, specified...)",
        "windowspecdefinition(cast(round(x#1, 0) as int) DESC NULLS LAST, s)",
    ]
    clean = [
        "windowspecdefinition(k#5, x#1L ASC NULLS FIRST, specified...)",
        "windowspecdefinition(floor(k#5L), x#1 ASC NULLS FIRST, s)",
        "windowspecdefinition(k#5, j#6, x#1 DESC NULLS LAST, s)",
    ]
    for plan in caught:
        assert _unpartitioned_windows(plan), plan
    for plan in clean:
        assert not _unpartitioned_windows(plan), plan


def test_scale_safe_rankings_have_no_global_windows(spark, reg):
    """gini (range_rank), sharded packing, global_index, and the two
    r11 range_rank rewrites (woe_iv / rfm — VERDICT r10 #1) must plan
    every window partitioned — an unpartitioned running-sum window
    funnels the corpus through one partition (the WindowExec
    'Moving all data to a single partition' scale-killer)."""
    for name in (
        "gini_revenue_concentration",
        "sequence_packing_sharded",
        "global_row_index_documents",
        "woe_iv_price_deciles",
        "rfm_customer_segments",
    ):
        plan = plan_of(spark, reg, name)
        assert _unpartitioned_windows(plan) == [], name


def test_dsir_broadcasts_bucket_model_no_python(spark, reg):
    """The 256-row log-ratio model must broadcast into the per-doc
    weight join (never shuffle the doc×bucket counts against it), and
    the whole weighting stage stays JVM-side."""
    plan = plan_of(spark, reg, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan  # no UDF fallback anywhere


def test_char_entropy_shuffles_counts_not_text(spark, reg):
    """Entropy aggregates per-(doc, char) counts; after the explode the
    exchange must carry the tiny grouped rows, and nothing Python.
    Exactly ONE text scan + char explode: the per-doc total comes from
    a window over the counts, not a second aggregate of the raw chars
    (the join formulation re-scanned and re-exploded the whole text)."""
    plan = plan_of(spark, reg, "char_entropy_documents")
    assert "Python" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final combine
    assert plan.count("Generate explode") == 1
    assert plan.count("FileScan") == 1


def test_two_stage_rerank_broadcasts_shortlist_and_queries(spark, reg):
    """Stage-2 rerank: the PQ shortlist and the query vectors are
    broadcast INTO corpus-side scans — full vectors are fetched by one
    more scan pass, never by shuffling the corpus; no nested loop, no
    Python, and every rank window stays query-partitioned."""
    plan = plan_of(spark, reg, "ann_two_stage_rerank")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Python" not in plan
    assert not _unpartitioned_windows(plan)


def test_ivfpq_residual_no_python_no_cartesian(spark, reg):
    """Residual IVF-PQ: centroids and codebooks broadcast; the corpus
    moves as residual codes, never re-shuffled vectors; all JVM. The
    BroadcastNestedLoopJoin inside ivf_assign is the intended
    bounded-centroid cross-score (broadcast side = k centroids), so
    only an *unbroadcast* cartesian is forbidden."""
    plan = plan_of(spark, reg, "ivfpq_residual_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert not _unpartitioned_windows(plan)


# SQL conf a query may leave set for its returned frame's action (the
# events loader's nanos repair, the recursive CTE's row guardrail); the
# caller's query_scope restores it on release.
CONF_LEFT_FOR_ACTION = {
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.cteRecursionRowLimit",
}


def test_registry_wide_plan_hygiene(spark, reg, tmp_path, monkeypatch):
    """Sweep EVERY registered query's physical plan for the
    anti-patterns that are invisible at test SF and fatal at 100 TB:
    an unbroadcast cartesian product, a row-at-a-time Python UDF, and
    (r11, VERDICT r10 #2) an UNSANCTIONED partition-less window —
    WindowExec funnels its whole input through one task, so a global
    window is only legitimate over a bounded frame (sketch centroids,
    bin/score grids, calendar series, shortlists), sanctioned by name
    in config.GLOBAL_WINDOW_ALLOWED. Broadcast cross joins of scalar
    frames (BroadcastNestedLoopJoin) and Arrow-batched Python
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are
    legitimate and stay allowed.

    Each query also runs inside a ``query_scope`` and must leave the
    shared session as it found it: before release it may only have
    set ``CONF_LEFT_FOR_ACTION``; after release the SQL conf equals
    the pre-call snapshot, no new temp dir remains, and no RDD or
    DataFrame cache entry it persisted is still registered. The temp
    dir is private to this test, so only the queries' own dirs land
    there; the one exception is ``_bucketed_layout``'s memoised build,
    at most one at a time."""
    # UDTF surface demo: BatchEvalPythonUDTF is the point of the query.
    # Single source of truth shared with tools/plan_doctor.py so the
    # two gates cannot disagree.
    from data_seedling_spark.config import (
        GLOBAL_WINDOW_ALLOWED as gwin_ok,
        PYTHON_ROWWISE_ALLOWED as python_ok,
    )
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def persisted_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    cached = spark._jsparkSession.sharedState().cacheManager().numCachedEntries
    offenders = []
    for name in reg:
        conf = conf_snapshot(spark)
        dirs = set(os.listdir(tmp_path))
        rdds, n_cached = persisted_rdds(), cached()
        with query_scope(spark, name):
            try:
                plan = plan_of(spark, reg, name)
            except Exception as exc:  # pragma: no cover - fail loudly below
                offenders.append((name, f"plan build failed: {exc}"))
                plan = ""
            left = conf_changes(conf, conf_snapshot(spark)) - CONF_LEFT_FOR_ACTION
            if left:
                offenders.append((name, f"conf left set: {sorted(left)}"))
        if conf_changes(conf, conf_snapshot(spark)):
            offenders.append((name, "conf not restored on release"))
        now = set(os.listdir(tmp_path))
        layouts = {d for d in now if d.startswith("ds_bkt_")}
        if now - dirs - layouts or len(layouts) > 1:
            offenders.append((name, f"temp dirs left: {sorted(now - dirs)}"))
        # the context cleaner may drop earlier tests' blocks meanwhile,
        # so a query is judged by what it added, not by the totals
        added = persisted_rdds() - rdds
        if added or cached() > n_cached:
            offenders.append((name, f"persisted left: rdds {sorted(added)}, "
                                    f"cache entries {n_cached} -> {cached()}"))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        cleaned = plan.replace("BatchEvalPythonUDTF", "")
        if "BatchEvalPython" in cleaned and name not in python_ok:
            offenders.append((name, "row-at-a-time BatchEvalPython"))
        if "BatchEvalPythonUDTF" in plan and name not in python_ok:
            offenders.append((name, "unsanctioned BatchEvalPythonUDTF"))
        if name not in gwin_ok and _unpartitioned_windows(plan):
            offenders.append((name, "unsanctioned global window"))
    assert not offenders, offenders


def test_minhash_md5_signatures_all_jvm_partial_agg(spark, reg):
    """The md5-twin minhash pipeline must stay Python-free (md5/conv
    are JVM expressions) and compute signature minima through partial
    (map-side) aggregation — the codegen'd form, not interpreted
    higher-order folds."""
    plan = plan_of(spark, reg, "minhash_md5_lsh_near_dup")
    assert "partial_min" in plan
    assert "BatchEvalPython" not in plan


def test_objective_preps_have_no_shuffle(spark, reg):
    """MLM masking and T5 span corruption are row-local array algebra:
    a single scan with no Exchange and no Python anywhere."""
    for name in ("mlm_mask_documents", "span_corruption_t5"):
        plan = plan_of(spark, reg, name)
        assert "Exchange" not in plan, name
        assert "Python" not in plan, name


def test_logreg_scoring_is_pure_projection(spark, reg):
    """After training, classifier scoring must add no shuffle: the
    weights are literals, so the scored frame is scan → project."""
    plan = plan_of(spark, reg, "logreg_classifier_train")
    import re

    assert not re.search(r"Exchange hashpartitioning", plan.split("Scan")[0]), plan[:500]


def test_bucketed_join_has_no_join_side_exchange(spark, reg):
    """The bucketed co-located join's scale claim, plan-locked: after
    the bucketBy(8, key).sortBy(key) layout, the read-back equi-join
    runs over the bucketed scans with NO Exchange on either join input
    — the only Exchange in the whole query belongs to the final
    groupBy aggregate. Also assert the scans actually select buckets
    (the layout is being used, not coincidentally absent)."""
    # on the smoke table AQE broadcasts the tiny side, which hides the
    # property under test: force the sort-merge planner so the join
    # must satisfy its distribution from the BUCKETED layout alone
    with sql_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": -1}):
        df = reg["bucketed_colocated_join"].fn(spark, SF_SMOKE)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE-final section
    assert "SortMergeJoin" in final
    assert "Bucketed: true" in final  # bucketed scans engaged
    # join inputs need NO shuffle; the one Exchange is the aggregate's
    assert final.count("Exchange") == 1, final


def test_bucketed_layout_memoized_and_per_run_named(spark, reg):
    """The r9 split's contract: the layout builds once per
    (session, dataset) and every subsequent join reuses it
    (build-once/join-many), while a fresh build gets NEW uuid-suffixed
    table names in a NEW tempdir — so concurrent runs and sessions
    sharing a warehouse can't clobber each other (r9 ADVICE #5) — and
    drops the superseded catalog entries."""
    from data_seedling_spark.queries_pipeline import _bucketed_layout

    a = _bucketed_layout(spark, SF_SMOKE)
    assert _bucketed_layout(spark, SF_SMOKE) == a  # join-many reuse
    c = _bucketed_layout(spark, SF_SMOKE, fresh=True)
    assert set(c).isdisjoint(set(a))  # per-build names, never reused
    assert not spark.catalog.tableExists(a[0])  # stale pair dropped
    assert spark.catalog.tableExists(c[0])


def test_salted_skew_join_fans_hot_keys(spark, reg):
    """The salting demo's plan-locked claims: (1) the executed join is
    a SortMergeJoin (the MERGE hint holds even though the dim side is
    160 rows — broadcast would make the salt decorative); (2) the join
    keys include the salt column, so each of the 5 hot event_type
    groups is physically spread across 32 sub-keys; (3) semantics are
    oracle-checked separately (salted_skew_join is registry-green), so
    this test only pins the physical strategy."""
    df = reg["salted_skew_join"].fn(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final, final
    assert "BroadcastHashJoin" not in final, final
    # the salt participates in the join's equi-key list
    smj = final[final.index("SortMergeJoin"):]
    assert "salt" in smj.split("\n")[0], smj.split("\n")[0]


def test_topk_rankings_take_ordered_not_global_sort(spark, reg):
    """r11: corpus-scored top-k queries (A-Res sample, BM25, MaxSim,
    RAG retrieval) must take their k via sort+limit —
    TakeOrderedAndProject does per-partition partial top-k and merges
    — so the only global window left ranks the <=k survivors. Without
    the lock, a row_number-then-filter spelling silently sorts the
    whole corpus-sized score frame on one task."""
    for name in (
        "weighted_sample_without_replacement",
        "bm25_rank_documents",
        "late_interaction_maxsim",
        "rag_chunk_retrieval",
    ):
        plan = plan_of(spark, reg, name)
        assert "TakeOrderedAndProject" in plan, name
