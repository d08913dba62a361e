"""Driver-contract tests for __spark_entry__: the exact surface the
round harness exercises (entry smoke, queries/oracle registry shape)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrypoint  # noqa: E402

from data_seedling_spark.session import query_scope  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402


def test_registry_contract_shapes():
    q = entrypoint.queries()
    o = entrypoint.oracle_sql()
    assert set(o) <= set(q), "oracle for unregistered query"
    assert len(q) >= 120
    missing_oracle = sorted(set(q) - set(o))
    # only the legitimately non-SQL-expressible ops may be rows-only
    assert set(missing_oracle) <= {
        "approx_distinct_quantiles",
        "minhash_lsh_near_dup",
        "simhash_documents",
        "ann_lsh_hyperplane",
        "hll_sketch_mergeable_distinct",
        "multimodal_decode_stub",
        "pca_project_embeddings",  # eigendecomposition: no SQL twin
        # float32 matmul sums partial products in a different (blocked)
        # order than the fold twin, so cosine scores can differ by ulps
        # near the top-k threshold; agreement floor >=0.999 is asserted
        # in tests/test_llm_ops.py instead (see similarity.py
        # ivf_assign_arrow docstring for the ulp-order rationale).
        "embedding_near_dup_arrow",
        # zlib deflate has no SQL twin; monotonicity floors in
        # tests/test_llm_ops.py (test_compression_quality_orders_repetition)
        "compression_ratio_quality",
        # graph-traversal ANN is approximate by design (like the LSH
        # entries above); recall floor + determinism in
        # tests/test_llm_ops.py (test_nsw_graph_ann_recall_floor...)
        "nsw_graph_ann_topk",
    }, f"unexpected rows-only queries: {missing_oracle}"
    for sql in o.values():
        assert sql.strip(), "empty oracle"


def test_entry_returns_stable_frame(spark):
    df = entrypoint.entry(spark)
    assert df.columns, "entry() must return a DataFrame with columns"
    n = df.count()
    assert n >= 0
    # stable across re-invocation (the driver smoke re-runs it)
    again = entrypoint.entry(spark)
    assert again.columns == df.columns
    assert again.count() == n


def test_all_window_queries_runnable_smoke(spark):
    """The driver's correctness window (first 50) must at minimum
    build a plan against the smoke SF without raising."""
    q = entrypoint.queries()
    for name in list(q)[:50]:
        with query_scope(spark, name):
            df = q[name](spark, SF_SMOKE)
            assert df.schema is not None, name


def test_cli_list_run_and_unknown(spark, capsys):
    """python -m data_seedling_spark: list filters by tag, run prints
    JSON rows, unknown names exit 1 with near matches."""
    import json

    import pytest as _pytest

    from data_seedling_spark.__main__ import main

    assert main(["list", "--tag", "dedup-exact"]) == 0
    out = capsys.readouterr().out
    assert "dedup_exact_documents" in out and "oracle" in out

    assert main(["run", "groupby_count_status", "--sf-dir", SF_SMOKE, "-n", "5"]) == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert rows and all({"value", "count"} <= set(r) for r in rows)

    with _pytest.raises(SystemExit):
        main(["run", "definitely_not_a_query"])
