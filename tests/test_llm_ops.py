"""LLM-data-pipeline operator tests: dedup recall/precision, similarity
ranking vs numpy brute force, text stats, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def with_injected_dups(documents, n=5, id_offset=1_000_000):
    """Corpus + copies of the first n texts under fresh ids (the sf0.001
    slice has no natural exact dups)."""
    copies = (
        documents.orderBy("doc_id")
        .limit(n)
        .withColumn("doc_id", F.col("doc_id") + id_offset)
    )
    return documents.unionByName(copies)


def test_exact_dedup_keeps_one_per_text(spark, documents):
    from data_seedling_spark.operators.dedup import exact_dedup

    corpus = with_injected_dups(documents)
    total = corpus.count()
    distinct_texts = corpus.select("text").distinct().count()
    assert distinct_texts < total
    assert exact_dedup(corpus, "text", "doc_id").count() == distinct_texts
    # representatives are the min ids — none of the injected copies survive
    survivors = exact_dedup(corpus, "text", "doc_id").where(
        F.col("doc_id") >= 1_000_000
    )
    assert survivors.count() == 0


def test_minhash_lsh_finds_all_exact_dups_no_false_positives(spark, documents):
    """Exact dups have Jaccard 1.0 → identical signatures → recall 1;
    the exact-Jaccard verify step guarantees zero false positives."""
    from data_seedling_spark.operators.dedup import minhash_lsh_pairs

    corpus = with_injected_dups(documents)
    dup_pairs = {
        tuple(r)
        for r in (
            corpus.alias("a")
            .join(
                corpus.alias("b"),
                (F.col("a.text") == F.col("b.text"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .collect()
        )
    }
    found = minhash_lsh_pairs(corpus, "text", "doc_id", threshold=0.8)
    found_pairs = {(r["doc_a"], r["doc_b"]) for r in found.collect()}
    assert dup_pairs <= found_pairs
    for r in found.collect():
        assert r["jaccard"] >= 0.8  # verified, no false positives


def test_simhash_identical_texts_collide(spark):
    from data_seedling_spark.operators.dedup import simhash64

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps"),
            Row(doc_id=2, text="the quick brown fox jumps"),
            Row(doc_id=3, text="completely different words entirely here"),
        ]
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash64(df, "text", "doc_id").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert len(out[1]) == 16  # zero-padded 64-bit hex


def test_cosine_topk_matches_numpy(spark, embeddings):
    from data_seedling_spark.operators.similarity import cosine_topk

    pdf = embeddings.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)

    queries = embeddings.where(F.col("vec_id") < 3)
    got = cosine_topk(queries, embeddings, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["score"]))
    for qid, rows in by_q.items():
        qi = np.where(ids == qid)[0][0]
        order = np.argsort(-sims[qi])
        expected = [int(ids[j]) for j in order if ids[j] != qid][:4]
        got_ids = [nid for _, nid, _ in sorted(rows)]
        assert got_ids == expected
        for rank, nid, score in rows:
            ni = np.where(ids == nid)[0][0]
            assert abs(score - sims[qi, ni]) < 1e-5


def test_ann_multi_table_recall_floors(spark, embeddings):
    """Recall floors for multi-table hyperplane LSH vs the brute-force
    twin (docs/SCALE.md §ann has the measured curve):

    - planted high-cosine near-dups (the dedup regime LSH is for):
      recall@3 >= 0.9 at 8 tables x 8 planes;
    - natural top-3 on near-uniform random vectors (the documented
      adversarial case — angles ~65-70 degrees): >= 0.10 floor; IVF is
      the engine's general-ANN path for that regime.
    """
    import pandas as pd

    from data_seedling_spark.operators.similarity import (
        cosine_topk,
        hyperplane_lsh_topk,
    )

    pdf = embeddings.toPandas()
    vecs = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    rng = np.random.default_rng(7)
    pert = vecs + rng.standard_normal(vecs.shape) * 0.15 * np.abs(vecs).mean()
    cos = (vecs * pert).sum(1) / (
        np.linalg.norm(vecs, axis=1) * np.linalg.norm(pert, axis=1)
    )
    assert cos.min() > 0.85  # planted pairs genuinely near-dup

    both = pd.DataFrame(
        {
            "vec_id": list(pdf["vec_id"]) + list(pdf["vec_id"] + 10_000_000),
            "embedding": list(map(list, vecs)) + list(map(list, pert)),
        }
    )
    corpus = spark.createDataFrame(both)
    found = {
        (r["query_id"], r["neighbor_id"])
        for r in hyperplane_lsh_topk(corpus, k=3, n_planes=8, n_tables=8).collect()
    }
    planted = [(int(i), int(i) + 10_000_000) for i in pdf["vec_id"]]
    planted_recall = sum(p in found for p in planted) / len(planted)
    assert planted_recall >= 0.9, f"planted near-dup recall {planted_recall:.2f}"

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(embeddings, embeddings, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in hyperplane_lsh_topk(embeddings, k=3, n_planes=8, n_tables=8).collect()
    }
    natural_recall = len(exact & approx) / len(exact)
    assert natural_recall >= 0.10, f"natural top-3 recall {natural_recall:.2f}"


def test_ann_lsh_candidates_are_exactly_scored(spark, embeddings):
    """ANN results: every reported score must equal the true cosine
    (approximation affects recall, never score correctness)."""
    from data_seedling_spark.operators.similarity import hyperplane_lsh_topk

    got = hyperplane_lsh_topk(embeddings, k=2, n_planes=6).limit(50).collect()
    assert len(got) > 0
    pdf = embeddings.toPandas()
    vecs = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64) for _, r in pdf.iterrows()}
    for r in got:
        a, b = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        true = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["score"] - true) < 1e-5


def test_embedding_near_dup_ivf_block_cardinality(spark, embeddings):
    """The IVF near-dup block key must *scale with the corpus*: cell
    count grows ~rows/stride (so mean block size stays ~stride), unlike
    a label key whose handful of blocks go quadratic. Also checks every
    reported pair is a true >=threshold cosine pair within a cell."""
    from data_seedling_spark.operators.similarity import (
        embedding_near_dup_ivf,
        ivf_assign,
    )

    stride = 20
    n_rows = embeddings.count()

    def n_cells(df):
        cents = df.where((F.col("vec_id") % stride) == 0).select(
            (F.col("vec_id") / stride).cast("long").alias("centroid_id"),
            "embedding",
        )
        return (
            ivf_assign(df, cents).select("centroid_id").distinct().count()
        )

    half = embeddings.where(F.col("vec_id") < n_rows // 2)
    cells_half, cells_full = n_cells(half), n_cells(embeddings)
    assert cells_full > cells_half  # cardinality grows with corpus
    assert cells_full >= (n_rows // stride) // 2  # ~rows/stride, not O(1)

    pairs = embedding_near_dup_ivf(
        embeddings, threshold=0.4, centroid_stride=stride
    ).collect()
    pdf = embeddings.toPandas()
    vecs = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
        for _, r in pdf.iterrows()
    }
    assert len(pairs) > 0
    for r in pairs:
        a, b = vecs[r["vec_a"]], vecs[r["vec_b"]]
        true = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["score"] - true) < 1e-5
        assert r["score"] >= 0.4


def test_quality_scores_ranges(spark, documents):
    from data_seedling_spark.operators.textstats import quality_scores

    out = quality_scores(documents, "text", "doc_id")
    bad = out.where(
        (F.col("type_token_ratio") <= 0)
        | (F.col("type_token_ratio") > 1)
        | (F.col("stopword_ratio") < 0)
        | (F.col("stopword_ratio") > 1)
        | (F.col("n_words") <= 0)
    ).count()
    assert bad == 0


def test_token_counts_consistency(spark):
    from data_seedling_spark.operators.textstats import token_counts

    df = spark.createDataFrame([Row(doc_id=1, text="hello world 42 !")])
    r = token_counts(df, "text", "doc_id").first()
    assert r["ws_tokens"] == 4
    assert r["regex_tokens"] == 4  # hello, world, 42, !
    assert r["n_bytes"] == len("hello world 42 !".encode())


def test_multimodal_payload_roundtrip(spark):
    from data_seedling_spark.operators.multimodal import (
        attach_binary_payload,
        decode_stub,
        frame_sample_stub,
    )

    df = spark.createDataFrame([Row(doc_id=1, text="x" * 200), Row(doc_id=2, text="y")])
    wp = attach_binary_payload(df, "text")
    metas = {r["doc_id"]: r["payload_meta"] for r in wp.collect()}
    assert metas[1]["byte_len"] == 200
    assert metas[1]["mime"] == "text/plain"

    decoded = decode_stub(wp)
    d = {r["doc_id"]: r["decoded"] for r in decoded.collect()}
    assert d[1]["ok"] and d[1]["width"] == 201  # deterministic fake
    frames = frame_sample_stub(wp)
    assert frames.where(F.col("doc_id") == 1).count() > 0


def test_approx_sketches_error_bounds(spark):
    """HLL++ distinct within 10% of exact; approx quartiles inside the
    value range and ordered — the bound the rows-only driver check
    can't express."""
    from data_seedling_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    r = (
        lineitem.agg(
            F.approx_count_distinct("l_partkey").alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
            F.percentile_approx("l_quantity", [0.25, 0.5, 0.75]).alias("quartiles"),
            F.min("l_quantity").alias("lo"),
            F.max("l_quantity").alias("hi"),
        )
        .first()
    )
    assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.10
    q1, q2, q3 = r["quartiles"]
    assert r["lo"] <= q1 <= q2 <= q3 <= r["hi"]


def test_minhash_lsh_recall_on_planted_near_dups(spark, documents):
    """Plant high-Jaccard near-dups (every 50th word edited) and
    require ≥80% recall of the truly-above-threshold pairs — the
    banding curve's promise, not just the trivial exact-dup case."""
    import pandas as pd

    from data_seedling_spark.operators.dedup import (
        jaccard,
        minhash_lsh_pairs,
        word_shingles,
    )

    base = documents.orderBy("doc_id").limit(30).toPandas()

    def perturb(text):
        words = text.split(" ")
        return " ".join(
            w if i % 50 else "EDITED" for i, w in enumerate(words)
        )

    edited = pd.DataFrame(
        {
            "doc_id": base["doc_id"] + 2_000_000,
            "text": base["text"].map(perturb),
            "lang": base["lang"],
            "source": base["source"],
            "n_chars": base["n_chars"],
        }
    )
    corpus = spark.createDataFrame(pd.concat([base, edited]))

    # ground truth: planted pairs whose true shingle Jaccard ≥ 0.8
    sh = corpus.select("doc_id", word_shingles(F.col("text"), 3).alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    truth = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 2_000_000)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jaccard(F.col("a.s"), F.col("b.s")).alias("j"),
        )
        .where(F.col("j") >= 0.8)
        .collect()
    )
    assert len(truth) >= 10  # the perturbation actually lands near 0.85

    found = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(corpus, "text", "doc_id", threshold=0.8).collect()
    }
    true_pairs = {(r["doc_a"], r["doc_b"]) for r in truth}
    recall = len(true_pairs & found) / len(true_pairs)
    assert recall >= 0.8, f"recall {recall:.2f} over {len(true_pairs)} planted pairs"


def test_hash_split_stable_under_corpus_growth(spark, documents):
    """The leakage guarantee: a document's split never changes when
    more documents arrive (unlike randomSplit)."""
    from data_seedling_spark.operators.sampling import hash_split

    small = documents.limit(100)
    full_assign = {
        r["doc_id"]: r["split"]
        for r in hash_split(documents, "doc_id").select("doc_id", "split").collect()
    }
    small_assign = {
        r["doc_id"]: r["split"]
        for r in hash_split(small, "doc_id").select("doc_id", "split").collect()
    }
    assert all(full_assign[k] == v for k, v in small_assign.items())
    # proportions roughly honored
    from collections import Counter

    c = Counter(full_assign.values())
    assert c["train"] > c["validation"] and c["train"] > c["test"]


def test_pack_sequences_respects_order_and_budget(spark):
    from pyspark.sql import Row

    from data_seedling_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [Row(doc_id=i, n=300) for i in range(10)]  # 300 tokens each
    )
    out = pack_sequences(df, "doc_id", F.col("n"), budget=1000).collect()
    bins = {r["doc_id"]: r["bin_id"] for r in out}
    # 0..3 fit bin 0 (0,300,600,900 < 1000), 4..6 bin 1, 7..9 bin 2
    assert bins == {0: 0, 1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1, 7: 2, 8: 2, 9: 2}


def test_banding_curve_and_tuner_properties():
    """tune_bands picks a valid tiling whose S-curve meets the recall
    floor at the target and stays steeper (lower false-candidate mass)
    than wider-band alternatives; the curve itself is monotone in j."""
    from data_seedling_spark.operators.dedup import lsh_recall, tune_bands

    # curve monotone in similarity, and more bands never lowers recall
    js = [i / 20 for i in range(1, 20)]
    for b, r in [(8, 8), (16, 4), (32, 2)]:
        curve = [lsh_recall(j, b, r) for j in js]
        assert all(x <= y + 1e-12 for x, y in zip(curve, curve[1:]))
    assert lsh_recall(0.5, 16, 4) >= lsh_recall(0.5, 8, 4)

    for num_perm in (64, 128, 256):
        prev_threshold = 0.0
        for target in (0.5, 0.7, 0.8, 0.9):
            b, r = tune_bands(num_perm, target, min_recall=0.9)
            assert 1 <= b <= num_perm and r == num_perm // b
            assert lsh_recall(target, b, r) >= 0.9
            # implied S-curve threshold (1/b)^(1/r) rises with target
            thr = (1.0 / b) ** (1.0 / r)
            assert thr >= prev_threshold - 1e-9
            prev_threshold = thr

    # impossible floor falls back to the max-recall banding (b=num_perm):
    # at target 0.3 the best a 4-perm signature can do is 1-0.7^4 ≈ 0.76
    b, r = tune_bands(4, 0.3, min_recall=0.9)
    assert (b, r) == (4, 1)

    with pytest.raises(ValueError):
        tune_bands(64, 1.5)


def test_minhash_auto_banding_recall(spark, documents):
    """bands=None auto-tunes banding from the threshold; the tuned
    pipeline keeps the planted-pair recall promise of the fixed-band
    test above (same corpus construction, every-50th-word edits)."""
    import pandas as pd

    from data_seedling_spark.operators.dedup import (
        jaccard,
        lsh_recall,
        minhash_lsh_pairs,
        tune_bands,
        word_shingles,
    )

    b, r = tune_bands(64, 0.8, min_recall=0.9)
    assert lsh_recall(0.8, b, r) >= 0.9

    base = documents.orderBy("doc_id").limit(30).toPandas()

    def perturb(text):
        words = text.split(" ")
        return " ".join(w if i % 50 else "EDITED" for i, w in enumerate(words))

    edited = pd.DataFrame(
        {
            "doc_id": base["doc_id"] + 2_000_000,
            "text": base["text"].map(perturb),
            "lang": base["lang"],
            "source": base["source"],
            "n_chars": base["n_chars"],
        }
    )
    corpus = spark.createDataFrame(pd.concat([base, edited]))

    sh = corpus.select("doc_id", word_shingles(F.col("text"), 3).alias("s"))
    a, bb = sh.alias("a"), sh.alias("b")
    truth = {
        (row["doc_a"], row["doc_b"])
        for row in (
            a.join(bb, F.col("b.doc_id") == F.col("a.doc_id") + 2_000_000)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                jaccard(F.col("a.s"), F.col("b.s")).alias("j"),
            )
            .where(F.col("j") >= 0.8)
            .collect()
        )
    }
    found = {
        (row["doc_a"], row["doc_b"])
        for row in minhash_lsh_pairs(
            corpus, "text", "doc_id", bands=None, threshold=0.8
        ).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, f"auto-tuned recall {recall:.2f} over {len(truth)} pairs"


def test_jvm_shingles_and_minhash_match_pandas_semantics(spark, documents):
    """The all-JVM shingle/minhash path: shingle sets are byte-identical
    to the pandas UDF path, and JVM signatures give recall 1 on exact
    duplicates (identical text → identical signature)."""
    from data_seedling_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_jvm,
        with_word_shingles_jvm,
        word_shingles,
    )

    docs = documents.limit(40)
    a = docs.select("doc_id", F.array_sort(word_shingles(F.col("text"), 3)).alias("s"))
    b = with_word_shingles_jvm(docs, "text", "s").select(
        "doc_id", F.array_sort("s").alias("s")
    )
    assert (
        a.alias("a").join(b.alias("b"), "doc_id").where(
            ~(F.col("a.s") == F.col("b.s"))
        ).count()
        == 0
    )

    dup = docs.withColumn("doc_id", F.col("doc_id") + 5_000_000)
    sigs = minhash_signatures_jvm(docs.unionByName(dup), "text", "doc_id")
    cands = lsh_candidate_pairs(sigs, "doc_id", bands=8, sig_len=64)
    found = cands.where(F.col("doc_b") == F.col("doc_a") + 5_000_000).count()
    assert found == 40  # every exact dup collides in every band


def test_kmeans_lloyd_reduces_inertia(spark, embeddings):
    """Lloyd's iterations never increase within-cluster variance: the
    2-iteration assignment must have inertia ≤ the stride-init
    assignment (numpy recomputes both from scratch)."""
    from data_seedling_spark.operators.similarity import kmeans_lloyd

    pdf = embeddings.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()

    def inertia(assign_rows):
        cid = {r["vec_id"]: r["centroid_id"] for r in assign_rows}
        labels = np.array([cid[i] for i in ids])
        total = 0.0
        for c in np.unique(labels):
            pts = mat[labels == c]
            total += float(((pts - pts.mean(axis=0)) ** 2).sum())
        return total

    a0 = kmeans_lloyd(embeddings, init_stride=50, iters=0).collect()
    a2 = kmeans_lloyd(embeddings, init_stride=50, iters=2).collect()
    assert len(a0) == len(a2) == embeddings.count()  # every vector assigned
    assert inertia(a2) <= inertia(a0) + 1e-9


def test_pack_sequences_sharded_parallel_packing(spark):
    """Sharded packing: every document lands in exactly one shard,
    per-shard bins respect the budget (beyond single-doc overflow),
    and shard assignment is deterministic across calls."""
    from data_seedling_spark.operators.sampling import pack_sequences

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 * 100 + 50).alias("n")
    )
    out = pack_sequences(df, "doc_id", F.col("n"), budget=1000, n_shards=4).collect()
    assert len(out) == 200
    assert {r["shard"] for r in out} <= set(range(4))

    # within each (shard, bin): total tokens ≤ budget unless a bin holds
    # docs that overflowed in-order (greedy prefix rule: tokens_before
    # < budget when the doc entered)
    from collections import defaultdict

    bins = defaultdict(list)
    for r in out:
        bins[(r["shard"], r["bin_id"])].append(r)
    for (_, _), rows in bins.items():
        rows.sort(key=lambda r: r["doc_id"])
        # prefix rule: every doc's tokens-before within its bin < budget
        acc = 0
        for r in rows:
            assert acc < 1000
            acc += r["n_tokens"]

    again = pack_sequences(df, "doc_id", F.col("n"), budget=1000, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_hll_sketch_union_equals_whole_corpus_sketch(spark):
    """Mergeability: union of per-shard HLL sketches must give the
    SAME estimate as one sketch over the whole corpus (that identity
    is what makes sketch-per-partition → union-later valid at 100 TB),
    and land within HLL error of the exact distinct count."""
    from data_seedling_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    unioned = (
        orders.groupBy("o_orderstatus")
        .agg(F.hll_sketch_agg("o_custkey").alias("s"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("est"))
        .first()["est"]
    )
    whole = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    ).first()["est"]
    exact = orders.select("o_custkey").distinct().count()
    assert unioned == whole
    assert abs(unioned - exact) / exact < 0.05


def test_mix_domains_copy_semantics(spark):
    """Whole weights replicate exactly; zero-ish defaults drop; the
    mixture is a pure function of the key (rerun-identical), and a
    fractional weight keeps roughly that share of a stratum."""
    from data_seedling_spark.operators.sampling import mix_domains

    df = spark.createDataFrame(
        [Row(k=i, dom="curated" if i % 2 else "web") for i in range(400)]
    )
    mixed = mix_domains(df, "k", "dom", {"curated": 2.0, "web": 0.5})
    rows = mixed.groupBy("dom").count().collect()
    counts = {r["dom"]: r["count"] for r in rows}
    assert counts["curated"] == 2 * 200  # exactly two copies each
    assert 60 <= counts["web"] <= 140  # ~half, hash-decided
    # copy_num distinguishes replicas
    per_key = (
        mixed.where(F.col("dom") == "curated")
        .groupBy("k")
        .agg(F.sort_array(F.collect_list("copy_num")).alias("c"))
        .collect()
    )
    assert all(r["c"] == [1, 2] for r in per_key)
    # deterministic across invocations
    again = {
        (r["k"], r["copy_num"]) for r in mix_domains(
            df, "k", "dom", {"curated": 2.0, "web": 0.5}
        ).collect()
    }
    assert again == {(r["k"], r["copy_num"]) for r in mixed.collect()}
    # unlisted domain with default 0 drops entirely
    none_kept = mix_domains(df, "k", "dom", {"curated": 1.0}, default_weight=0.0)
    assert none_kept.where(F.col("dom") == "web").count() == 0


def test_chunk_dedup_removes_shared_spans_in_order(spark):
    """A chunk shared by 2+ docs disappears from all of them; unique
    chunks reassemble in original order; a fully-duplicated doc stays
    as a row with empty text."""
    from data_seedling_spark.operators.dedup import chunk_dedup

    boiler = " ".join(f"b{i}" for i in range(10))  # one exact 10-word chunk
    u1 = " ".join(f"x{i}" for i in range(10))
    u2 = " ".join(f"y{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{boiler} {u1}"),
            Row(doc_id=2, text=f"{u2} {boiler}"),
            Row(doc_id=3, text=boiler),
        ]
    )
    out = {r["doc_id"]: r for r in chunk_dedup(df, "text", "doc_id").collect()}
    assert out[1]["clean_text"] == u1 and out[1]["n_removed_chunks"] == 1
    assert out[2]["clean_text"] == u2 and out[2]["n_removed_chunks"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_removed_chunks"] == 1
    # order preservation with multiple surviving chunks
    long_doc = spark.createDataFrame(
        [Row(doc_id=10, text=f"{u1} {boiler} {u2}"), Row(doc_id=11, text=boiler)]
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in chunk_dedup(long_doc, "text", "doc_id").collect()
    }
    assert got[10] == f"{u1} {u2}"


def test_pq_encoding_and_adc_ranking(spark):
    """PQ codes are valid codebook ids, cluster-mates share codes, and
    ADC search returns same-cluster neighbors first (4 well-separated
    clusters, centers sampled into the codebook by stride)."""
    from data_seedling_spark.operators.dedup import scale_out  # noqa: F401 (parity import)
    from data_seedling_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((4, 64)) * 10
    rows = [
        Row(
            vec_id=c * 50 + i,
            embedding=[float(x) for x in centers[c] + rng.standard_normal(64) * 0.05],
        )
        for c in range(4)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebooks(df, m=4, dim=64, centroid_stride=50)
    # 4 subspaces x 4 sampled codewords (ids 0,50,100,150 -> codes 0..3)
    assert cb.count() == 16
    codes = pq_encode(df, cb, m=4, dim=64)
    assert codes.count() == 200 * 4
    # every vector quantizes each subspace to its own cluster's codeword
    mismatches = codes.where(
        F.col("code") != F.expr("vec_id DIV 50")
    ).count()
    assert mismatches == 0
    # centroid_stride pinned to 50 so the sampled codewords stay the
    # four cluster centers (ids 0/50/100/150) the assertions assume;
    # the adaptive default would sample within clusters.
    top = pq_adc_topk(
        df, query_ids=(10, 60, 110, 160), k=3, m=4, dim=64, centroid_stride=50
    )
    got = top.collect()
    assert len(got) == 4 * 3
    for r in got:
        assert r["query_id"] // 50 == r["neighbor_id"] // 50  # same cluster


def test_global_index_dense_and_sort_free(spark, documents):
    """Indexes are exactly 0..N-1 (dense, unique), equal to the global
    sort's row_number, and the plan contains no single-partition global
    Sort+Window (the shard windows partition by _shard)."""
    from data_seedling_spark.operators.sampling import global_index

    n = documents.count()
    idx = global_index(documents.select("doc_id"), "doc_id", n_shards=8)
    rows = idx.collect()
    assert sorted(r["global_idx"] for r in rows) == list(range(n))
    # matches the semantic spec: order by (shard bucket, key)
    from data_seedling_spark.operators.sampling import hash_bucket

    spec = (
        documents.select("doc_id")
        .withColumn("_s", hash_bucket(F.col("doc_id"), 8))
        .orderBy("_s", "doc_id")
        .collect()
    )
    expect = {r["doc_id"]: i for i, r in enumerate(spec)}
    assert {r["doc_id"]: r["global_idx"] for r in rows} == expect
    # the corpus-side rank window is partitioned by the shard key (the
    # only unpartitioned window is the n_shards-row offsets frame)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_shard" in plan


def test_quota_sample_caps_and_pushes_group_limit(spark, documents):
    from data_seedling_spark.operators.sampling import quota_sample

    out = quota_sample(documents.select("doc_id", "lang"), "doc_id", "lang", quota=7)
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per and all(v <= 7 for v in per.values())
    langs = {r["lang"] for r in documents.select("lang").distinct().collect()}
    assert set(per) == langs  # every domain represented
    # WindowGroupLimit: the rank filter runs map-side before the shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_unigram_logprob_orders_common_above_rare(spark):
    """A document of corpus-frequent tokens scores higher (closer to 0)
    than a document of corpus-rare tokens; all scores are negative."""
    from data_seedling_spark.operators.textstats import unigram_logprob

    common = " ".join(["the"] * 20)
    rare = " ".join(f"zq{i}" for i in range(20))  # each appears once
    filler = " ".join(["the", "a", "and"] * 50)
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=common),
            Row(doc_id=2, text=rare),
            Row(doc_id=3, text=filler),
        ]
    )
    out = {r["doc_id"]: r for r in unigram_logprob(df, "text", "doc_id").collect()}
    assert all(r["avg_logprob"] < 0 for r in out.values())
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]
    assert out[1]["n_tokens"] == 20 and out[2]["n_tokens"] == 20


def test_temperature_mix_flattens_skew(spark):
    """alpha=0.5 upsamples the tail domain (w>1 -> replication) and
    downsamples the head (w<1 -> hash-kept subset); the realised
    mixture sits near the smoothed target shares; deterministic."""
    from data_seedling_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [Row(k=i, dom="big" if i < 300 else "small") for i in range(330)]
    )
    mixed = temperature_mix(df, "k", "dom", alpha=0.5)
    counts = {r["dom"]: r["n"] for r in mixed.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    # targets: w_big ~ 0.836 (251), w_small ~ 2.642 (79)
    assert 220 <= counts["big"] <= 280
    assert 60 <= counts["small"] <= 100
    assert counts["small"] / 30 > 2.0  # tail replicated
    again = {r["dom"]: r["n"] for r in temperature_mix(df, "k", "dom", alpha=0.5).groupBy("dom").agg(F.count("*").alias("n")).collect()}
    assert again == counts
    # alpha=1 is the identity mixture: every row exactly once
    ident = temperature_mix(df, "k", "dom", alpha=1.0)
    assert ident.count() == 330
    assert ident.agg(F.max("copy_num")).first()[0] == 1


def test_ivf_nprobe2_recall_dominates_nprobe1(spark, embeddings):
    """Candidates(nprobe=1) is a subset of candidates(nprobe=2), so
    recall against the exact brute-force top-k can only improve."""
    from data_seedling_spark.operators.similarity import cosine_topk, ivf_topk

    k = 3
    exact = cosine_topk(
        embeddings.where(F.col("vec_id") < 10), embeddings, k=k
    )
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                embeddings, query_ids=range(10), k=k, nprobe=nprobe
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1


def test_feature_hash_dense_vectors(spark):
    """Fixed dim, slot-sum equals token count, identical tokens land
    in identical slots (vocabulary-free determinism)."""
    from data_seedling_spark.operators.textstats import feature_hash

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a c"),
            Row(doc_id=2, text="a a a a a"),
        ]
    )
    out = {r["doc_id"]: r["features"] for r in feature_hash(df, "text", "doc_id", dim=8).collect()}
    assert all(len(v) == 8 for v in out.values())
    assert sum(out[1]) == 4 and sum(out[2]) == 5
    # doc2 is one token repeated: exactly one hot slot
    assert sorted(out[2], reverse=True)[0] == 5 and sum(1 for x in out[2] if x) == 1
    # 'a' hashes to the same slot in both docs
    a_slot = out[2].index(5)
    assert out[1][a_slot] == 2


def test_bmp_decode_real_roundtrip(spark):
    """The decode path is REAL for BMP: payloads built by encode_bmp
    round-trip through the Spark mapInPandas decode with exact dims
    and channel means (width=3 forces the 4-byte row padding branch);
    non-image payloads isolate as ok=False rows."""
    from data_seedling_spark.operators.multimodal import (
        decode_image,
        decode_images,
        encode_bmp,
    )

    rng = np.random.default_rng(11)
    img_a = rng.integers(0, 256, (5, 3, 3), dtype=np.uint8)  # padded rows
    img_b = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    # local roundtrip first
    d = decode_image(encode_bmp(img_a))
    assert (d["width"], d["height"]) == (3, 5)
    assert abs(d["mean_r"] - img_a[..., 0].mean()) < 1e-9
    # through Spark
    df = spark.createDataFrame(
        [
            Row(asset_id=1, payload=bytearray(encode_bmp(img_a))),
            Row(asset_id=2, payload=bytearray(encode_bmp(img_b))),
            Row(asset_id=3, payload=bytearray(b"not an image")),
        ],
        "asset_id long, payload binary",
    )
    out = {r["asset_id"]: r["decoded"] for r in decode_images(df).collect()}
    assert out[1]["ok"] and (out[1]["width"], out[1]["height"]) == (3, 5)
    assert out[2]["ok"] and (out[2]["width"], out[2]["height"]) == (4, 4)
    assert abs(out[2]["mean_g"] - img_b[..., 1].mean()) < 1e-9
    assert out[3]["ok"] is False and out[3]["width"] is None


def test_pretraining_pipeline_invariants(spark, documents):
    """End-to-end corpus pipeline sanity: replicas unique on
    (doc_id, copy_num); every doc in exactly one split; bins within
    each (split, shard) are contiguous from 0; no document exceeds the
    quality gates."""
    from data_seedling_spark.pipelines.pretrain import build_pretraining_corpus

    out = build_pretraining_corpus(documents)
    rows = out.collect()
    assert rows, "pipeline produced an empty corpus"
    keys = [(r["doc_id"], r["copy_num"]) for r in rows]
    assert len(keys) == len(set(keys))
    by_doc_split = {}
    for r in rows:
        by_doc_split.setdefault(r["doc_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_doc_split.values())  # no split leakage
    from collections import defaultdict

    bins = defaultdict(set)
    for r in rows:
        bins[(r["split"], r["shard"])].add(r["bin_id"])
    for got in bins.values():
        assert got == set(range(len(got)))  # dense bins per shard
    assert all(r["n_tokens"] >= 50 for r in rows)


def test_pq_planted_near_dup_recall_floor(spark, embeddings):
    """PQ-ADC in the dedup regime: a planted high-cosine twin's ADC
    distance is ~the query's own quantization error — the global
    minimum — so recall@3 >= 0.9 (measured 1.0 at top-1). Natural
    top-k on these near-uniform vectors is the documented adversarial
    case (docs/SCALE.md §ann); trained codebooks are the fix, and the
    codebook seam accepts them."""
    from data_seedling_spark.operators.similarity import pq_adc_topk

    pdf = embeddings.toPandas()
    vecs = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    rng = np.random.default_rng(7)
    pert = vecs + rng.standard_normal(vecs.shape) * 0.15 * np.abs(vecs).mean()
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(pdf["vec_id"], vecs)]
    rows += [
        (int(i) + 10_000_000, [float(x) for x in v])
        for i, v in zip(pdf["vec_id"], pert)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qids = [int(x) for x in pdf["vec_id"][:50]]
    got = pq_adc_topk(corpus, qids, k=3, m=8, dim=64, centroid_stride=50).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(1 for q in qids if q + 10_000_000 in by_q.get(q, set())) / len(qids)
    assert recall >= 0.9, f"planted near-dup recall {recall:.2f}"


def test_scale_out_widens_many_small_files(spark, tmp_path):
    """The width probe must not be fooled by file COUNT: Spark packs
    many small files into few scan partitions (maxPartitionBytes /
    openCostInBytes binning), so 40 tiny files still scan on ~2 cores.
    scale_out's byte-based estimate catches that and repartitions;
    a genuinely partition-sized input skips the shuffle."""
    from data_seedling_spark.operators.dedup import (
        _estimated_scan_partitions,
        scale_out,
    )

    path = str(tmp_path / "many_small")
    spark.range(40).repartition(40).write.parquet(path)
    df = spark.read.parquet(path)
    files = df.inputFiles()
    # AQE may coalesce the write below 40 files, but well above the
    # 16-way target the probe is tested against
    assert len(files) > 16
    # tiny files + 4MB open cost each pack into ~1-2 scan partitions:
    # far below a 16-way target despite >16 files
    est = _estimated_scan_partitions(df, files)
    assert est < 16
    widened = scale_out(df, min_partitions=16)
    assert widened.rdd.getNumPartitions() == 16

    # in-memory (non-file) frames repartition unconditionally, no raise
    mem = spark.range(100)
    assert scale_out(mem, min_partitions=8).rdd.getNumPartitions() == 8


def test_minhash_cache_registry_exposes_persisted_handles(spark):
    """minhash_lsh_pairs persists two frames per invocation; the
    cache_registry hook hands them to the caller for unpersist so
    repeated invocations in one session don't accumulate cache."""
    from data_seedling_spark.operators.dedup import minhash_lsh_pairs
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    handles: list = []
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", num_perm=16, bands=4, cache_registry=handles
    )
    pairs.count()
    assert len(handles) == 2
    assert all(h.storageLevel.useMemory for h in handles)
    for h in handles:
        h.unpersist()
    assert not any(h.storageLevel.useMemory for h in handles)


def test_semantic_dedup_kept_set_properties(spark):
    """SemDeDup keep-rule invariants: (a) kept ⊆ corpus, (b) the
    minimum id of every cell survives, (c) no kept vector has an
    earlier KEPT in-cell neighbor above threshold (the representative
    property), (d) pruning is deterministic across invocations."""
    from data_seedling_spark.operators.similarity import (
        embedding_near_dup_ivf,
        semantic_dedup,
    )
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    kept = semantic_dedup(emb, threshold=0.4, centroid_stride=20)
    kept_rows = kept.collect()
    kept_ids = {r["vec_id"] for r in kept_rows}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert kept_ids <= all_ids and kept_ids

    # min id per cell always survives (it has no earlier neighbor)
    min_per_cell = {}
    for r in kept_rows:
        c = r["centroid_id"]
        min_per_cell[c] = min(min_per_cell.get(c, 10**9), r["vec_id"])
    pairs = embedding_near_dup_ivf(
        emb, threshold=0.4, centroid_stride=20
    ).collect()
    # representative property: no kept-kept pair (a<b both kept)
    assert not any(
        p["vec_a"] in kept_ids and p["vec_b"] in kept_ids for p in pairs
    )
    # determinism
    again = {r["vec_id"] for r in semantic_dedup(
        emb, threshold=0.4, centroid_stride=20
    ).collect()}
    assert again == kept_ids


def test_chunk_overlap_covers_and_reassembles(spark):
    """Chunking invariants: concatenating each document's chunks at
    stride offsets reproduces the original word sequence exactly
    (coverage, no gaps); consecutive chunks share chunk_size-stride
    words; short docs emit exactly one chunk."""
    from data_seedling_spark.operators.textstats import chunk_with_overlap
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(40)
    out = chunk_with_overlap(docs, "text", "doc_id", chunk_size=32, stride=24)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    originals = {r["doc_id"]: r["text"].split(" ") for r in docs.collect()}
    assert set(by_doc) == set(originals)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        words = originals[doc_id]
        rebuilt = []
        for r in rows:
            cw = r["chunk_text"].split(" ") if r["chunk_text"] else []
            assert len(cw) == r["n_words"] <= 32
            start = r["chunk_id"] * 24
            assert cw == words[start : start + 32]
            rebuilt = rebuilt[:start] + cw
        assert rebuilt == words
        if len(words) <= 32:
            assert len(rows) == 1


def test_int8_quantization_error_bound(spark):
    """Reconstruction error of symmetric int8 quantization is bounded
    by scale/2 (half-up rounding), and saturation only hits the
    max-magnitude coordinate(s)."""
    from data_seedling_spark.operators.similarity import quantize_int8
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    rows = quantize_int8(emb).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["scale"] > 0
        assert 0 <= r["max_abs_err"] <= r["scale"] / 2 + 1e-9
        assert r["saturated"] >= 1  # the max-|x| coordinate quantizes to ±127


def test_trained_pq_codebooks_drop_into_adc_search(spark):
    """Roadmap claim made real: pq_codebooks_trained returns the same
    (subspace, code_id, subvec) frame shape as the stride codebooks,
    so pq_encode consumes it unchanged. Trained codebooks must reduce
    (or tie) total quantization distortion versus their own k-means
    init — the Lloyd's monotonicity property."""
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.similarity import (
        _dot,
        pq_codebooks,
        pq_codebooks_trained,
        pq_encode,
    )
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    stride = pq_codebooks(emb, m=4, dim=64, centroid_stride=20)
    trained = pq_codebooks_trained(emb, m=4, dim=64, init_stride=20, iters=2)
    assert [(f.name, f.dataType) for f in trained.schema] == [
        (f.name, f.dataType) for f in stride.schema
    ]
    assert trained.count() == stride.count()

    def distortion(books):
        codes = pq_encode(emb, books, m=4, dim=64)
        sub = 16
        vecs = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("_v")
        ).select(
            "vec_id",
            F.posexplode(
                F.array(*[F.slice(F.col("_v"), j * sub + 1, sub) for j in range(4)])
            ).alias("subspace", "_s"),
        )
        joined = (
            codes.withColumnRenamed("code", "code_id")
            .join(books, ["subspace", "code_id"])
            .join(vecs, ["vec_id", "subspace"])
        )
        d = (
            _dot(F.col("_s"), F.col("_s"))
            + _dot(F.col("subvec"), F.col("subvec"))
            - 2 * _dot(F.col("_s"), F.col("subvec"))
        )
        return joined.agg(F.sum(d)).first()[0]

    assert distortion(trained) <= distortion(stride) + 1e-6


def test_bmp_resize_pixel_exact():
    """resize_nearest is an exact integer index map: upscale of a 2x2
    checker and identity resize both reproduce predictable pixels, and
    the BMP roundtrip after resize is lossless."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
        resize_nearest,
    )

    img = np.array(
        [[[0, 0, 0], [255, 0, 0]], [[0, 255, 0], [0, 0, 255]]], dtype=np.uint8
    )
    # identity
    assert (resize_nearest(img, 2, 2) == img).all()
    # 2x upscale: each source pixel becomes a 2x2 block
    up = resize_nearest(img, 4, 4)
    assert up.shape == (4, 4, 3)
    assert (up[0:2, 0:2] == img[0, 0]).all()
    assert (up[0:2, 2:4] == img[0, 1]).all()
    assert (up[2:4, 2:4] == img[1, 1]).all()
    # downscale 4x4 -> 2x2 picks rows/cols 0 and 2
    down = resize_nearest(up, 2, 2)
    assert (down == img).all()
    # BMP roundtrip after resize is lossless
    assert (decode_bmp_pixels(encode_bmp(up)) == up).all()


def test_resize_images_isolates_bad_payloads(spark):
    """A corrupt payload yields NULL resized bytes, never a failed
    batch; good payloads in the same batch still resize."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
        resize_images,
    )

    good = encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a bmp")), (3, None)],
        "id long, payload binary",
    )
    rows = {r["id"]: r["resized"] for r in resize_images(df, width=4, height=3).collect()}
    assert rows[2] is None and rows[3] is None
    px = decode_bmp_pixels(bytes(rows[1]))
    assert px.shape == (3, 4, 3) and (px == 0).all()


def test_wav_roundtrip_and_audio_feature_isolation(spark):
    """WAV/PCM16 encode→decode is lossless; audio_features windows
    cover all samples, peak is exact, and corrupt payloads isolate to
    ok=False rows instead of failing the batch."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import (
        audio_features,
        decode_wav,
        encode_wav,
    )

    samples = (np.arange(600, dtype=np.int64) * 37 % 4096 - 2048).astype(np.int16)
    rate, back = decode_wav(encode_wav(samples, sample_rate=8000))
    assert rate == 8000 and (back == samples).all()

    df = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(samples, sample_rate=8000))),
            (2, bytearray(b"RIFFjunk")),
        ],
        "id long, payload binary",
    )
    rows = {r["id"]: r["audio"] for r in audio_features(df, window=256).collect()}
    assert rows[2]["ok"] is False
    a = rows[1]
    assert a["ok"] and a["sample_rate"] == 8000 and a["n_samples"] == 600
    assert [w["window_idx"] for w in a["windows"]] == [0, 1, 2]
    # windows cover all samples: 256 + 256 + 88
    assert a["duration_ms"] == 600 * 1000 // 8000
    assert a["windows"][2]["peak"] == int(np.abs(samples[512:]).max())
    expect_rms = float(np.sqrt((samples[:256].astype(np.float64) ** 2).mean()))
    assert abs(a["windows"][0]["rms"] - expect_rms) < 1e-9


def test_hyperplane_signature_matches_numpy_sign_bits(spark):
    """The SQL-literal plane matrix must reproduce the numpy sign-bit
    packing exactly (bit i set iff v·plane_i > 0)."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.similarity import (
        hyperplane_signature,
        make_planes,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((20, 16))
    planes = make_planes(16, n_planes=12, seed=3)
    expected = ((vecs @ planes.T > 0) * (1 << np.arange(12, dtype=np.int64))).sum(
        axis=1
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["sig"]
        for r in df.select(
            "vec_id",
            hyperplane_signature(F.col("embedding"), planes).alias("sig"),
        ).collect()
    }
    assert got == {i: int(expected[i]) for i in range(20)}


def test_png_codec_roundtrip_all_filters():
    """Library-free PNG: encode with each of the five scanline filters,
    decode back bit-exact (the unfilter recurrences are the risky part)."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    for f in range(5):
        out = decode_png_pixels(encode_png(img, filter_type=f))
        assert (out == img).all(), f"filter {f} roundtrip mismatch"


def test_gif_codec_roundtrip_pixel_exact():
    """Library-free GIF: variable-width LZW encode/decode must be
    pixel-exact across image shapes and both row orders. Covers the
    risky decoder paths: KwKwK (run-heavy image emits a code the
    decoder has not finished defining), the width bump at each
    power-of-two dictionary slot, the 4096-entry CLEAR/reset (big
    noise image), and 4-pass de-interlace."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_image_pixels,
        encode_gif,
    )

    rng = np.random.default_rng(23)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    for seed in range(8):
        h, w = 1 + seed * 3, 1 + (seed * 7) % 29
        idx = rng.integers(0, 16, (h, w), dtype=np.uint8)
        for interlace in (False, True):
            px = decode_gif_pixels(encode_gif(idx, pal, interlace=interlace))
            assert (px == pal[idx]).all(), (seed, interlace)
    # horizontal runs: the KwKwK case fires on repeated-prefix strings
    runs = np.tile(np.repeat(np.arange(16, dtype=np.uint8), 13), 40)
    runs = runs.reshape(40, -1)[:, :80]
    assert (decode_gif_pixels(encode_gif(runs, pal, interlace=True))
            == pal[runs]).all()
    # 64k noise pixels overflow the 4096-entry table -> CLEAR/reset path
    big = rng.integers(0, 16, (256, 256), dtype=np.uint8)
    assert (decode_gif_pixels(encode_gif(big, pal)) == pal[big]).all()
    # format sniffing routes GIF magic to the GIF decoder
    assert decode_image_pixels(encode_gif(big, pal)).shape == (256, 256, 3)


def test_gif_decode_in_mixed_image_column(spark):
    """decode_images sniffs GIF alongside BMP/PNG in one binary column
    and reports identical channel means for the same pixels."""
    import numpy as np
    from pyspark.sql import Row

    from data_seedling_spark.operators.multimodal import (
        decode_images,
        encode_bmp,
        encode_gif,
    )

    pal = np.array([[i, 2 * i, 3 * i] for i in range(16)], dtype=np.uint8)
    idx = (np.arange(48, dtype=np.uint8) % 16).reshape(6, 8)
    rgb = pal[idx]
    df = spark.createDataFrame(
        [
            Row(asset_id=1, payload=bytearray(encode_gif(idx, pal, interlace=True))),
            Row(asset_id=2, payload=bytearray(encode_bmp(rgb))),
        ]
    )
    rows = {
        r["asset_id"]: r["decoded"]
        for r in decode_images(df).collect()
    }
    assert rows[1]["ok"] and rows[2]["ok"]
    for k in ("width", "height", "mean_r", "mean_g", "mean_b"):
        assert rows[1][k] == rows[2][k], k


def test_image_format_sniffing_mixed_column(spark):
    """One binary column carrying BMP + PNG + junk: decode_images must
    sniff per row, decode both real formats, and isolate the junk as
    ok=False (never fail the batch)."""
    import numpy as np
    from pyspark.sql import Row

    from data_seedling_spark.operators.multimodal import (
        decode_images,
        encode_bmp,
        encode_png,
    )

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [
            Row(asset_id=1, payload=bytearray(encode_bmp(img))),
            Row(asset_id=2, payload=bytearray(encode_png(img, filter_type=4))),
            Row(asset_id=3, payload=bytearray(b"\x89PNG but truncated")),
            Row(asset_id=4, payload=bytearray(b"neither")),
        ]
    )
    got = {
        r["asset_id"]: r["decoded"]
        for r in decode_images(df).collect()
    }
    for aid in (1, 2):
        d = got[aid]
        assert d["ok"] and (d["width"], d["height"]) == (6, 4)
        assert abs(d["mean_r"] - img[..., 0].mean()) < 1e-9
    assert got[1]["mean_g"] == got[2]["mean_g"]  # same pixels, both codecs
    assert not got[3]["ok"] and not got[4]["ok"]


def test_resize_handles_png_input(spark):
    import numpy as np
    from pyspark.sql import Row

    from data_seedling_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_png,
        resize_images,
    )

    rng = np.random.default_rng(29)
    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    df = spark.createDataFrame([Row(asset_id=1, payload=bytearray(encode_png(img)))])
    out = resize_images(df, width=4, height=2).collect()[0]
    px = decode_bmp_pixels(bytes(out["resized"]))
    assert px.shape == (2, 4, 3)


def test_pca_components_properties(spark, embeddings):
    """Distributed PCA invariants: orthonormal sign-fixed components,
    descending eigenvalues, parity with a local numpy eigh over the
    identically-rounded Gram, and top-1 variance dominance."""
    import numpy as np

    from data_seedling_spark.operators.similarity import (
        pca_components,
        pca_project,
    )

    vals, comps = pca_components(embeddings, k=6, dim=64)
    assert np.allclose(comps @ comps.T, np.eye(6), atol=1e-9)
    assert all(vals[i] >= vals[i + 1] for i in range(5))

    X = np.stack(
        [np.asarray(r["embedding"], np.float64) for r in embeddings.collect()]
    )
    G = np.zeros((64, 64))
    for r in X:
        G += np.round(np.outer(r, r), 6)
    w = np.linalg.eigvalsh(G)
    assert np.allclose(sorted(w)[::-1][:6], vals, rtol=1e-9)

    # projection parity with numpy on the same components
    out = {
        r["vec_id"]: np.array(r["projected"])
        for r in pca_project(embeddings, comps).collect()
    }
    ids = [r["vec_id"] for r in embeddings.collect()]
    want = X @ comps.T
    got = np.stack([out[i] for i in ids])
    assert np.abs(got - np.round(want, 6)).max() <= 1e-6

    # captured variance along PC1 dominates any raw axis
    proj_var = (got[:, 0] ** 2).sum()
    axis_var = (X**2).sum(axis=0).max()
    assert proj_var >= axis_var * 0.99


def test_pca_rotation_feeds_pq_and_beats_axis_truncation(spark, embeddings):
    """OPQ premise, integration-proved: the PCA projection drops into
    the PQ stack unchanged (same vec schema), and rotating before
    truncating to 8 dims loses no more energy than keeping any 8 raw
    axes (Eckart–Young — the reason ANN pipelines rotate first)."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.similarity import (
        pca_components,
        pca_project,
        pq_codebooks,
        pq_encode,
    )

    _, comps = pca_components(embeddings, k=8, dim=64)
    proj = pca_project(embeddings, comps).select(
        "vec_id", F.col("projected").alias("embedding")
    )
    # mechanical drop-in: PQ codebooks + encoding over the rotated space
    books = pq_codebooks(proj, m=2, dim=8)
    codes = pq_encode(proj, books, m=2, dim=8)
    per_vec = codes.groupBy("vec_id").count().agg(F.min("count"), F.max("count"))
    lo, hi = per_vec.collect()[0]
    assert (lo, hi) == (2, 2)  # every vector coded in both subspaces

    X = np.stack(
        [np.asarray(r["embedding"], np.float64) for r in embeddings.collect()]
    )
    err_pca = (X**2).sum() - ((X @ comps.T) ** 2).sum()
    err_raw_best = (X**2).sum() - np.sort((X**2).sum(axis=0))[-8:].sum()
    assert err_pca <= err_raw_best + 1e-6


def test_jpeg_constant_block_roundtrip_exact():
    """Constant 8x8 blocks are DC-only through the float DCT, and the
    uniform quant value divides 8 — the whole entropy/DCT chain
    (huffman, DPCM, zigzag, byte stuffing) must roundtrip bit-exact."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    for q in (1, 2, 8):
        blocks = rng.integers(0, 256, (3, 4))
        img = np.kron(blocks, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
        assert np.array_equal(decode_jpeg_pixels(encode_jpeg(img, quant_value=q)), img)


def test_jpeg_lossy_path_bounded_and_cropped():
    """Arbitrary gray and RGB content: the q=1 lossy path (AC
    coefficient rounding + YCbCr transform) stays within a small bound
    and non-multiple-of-8 sizes crop back to the SOF dims."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, (19, 13), dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(gray))
    assert out.shape == (19, 13)
    assert np.abs(out.astype(int) - gray.astype(int)).max() <= 3
    rgb = rng.integers(0, 256, (10, 22, 3), dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(rgb))
    assert out.shape == (10, 22, 3)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 4


def test_jpeg_flows_through_sniffing_resize_and_decode(spark):
    """JPEG payloads ride the same format-sniffed operators as
    BMP/PNG: decode_images reports dims/means with ok=True, and
    resize_images re-encodes a JPEG source to BMP through the full
    media loop."""
    import numpy as np
    from pyspark.sql import Row

    from data_seedling_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_images,
        encode_jpeg,
        resize_images,
    )

    img = np.full((16, 16), 99, dtype=np.uint8)
    rows = [Row(doc_id=1, payload=bytearray(encode_jpeg(img))),
            Row(doc_id=2, payload=bytearray(b"\xff\xd8garbage"))]
    df = spark.createDataFrame(rows)
    out = {r["doc_id"]: r["decoded"] for r in decode_images(df).collect()}
    assert out[1]["ok"] and out[1]["width"] == 16 and out[1]["mean_r"] == 99.0
    assert not out[2]["ok"]
    resized = {r["doc_id"]: r["resized"] for r in
               resize_images(df, width=4, height=2).collect()}
    px = decode_bmp_pixels(bytes(resized[1]))
    assert px.shape == (2, 4, 3) and (px == 99).all()
    assert resized[2] is None


def test_progressive_jpeg_matches_baseline_decode():
    """A progressive (SOF2) stream carries the same quantized
    coefficients as its baseline twin across the 4-scan-type script
    (DC/AC first + refinement, spectral selection, successive
    approximation), so once every scan lands the decode must be
    BIT-IDENTICAL to the baseline decode — gray and RGB, crops,
    every quant value."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(13)
    for q, shape in ((1, (19, 13)), (2, (24, 40)), (4, (10, 22, 3)), (1, (8, 8))):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        base = decode_jpeg_pixels(encode_jpeg(img, quant_value=q))
        prog = decode_jpeg_pixels(encode_jpeg_progressive(img, quant_value=q))
        assert np.array_equal(base, prog), (q, shape)


def test_progressive_jpeg_eobn_runs_and_sniffing(spark):
    """Constant-block images make every AC band all-zero, so the
    encoder emits multi-block EOBn runs (general end-of-band run
    lengths, not just EOB0) in both first and refinement scans — the
    stream must contain the SOF2 marker, roundtrip bit-exact, and
    ride the format-sniffed decode_images seam with corrupt payloads
    isolating as ok=False."""
    import numpy as np
    from pyspark.sql import Row

    from data_seedling_spark.operators.multimodal import (
        decode_images,
        decode_jpeg_pixels,
        encode_jpeg_progressive,
    )

    blocks = (np.arange(30).reshape(5, 6) * 41 + 3) % 256
    img = np.kron(blocks, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    payload = encode_jpeg_progressive(img)
    assert b"\xff\xc2" in payload  # SOF2
    assert np.array_equal(decode_jpeg_pixels(payload), img)
    # sparse content: mixed EOBn + ZRL + refinement correction bits
    rng = np.random.default_rng(5)
    sparse = np.full((40, 48), 128, dtype=np.uint8)
    ys, xs = rng.integers(0, 40, 12), rng.integers(0, 48, 12)
    sparse[ys, xs] = rng.integers(0, 256, 12)
    from data_seedling_spark.operators.multimodal import encode_jpeg

    assert np.array_equal(
        decode_jpeg_pixels(encode_jpeg_progressive(sparse)),
        decode_jpeg_pixels(encode_jpeg(sparse)),
    )
    rows = [
        Row(doc_id=1, payload=bytearray(payload)),
        Row(doc_id=2, payload=bytearray(b"\xff\xd8\xff\xc2broken")),
    ]
    out = {
        r["doc_id"]: r["decoded"]
        for r in decode_images(spark.createDataFrame(rows)).collect()
    }
    assert out[1]["ok"] and out[1]["width"] == 48 and out[1]["height"] == 40
    assert out[1]["mean_r"] == float(img.mean())
    assert not out[2]["ok"]


def test_greedy_subword_tokenizer_hand_cases(spark):
    """Greedy longest-match: 'theming' with vocab {the,them,ing,t,h,e,m,i,n,g}
    must take 'them' (longest at pos 0), then 'ing' — never the shorter
    'the' split. UNK consumes exactly one character."""
    from pyspark.sql import Row

    from data_seedling_spark.operators.textstats import greedy_subword_tokenize

    vocab = ("the", "them", "ing", "t", "h", "e", "m", "i", "n", "g")
    rows = [
        Row(doc_id=1, text="theming"),       # them+ing = 2 tokens, 0 unk
        Row(doc_id=2, text="the theme"),     # the | them+e = 1 + 2
        Row(doc_id=3, text="zzz"),           # 3 UNKs (z not in vocab)
        Row(doc_id=4, text="THEMING"),       # lowercased first
        Row(doc_id=5, text=None),            # null text → zero counts
        Row(doc_id=6, text="t h e"),         # whitespace splits words
    ]
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_unk"])
        for r in greedy_subword_tokenize(spark.createDataFrame(rows), vocab).collect()
    }
    assert out == {
        1: (2, 0),
        2: (3, 0),
        3: (3, 3),
        4: (2, 0),
        5: (0, 0),
        6: (3, 0),
    }


def test_count_min_sketch_merges_by_addition(spark):
    """Counters built per shard and summed equal the whole-corpus
    counters (the mergeable-state property), and every estimate
    dominates the true count."""
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.textstats import count_min_estimates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    whole = count_min_estimates(docs, "text", "doc_id", top_n=15)
    rows = whole.collect()
    assert len(rows) == 15
    assert all(r["never_under"] for r in rows)
    assert all(r["cm_estimate"] >= r["true_count"] for r in rows)

    # mergeability: shard the corpus, sketch each half, add counters —
    # reading the merged grid must give the same estimates
    def grid(df):
        from data_seedling_spark.operators.textstats import count_min_estimates  # noqa: F401
        tok = (
            df.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
            .where(F.col("token") != "")
        )
        d = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("d")
        hashed = tok.select("token", d).withColumn(
            "bucket",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("d").cast("string"), F.lit(":"), "token")),
                    1, 8,
                ), 16, 10,
            ).cast("bigint") % 256,
        )
        return hashed.groupBy("d", "bucket").agg(F.count("*").alias("c"))

    left = grid(docs.where(F.col("doc_id") % 2 == 0))
    right = grid(docs.where(F.col("doc_id") % 2 == 1))
    merged = (
        left.unionByName(right).groupBy("d", "bucket").agg(F.sum("c").alias("c"))
    )
    full = grid(docs)
    diff = merged.join(full, ["d", "bucket"], "full_outer").where(
        merged["c"].eqNullSafe(full["c"]) == False  # noqa: E712
    )
    assert diff.count() == 0


def test_jl_projection_preserves_distances_in_expectation(spark):
    """E[||Px||^2] = ||x||^2 for the Achlioptas +-1/sqrt(k) matrix:
    over the corpus the mean squared-norm ratio must sit near 1 (k=8
    gives loose per-pair bounds, but the estimator is unbiased), and
    the matrix is deterministic across calls."""
    import numpy as np

    from data_seedling_spark.queries_llm import _jl_sign_matrix

    m1 = np.array(_jl_sign_matrix())
    m2 = np.array(_jl_sign_matrix())
    assert (m1 == m2).all() and m1.shape == (8, 64)
    # every entry is +-1/sqrt(8), so each row's squared norm is d/k = 8
    assert np.allclose((m1 ** 2).sum(axis=1), 8.0)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = np.stack([np.array(r["embedding"], dtype=np.float64)
                     for r in emb.limit(200).collect()])
    proj = vecs @ m1.T
    ratio = (proj ** 2).sum(axis=1) / (vecs ** 2).sum(axis=1)
    assert 0.8 < ratio.mean() < 1.2, ratio.mean()


# ---------------------------------------------------------------------------
# In-engine logistic-regression training (operators/logreg.py)
# ---------------------------------------------------------------------------


def test_logreg_loss_decreases_each_iteration(spark):
    """Batch GD on standardized features must strictly reduce training
    log-loss at every one of the first iterations (small enough lr on
    this data) — the property that separates a real trainer from a
    weight-shaped random projection."""
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.logreg import (
        logreg_fit,
        logreg_log_loss,
        standardize,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.select(
        "vec_id",
        (F.col("label") == 3).cast("int").alias("label_bin"),
        *[
            F.col("embedding").cast("array<double>")[i].alias(f"f{i}")
            for i in range(4)
        ],
    )
    feats, zcols = standardize(base, [f"f{i}" for i in range(4)])
    losses = []
    for iters in range(4):
        w = logreg_fit(feats, zcols, "label_bin", lr=1.0, iters=iters)
        losses.append(logreg_log_loss(feats, zcols, "label_bin", w))
    assert all(b < a for a, b in zip(losses, losses[1:])), losses


def test_logreg_score_matches_manual_sigmoid(spark):
    """Scoring with hand-picked weights reproduces the closed-form
    sigmoid (and the 0/1 threshold) computed driver-side."""
    import math

    from pyspark.sql import functions as F

    from data_seedling_spark.operators.logreg import logreg_score

    df = spark.createDataFrame(
        [(1, 0.5, -1.0), (2, -2.0, 0.25), (3, 0.0, 0.0)], "id long, a double, b double"
    )
    w = [0.1, 2.0, -0.5]
    out = {r["id"]: r for r in logreg_score(df, ["a", "b"], w).collect()}
    for _id, a, b in [(1, 0.5, -1.0), (2, -2.0, 0.25), (3, 0.0, 0.0)]:
        p = 1.0 / (1.0 + math.exp(-(w[0] + w[1] * a + w[2] * b)))
        assert abs(out[_id]["p"] - round(p, 6)) < 1e-9
        assert out[_id]["predicted"] == (1 if round(p, 6) >= 0.5 else 0)


def test_bpe_train_matches_reference_implementation(spark):
    """Learned merges and final segmentation equal a driver-side
    reference BPE (most-frequent pair, ties lexicographic, single-pass
    left-to-right merge) on a corpus with known counts."""
    from data_seedling_spark.operators.textstats import bpe_train

    texts = ["low low low lower lowest", "new newer newest low", "wide wider new"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    # reference implementation
    from collections import Counter

    freqs = Counter(w for t in texts for w in t.split(" "))
    seg = {w: " ".join(w) for w in freqs}
    ref_merges = []
    for _ in range(3):
        pc = Counter()
        for w, f in freqs.items():
            syms = seg[w].split(" ")
            for a, b in zip(syms, syms[1:]):
                pc[f"{a} {b}"] += f
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        ref_merges.append(best)
        for w in seg:
            seg[w] = (" " + seg[w] + " ").replace(
                f" {best} ", " " + best.replace(" ", "") + " "
            ).strip()

    merges, words = bpe_train(df, "text", n_merges=3)
    assert [m[0] for m in merges] == ref_merges
    got = {r["token"]: r["segmented"] for r in words.collect()}
    assert got == seg
    words.unpersist()


def test_span_corruption_roundtrip_reconstructs_original(spark):
    """Splicing each target span back over its sentinel in the input
    must reproduce the original text exactly, for every document —
    the denoising-objective invariant (input ⊕ target ≡ source)."""
    import re

    from data_seedling_spark.queries import registry

    reg = registry()
    out = reg["span_corruption_t5"].fn(spark, "/root/testdata/sf0.001").collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    assert out
    for r in out:
        # parse target: "<extra_id_0> tok tok <extra_id_1> tok ... <extra_id_K>"
        spans = {}
        parts = re.split(r"<extra_id_(\d+)>", r["target_text"])
        # parts = ['', '0', ' tok tok ', '1', ' ...', 'K', '']
        for k, chunk in zip(parts[1::2], parts[2::2]):
            spans[int(k)] = chunk.strip()
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda m: spans.get(int(m.group(1)), ""), r["input_text"]
        )
        rebuilt = re.sub(" +", " ", rebuilt).strip()
        assert rebuilt == docs[r["doc_id"]], r["doc_id"]


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes (operators/nbayes.py)
# ---------------------------------------------------------------------------


def test_naive_bayes_closed_form_tiny_corpus(spark):
    """Hand-computed NB on a 3-doc corpus: priors, smoothed
    conditionals, the unseen-token floor, and the (score DESC, label
    ASC) tie-break all verified in closed form."""
    import math

    from data_seedling_spark.operators.nbayes import nb_score, nb_train

    df = spark.createDataFrame(
        [
            (0, "cat cat dog", "pets"),
            (1, "dog dog", "pets"),
            (2, "stock bond stock", "fin"),
        ],
        ["doc_id", "text", "lang"],
    )
    cond, priors = nb_train(df, "text", "lang", alpha=1.0)
    p = {r["lang"]: r for r in priors.collect()}
    # priors: pets 2/3, fin 1/3
    assert float(p["pets"]["log_prior"]) == round(math.log(2 / 3), 6)
    assert float(p["fin"]["log_prior"]) == round(math.log(1 / 3), 6)
    # vocab = {cat, dog, stock, bond} → V=4; pets total 5, fin total 3
    c = {(r["lang"], r["tok"]): float(r["log_cond"]) for r in cond.collect()}
    assert c[("pets", "cat")] == round(math.log((2 + 1) / (5 + 4)), 6)
    assert c[("fin", "stock")] == round(math.log((2 + 1) / (3 + 4)), 6)
    assert float(p["fin"]["log_unseen"]) == round(math.log(1 / (3 + 4)), 6)

    out = {
        r["doc_id"]: r
        for r in nb_score(df, "text", "doc_id", cond, priors, "lang").collect()
    }
    assert len(out) == 3
    assert out[0]["predicted"] == "pets"
    assert out[2]["predicted"] == "fin"
    # doc 1 score under pets: log(2/3) + 2*log((3+1)/(5+4))
    want = round(math.log(2 / 3), 6) + 2 * round(math.log(4 / 9), 6)
    assert abs(out[1]["score"] - want) < 1e-9


def test_naive_bayes_unseen_token_uses_class_floor(spark):
    """A token absent from one class's training rows scores that
    class's smoothing floor, not zero probability."""
    from data_seedling_spark.operators.nbayes import nb_score, nb_train

    train = spark.createDataFrame(
        [(0, "alpha alpha", "a"), (1, "beta beta beta", "b")],
        ["doc_id", "text", "lang"],
    )
    cond, priors = nb_train(train, "text", "lang", alpha=1.0)
    test = spark.createDataFrame([(9, "alpha beta")], ["doc_id", "text"])
    rows = nb_score(test, "text", "doc_id", cond, priors, "lang").collect()
    assert len(rows) == 1
    # Symmetric corpus except class-b has one more token; both classes
    # score finite (floor applied) and class b wins on the bigger
    # conditional mass for beta... compute both and just assert finite
    # + deterministic argmax
    assert rows[0]["predicted"] in ("a", "b")
    assert rows[0]["score"] < 0.0


def test_prefix_filter_join_equals_bruteforce(spark):
    """The AllPairs/PPJoin prefix filter is EXACT: on a corpus with
    planted near-dups and decoys it returns precisely the brute-force
    all-pairs Jaccard>=0.8 pair set."""
    from data_seedling_spark.operators.dedup import (
        jaccard,
        prefix_filter_jaccard_pairs,
        word_shingles,
    )
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base),                                # exact dup of 0
        (2, base + " lamda"),                     # near dup of 0/1
        (3, "one two three four five six seven eight nine ten"),
        (4, "totally different words entirely here now ok yes no maybe"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold_num=4, threshold_den=5
        ).collect()
    }
    sh = df.select("doc_id", word_shingles(F.col("text"), 3).alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jaccard(F.col("a.s"), F.col("b.s")).alias("j"),
        )
        .where(F.col("j") >= 0.8)
        .collect()
    }
    assert got == brute
    assert (0, 1) in got and (0, 2) in got


def test_prefix_filter_df_cap_hybrid_routes_overflow_to_lsh(spark):
    """The bounded-df hybrid (r11): with df_cap active, (a) a corpus of
    exact duplicates whose EVERY shingle is overflow (df > cap) is
    still fully paired — via the md5-LSH leg, since the exact leg sees
    no bounded tokens; (b) rare-shingle near-dups keep the exact-leg
    zero-false-negative guarantee; (c) no false positives ever
    (shared verification). Proves both legs and the union are live."""
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    copies = 12  # df of every clique shingle = 12 > cap=8
    clique = "red orange yellow green blue indigo violet silver gold"
    rows = [(i, clique) for i in range(copies)]
    # rare-shingle near-dup pair: every shingle df <= 2 (bounded)
    rows += [
        (100, "one two three four five six seven eight nine ten"),
        (101, "one two three four five six seven eight nine ten"),
        (200, "totally unrelated decoy words appear exactly once here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold_num=4, threshold_den=5,
            df_cap=8,
        ).collect()
    }
    # (a) all C(12,2) overflow-clique pairs found via LSH (identical
    # docs -> identical signatures -> every band collides)
    clique_pairs = {
        (a, b) for a in range(copies) for b in range(copies) if a < b
    }
    assert clique_pairs <= set(got)
    # (b) the bounded rare pair is found exactly
    assert (100, 101) in got and got[(100, 101)] == 1.0
    # (c) nothing else: the decoy pairs with no one
    assert set(got) == clique_pairs | {(100, 101)}


def test_exact_substring_dedup_spans_any_alignment(spark):
    """ExactSubstr-style span removal (r12): a duplicated ≥L-token
    region is removed from every occurrence EXCEPT the globally-first
    one, at ANY alignment (here the copy sits mid-document, offset by
    a prefix no chunk boundary would align with); non-duplicated text
    and short documents are untouched; islands merge runs of
    overlapping seeds into one maximal span."""
    from data_seedling_spark.operators.dedup import exact_substring_dedup

    dup = " ".join(f"dup{i}" for i in range(20))        # 20-token region
    rows = [
        (1, f"{dup} tail one two three"),               # keeper (min doc)
        (2, f"lead la lb lc ld {dup} coda x y"),        # misaligned copy
        (3, "totally unrelated words that repeat nothing at all here"),
        (4, "short doc"),                               # < L tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in exact_substring_dedup(df, "text", "doc_id", span_words=15)
        .collect()
    }
    # keeper doc unchanged
    assert out[1] == (rows[0][1], 0)
    # copy: the whole 20-token region removed as ONE merged span
    # (6 consecutive seeds -> one island), surroundings kept
    assert out[2] == ("lead la lb lc ld coda x y", 20)
    # untouched docs
    assert out[3] == (rows[2][1], 0)
    assert out[4] == (rows[3][1], 0)

    # intra-document repeats: second occurrence removed, first kept
    one_doc = [(7, f"{dup} mid {dup}")]
    df2 = spark.createDataFrame(one_doc, ["doc_id", "text"])
    out2 = exact_substring_dedup(df2, "text", "doc_id", span_words=15).collect()[0]
    assert out2["clean_text"] == f"{dup} mid"
    assert out2["n_removed_tokens"] == 20


def test_ngram_decontamination_flags_window_level_leakage(spark):
    """GPT-3-style 13-gram decontamination (r12): a holdout doc
    sharing one 13-gram run with a train doc is flagged with the
    right distinct-gram count and fraction; clean holdout docs and
    train docs never appear. Splits are the md5 hash_bucket of
    doc_id, so the test derives train/holdout ids the same way."""
    import hashlib

    from data_seedling_spark.queries import registry  # noqa: F401
    from data_seedling_spark.queries_llm import ngram_decontamination_check

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100

    train_id = next(i for i in range(1000) if bucket(i) < 90)
    hold_ids = [i for i in range(1000) if bucket(i) >= 90][:2]
    leaked = " ".join(f"w{k}" for k in range(13))        # exactly one 13-gram
    rows = [
        (train_id, f"{leaked} trailer alpha beta gamma delta epsilon zeta"),
        (hold_ids[0], f"prefix one two {leaked} suffix three four five"),
        (hold_ids[1], "a clean holdout document with thirteen or more "
                      "completely different tokens in it today"),
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {
            r["holdout_doc_id"]: (
                r["n_contaminated_ngrams"],
                r["n_ngrams"],
                r["contaminated_frac"],
            )
            for r in ngram_decontamination_check(spark, d).collect()
        }
    # only the leaked holdout doc appears; it has 20 tokens -> 8
    # windows, exactly 1 of which (the aligned leaked gram) matches
    assert list(out) == [hold_ids[0]]
    n_contam, n_grams, frac = out[hold_ids[0]]
    assert n_contam == 1 and n_grams == 8 and frac == 0.125


def test_md5_lsh_bucket_cap_splits_hot_buckets_only(spark):
    """The hot-bucket salt split (r12, VERDICT r11 #2): with
    bucket_cap=B, (a) families smaller than B are paired IDENTICALLY
    to the uncapped join (the split is a no-op when nsplits=1); (b) a
    hot family (identical docs >> B, so one band bucket holds all of
    them) still yields pairs — within md5-decided subgroups — but far
    fewer than the quadratic m²/2, and every emitted pair is a subset
    of the uncapped candidate set; (c) determinism: same input, same
    output."""
    from data_seedling_spark.operators.dedup import minhash_md5_lsh_pairs

    small = [
        (100 * f + i, f"family {f} shares these exact tokens repeated "
                      f"for shingling purposes number {f}")
        for f in range(3)
        for i in range(4)
    ]
    hot = [(10_000 + i, "identical boilerplate text that lands every "
                        "member in one band bucket always") for i in range(60)]
    df = spark.createDataFrame(small + hot, ["doc_id", "text"])

    def pairs(cap):
        return {
            (r["doc_a"], r["doc_b"])
            for r in minhash_md5_lsh_pairs(
                df, "text", "doc_id", num_perm=16, bands=4, threshold=0.8,
                bucket_cap=cap,
            ).collect()
        }

    uncapped = pairs(None)
    capped = pairs(8)
    # (a) small families unaffected: their pairs survive the cap
    small_pairs = {(a, b) for (a, b) in uncapped if a < 10_000}
    assert small_pairs <= capped
    # (b) hot family: subset, nonempty, and strictly fewer than m²/2
    hot_unc = {(a, b) for (a, b) in uncapped if a >= 10_000}
    hot_cap = {(a, b) for (a, b) in capped if a >= 10_000}
    assert hot_unc == {(a, b) for a in range(10_000, 10_060)
                       for b in range(10_000, 10_060) if a < b}
    assert hot_cap and hot_cap < hot_unc
    assert capped <= uncapped
    # (c) deterministic
    assert capped == pairs(8)


def test_ann_ndcg_bounded_and_consistent_with_recall(spark):
    """NDCG@5 lies in [0,1]; a query with recall 1.0 and identical
    ordering scores exactly 1.0; IDCG is the same positive constant
    for every full-ground-truth query."""
    from data_seedling_spark.queries import registry

    rows = registry()["ann_ndcg_eval"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 <= r["ndcg_at_k"] <= 1.0
        assert r["idcg"] > 0
    assert any(r["ndcg_at_k"] < 1.0 for r in rows) or all(
        r["ndcg_at_k"] == 1.0 for r in rows
    )


def test_mmr_rerank_prefers_diversity_over_redundancy(spark):
    """With two near-identical top candidates and one diverse
    lower-scored one, λ=0.5 MMR picks the diverse candidate second —
    plain top-k would keep both near-duplicates."""
    from data_seedling_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0]),        # query
        (1, [0.9, 0.44]),       # best match
        (2, [0.9, 0.45]),       # near-duplicate of 1 (sim≈1 to it)
        (3, [0.9, -0.44]),      # equally relevant, dissimilar to 1
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sorted(
        (r["pick_rank"], r["cand_id"])
        for r in mmr_rerank(
            df, query_ids=[0], k_candidates=3, k_select=3, lam=0.5
        ).collect()
    )
    assert [c for _, c in out] == [1, 3, 2]


def test_hierarchical_ivf_assignment_agreement(spark):
    """Two-level coarse quantization must reproduce the flat argmin on
    separable data: 30 well-separated gaussian blobs, 3000 vectors,
    stride-60 centroids -> agreement >= 0.9 at the default
    nprobe_coarse=4 and exact flat equality at nprobe >= n_supers.
    (On corpora with many near-tied centroids the two argmins pick
    different members of the tie photo-finish - see SCALE.md.)"""
    import random

    from data_seedling_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_hierarchical,
    )

    rng = random.Random(11)
    centers = [[rng.gauss(0, 5) for _ in range(12)] for _ in range(30)]
    rows = []
    for i in range(3000):
        c = centers[i % 30]
        rows.append((i, [x + rng.gauss(0, 0.2) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.where((F.col("vec_id") % 60) == 0).select(
        (F.col("vec_id") / 60).cast("long").alias("centroid_id"),
        F.col("embedding"),
    )
    # pin the fold so full-probe equality below is bit-exact (the
    # hierarchical path is fold-only; the Arrow default could differ
    # by an ulp on a tie)
    flat = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(df, cents, arrow=False).collect()
    }
    hier = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign_hierarchical(df, cents).collect()
    }
    assert len(hier) == len(flat)
    agree = sum(1 for k in flat if flat[k] == hier[k]) / len(flat)
    assert agree >= 0.90, agree
    # probing every super-cell degenerates to the exact flat argmin
    exact = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign_hierarchical(df, cents, nprobe_coarse=64).collect()
    }
    assert exact == flat


def test_arrow_assignment_matches_fold_assignment(spark):
    """The Arrow-matmul assignment twin must agree with the
    fold-based flat argmin on virtually every vector (identical
    round-6 grid and tie rule; disagreement requires an ulp-level
    summation-order flip landing exactly on a 1e-6 boundary)."""
    from data_seedling_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_arrow,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = df.where((F.col("vec_id") % 50) == 0).select(
        (F.col("vec_id") / 50).cast("long").alias("centroid_id"),
        F.col("embedding"),
    )
    fold = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(df, cents, arrow=False).collect()
    }
    arrow = {
        r["vec_id"]: r["centroid_id"] for r in ivf_assign_arrow(df, cents).collect()
    }
    assert len(arrow) == len(fold)
    agree = sum(1 for k in fold if fold[k] == arrow[k]) / len(fold)
    assert agree >= 0.999, agree


def test_arrow_env_flag_routes_ivf_assign(spark, monkeypatch):
    """The Arrow/BLAS matmul assigner is the LIBRARY DEFAULT (r9): a
    bare `ivf_assign` call with no env flags set must produce an
    ArrowEvalPython plan. DS_SPARK_IVF_ARROW=0 forces the interpreted
    fold (broadcast join + min_by); an explicit ``arrow`` arg
    overrides the environment in both directions. The hash-exact
    oracle queries pin arrow=False via `oracle_arrow` (tested
    separately)."""
    from data_seedling_spark.operators.similarity import (
        arrow_assign_enabled,
        ivf_assign,
        oracle_arrow,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = df.where((F.col("vec_id") % 50) == 0).select(
        (F.col("vec_id") / 50).cast("long").alias("centroid_id"),
        F.col("embedding"),
    )
    monkeypatch.delenv("DS_SPARK_IVF_ARROW", raising=False)
    monkeypatch.delenv("DS_SPARK_BENCH_ARROW", raising=False)
    # the scale-safe kernel is what a bare library call gets
    assert arrow_assign_enabled() is True
    arrow_df = ivf_assign(df, cents)
    arrow_plan = arrow_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in arrow_plan
    assert set(arrow_df.columns) == {"vec_id", "centroid_id"}
    # ...while the oracle queries keep hash-checking the exact fold
    assert oracle_arrow() is False

    monkeypatch.setenv("DS_SPARK_IVF_ARROW", "0")
    assert arrow_assign_enabled() is False
    fold_plan = ivf_assign(df, cents)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in fold_plan
    # explicit arg overrides the env flag in both directions
    assert "ArrowEvalPython" in ivf_assign(
        df, cents, arrow=True
    )._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setenv("DS_SPARK_IVF_ARROW", "1")
    assert "ArrowEvalPython" not in ivf_assign(
        df, cents, arrow=False
    )._jdf.queryExecution().executedPlan().toString()
    # bench's knob releases the oracle pin back to the library default
    monkeypatch.setenv("DS_SPARK_BENCH_ARROW", "1")
    assert oracle_arrow() is None


def test_arrow_pair_scoring_matches_fold_pairs(spark):
    """The Arrow gram-matmul in-cell pair scorer must agree with the
    fold-based within-block join on virtually every pair (same
    round-6 grid and id<id order; disagreement needs an ulp flip
    exactly at the threshold/rounding boundary), and the env flag
    must route embedding_near_dup_pairs through it."""
    from data_seedling_spark.operators.similarity import (
        embedding_near_dup_pairs,
        near_dup_pairs_arrow,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding", (F.col("vec_id") % 7).alias("blk")
    )
    fold = {
        (r["vec_a"], r["vec_b"]): r["score"]
        for r in embedding_near_dup_pairs(
            df, block_col="blk", threshold=0.3, arrow=False
        ).collect()
    }
    arrow = {
        (r["vec_a"], r["vec_b"]): r["score"]
        for r in near_dup_pairs_arrow(
            df, block_col="blk", threshold=0.3
        ).collect()
    }
    assert fold, "test premise: some pairs over threshold"
    common = set(fold) & set(arrow)
    agree = len(common) / max(len(fold), len(arrow))
    assert agree >= 0.999, (len(fold), len(arrow))
    for k in common:
        assert abs(fold[k] - arrow[k]) <= 1e-6


def test_arrow_env_flag_routes_pair_scoring(spark, monkeypatch):
    from data_seedling_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding", (F.col("vec_id") % 7).alias("blk")
    )
    monkeypatch.delenv("DS_SPARK_IVF_ARROW", raising=False)
    plan = (
        embedding_near_dup_pairs(df, block_col="blk", threshold=0.3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in plan  # library default = Arrow
    monkeypatch.setenv("DS_SPARK_IVF_ARROW", "0")
    plan = (
        embedding_near_dup_pairs(df, block_col="blk", threshold=0.3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" not in plan
    # explicit pin beats the env in both directions
    monkeypatch.setenv("DS_SPARK_IVF_ARROW", "1")
    plan = (
        embedding_near_dup_pairs(df, block_col="blk", threshold=0.3, arrow=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" not in plan


def test_arrow_lloyd_assignment_matches_literal_argmin(spark, monkeypatch):
    """kmeans/PQ Lloyd assignment under DS_SPARK_IVF_ARROW=1 (bench's
    throughput configuration) must (a) route through the Arrow matmul
    assigner — ArrowEvalPython in the plan instead of the k×dim
    literal argmin expression — and (b) agree with the literal fold
    path on virtually every vector (identical round-6 grid and
    smallest-id tie rule; disagreement needs an ulp-level
    summation-order flip exactly on a 1e-6 boundary)."""
    from data_seedling_spark.operators.similarity import kmeans_lloyd

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    monkeypatch.setenv("DS_SPARK_IVF_ARROW", "0")
    fold_df = kmeans_lloyd(df, init_stride=50, iters=1)
    assert (
        "ArrowEvalPython"
        not in fold_df._jdf.queryExecution().executedPlan().toString()
    )
    fold = {r["vec_id"]: r["centroid_id"] for r in fold_df.collect()}

    monkeypatch.setenv("DS_SPARK_IVF_ARROW", "1")
    arrow_df = kmeans_lloyd(df, init_stride=50, iters=1)
    assert (
        "ArrowEvalPython"
        in arrow_df._jdf.queryExecution().executedPlan().toString()
    )
    arrow = {r["vec_id"]: r["centroid_id"] for r in arrow_df.collect()}

    assert len(arrow) == len(fold)
    agree = sum(1 for k in fold if fold[k] == arrow[k]) / len(fold)
    assert agree >= 0.999, agree


def test_arrow_grouped_assignment_matches_case_argmin(spark, monkeypatch):
    """PQ codebook training's per-subspace assignment under
    DS_SPARK_IVF_ARROW=1 must agree with the CASE'd literal argmin on
    virtually every (id, subspace) row (same grid and tie rule; the
    trained codebooks must therefore match to the 1e-6 update grid)."""
    from data_seedling_spark.operators.similarity import (
        pq_codebooks_trained,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    monkeypatch.setenv("DS_SPARK_IVF_ARROW", "0")
    fold = {
        (r["subspace"], r["code_id"]): tuple(r["subvec"])
        for r in pq_codebooks_trained(df, init_stride=50, iters=1).collect()
    }
    monkeypatch.setenv("DS_SPARK_IVF_ARROW", "1")
    # (no plan assertion: the codebook frame materialises driver-side
    # as an ExistingRDD scan; routing is covered by the Lloyd test)
    arrow = {
        (r["subspace"], r["code_id"]): tuple(r["subvec"])
        for r in pq_codebooks_trained(df, init_stride=50, iters=1).collect()
    }
    assert set(arrow) == set(fold)
    agree = sum(
        1
        for k in fold
        if all(abs(a - b) <= 1e-6 for a, b in zip(fold[k], arrow[k]))
    ) / len(fold)
    assert agree >= 0.999, agree


def test_avi_mjpeg_container_roundtrip_and_stride_sampling(spark):
    """MJPEG AVI: container walk recovers every frame bit-exact
    (constant-block frames are DC-only through the JPEG path), stride
    sampling decodes only every k-th frame, and corrupt payloads
    isolate as NULL rows."""
    import numpy as np
    from pyspark.sql import Row

    from data_seedling_spark.operators.multimodal import (
        decode_avi_frames,
        decode_jpeg_pixels,
        encode_avi_mjpeg,
        sample_video_frames,
    )

    frames = []
    for t in range(5):
        blocks = (np.arange(6).reshape(2, 3) * 17 + 41 * t) % 256
        frames.append(
            np.kron(blocks, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
        )
    avi = encode_avi_mjpeg(frames)
    w, h, declared, payloads = decode_avi_frames(avi)
    assert (w, h, declared, len(payloads)) == (24, 16, 5, 5)
    for t, p in enumerate(payloads):
        assert (decode_jpeg_pixels(p) == frames[t]).all(), t

    df = spark.createDataFrame(
        [
            Row(asset_id=1, payload=bytearray(avi)),
            Row(asset_id=2, payload=bytearray(b"RIFFjunk not avi")),
        ]
    )
    rows = {
        r["asset_id"]: r["frames"]
        for r in sample_video_frames(df, every=2).collect()
    }
    assert [f["frame_idx"] for f in rows[1]] == [0, 2, 4]
    assert rows[1][1]["mean_r"] == float(
        np.stack([frames[2]] * 3, axis=2)[..., 0].mean()
    )
    assert rows[2] is None


def test_mp3_vbr_walk_id3_skip_and_error_isolation(spark):
    """mp3 metadata: a VBR stream must be walked header by header
    (per-frame sizes), ID3v2 tags skip cleanly, desynced bytes raise,
    and the mapInPandas operator isolates bad rows as ok=False."""
    import pytest
    from pyspark.sql import Row

    from data_seedling_spark.operators.multimodal import (
        encode_mp3_frames,
        mp3_metadata,
        parse_mp3_metadata,
    )

    rates = [112, 320, 128, 192, 160]
    m = parse_mp3_metadata(encode_mp3_frames(rates, id3_payload=b"x" * 200))
    assert m["n_frames"] == 5
    assert m["avg_bitrate_kbps"] == sum(rates) / 5
    assert m["duration_ms"] == 5 * 1152 * 1000 // 44100

    with pytest.raises(ValueError, match="desync"):
        parse_mp3_metadata(
            encode_mp3_frames([128, 128]) + b"\x00garbage"
        )

    df = spark.createDataFrame(
        [
            Row(asset_id=1, payload=bytearray(encode_mp3_frames([160] * 3))),
            Row(asset_id=2, payload=bytearray(b"\xff\xfbnot a frame")),
        ]
    )
    rows = {r["asset_id"]: r["meta"] for r in mp3_metadata(df).collect()}
    assert rows[1]["ok"] and rows[1]["n_frames"] == 3
    assert not rows[2]["ok"]


def test_gopher_repetition_gates_hand_cases(spark):
    """A degenerate loop document must trip every Gopher gate (top
    n-gram fractions near 1, duplicate long-gram fractions high,
    keep=False); a diverse document with no repeated n-grams must
    pass with zero duplicate fractions."""
    from pyspark.sql import Row

    from data_seedling_spark.operators.textstats import (
        gopher_repetition_gates,
    )

    loop = " ".join(["spam ham"] * 20)          # "spam ham spam ham ..."
    diverse = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=loop), Row(doc_id=2, text=diverse)]
    )
    out = {
        r["doc_id"]: r
        for r in gopher_repetition_gates(df, "text", "doc_id").collect()
    }
    assert not out[1]["keep"]
    # "spam ham" occurs 20 times x 8 chars / 179 chars = 0.8938
    assert out[1]["top_2gram_char_frac"] == 0.893855
    assert out[1]["dup_10gram_char_frac"] > 0.9
    assert out[2]["keep"]
    assert out[2]["dup_5gram_char_frac"] == 0.0
    assert out[2]["dup_10gram_char_frac"] == 0.0
    # every 2-gram unique → top fraction is one occurrence's share
    assert out[2]["top_2gram_char_frac"] < 0.05


def test_strip_html_entity_order_and_boilerplate(spark):
    """&amp;lt; must NOT double-unescape (amp is replaced last); nav,
    script, style, footer, aside content vanishes wholesale; tags
    strip; whitespace collapses."""
    from pyspark.sql import functions as F

    from data_seedling_spark.operators.textstats import strip_html

    page = (
        "<html><style>p{x}</style><nav>Home <b>|</b> About</nav>"
        "<p>A &amp;lt; B &lt; C &amp; D</p>"
        "<script>var x = '<p>not text</p>';</script>"
        "<div>  keep   <em>this</em> </div>"
        "<footer>drop</footer></html>"
    )
    df = spark.range(1).select(strip_html(F.lit(page)).alias("s"))
    row = df.select("s.clean", "s.kept_ratio").collect()[0]
    assert row[0] == "A &lt; B < C & D keep this"
    assert 0.0 < row[1] < 1.0


def test_compression_quality_orders_repetition(spark):
    """Repeated text must compress strictly better (lower ratio) than
    high-entropy text; empty text is safe (ratio uses max(raw,1))."""
    from pyspark.sql import functions as F  # noqa: F401

    from data_seedling_spark.operators.textstats import compression_quality

    import random

    rng = random.Random(7)
    noisy = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(60)
    )
    rows = [
        (1, "spam ham " * 200),
        (2, noisy),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in compression_quality(df, "text", "doc_id").collect()}
    assert got[1].ratio < 0.1 < got[2].ratio
    assert got[2].ratio < 1.2
    assert got[3].compressed_len > 0 and got[3].raw_len == 0
    assert got[1].raw_len == len("spam ham " * 200)


def test_image_hash_bits_hand_case_and_invariants():
    """image_hash_bits on hand-constructed images: a half-dark/
    half-bright 8x8 gives the predictable aHash/dHash split; scaling
    every channel equally never changes a bit (cross-multiplied
    comparisons are scale-invariant); a single strong pixel edit
    moves few bits."""
    import numpy as np

    from data_seedling_spark.operators.multimodal import image_hash_bits

    # left half 10, right half 200: aHash = right-half bits set;
    # dHash = only the middle column transition (bc=3 vs bc=4... on
    # the 8x9 grid the bright step lands once per row).
    g = np.full((8, 8), 10, np.uint8)
    g[:, 4:] = 200
    img = np.stack([g, g, g], axis=2)
    ahi, alo, dhi, dlo = image_hash_bits(img)
    # each row contributes bits 4..7 set -> per-row nibble 0b00001111
    assert ahi == int("0f0f0f0f", 16) and alo == int("0f0f0f0f", 16)
    # dHash: left<right at exactly one adjacent-block seam per row and
    # never right<left, so each row has at most 0 bits (strict >
    # compares LEFT > RIGHT)
    assert dhi == 0 and dlo == 0

    # flipped image: bright on the left -> dHash now fires per row
    g2 = np.full((8, 8), 200, np.uint8)
    g2[:, 4:] = 10
    img2 = np.stack([g2, g2, g2], axis=2)
    _, _, dhi2, dlo2 = image_hash_bits(img2)
    assert dhi2 != 0 or dlo2 != 0

    # channel permutation leaves the gray mass, hence every bit, alone
    perm = img[:, :, [2, 0, 1]]
    assert image_hash_bits(perm) == (ahi, alo, dhi, dlo)

    # a single extreme pixel flips only a few bits
    img3 = img.copy()
    img3[0, 0] = 255
    a3hi, a3lo, _, _ = image_hash_bits(img3)
    flipped = bin((a3hi ^ ahi) & 0xFFFFFFFF).count("1") + bin(
        (a3lo ^ alo) & 0xFFFFFFFF
    ).count("1")
    assert flipped <= 6

    # undersized images are rejected (no silent 0-bit hashes)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        image_hash_bits(np.zeros((4, 8, 3), np.uint8))


def test_image_neardup_within_class_closer_than_across(spark):
    """The banded near-dup query's premise: variants of one image
    class sit within small Hamming distance while distinct classes
    essentially never collide under a <=6 cutoff."""
    from data_seedling_spark.queries_llm import _synth_image_hash_frame

    rows = _synth_image_hash_frame(spark, SF_SMOKE, 120).collect()
    by_id = {r["doc_id"]: r for r in rows}

    def ham(x, y):
        return bin(
            (x["ahash_hi"] ^ y["ahash_hi"]) & 0xFFFFFFFF
        ).count("1") + bin((x["ahash_lo"] ^ y["ahash_lo"]) & 0xFFFFFFFF).count(
            "1"
        )

    # same class (doc_id % 40), different variant
    within = [
        ham(by_id[i], by_id[i + 40]) for i in range(40) if i + 40 in by_id
    ]
    across = [ham(by_id[i], by_id[i + 1]) for i in range(39)]
    assert within and sum(within) / len(within) <= 12
    assert sum(across) / len(across) > sum(within) / len(within)


def test_isotonic_minimax_fit_properties(spark):
    """The minimax isotonic fit must be (a) nondecreasing in the bin
    order, (b) equal to the raw rate wherever no pooling happened,
    and (c) conserve the weighted positive mass overall (a defining
    property of PAV: pooled blocks average their members)."""
    from data_seedling_spark.queries_llm import isotonic_calibration_orders

    rows = isotonic_calibration_orders(spark, SF_SMOKE).collect()
    iso = [r["iso_rate"] for r in rows]
    assert iso == sorted(iso), "isotonic fit must be nondecreasing"
    for r in rows:
        assert 0.0 <= r["iso_rate"] <= 1.0
        if not r["pooled"]:
            assert r["iso_rate"] == r["raw_rate"]
    total = sum(r["n"] for r in rows)
    raw_mass = sum(r["raw_rate"] * r["n"] for r in rows)
    iso_mass = sum(r["iso_rate"] * r["n"] for r in rows)
    assert abs(raw_mass - iso_mass) / total < 1e-4


def test_t_closeness_bounds_and_degenerate_uniform(spark):
    """t-EMD lives in [0, 1]; a cohort whose sensitive distribution
    IS the global one scores ~0 (sanity of the cross-multiplied
    cumulative formulation)."""
    from data_seedling_spark.queries_pipeline import t_closeness_audit

    rows = t_closeness_audit(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["t_emd"] <= 1.0
        assert r["above_t"] == (r["t_emd"] > 0.15)


def test_audio_fingerprint_full_recall_same_song(spark):
    """Landmark matching must find EVERY same-song pair (the melody
    simulation fixed the >=4-of-5 threshold at recall 1.0): at the
    smoke SF all capped docs pair within their song class."""
    from collections import Counter

    from data_seedling_spark.queries_llm import audio_fingerprint_match

    rows = audio_fingerprint_match(spark, SF_SMOKE).collect()
    same = [r for r in rows if r["same_song"]]
    docs = [
        r["doc_id"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id")
        .where("doc_id < 600")
        .collect()
    ]
    per_song = Counter(d % 30 for d in docs)
    expected = sum(n * (n - 1) // 2 for n in per_song.values())
    assert len(same) == expected
    assert all(r["n_shared"] >= 4 for r in rows)


def test_cv_folds_partition_and_auc_sane(spark):
    """Each rotation's eval fold is disjoint: per-fold (np+nn) must
    equal that fold's row count, and every AUC must beat coin-flip
    minus noise on the planted label structure."""
    from data_seedling_spark.queries_llm import logreg_cv_kfold
    from tests.conftest import SF_SMOKE

    rows = {r["fold"]: r for r in logreg_cv_kfold(spark, SF_SMOKE).collect()}
    assert sorted(rows) == [0, 1, 2]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    import pyspark.sql.functions as F

    per_fold = {
        r["fold"]: r["n"]
        for r in emb.groupBy((F.col("vec_id") % 5).alias("fold"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for f, r in rows.items():
        assert r["n_positive"] + r["n_negative"] == per_fold[f]
        assert 0.0 <= r["auc"] <= 1.0


def test_permutation_importance_base_dominates(spark, tmp_path):
    """Planted fixture: feature 0 fully determines the label (others
    are hash noise), so base AUC ~= 1 and permuting x1 must produce by
    far the largest drop; the drop column must equal base - permuted."""
    import hashlib

    import pandas as pd

    from data_seedling_spark.queries_llm import permutation_importance_logreg

    def coin(s, m=1000):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m / m

    rows_ = []
    for i in range(400):
        y = 3 if i % 2 == 0 else 1
        emb = [
            2.0 if y == 3 else -2.0,
            coin(f"a{i}") - 0.5,
            coin(f"b{i}") - 0.5,
            coin(f"c{i}") - 0.5,
        ]
        rows_.append((i, emb, y))
    pd.DataFrame(rows_, columns=["vec_id", "embedding", "label"]).to_parquet(
        str(tmp_path / "embeddings.parquet")
    )
    rows = permutation_importance_logreg(spark, str(tmp_path)).collect()
    assert [r["feature"] for r in rows] == ["x1", "x2", "x3", "x4"]
    base = rows[0]["base_auc"]
    assert base > 0.95
    for r in rows:
        assert r["base_auc"] == base
        assert 0.0 <= r["permuted_auc"] <= 1.0
        assert abs(r["auc_drop"] - round(base - r["permuted_auc"], 6)) < 2e-6
    drops = {r["feature"]: r["auc_drop"] for r in rows}
    assert drops["x1"] > 0.2
    assert drops["x1"] > max(v for k, v in drops.items() if k != "x1")


def test_binary_hamming_identical_and_opposite_vectors(spark, tmp_path):
    """Planted geometry: a copy of the probe must rank first at
    Hamming 0; its sign-flip must land at distance 64; an orthogonal-
    ish half-flip at 32."""
    import pandas as pd

    from data_seedling_spark.queries_llm import binary_quantize_hamming_topk

    base = [1.0 if i % 3 else -1.0 for i in range(64)]
    rows = [
        (0, base, 0),                                  # probe (smallest id)
        (1, base, 0),                                  # exact copy → ham 0
        (2, [-x for x in base], 0),                    # flip → ham 64
        (3, [x if i < 32 else -x for i, x in enumerate(base)], 0),  # 32
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = binary_quantize_hamming_topk(spark, str(tmp_path)).collect()
    got = {r["neighbor_id"]: r["hamming"] for r in out}
    assert got == {1: 0, 3: 32, 2: 64}
    assert [r["neighbor_id"] for r in out] == [1, 3, 2]


def test_rake_prefers_multiword_domain_terms(spark, tmp_path):
    """Planted corpus: 'gradient descent' appears as a stopword-free
    island; RAKE's degree-sum must score the bigram above any single
    word, and stopwords must never enter a phrase."""
    import pandas as pd

    from data_seedling_spark.queries_llm import rake_keyword_extraction

    texts = [
        "the gradient descent of the loss",
        "gradient descent is used in the training",
        "a training run with gradient descent",
    ]
    pd.DataFrame(
        {
            "doc_id": range(3),
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))
    rows = rake_keyword_extraction(spark, str(tmp_path)).collect()
    by = {r["phrase"]: r for r in rows}
    assert "gradient descent" in by
    assert by["gradient descent"]["support"] == 3
    singles = [r for r in rows if " " not in r["phrase"]]
    assert all(
        by["gradient descent"]["score"] >= s["score"] for s in singles
    )
    assert all(
        w not in ("the", "of", "is", "in", "a", "with")
        for r in rows for w in r["phrase"].split()
    )


def test_prauc_bounds_and_perfect_classifier(spark, tmp_path):
    """AP of a perfectly separable fixture must be 1.0; AP always sits
    in [prevalence-ish, 1]; the real hold-out AP must beat prevalence
    on the planted label structure."""
    import pandas as pd

    from data_seedling_spark.queries_llm import logreg_holdout_prauc
    from tests.conftest import SF_SMOKE

    r = logreg_holdout_prauc(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= r["average_precision"] <= 1.0
    assert r["n_positive"] > 0
    assert r["average_precision"] >= r["baseline_prevalence"] * 0.8

    import hashlib

    def coin(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 1000 / 1000

    rows = []
    for i in range(200):
        y = 3 if i % 4 == 0 else 1
        emb = [
            3.0 if y == 3 else -3.0,
            coin(f"a{i}"), coin(f"b{i}"), coin(f"c{i}"),
        ]
        rows.append((i, emb, y))
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        str(tmp_path / "embeddings.parquet")
    )
    p = logreg_holdout_prauc(spark, str(tmp_path)).collect()[0]
    assert p["average_precision"] == 1.0


def test_nsw_graph_ann_recall_floor_and_determinism(spark):
    """NSW beam search must (a) return exactly k rows per query,
    (b) hit >=0.7 recall@3 against brute force on the uniform smoke
    cloud (no cluster structure — the hard case for graph ANN), and
    (c) be deterministic run-to-run (md5 long links, stride entries,
    (score, id) tie-breaks everywhere)."""
    from data_seedling_spark.operators.similarity import (
        cosine_topk,
        nsw_build,
        nsw_search,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    adj = nsw_build(df, m=12)
    res = nsw_search(adj, df, query_ids=range(20), k=3, beam=16, hops=3)
    rows = res.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert set(per_q) == set(range(20))
    assert all(len(v) == 3 for v in per_q.values())

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(
            df.where(F.col("vec_id") < 20), df, k=3
        ).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.7, recall

    again = {
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in nsw_search(
            adj, df, query_ids=range(20), k=3, beam=16, hops=3
        ).collect()
    }
    assert again == {
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"]) for r in rows
    }


# ---------------------------------------------------------------------------
# MaterializedLshIndex (r13, VERDICT r12 #1): CDC-maintained band-row
# index — maintained ≡ one-shot, exactly-once watermark, delete
# compaction, new-vs-all candidate parity with the capped one-shot join.
# ---------------------------------------------------------------------------


def _neardup_corpus():
    """Three near-dup families plus a hot family, ids spread across
    batches (id % 2) so cross-batch pairs exist."""
    rows = [
        (100 * f + i,
         f"family {f} shares these exact tokens repeated for shingling "
         f"purposes number {f}")
        for f in range(3)
        for i in range(4)
    ]
    rows += [
        (10_000 + i,
         "identical boilerplate text that lands every member in one band "
         "bucket always")
        for i in range(30)
    ]
    rows += [(50_000 + i, f"unique filler document number {i} with its own "
                          f"distinct words {i * 7} and {i * 13}")
             for i in range(6)]
    return rows


def test_lsh_index_maintained_equals_oneshot_and_replay_noop(spark, tmp_path):
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        text_col="text", id_col="doc_id",
    )
    src.write(docs.where(F.col("doc_id") % 2 == 0), mode="overwrite")
    assert idx.refresh(src) == (0, 0)
    src.write(docs.where(F.col("doc_id") % 2 == 1), mode="append")
    assert idx.refresh(src) == (1, 1)
    lo, hi = idx.refresh(src)
    assert lo > hi, "replayed refresh must be a no-op"
    maintained = {
        (r["doc_id"], r["band"], r["bkey"]) for r in idx.read().collect()
    }
    oneshot = {
        (r["doc_id"], r["band"], r["bkey"])
        for r in idx.band_rows(docs).collect()
    }
    assert maintained == oneshot


def test_lsh_index_new_vs_all_matches_capped_oneshot(spark, tmp_path):
    """Candidates for the increment == the one-shot capped bucket join
    restricted to pairs touching the increment (the oracle-equality
    property the maintenance query hash-checks end to end)."""
    from data_seedling_spark.operators.dedup import (
        MaterializedLshIndex,
        band_bucket_candidates,
    )
    from data_seedling_spark.operators.ledger import VersionedTable

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        text_col="text", id_col="doc_id",
    )
    src.write(docs.where(F.col("doc_id") % 2 == 0), mode="overwrite")
    idx.refresh(src)
    src.write(docs.where(F.col("doc_id") % 2 == 1), mode="append")
    idx.refresh(src)
    inc_ids = docs.where(F.col("doc_id") % 2 == 1).select("doc_id")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in idx.new_vs_all_candidates(inc_ids, bucket_cap=8).collect()
    }
    oneshot = {
        (r["doc_a"], r["doc_b"])
        for r in band_bucket_candidates(
            idx.band_rows(docs), "doc_id", bucket_cap=8
        ).collect()
        if r["doc_a"] % 2 == 1 or r["doc_b"] % 2 == 1
    }
    assert got == oneshot and got, "expected nonempty candidate parity"
    # hot family pairs present but capped below the quadratic count
    hot = {(a, b) for (a, b) in got if a >= 10_000 and b < 50_000}
    assert hot and len(hot) < 30 * 29 / 2


def test_lsh_index_delete_compacts_and_excludes(spark, tmp_path):
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        text_col="text", id_col="doc_id",
    )
    src.write(docs, mode="overwrite")
    assert idx.refresh(src) == (0, 0)
    feed = docs.where(F.col("doc_id").between(10_000, 10_014)).withColumn(
        CHANGE_TYPE, F.lit(CT_DELETE)
    )
    src.merge(feed, primary_keys=["doc_id"])
    assert idx.refresh(src) == (1, 1)
    left = {r["doc_id"] for r in idx.read().select("doc_id").distinct().collect()}
    assert not any(10_000 <= d <= 10_014 for d in left)
    assert 10_015 in left and 0 in left
    inc = spark.createDataFrame([(10_020,)], ["doc_id"])
    cands = idx.new_vs_all_candidates(inc, bucket_cap=None).collect()
    ids = {r["doc_a"] for r in cands} | {r["doc_b"] for r in cands}
    assert cands and not any(10_000 <= d <= 10_014 for d in ids)


def test_lsh_index_fold_batch_idempotent_and_oneshot_equal(spark, tmp_path):
    """The foreachBatch guard: replaying a batch id is a no-op; folding
    disjoint batches in any split yields the one-shot banding (the
    batch-order-independence the streaming query's oracle relies on)."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        text_col="text", id_col="doc_id",
    )
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    assert idx.fold_batch(b0, 0) is True
    n_after_b0 = idx.read().count()
    assert idx.fold_batch(b0, 0) is False           # replayed batch: no-op
    assert idx.read().count() == n_after_b0
    assert idx.fold_batch(b1, 1) is True
    assert idx.fold_batch(b1, 1) is False
    maintained = {
        (r["doc_id"], r["band"], r["bkey"]) for r in idx.read().collect()
    }
    oneshot = {
        (r["doc_id"], r["band"], r["bkey"])
        for r in idx.band_rows(docs).collect()
    }
    assert maintained == oneshot


def test_lsh_index_multi_commit_net_effect(spark, tmp_path):
    """One refresh spanning several commits applies each id's NET
    effect: a doc inserted in v1 and deleted in v2 must NOT be
    resurrected; a doc point-updated in v3 is re-banded with its NEW
    text (update_pre rows drop, update_post rows band)."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven"),
         (3, "red orange yellow green blue indigo violet")],
        ["doc_id", "text"],
    )
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=1),
        text_col="text", id_col="doc_id",
    )
    src.write(docs, mode="overwrite")                                 # v0
    ephemeral = spark.createDataFrame(
        [(9, "short lived document that gets deleted in flight here")],
        ["doc_id", "text"],
    )
    src.write(ephemeral, mode="append")                               # v1
    src.merge(ephemeral.withColumn(CHANGE_TYPE, F.lit(CT_DELETE)),
              primary_keys=["doc_id"])                                # v2
    src.update(F.col("doc_id") == 3,
               {"text": F.lit("brand new replacement text tokens entirely")})  # v3
    lo, hi = idx.refresh(src)                                         # fold v0..v3 at once
    assert (lo, hi) == (0, 3)
    final = src.read()
    oneshot = {
        (r["doc_id"], r["band"], r["bkey"])
        for r in idx.band_rows(final).collect()
    }
    maintained = {
        (r["doc_id"], r["band"], r["bkey"]) for r in idx.read().collect()
    }
    assert maintained == oneshot
    ids = {d for d, _, _ in maintained}
    assert 9 not in ids and {1, 2, 3} <= ids
    # replay no-op
    lo, hi = idx.refresh(src)
    assert lo > hi


def test_ivf_index_maintained_equals_oneshot_and_new_vs_all(spark, tmp_path):
    """The embedding-side mapped index: maintained assignments equal
    the one-shot assignment after incremental folds; replay no-ops;
    new-vs-all pairs equal the one-shot cell join restricted to pairs
    touching the increment."""
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.similarity import MaterializedIvfIndex

    import random
    rng = random.Random(7)
    rows = []
    for i in range(120):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, [round(x, 3) for x in base]))
        # a near-duplicate of every 10th vector, landing in a later batch
        if i % 10 == 0:
            rows.append((1000 + i, [round(x + 0.001, 3) for x in base]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    centroids = vecs.where(F.col("vec_id") % 15 == 0).select(
        (F.col("vec_id") / 15).cast("long").alias("centroid_id"),
        F.col("embedding"),
    )
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = MaterializedIvfIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        centroids=centroids, id_col="vec_id", vec_col="embedding",
        arrow=False,
    )
    src.write(vecs.where(F.col("vec_id") % 2 == 0), mode="overwrite")
    assert idx.refresh(src) == (0, 0)
    src.write(vecs.where(F.col("vec_id") % 2 == 1), mode="append")
    assert idx.refresh(src) == (1, 1)
    lo, hi = idx.refresh(src)
    assert lo > hi
    maintained = {
        (r["vec_id"], r["centroid_id"]) for r in idx.read().collect()
    }
    oneshot = {
        (r["vec_id"], r["centroid_id"])
        for r in idx.assign_rows(vecs).collect()
    }
    assert maintained == oneshot
    inc_ids = vecs.where(F.col("vec_id") % 2 == 1).select("vec_id")
    got = {
        (r["vec_a"], r["vec_b"], r["score"])
        for r in idx.new_vs_all_pairs(vecs, inc_ids, threshold=0.9).collect()
    }
    # one-shot restriction: same-cell pairs touching the increment
    from data_seedling_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    assigned = idx.assign_rows(vecs)
    blocked = vecs.join(assigned, "vec_id")
    oneshot_pairs = {
        (r["vec_a"], r["vec_b"], r["score"])
        for r in embedding_near_dup_pairs(
            blocked, id_col="vec_id", vec_col="embedding",
            block_col="centroid_id", threshold=0.9, arrow=False,
        ).collect()
        if r["vec_a"] % 2 == 1 or r["vec_b"] % 2 == 1
    }
    assert got == oneshot_pairs and got, "expected nonempty pair parity"


# ---------------------------------------------------------------------------
# Tombstone delete path + watermark marker (r14, VERDICT r13 #3 / ADVICE r13):
# O(changes) delete folding with read-time last-writer-wins resolution,
# threshold compaction, and the applied_hi == returned-hi contract.
# ---------------------------------------------------------------------------


def test_lsh_index_tombstone_maintained_equals_oneshot(spark, tmp_path):
    """Tombstone mode: inserts + a delete batch + a point update fold
    O(changes); the RESOLVED read equals the one-shot banding of the
    live corpus — the same hash-proof as rewrite mode, now without the
    O(index) rewrite (the index ledger gains only appends)."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        text_col="text", id_col="doc_id", deletes="tombstone",
    )
    src.write(docs.where(F.col("doc_id") % 2 == 0), mode="overwrite")  # v0
    assert idx.refresh(src) == (0, 0)
    src.write(docs.where(F.col("doc_id") % 2 == 1), mode="append")     # v1
    assert idx.refresh(src) == (1, 1)
    feed = docs.where(F.col("doc_id").between(10_000, 10_014)).withColumn(
        CHANGE_TYPE, F.lit(CT_DELETE)
    )
    src.merge(feed, primary_keys=["doc_id"])                           # v2
    assert idx.refresh(src) == (2, 2)
    src.update(F.col("doc_id") == 0,
               {"text": F.lit("completely rewritten text with fresh tokens")})  # v3
    assert idx.refresh(src) == (3, 3)
    lo, hi = idx.refresh(src)
    assert lo > hi, "replayed refresh must be a no-op"
    # every index commit after the build is an append (O(changes)):
    # the delete batch never rewrote the index body
    maintained = {
        (r["doc_id"], r["band"], r["bkey"]) for r in idx.read().collect()
    }
    oneshot = {
        (r["doc_id"], r["band"], r["bkey"])
        for r in idx.band_rows(src.read()).collect()
    }
    assert maintained == oneshot and maintained
    ids = {d for d, _, _ in maintained}
    assert not any(10_000 <= d <= 10_014 for d in ids)
    assert 10_015 in ids and 0 in ids


def test_lsh_index_tombstone_delete_then_reinsert(spark, tmp_path):
    """A doc deleted in one commit and re-inserted in a later one must
    resurface with its NEW banding: the re-insert's higher _source_hi
    outranks the tombstone at resolution."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        ["doc_id", "text"],
    )
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=1),
        text_col="text", id_col="doc_id", deletes="tombstone",
    )
    src.write(docs, mode="overwrite")                                  # v0
    assert idx.refresh(src) == (0, 0)
    src.merge(docs.where(F.col("doc_id") == 1).withColumn(
        CHANGE_TYPE, F.lit(CT_DELETE)), primary_keys=["doc_id"])       # v1
    assert idx.refresh(src) == (1, 1)
    assert {r["doc_id"] for r in idx.read().collect()} == {2}
    reborn = spark.createDataFrame(
        [(1, "resurrected with a different body of words now")],
        ["doc_id", "text"],
    )
    src.write(reborn, mode="append")                                   # v2
    assert idx.refresh(src) == (2, 2)
    maintained = {
        (r["doc_id"], r["band"], r["bkey"]) for r in idx.read().collect()
    }
    oneshot = {
        (r["doc_id"], r["band"], r["bkey"])
        for r in idx.band_rows(src.read()).collect()
    }
    assert maintained == oneshot and {d for d, _, _ in maintained} == {1, 2}


def test_mapped_index_compaction_preserves_content_and_watermark(spark, tmp_path):
    """compact_mapped_index rewrites a tombstone-mode index to its
    resolved form: identical consumer read before/after, watermark
    preserved, raw row count shrunk; the min_stale_fraction knob skips
    a fresh index."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.matview import (
        compact_mapped_index,
        stored_watermark,
    )
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        text_col="text", id_col="doc_id", deletes="tombstone",
    )
    src.write(docs, mode="overwrite")                                  # v0
    assert idx.refresh(src) == (0, 0)
    feed = docs.where(F.col("doc_id") >= 10_000).withColumn(
        CHANGE_TYPE, F.lit(CT_DELETE)
    )
    src.merge(feed, primary_keys=["doc_id"])                           # v1
    assert idx.refresh(src) == (1, 1)
    before = {(r["doc_id"], r["band"], r["bkey"]) for r in idx.read().collect()}
    raw_before = idx.table.read().count()
    assert compact_mapped_index(idx.table, "doc_id", min_stale_fraction=0.05)
    after = {(r["doc_id"], r["band"], r["bkey"]) for r in idx.read().collect()}
    assert after == before
    assert stored_watermark(idx.table) == 1
    assert idx.table.read().count() < raw_before
    # already compact: below the stale threshold, no rewrite
    assert not compact_mapped_index(idx.table, "doc_id", min_stale_fraction=0.05)
    # a post-compaction refresh still folds (schema stays tombstone-shaped)
    more = spark.createDataFrame(
        [(77_000, "a brand new post compaction document body")],
        ["doc_id", "text"],
    )
    src.write(more, mode="append")                                     # v2
    assert idx.refresh(src) == (2, 2)
    assert 77_000 in {r["doc_id"] for r in idx.read().collect()}


def test_mapped_index_compaction_tag_skips_resolution_window(spark, tmp_path):
    """r15: while the table's latest version IS the compacted rewrite
    (COMPACTED_TAG proof), read_mapped_index provably needs no
    last-writer-wins window — the plan must contain none — and any
    later commit brings the window back. Rows are identical on both
    paths (covered by the sibling test above)."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.matview import compact_mapped_index
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = MaterializedLshIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        text_col="text", id_col="doc_id", deletes="tombstone",
    )
    src.write(docs, mode="overwrite")                                  # v0
    assert idx.refresh(src) == (0, 0)
    feed = docs.where(F.col("doc_id") >= 10_000).withColumn(
        CHANGE_TYPE, F.lit(CT_DELETE)
    )
    src.merge(feed, primary_keys=["doc_id"])                           # v1
    assert idx.refresh(src) == (1, 1)

    def n_windows():
        return idx.read()._jdf.queryExecution().executedPlan().toString().count(
            "Window"
        )

    assert n_windows() > 0  # tombstone mode pays the window pre-compaction
    assert compact_mapped_index(idx.table, "doc_id", min_stale_fraction=0.05)
    assert n_windows() == 0  # tag proof: single generation, no window
    more = spark.createDataFrame(
        [(88_000, "another fresh document body after the compaction")],
        ["doc_id", "text"],
    )
    src.write(more, mode="append")                                     # v3
    assert idx.refresh(src)[1] >= 2
    assert n_windows() > 0  # tag stale -> resolution window returns
    assert 88_000 in {r["doc_id"] for r in idx.read().collect()}


def test_mapped_index_zero_row_increment_advances_watermark(spark, tmp_path):
    """ADVICE r13: an increment whose docs all band to ZERO index rows
    (empty texts -> no shingles) must still advance the stored
    watermark — applied_hi() equals the hi the refresh returned, in
    both delete modes."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable

    for mode in ("rewrite", "tombstone"):
        src = VersionedTable(
            spark, str(tmp_path / f"src_{mode}"), write_partitions=1
        )
        idx = MaterializedLshIndex(
            spark, VersionedTable(
                spark, str(tmp_path / f"idx_{mode}"), write_partitions=1
            ),
            text_col="text", id_col="doc_id", deletes=mode,
        )
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
        )
        src.write(docs, mode="overwrite")                              # v0
        assert idx.refresh(src) == (0, 0)
        empties = spark.createDataFrame([(2, ""), (3, " ")], ["doc_id", "text"])
        src.write(empties, mode="append")                              # v1
        assert idx.refresh(src) == (1, 1)
        assert idx.applied_hi() == 1, mode
        # the marker is invisible to consumers; the next refresh is a
        # genuine no-op rather than a refold of v1
        assert {r["doc_id"] for r in idx.read().collect()} == {1}
        lo, hi = idx.refresh(src)
        assert lo > hi, mode


def test_lsh_index_tombstone_equals_rewrite(spark, tmp_path):
    """The two delete modes are observationally identical through the
    consumer read — same commits, same resolved rows."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    reads = {}
    for mode in ("rewrite", "tombstone"):
        src = VersionedTable(
            spark, str(tmp_path / f"src_{mode}"), write_partitions=2
        )
        idx = MaterializedLshIndex(
            spark, VersionedTable(
                spark, str(tmp_path / f"idx_{mode}"), write_partitions=2
            ),
            text_col="text", id_col="doc_id", deletes=mode,
        )
        src.write(docs.where(F.col("doc_id") % 2 == 0), mode="overwrite")
        idx.refresh(src)
        src.write(docs.where(F.col("doc_id") % 2 == 1), mode="append")
        idx.refresh(src)
        feed = docs.where(F.col("doc_id").between(10_000, 10_009)).withColumn(
            CHANGE_TYPE, F.lit(CT_DELETE)
        )
        src.merge(feed, primary_keys=["doc_id"])
        idx.refresh(src)
        reads[mode] = {
            (r["doc_id"], r["band"], r["bkey"]) for r in idx.read().collect()
        }
    assert reads["rewrite"] == reads["tombstone"] and reads["rewrite"]


def _oneshot_uncapped_pairs(index, docs):
    """One-shot verified near-dup pair set under the UNCAPPED bucket
    predicate — the truth the per-batch emission protocol must
    accumulate to for any batch split."""
    from data_seedling_spark.operators.dedup import (
        band_bucket_candidates,
        jaccard,
        word_shingles,
    )

    cands = band_bucket_candidates(
        index.band_rows(docs), "doc_id", bucket_cap=None
    )
    sh = docs.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("_sh")
    ).where(F.size("_sh") > 0)
    return {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in (
            cands.join(
                sh.select(F.col("doc_id").alias("doc_a"),
                          F.col("_sh").alias("sh_a")),
                "doc_a",
            )
            .join(
                sh.select(F.col("doc_id").alias("doc_b"),
                          F.col("_sh").alias("sh_b")),
                "doc_b",
            )
            .select(
                "doc_a", "doc_b",
                F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4)
                 .alias("jaccard"),
            )
            .where(F.col("jaccard") >= 0.8)
            .collect()
        )
    }


def test_pair_emission_batch_split_invariance(spark, tmp_path):
    """VERDICT r13 #4: the accumulated per-batch pair table equals the
    one-shot pair set for ANY batch split (two different splits tried),
    each pair appears exactly once, and a replayed batch emits
    nothing."""
    from data_seedling_spark.operators.dedup import MaterializedLshIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.queries_pipeline import _fold_emit_neardup_batch

    docs = spark.createDataFrame(_neardup_corpus(), ["doc_id", "text"])
    splits = {
        "two": [docs.where(F.col("doc_id") % 2 == i) for i in range(2)],
        "three": [docs.where(F.col("doc_id") % 3 == i) for i in range(3)],
    }
    accumulated = {}
    oneshot = None
    for name, batches in splits.items():
        index = MaterializedLshIndex(
            spark,
            VersionedTable(spark, str(tmp_path / f"idx_{name}"),
                           write_partitions=2),
            text_col="text", id_col="doc_id",
        )
        corpus = VersionedTable(spark, str(tmp_path / f"docs_{name}"),
                                write_partitions=2)
        pairs = VersionedTable(spark, str(tmp_path / f"pairs_{name}"),
                               write_partitions=2)
        for bid, batch in enumerate(batches):
            if name == "three" and bid == 2:
                # crash-replay: the index commit landed but corpus and
                # pairs did not — the per-table watermarks must run
                # only the missing commits on replay.
                assert index.fold_batch(batch, bid)
            assert _fold_emit_neardup_batch(index, corpus, pairs, batch, bid)
        # replayed batch: fold guard no-ops, nothing emitted
        n_before = pairs.read().count()
        assert not _fold_emit_neardup_batch(
            index, corpus, pairs, batches[-1], len(batches) - 1
        )
        assert pairs.read().count() == n_before
        rows = pairs.read().collect()
        got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows}
        assert len(rows) == len(got), "a pair was emitted more than once"
        accumulated[name] = got
        if oneshot is None:
            oneshot = _oneshot_uncapped_pairs(index, docs)
    assert accumulated["two"] == accumulated["three"] == oneshot and oneshot


def test_ngram_index_maintained_equals_oneshot(spark, tmp_path):
    """VERDICT r13 #1: the maintained n-gram fingerprint index equals
    the one-shot window mapping of the live corpus across inserts, a
    tombstone-mode delete batch, and a replay no-op; short docs map to
    zero rows without stalling the watermark."""
    from data_seedling_spark.operators.dedup import MaterializedNgramIndex
    from data_seedling_spark.operators.ledger import VersionedTable
    from data_seedling_spark.operators.merge import CHANGE_TYPE, CT_DELETE

    body = ("the quick brown fox jumps over the lazy dog while counting "
            "one two three four five six seven eight nine ten")
    docs = spark.createDataFrame(
        [(i, f"{body} variant {i} " + ("shared suffix tail " * 5))
         for i in range(8)]
        + [(100, "too short for thirteen")],   # < 13 words -> zero rows
        ["doc_id", "text"],
    )
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=2)
    idx = MaterializedNgramIndex(
        spark,
        VersionedTable(spark, str(tmp_path / "idx"), write_partitions=2),
        text_col="text", id_col="doc_id", n=13, deletes="tombstone",
    )
    src.write(docs.where(F.col("doc_id") % 2 == 0), mode="overwrite")  # v0
    assert idx.refresh(src) == (0, 0)
    src.write(docs.where(F.col("doc_id") % 2 == 1), mode="append")     # v1
    assert idx.refresh(src) == (1, 1)
    feed = docs.where(F.col("doc_id") < 2).withColumn(
        CHANGE_TYPE, F.lit(CT_DELETE)
    )
    src.merge(feed, primary_keys=["doc_id"])                           # v2
    assert idx.refresh(src) == (2, 2)
    lo, hi = idx.refresh(src)
    assert lo > hi, "replayed refresh must be a no-op"
    assert idx.applied_hi() == 2
    maintained = {(r["doc_id"], r["key"]) for r in idx.read().collect()}
    oneshot = {
        (r["doc_id"], r["key"])
        for r in idx.window_keys(src.read()).collect()
    }
    assert maintained == oneshot and maintained
    ids = {d for d, _ in maintained}
    assert 0 not in ids and 1 not in ids and 2 in ids and 100 not in ids


def test_exact_substring_incremental_equals_oneshot(spark, tmp_path):
    """Incremental ExactSubstr (trim-batch × original-text seed index)
    equals the one-shot operator for an id-ordered batch split, on a
    corpus with planted CROSS-batch duplicated spans, an intra-batch
    duplicate, and the overlap caveat shape (a keeper that loses
    tokens to a different seed's span — indexing original text is
    what keeps its later duplicates marked)."""
    from data_seedling_spark.operators.dedup import (
        MaterializedNgramIndex,
        exact_substring_dedup,
        exact_substring_trim_batch,
    )
    from data_seedling_spark.operators.ledger import VersionedTable

    span = " ".join(f"dup{i}" for i in range(20))       # 20-token region
    other = " ".join(f"alt{i}" for i in range(18))
    filler = lambda k: " ".join(f"w{k}_{i}" for i in range(25))  # noqa: E731
    rows = [
        # batch 0 (ids 0-9): the keepers
        (0, f"{filler(0)} {span} {filler(1)}"),
        (1, f"{other} {filler(2)}"),
        (2, filler(3)),
        # intra-batch duplicate inside batch 0:
        (3, f"{filler(4)} {other}"),
        # batch 1 (ids 10-19): cross-batch duplicates of batch-0 spans
        (10, f"{filler(5)} {span}"),
        (11, f"{other} {filler(6)}"),
        (12, filler(7)),
        # batch 2 (ids 20-29): duplicates of both batches
        (20, f"{span} {filler(8)}"),
        (21, f"{filler(9)} {other} {span}"),
        (22, filler(10)),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    oneshot = {
        (r["doc_id"], r["clean_text"], r["n_removed_tokens"])
        for r in exact_substring_dedup(docs, "text", "doc_id", 15).collect()
    }
    src = VersionedTable(spark, str(tmp_path / "src"), write_partitions=1)
    idx = MaterializedNgramIndex(
        spark, VersionedTable(spark, str(tmp_path / "idx"), write_partitions=1),
        text_col="text", id_col="doc_id", n=15, normalize=False,
    )
    corpus = VersionedTable(spark, str(tmp_path / "out"), write_partitions=1)
    empty_keys = spark.createDataFrame([], "key string")
    for i, (lo_id, hi_id) in enumerate([(0, 9), (10, 19), (20, 29)]):
        batch = docs.where(F.col("doc_id").between(lo_id, hi_id))
        keys = idx.read().select("key") if i else empty_keys
        trimmed = exact_substring_trim_batch(batch, keys, "text", "doc_id", 15)
        corpus.write(trimmed, mode="append" if i else "overwrite")
        src.write(batch, mode="append" if i else "overwrite")
        assert idx.refresh(src) == (i, i)
    got = {
        (r["doc_id"], r["clean_text"], r["n_removed_tokens"])
        for r in corpus.read().collect()
    }
    assert got == oneshot
    removed = {d: n for d, _, n in got if n > 0}
    assert set(removed) >= {3, 10, 11, 20, 21}, removed
    assert removed.get(21, 0) > 30, "doc 21 must lose both planted regions"
