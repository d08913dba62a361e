"""Text-analysis operators: quality scoring, language ID, token
counting, fingerprinting. All JVM-side expressions (split / transform /
aggregate / regexp) — no Python in the hot path — so they hold their
throughput at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Tiny function-word table for the heuristic language scorer. The
#: synthetic corpus is English-like; real corpora extend this map (or
#: plug a fastText-style model in via mapInPandas).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "zu"),
    "es": ("el", "la", "los", "y", "de"),
    "fr": ("le", "la", "les", "et", "de"),
}

#: BPE-ish token classes: letter runs, digit runs, single other glyphs.
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _hits(words, vocab: tuple[str, ...]):
    """Total (with repeats) occurrences of vocab words."""
    return F.size(F.filter(words, lambda w: w.isin(*vocab)))


def quality_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Cheap quality signals: length, word count, type-token ratio,
    stopword ratio, mean word length. The standard pre-training corpus
    filters (C4/Gopher-style heuristics) are compositions of these."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    stop_hits = _hits(words, STOPWORDS["en"])
    total_word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        F.round(n_distinct.cast("double") / n_words, 4).alias("type_token_ratio"),
        F.round(stop_hits.cast("double") / n_words, 4).alias("stopword_ratio"),
        F.round(total_word_chars.cast("double") / n_words, 4).alias("mean_word_len"),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language ID: function-word vote per language, argmax
    with deterministic tie order (en > de > es > fr, else 'und')."""
    words = F.split(F.col(text_col), " ")
    votes = {lang: _hits(words, vocab) for lang, vocab in STOPWORDS.items()}
    best = F.greatest(*votes.values())
    predicted = (
        F.when(best == 0, "und")
        .when(votes["en"] == best, "en")
        .when(votes["de"] == best, "de")
        .when(votes["es"] == best, "es")
        .otherwise("fr")
    )
    return df.select(
        F.col(id_col),
        predicted.alias("predicted_lang"),
        votes["en"].alias("en_hits"),
        best.alias("best_hits"),
    )


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + bytes.
    The unit economics column set for corpus budgeting."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_REGEX)).alias("regex_tokens"),
        F.octet_length(text_col).alias("n_bytes"),
    )


def chunk_with_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window document chunking with overlap — the
    retrieval/RAG and long-context prep step: chunk *i* covers words
    ``[i·stride, i·stride + chunk_size)``, so consecutive chunks share
    ``chunk_size - stride`` words. The last chunk may be short;
    documents of ≤ chunk_size words emit exactly one chunk.

    Plan shape: one scan → split → posexplode(sequence) → slice/join —
    row-local generate, no shuffle, no Python; output grows by the
    ~``1/stride`` duplication factor inherent to overlap. Chunk count
    is ``ceil(max(n - chunk_size, 0) / stride) + 1`` with the
    arithmetic in doubles so every engine lands the same boundary.
    """
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    last_idx = F.greatest(
        F.ceil((n - F.lit(chunk_size)) / F.lit(float(stride))), F.lit(0)
    ).cast("int")
    return (
        df.select(F.col(id_col), words.alias("_w"), n.alias("_n"), last_idx.alias("_last"))
        .select(
            F.col(id_col),
            F.posexplode(F.sequence(F.lit(0), F.col("_last"))).alias(
                "chunk_id", "_i"
            ),
            F.col("_w"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, chunk_size),
                " ",
            ).alias("chunk_text"),
            F.size(
                F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, chunk_size)
            ).cast("long").alias("n_words"),
        )
    )


def fingerprints(df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3) -> DataFrame:
    """Document fingerprints: sha-256 of whitespace-normalised text
    (exact-dup key) + min-shingle hash (winnowing-style content key
    that survives local edits)."""
    from .dedup import word_shingles

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    shingle_hashes = F.transform(
        word_shingles(norm, shingle_n), lambda s: F.sha2(s.cast("binary"), 256)
    )
    return df.select(
        F.col(id_col),
        F.sha2(norm.cast("binary"), 256).alias("content_sha"),
        F.array_min(shingle_hashes).alias("min_shingle_sha"),
    )


def repetition_ratio(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3
) -> DataFrame:
    """Intra-document repetition: fraction of word n-gram occurrences
    that are duplicates of an earlier occurrence — the Gopher-style
    "repetitious document" pre-training filter signal. 0 = no repeated
    n-grams; →1 as the document degenerates into a loop. All JVM array
    expressions, one scan, no shuffle."""
    with_words = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    )
    # Materialize the words array BEFORE the index lambda — embedding
    # split() inside the lambda re-evaluates it per element (30×).
    grams = F.when(
        F.size("_w") >= shingle_n,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - (shingle_n - 1)),
            lambda i: F.concat_ws(" ", F.slice("_w", i, shingle_n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return with_words.select(
        F.col(id_col),
        total.alias("n_ngrams"),
        distinct.alias("n_distinct_ngrams"),
        F.round(
            (total - distinct).cast("double") / F.greatest(total, F.lit(1)), 6
        ).alias("repetition_ratio"),
    )


def term_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus vocabulary table: per lower-cased whitespace token, total
    occurrences (term_freq) and number of documents containing it
    (doc_freq). One explode + one two-phase aggregate; the shuffle key
    is the token, so hot stopwords are the skew — partial (map-side)
    aggregation absorbs them before the exchange."""
    tokens = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    return tokens.groupBy("token").agg(
        F.count("*").alias("term_freq"),
        F.countDistinct("_doc").alias("doc_freq"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by a deterministic
    tf-idf variant: score = tf × N / df (the log in classic idf is
    monotone, so rankings match, and dropping it keeps the score a
    single IEEE division — bit-identical across engines, per the
    engine's ratio contract).

    Plan: one explode → per-(doc, token) tf → token-keyed join against
    the doc-freq aggregate → rank window per doc. The df table scales
    with vocabulary, not corpus, but is NOT broadcast (unbounded vocab
    at corpus scale); the join shuffles on the token key. N rides in
    via a broadcast scalar (no driver-side action)."""
    tokens = df.select(
        F.col(id_col).alias("doc_id_"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    tf = tokens.groupBy("doc_id_", "token").agg(F.count("*").alias("tf"))
    dfreq = tokens.groupBy("token").agg(F.countDistinct("doc_id_").alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc_id_").alias(id_col),
            "token",
            F.round(
                F.col("tf").cast("double") * F.col("n_docs") / F.col("df"), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
    )


#: Scrub-scan patterns, kept to the regex intersection of Java (Spark)
#: and RE2 (DuckDB oracle) dialects so the counts are oracle-checkable.
PII_PATTERNS = {
    "n_emails": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+",
    "n_urls": r"https?://[^ ]+",
    "n_long_digit_runs": r"[0-9]{4,}",
}


def pii_scan(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document PII/boilerplate indicator counts (email-like,
    URL-like, long digit runs) — the scan half of an anonymisation
    pipeline: run it first to find WHAT needs scrubbing and how much,
    route flagged documents to the (heavier) anonymise transform. Pure
    JVM regexp_count; one scan, no shuffle."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(name)
        for name, pat in PII_PATTERNS.items()
    ]
    flagged = sum(
        (F.regexp_count(F.col(text_col), F.lit(p)) for p in PII_PATTERNS.values()),
        F.lit(0),
    )
    return df.select(F.col(id_col), *counts, (flagged > 0).cast("int").alias("needs_scrub"))


def unigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Unigram language-model quality score: train token frequencies on
    the corpus itself (one aggregate), then score each document by its mean
    token log-probability — the cheap stand-in for the perplexity
    filter of a CCNet/Gopher-style curation stage (low mean log-prob =
    rare-token soup = likely junk).

    Returns ``(id_col, n_tokens, avg_logprob)``. Per-token log-probs
    round to the 1e-6 grid and sum through decimal so the mean is
    addition-order-independent (the engine-portability contract every
    oracle-checked double in this repo follows).

    Scale shape: the frequency table keys the join on the token itself
    — at web-corpus scale that's a shuffle join of (token, count)
    fixed-width rows against exploded tokens, no broadcast assumption
    on the vocabulary; the scalar corpus total rides along as a
    broadcast single row. All JVM expressions.
    """
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).where(F.col("token") != "")
    freqs = tokens.groupBy("token").agg(F.count("*").alias("_tf"))
    total = freqs.agg(F.sum("_tf").alias("_total"))
    logp = F.round(F.log(F.col("_tf") / F.col("_total")), 6)
    scored = tokens.join(freqs, "token").join(F.broadcast(total))
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum(logp.cast("decimal(28,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_logprob"),
    )


def feature_hash(
    df: DataFrame, text_col: str, id_col: str, dim: int = 64
) -> DataFrame:
    """Hashing-trick featurizer (`Weinberger et al. 2009, "Feature
    Hashing for Large Scale Multitask Learning"`): token counts bucketed
    into a FIXED ``dim``-slot vector by token hash — the
    vocabulary-free text vectorizer whose output width never depends on
    corpus size (no fit step, no dictionary to ship).

    Returns ``(id_col, features: array<bigint>)`` dense vectors,
    assembled JVM-side: per-(doc, slot) counts → map_from_entries →
    gather over the slot sequence. The hash is the engine-portable
    md5-prefix family, so slot assignment (and thus the whole vector)
    is oracle-reproducible. Shuffle carries (id, slot, count) triples —
    bounded by dim per document, not vocabulary.
    """
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).where(F.col("token") != "")
    slot = F.pmod(
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("bigint"),
        F.lit(dim),
    )
    counts = tokens.select(id_col, slot.alias("slot")).groupBy(
        id_col, "slot"
    ).agg(F.count("*").alias("n"))
    return counts.groupBy(id_col).agg(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("slot"), F.col("n")))
                )[i.cast("bigint")],
                F.lit(0).cast("bigint"),
            ),
        ).alias("features")
    )


def greedy_subword_tokenize(
    df: DataFrame,
    vocab: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy longest-match subword tokenization (the WordPiece
    inference rule: at each position consume the longest vocabulary
    piece, else emit UNK and consume one character) over a broadcast
    vocabulary, returning per-document token and UNK counts.

    Scale posture: the vocabulary ships once per python worker inside
    the Arrow-batched ``mapInPandas`` closure (BPE/WordPiece vocabs
    are ~30k entries — broadcast-sized by construction); tokenization
    is row-local, so the operator adds no shuffle and composes with
    any upstream scan. The greedy automaton is deterministic, which is
    what makes a SQL oracle possible: the same longest-prefix
    recurrence expressed as a recursive CTE must land on identical
    counts.
    """
    from pyspark.sql import types as T

    pieces = sorted(set(vocab), key=len, reverse=True)
    by_first: dict[str, list[str]] = {}
    for p in pieces:
        by_first.setdefault(p[0], []).append(p)

    def tokenize_word(word: str) -> tuple[int, int]:
        ntok = nunk = pos = 0
        n = len(word)
        while pos < n:
            match_len = 0
            for p in by_first.get(word[pos], ()):
                if word.startswith(p, pos):
                    match_len = len(p)
                    break  # candidates are longest-first
            if match_len:
                pos += match_len
            else:
                pos += 1
                nunk += 1
            ntok += 1
        return ntok, nunk

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_tokens", T.LongType()),
            T.StructField("n_unk", T.LongType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            toks, unks = [], []
            for text in pdf[text_col]:
                ntok = nunk = 0
                for word in ("" if text is None else text).lower().split():
                    t, u = tokenize_word(word)
                    ntok += t
                    nunk += u
                toks.append(ntok)
                unks.append(nunk)
            out = pdf[[id_col]].copy()
            out["n_tokens"] = toks
            out["n_unk"] = unks
            yield out

    return df.select(id_col, text_col).mapInPandas(run, schema)


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_n: int = 20,
) -> DataFrame:
    """Collocation mining by pointwise mutual information: adjacent
    bigrams scoring ``ln(p(ab) / (p(a)·p(b)))`` — the standard phrase
    detector (word2vec's phrase pass, NLTK collocations) for deciding
    which token pairs should fuse in a tokenizer vocabulary.

    Scale posture: bigrams are built row-locally (``arrays_zip`` of the
    token array against its own tail — no shuffle, no self-join); the
    only shuffles are the unigram and bigram count aggregations, both
    token-keyed with map-side combine. Corpus totals ride a broadcast
    cross join (two longs). The PMI double is an explicitly-ordered
    sum of ``round``-gridded logs, so the SQL oracle reproduces it
    bit-for-bit, and the final top-N is rank-windowed with a full
    deterministic tie-break.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.split(F.col(text_col), " ").alias("_t")
    ).select(F.filter("_t", lambda x: x != "").alias("_t"))
    toks = toks.persist()
    uni = (
        toks.select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_tok"))
    )
    big = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("_t", 1, F.greatest(F.size("_t") - 1, F.lit(0))),
                    F.slice("_t", 2, F.greatest(F.size("_t") - 1, F.lit(0))),
                )
            ).alias("_b")
        )
        .select(F.col("_b.0").alias("tok_a"), F.col("_b.1").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
    )
    n_tok = uni.agg(F.sum("c_tok").alias("n_tok"))
    n_big = (
        toks.select(
            F.sum(F.greatest(F.size("_t") - 1, F.lit(0))).alias("n_big")
        )
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c_tok").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c_tok").alias("c_b"))
    ln = F.log  # natural log in both engines
    pmi = F.round(
        (
            (
                ((ln("c_ab") + ln("n_tok")) + ln("n_tok")) - ln("n_big")
            )
            - ln("c_a")
        )
        - ln("c_b"),
        6,
    )
    w = W.partitionBy().orderBy(F.col("pmi").desc(), "tok_a", "tok_b")
    scored = (
        big.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select("tok_a", "tok_b", "c_ab", pmi.alias("pmi"))
    )
    # candidate set after min_count is collocation-sized (thousands),
    # so the single-partition rank window is over a pre-shrunk frame —
    # same posture as every top-N in the registry
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("tok_a", "tok_b", F.col("c_ab").cast("long").alias("c_ab"), "pmi", "rank")
    )


def count_min_estimates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 4,
    width: int = 256,
    top_n: int = 10,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the token
    stream, evaluated against exact truth: build the d×w counter grid,
    then read back the estimates for the exact top-N tokens. The
    estimate is ``min_d counter[d][h_d(token)]`` — always ≥ the true
    count, within εN with high probability.

    The sketch is *mergeable state*: counters are a plain
    ``(row, bucket) → count`` aggregate, so shards/days sketch
    independently and combine by addition — the 100 TB pattern. Hashes
    are md5-prefix buckets (the engine's portable-hash convention,
    ``sampling.hash_bucket``), which is what makes this sketch
    oracle-checkable — DuckDB reproduces every counter and every
    estimate exactly, rather than the usual rows-only sketch check.
    """
    from pyspark.sql import Window as W

    tok = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"))
        .where(F.col("token") != "")
    ).persist()
    rows_idx = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d")
    hashed = tok.select("token", rows_idx).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("token"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % width,
    )
    counters = hashed.groupBy("d", "bucket").agg(F.count("*").alias("c"))
    truth = (
        tok.groupBy("token")
        .agg(F.count("*").alias("true_count"))
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy().orderBy(F.col("true_count").desc(), "token")
            ),
        )
        .where(F.col("rank") <= top_n)
    )
    probes = truth.select("token", "true_count", "rank", rows_idx).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("token"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % width,
    )
    return (
        probes.join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("token", "true_count", "rank")
        .agg(F.min("c").alias("cm_estimate"))
        .select(
            "token",
            "true_count",
            "cm_estimate",
            (F.col("cm_estimate") >= F.col("true_count")).alias("never_under"),
            "rank",
        )
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 3,
) -> tuple[list[tuple[str, int]], DataFrame]:
    """Byte-pair-encoding vocabulary induction over the corpus word-
    frequency table (Gage 1994 / Sennrich et al. 2016): repeatedly find
    the most frequent adjacent symbol pair (ties: lexicographically
    first) and merge it everywhere, left-to-right non-overlapping —
    the learning counterpart of :func:`greedy_subword_tokenize`, which
    consumes a vocabulary this produces.

    Returns ``(merges, words)``: the learned ``[(pair, count)]`` list
    and the segmented word table ``(token, freq, segmented)`` after all
    merges. Scale: training runs on the DISTINCT-word frequency table
    (vocabulary-sized, not corpus-sized — the standard trick), so each
    round is a (pair → partial-sum) shuffle plus a distributed top-1
    (``orderBy.limit(1)`` = TakeOrdered, no global sort); the driver
    holds only the merge list. Each round's argmax is deterministic
    (count desc, pair asc), which keeps the whole run oracle-checkable.
    """
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("token")).where(
        F.col("token") != ""
    )
    words = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    words = words.select(
        "token",
        "freq",
        F.trim(F.regexp_replace("token", "(.)", "$1 ")).alias("segmented"),
    ).persist()
    merges: list[tuple[str, int]] = []
    for _ in range(n_merges):
        arr = F.split("segmented", " ")
        n = F.size(arr)
        idx = F.when(n >= 2, F.sequence(F.lit(0), n - 2)).otherwise(
            F.array().cast("array<int>")
        )
        pair = F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.element_at(arr, i + 1), F.element_at(arr, i + 2)
                ),
            )
        )
        best = (
            words.select(pair.alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .collect()[0]
        )
        merges.append((best["pair"], best["cnt"]))
        merged = best["pair"].replace(" ", "")
        nxt = words.select(
            "token",
            "freq",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("segmented"), F.lit(" ")),
                    F.lit(f" {best['pair']} "),
                    F.lit(f" {merged} "),
                )
            ).alias("segmented"),
        ).persist()
        words.unpersist()
        words = nxt
    return merges, words


def gopher_repetition_gates(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """The Gopher repetition filter battery (Rae et al. 2021, appendix
    A1.1) beyond :func:`repetition_ratio`'s single duplicate-share:
    per document, the fraction of characters contained in the MOST
    FREQUENT word n-gram (n = 2, 3, 4) and the fraction of characters
    in DUPLICATE occurrences of longer n-grams (n = 5, 10 — the
    duplicate-occurrence formulation: (count−1)·chars(gram) summed
    over repeated grams), plus the composite keep flag at the Gopher
    thresholds (0.20 / 0.18 / 0.16 / 0.15 / 0.10).

    Shape (r14): the gram census is DOC-LOCAL, so no gram ever needs
    to leave its row — per (doc, n) the gram array is built, sorted,
    and run-length folded in place (``array_sort`` + ``aggregate``:
    the most frequent gram is the longest run with a strict-``>``
    update, which keeps the lexicographically smallest gram on count
    ties — the same (cnt DESC, gram ASC) tie-break the old aggregate
    encoded via ``min(struct(-cnt, gram))``; duplicate chars sum
    ``(run-1)·length`` over runs). This replaces the old explode →
    groupBy(doc, n, gram) → groupBy(doc, n) → groupBy(doc) chain —
    three exchanges, the widest of which shuffled every gram string
    (48.7 MB at sf0.1) — with a zero-shuffle map-only plan. The five
    n values evaluate as five sequential column expressions, so the
    largest transient per row stays ONE n's gram array (≤ ~n× the
    document text), the same heap bound the old two-level explode
    enforced after the r9 GC-thrash (SCALE.md "heap" notes). Every
    ratio still divides exact integers, so the battery remains
    oracle-reproducible. Docs with fewer than two words drop, exactly
    as the old explode dropped them (no grams for any n)."""
    def _rep_stats(n: int):
        """struct(top_chars, dup_chars) for one n, row-locally.

        Spelled as ONE ``F.expr`` SQL string (r14 #14, guide §5): the
        historical Column-API spelling built this ~80-node lambda tree
        through ~80 py4j round trips PER n — measured 1.1–2.3 s of
        pure driver-side construction per query across the five n
        values, a quarter-to-half of the query's whole wall time. The
        SQL string is one JVM parse (~10 ms for all five) and
        analyzes to the same aggregate: CASE WHEN ≡ when/otherwise,
        named_struct ≡ F.struct(alias...), and every cast/operand
        order is transcribed 1:1 (the hand-case test and both-SF
        oracle hashes pin the equivalence)."""
        long0 = "cast(0 as bigint)"
        run_gt_best = "acc.run > acc.best_cnt"
        dup_add = (
            "acc.dup + CASE WHEN acc.run > 1 THEN (acc.run - 1) * "
            "cast(length(acc.prev) as bigint) ELSE " + long0 + " END"
        )
        return F.expr(
            f"""aggregate(
  array_sort(
    CASE WHEN size(_w) >= {n}
         THEN transform(sequence(1, size(_w) - {n - 1}),
                        i -> concat_ws(' ', slice(_w, i, {n})))
         ELSE cast(array() as array<string>) END),
  named_struct('prev', cast(null as string), 'run', {long0},
               'best_cnt', {long0}, 'best_gram', cast(null as string),
               'dup', {long0}),
  (acc, x) -> CASE
    WHEN acc.prev IS NOT NULL AND x = acc.prev THEN
      named_struct('prev', acc.prev, 'run', acc.run + cast(1 as bigint),
                   'best_cnt', acc.best_cnt, 'best_gram', acc.best_gram,
                   'dup', acc.dup)
    ELSE
      named_struct('prev', x, 'run', cast(1 as bigint),
                   'best_cnt', CASE WHEN {run_gt_best} THEN acc.run
                                    ELSE acc.best_cnt END,
                   'best_gram', CASE WHEN {run_gt_best} THEN acc.prev
                                     ELSE acc.best_gram END,
                   'dup', {dup_add})
    END,
  acc -> named_struct(
    'top_chars',
    coalesce((CASE WHEN {run_gt_best} THEN acc.run ELSE acc.best_cnt END)
             * cast(length(CASE WHEN {run_gt_best} THEN acc.prev
                                ELSE acc.best_gram END) as bigint),
             {long0}),
    'dup_chars', {dup_add}))"""
        )

    # scale_out first (r15, the X1 pattern): the fold is zero-shuffle
    # by design, so with a single-row-group scan the WHOLE battery ran
    # as one task (2.5 s single-core at sf0.1); ship the raw text once
    # and fold wide. A no-op whenever the scan already splits >= core
    # count.
    from .dedup import scale_out

    base = (
        scale_out(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.length(F.col(text_col)).alias("n_chars"),
            F.split(F.col(text_col), " ").alias("_w"),
        )
        .where(F.size("_w") >= 2)
    )
    ns = (2, 3, 4, 5, 10)
    staged = base.select(
        id_col, "n_chars", *[_rep_stats(n).alias(f"_s{n}") for n in ns]
    )

    def frac(n: int, field: str):
        return F.round(
            F.col(f"_s{n}.{field}").cast("double")
            / F.greatest(F.col("n_chars"), F.lit(1)),
            6,
        )

    out = staged.select(
        id_col,
        "n_chars",
        frac(2, "top_chars").alias("top_2gram_char_frac"),
        frac(3, "top_chars").alias("top_3gram_char_frac"),
        frac(4, "top_chars").alias("top_4gram_char_frac"),
        frac(5, "dup_chars").alias("dup_5gram_char_frac"),
        frac(10, "dup_chars").alias("dup_10gram_char_frac"),
    )
    return out.withColumn(
        "keep",
        (F.col("top_2gram_char_frac") <= 0.20)
        & (F.col("top_3gram_char_frac") <= 0.18)
        & (F.col("top_4gram_char_frac") <= 0.16)
        & (F.col("dup_5gram_char_frac") <= 0.15)
        & (F.col("dup_10gram_char_frac") <= 0.10),
    )


#: Entity unescape map applied in ORDER (amp last so "&amp;lt;" cannot
#: double-unescape) — mirrored verbatim by the SQL oracle twin.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

#: Block-level elements whose ENTIRE content is boilerplate for a
#: training corpus (navigation chrome, footers, scripts, styles).
HTML_BOILERPLATE_TAGS: tuple[str, ...] = ("script", "style", "nav", "footer", "aside")


def strip_html(col, keep_ratio_scale: int = 6):
    """Extract training text from an HTML page column — the C4-style
    web-corpus cleaning step: drop boilerplate blocks wholesale
    (script/style/nav/footer/aside), strip remaining tags, unescape
    the common entities, collapse runs of spaces. Returns a struct
    ``(clean, kept_ratio)``.

    Everything is JVM regexp/replace — no Python — and every pattern
    is in the RE2-compatible subset (non-greedy ``.*?``, no
    backreferences) so a DuckDB oracle runs the identical program
    (with the ``'g'`` flag, since DuckDB's regexp_replace defaults to
    first-match-only while Spark's replaces all). Scale: row-local
    string work, embarrassingly parallel, zero shuffle.
    """
    page_len = F.length(col)
    x = col
    for tag in HTML_BOILERPLATE_TAGS:
        x = F.regexp_replace(x, f"<{tag}[^>]*>.*?</{tag}>", " ")
    x = F.regexp_replace(x, "<[^>]*>", " ")
    for ent, rep in HTML_ENTITIES:
        x = F.replace(x, F.lit(ent), F.lit(rep))
    x = F.trim(F.regexp_replace(x, "  *", " "))
    return F.struct(
        x.alias("clean"),
        F.round(F.length(x) / page_len.cast("double"), keep_ratio_scale).alias(
            "kept_ratio"
        ),
    )


def compression_quality(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """zlib compression ratio as a quality signal — the RefinedWeb /
    Gopher-family heuristic the pure-SQL stats above cannot express:
    highly repetitive or templated text compresses far below natural
    prose, so ``compressed_bytes / raw_bytes`` separates boilerplate
    from content at one pass over the bytes. Arrow-batched
    ``mapInPandas`` (never row-at-a-time Python): each batch deflates
    level-6 and emits (id, raw_len, compressed_len, ratio). Rows-only
    at the driver (DuckDB has no zlib); pytest bounds the signal's
    ordering properties instead. Scale: row-local, embarrassingly
    parallel, output is 4 narrow columns regardless of text width.
    """
    import pandas as pd  # noqa: F401 (worker-side)

    schema = f"{id_col} long, raw_len long, compressed_len long, ratio double"

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            raw_len = raw.str.len().astype("int64")
            comp_len = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "raw_len": raw_len,
                    "compressed_len": comp_len,
                    "ratio": comp_len / raw_len.where(raw_len > 0, 1),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema)
