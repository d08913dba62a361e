"""Mergeable rank/quantile sketch with an engine-replayable (md5-coin)
KLL-style compaction schedule.

KLL (Karnin, Lang, Liberty 2016) keeps per-level buffers of capacity k;
a full level sorts, keeps alternating items chosen by a COIN FLIP, and
promotes survivors with doubled weight. The coin is the only
nondeterminism — so this twin derives it from data: the parity of
``md5(pair_leader_id ':' level_weight)``. The whole compaction schedule
is then a pure function of the input SET (arrival- and partition-order
independent), which is what lets DuckDB replay the identical sketch in
unrolled SQL CTEs and the driver hash-compare every survivor.

Level structure == weight class: an item of weight ``2^l`` sits in
level ``l``. One :func:`kll_compact_round` pairs adjacent items WITHIN
each weight class (sorted by ``(value, id)``), keeps one item per pair
by the md5 coin, and doubles its weight; unpaired stragglers (odd
class sizes) stay at their weight — total weight is conserved exactly,
so ``sum(w)`` always equals the original row count. ``R`` rounds leave
``~N/2^R`` survivors plus at most one straggler per level.

Scale: the per-class pair rank is computed as range-bucketed
``row_number`` + broadcast per-(class, bucket) offsets — the same
distributed-rank construction as ``sampling.range_rank`` — so no
global single-partition sort ever appears; the only global window runs
over the ~``N/2^R``-row survivor frame at quantile-extraction time.

Rank error: level-``l`` compaction perturbs any rank query by at most
``2^l / 2``, so R rounds bound the error by ``sum_{l<R} 2^l/2 <
2^(R-1)``, plus ``2^R`` representation granularity — the bound
asserted in ``tests/test_sketch.py``.

Reference scope: the reference engine ships no sketch operator
(SURVEY §2 gap list); this is the training-pipeline extension
(percentile feeds for quality filtering at 100 TB, where exact global
sort is off the table).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import sql_conf


def _md5_long(col):
    """Engine-portable 32-bit hash: ``conv(substr(md5(x),1,8),16,10)``
    — DuckDB twin ``CAST('0x' || substr(md5(x),1,8) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _carried_partitioning(spark):
    """AQE off for a compaction LOOP (restored on exit): with AQE on,
    ``localCheckpoint`` captures an adaptive plan whose output
    partitioning is unknown at capture time, so the bucket clustering
    established by :func:`kll_bucketed` dies at every round boundary
    and each round re-exchanges the survivor frame. Non-adaptive
    plans checkpoint WITH their ``hash(_rb)`` partitioning (measured:
    groupBy over an AQE-off checkpoint plans zero exchanges), which is
    what makes the one-shuffle loop shape real. Round frames are
    loop-local and shrink geometrically, so none of AQE's runtime
    rescue (coalescing, skew splits) is load-bearing inside the loop;
    everything outside runs with the session's AQE untouched."""
    return sql_conf(spark, **{"spark.sql.adaptive.enabled": "false"})


def kll_bucketed(
    df: DataFrame, value_col: str, bucket_width: float
) -> DataFrame:
    """Establish the compaction loop's partitioning ONCE (guide §2.4
    "two operations keyed the same way can share one exchange"): tag
    the round-invariant range bucket ``_rb = floor(v / width)`` and
    hash-repartition on it. Every round's stats aggregate groups by
    ``(class, _rb)`` and its rank window partitions by ``(class, _rb)``
    — both clustered-satisfied by ``hash(_rb)`` — so with the
    partitioning carried across checkpoints (:func:`_carried_partitioning`)
    the survivor frame is never exchanged again: one shuffle for the
    whole loop instead of two per round. ``_rb`` rides as a column
    (:func:`kll_compact_round` reuses it and keeps it on survivors —
    values are round-invariant because ``v`` never changes); callers
    drop it after the loop."""
    return df.withColumn(
        "_rb", F.floor(F.col(value_col) / F.lit(bucket_width)).cast("long")
    ).repartition("_rb")


def kll_compact_round(
    df: DataFrame,
    value_col: str = "v",
    id_col: str = "id",
    weight_col: str = "w",
    bucket_width: float = 10000.0,
    extra_part: tuple[str, ...] = (),
) -> DataFrame:
    """One compaction round over EVERY weight class (and optional extra
    partition columns, e.g. a shard id before the merge step).

    Pairing rank within a class is ``row_number() OVER (PARTITION BY
    class ORDER BY value, id)`` — computed distributed: range-bucket on
    value (monotone, so ties never straddle buckets), per-bucket
    row_number in parallel, broadcast cumulative per-(class, bucket)
    offsets. The md5 coin hashes ``(pair-leader id, level weight)`` so
    both engines pick the same survivor of every pair.
    """
    part = [*extra_part, weight_col]
    # One pass over the data collects, per (class, bucket): the row
    # count AND the (value, id)-max row's id — the bucket's LAST row
    # under the rank order. The per-class windows (all over this
    # tiny bucket-stats frame) derive the exclusive rank offset, the
    # class total, and the previous non-empty bucket's last id, so the
    # pair step never needs its own exchange: a pair's two members are
    # rank-adjacent, hence in the same bucket except when the pair
    # straddles a bucket boundary — and the straddling follower's
    # leader is exactly `_prev_last`. (r14: this fuses the old
    # (class, pair) window — a third full-data exchange + sort per
    # round — into the rank window; survivors are bit-identical
    # because pairing, leader ids, and the md5 coin are unchanged.)
    #
    # All expressions come prebuilt from the per-shape memo (r14 #13,
    # guide §5): a sketch runs this construction once per ROUND — the
    # old spelling rebuilt ~100 py4j expressions and ran ~9 analysis
    # passes per round, measured ~0.45 s of pure driver-side latency
    # per round (≈90% of the KLL one-shots' wall time was lazy build).
    E = _compact_round_exprs(
        value_col, id_col, weight_col, bucket_width, tuple(extra_part)
    )
    # A pre-established `_rb` (see :func:`kll_bucketed`) is reused —
    # its values are identical to E["rb"] by the bucketing contract
    # (same floor over the same never-changing value column), and
    # reusing the COLUMN is what lets the carried hash(_rb)
    # partitioning satisfy this round's aggregate and window without
    # an exchange. Survivors then keep `_rb` (it lands in keep_cols),
    # so the next round reuses it too.
    bucketed = df if "_rb" in df.columns else df.withColumn("_rb", E["rb"])
    stats = bucketed.groupBy(*part, "_rb").agg(
        E["n"].alias("_n"), E["m"].alias("_m")
    )
    aux = stats.select(
        *part,
        "_rb",
        E["offset"].alias("_offset"),
        E["tot"].alias("_tot"),
        E["prev_last"].alias("_prev_last"),
    )
    # the two window functions share one spec — one exchange + sort
    ranked = bucketed.join(F.broadcast(aux), [*part, "_rb"]).select(
        *bucketed.columns,
        "_offset",
        "_tot",
        "_prev_last",
        E["rnk"].alias("_rnk"),
        E["lag_id"].alias("_lag_id"),
    )
    survivors = ranked.where(E["survive"])
    keep_cols = [c for c in df.columns if c != weight_col]
    return survivors.select(*keep_cols, E["new_w"].alias(weight_col))


@lru_cache(maxsize=None)
def _compact_round_exprs(
    value_col: str,
    id_col: str,
    weight_col: str,
    bucket_width: float,
    extra_part: tuple,
) -> dict:
    """The UNALIASED expression Columns + window specs of one
    compaction round, built once per (shape) per process. Only
    exprId-free expressions are cached (aliases are minted per call in
    :func:`kll_compact_round`), so sharing across plans — and across
    both sides of a union, as in the shard merge — is safe. Semantics
    are identical to the historical inline spelling: pairing, leader
    ids, and the md5 coin are unchanged expression-for-expression."""
    part = [*extra_part, weight_col]
    off_w = W.partitionBy(*part).orderBy("_rb")
    rw = W.partitionBy(*part, "_rb").orderBy(value_col, id_col)
    pos = (F.col("_rnk") - 1) % 2
    # pair leader (the lower-rank member): a pos-0 row leads itself; a
    # pos-1 row's leader is the in-bucket predecessor, or the previous
    # bucket's last row when the pair straddles the boundary. A
    # single-member pair exists only at an odd class tail (rank == T,
    # T odd — a pos-0 row with no follower).
    leader = F.when(pos == 0, F.col(id_col)).otherwise(
        F.when(
            F.col("_rnk") - F.col("_offset") > 1, F.col("_lag_id")
        ).otherwise(F.col("_prev_last"))
    )
    coin = (
        _md5_long(
            F.concat(
                leader.cast("string"),
                F.lit(":"),
                F.col(weight_col).cast("string"),
            )
        )
        % 2
    )
    single = (pos == 0) & (F.col("_rnk") == F.col("_tot"))
    return {
        "rb": F.floor(F.col(value_col) / F.lit(bucket_width)).cast("long"),
        "n": F.count("*"),
        "m": F.max(F.struct(F.col(value_col), F.col(id_col))),
        "offset": F.coalesce(
            F.sum("_n").over(off_w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ),
        "tot": F.sum("_n").over(
            off_w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ),
        "prev_last": F.lag(F.col("_m")[id_col]).over(off_w),
        "rnk": (F.row_number().over(rw) + F.col("_offset")).cast("long"),
        "lag_id": F.lag(F.col(id_col)).over(rw),
        "survive": single | (pos == coin),
        "new_w": F.when(single, F.col(weight_col)).otherwise(
            F.col(weight_col) * 2
        ),
    }


def kll_sketch(
    df: DataFrame,
    value_col: str,
    id_col: str,
    rounds: int,
    bucket_width: float = 10000.0,
    extra_part: tuple[str, ...] = (),
) -> DataFrame:
    """Build the sketch: tag weight 1 and run ``rounds`` compaction
    rounds. Returns ``(value, id, w)`` survivors; ``sum(w)`` equals the
    input row count exactly."""
    cur = kll_bucketed(
        df.select(
            *extra_part,
            F.col(value_col).alias("v"),
            F.col(id_col).alias("id"),
            F.lit(1).cast("long").alias("w"),
        ),
        "v",
        bucket_width,
    )
    # One shuffle for the whole loop (r15, guide §2.4): the input is
    # range-bucket-partitioned ONCE by kll_bucketed, and with AQE off
    # inside the loop the hash(_rb) partitioning survives every
    # checkpoint, so no round exchanges the survivor frame again —
    # the old shape paid two full-data exchanges per round.
    with _carried_partitioning(df.sparkSession):
        for _ in range(rounds):
            # Each round references its input twice (offset counts +
            # the rank join), so the lazy DAG doubles per round —
            # checkpoint the shrinking survivor frame to keep the plan
            # linear, same pattern (and measured justification) as
            # graph.bfs_hops.
            cur = kll_compact_round(
                cur, "v", "id", "w",
                bucket_width=bucket_width, extra_part=extra_part,
            ).localCheckpoint()
    return cur.drop("_rb")


def kll_quantiles(sketch: DataFrame, probs: list[float]) -> DataFrame:
    """Estimate quantiles from a survivor frame: global cumulative
    weight (tiny frame — the post-compaction survivors), then per
    probability the smallest value whose cumulative weight reaches
    ``ceil(p * total)``. Output: ``(prob, est, total_weight)``."""
    cum_w = W.orderBy("v", "id").rowsBetween(W.unboundedPreceding, 0)
    cum = sketch.select(
        "v", "id", "w", F.sum("w").over(cum_w).alias("cw")
    ).crossJoin(
        F.broadcast(sketch.agg(F.sum("w").alias("tw")))
    )
    probs_df = cum.sparkSession.createDataFrame(
        [(p,) for p in probs], "prob double"
    )
    return (
        cum.crossJoin(F.broadcast(probs_df))
        .where(F.col("cw") >= F.ceil(F.col("prob") * F.col("tw")).cast("long"))
        .groupBy("prob")
        .agg(
            F.min(F.col("v").cast("double")).alias("est"),
            F.first(F.col("tw")).alias("total_weight"),
        )
    )


class MaterializedSketch:
    """A versioned KLL survivor frame kept current from a versioned
    source's change feed — the sketch-as-matview composition
    (streaming/decayed percentile feeds without ever rescanning the
    fact table).

    Protocol mirrors :class:`operators.matview.MaterializedAggregate`:
    the applied source version rides *inside* the sketch commit as
    ``_source_hi``, so apply+advance are one atomic write and a
    replayed refresh is a no-op. Each refresh sketches ONLY the
    increment (``inc_rounds`` compactions over O(changes) rows), then
    merges it into the stored survivors with ``merge_rounds`` more
    compactions — KLL's same-level buffer merge, identical to
    ``kll_sketch_merge_shards``'s merge phase. Work per refresh is
    O(|changes| + |survivors|); survivors stay ~N/2^rounds.

    Insert-only by design: rank sketches are not self-maintainable
    under deletes (no abelian inverse — same scoping as matview's
    MIN/MAX note); a delete/update in the feed raises and the caller
    recomputes. Every compaction coin is the md5 parity of
    (pair-leader id, weight), so the maintained sketch is a pure
    function of the increment partition — an unrolled SQL oracle can
    replay create/append/merge commit-by-commit and hash-match the
    quantile estimates exactly.
    """

    SOURCE_HI = "_source_hi"

    def __init__(
        self,
        spark,
        table,
        value_col: str,
        id_col: str,
        inc_rounds: int = 4,
        merge_rounds: int = 2,
        bucket_width: float = 10000.0,
    ):
        self.spark = spark
        self.table = table
        self.value_col = value_col
        self.id_col = id_col
        self.inc_rounds = inc_rounds
        self.merge_rounds = merge_rounds
        self.bucket_width = bucket_width

    def applied_hi(self) -> int:
        # footer-stats watermark read with scan fallback (matview)
        from .matview import stored_watermark

        return stored_watermark(self.table)

    def refresh(self, source) -> tuple[int, int]:
        """Fold source versions ``(applied_hi, latest]``; returns the
        applied ``(lo, hi)`` (lo > hi = already current)."""
        from .merge import CHANGE_TYPE, CT_INSERT

        lo = self.applied_hi() + 1
        hi = source.latest_version()
        if lo > hi:
            return lo, hi
        changes = source.read_changes(lo, hi)
        # ledger commit modes usually prove insert-only without a
        # probe job (append commits emit only CT_INSERT rows)
        _ins_only = getattr(source, "changes_insert_only", lambda *_: None)(
            lo, hi
        )
        if _ins_only is not True and (
            changes.where(F.col(CHANGE_TYPE) != CT_INSERT).limit(1).count() > 0
        ):
            raise ValueError(
                "MaterializedSketch is insert-only: rank sketches have "
                "no delete inverse — recompute instead"
            )
        inc = kll_sketch(
            changes,
            self.value_col,
            self.id_col,
            rounds=self.inc_rounds,
            bucket_width=self.bucket_width,
        )
        if self.table.exists():
            merged = kll_bucketed(
                self.table.read().select("v", "id", "w").unionByName(inc),
                "v",
                self.bucket_width,
            )
            # same one-shuffle loop shape as kll_sketch (r15)
            with _carried_partitioning(self.spark):
                for _ in range(self.merge_rounds):
                    merged = kll_compact_round(
                        merged, "v", "id", "w",
                        bucket_width=self.bucket_width,
                    ).localCheckpoint()
            state = merged.drop("_rb")
        else:
            state = inc
        self.table.write(
            state.withColumn(self.SOURCE_HI, F.lit(hi).cast("long")),
            mode="overwrite",
        )
        return lo, hi

    def quantiles(self, probs: list[float]) -> DataFrame:
        return kll_quantiles(
            self.table.read().select("v", "id", "w"), probs
        )


def kll_weighted_sketch(
    df: DataFrame,
    value_col: str,
    id_col: str,
    weight_col: str,
    rounds: int,
    bucket_width: float = 10000.0,
    max_bits: int = 40,
    weight_mode: str = "round",
) -> DataFrame:
    """Weighted KLL sketch — revenue/quantity-weighted percentiles at
    corpus scale (e.g. "the price below which half the *revenue*
    sits", not half the rows).

    Arbitrary integer weights don't fit KLL's power-of-two level
    structure directly; two engine-replayable reductions are offered:

    ``weight_mode="round"`` (default — the scale path): each row's
    weight ``w = 2^l + r`` (``l = floor(log2 w)``) is STOCHASTICALLY
    ROUNDED to an adjacent power of two — up to ``2^(l+1)`` when
    ``md5_32(id) mod 2^l < r`` (probability exactly ``r/2^l``), else
    down to ``2^l``. One item per row, no fan-out, unbiased
    (``E[w'] = w``); per-row error ``< 2^l ≤ w`` is zero-mean and
    independent across rows, so aggregate rank perturbation
    concentrates well inside the sketch's own ``2^(R-1)`` compaction
    bound (asserted in ``tests/test_sketch.py``). The coin is the md5
    parity grid both engines derive identically, so the whole schedule
    stays a pure function of the input set and an unrolled SQL oracle
    replays it exactly. Weights that are already powers of two have
    ``r = 0`` and round to themselves deterministically — the decayed
    (``2^k``) weighting is exact on this path. ``sum(w)`` is the
    rounded total, NOT the exact input mass. The 32-bit md5 coin is
    exactly uniform mod ``2^l`` only for ``l ≤ 32``, so this mode
    REQUIRES ``w < 2^33`` (enforced per row with ``raise_error``);
    heavier weights must take the ``"bits"`` path.

    ``weight_mode="bits"`` (exact mass): binary decomposition — a row
    with weight ``w`` emits one item per set bit ``b`` of ``w`` at
    level ``2^b`` (synthetic id ``id·max_bits + b`` keeps pair leaders
    unique). Total weight is conserved bit-for-bit, but the fan-out is
    ``popcount(w) ≤ max_bits`` items per row (~12–25× for
    cent-denominated revenue) — measured 8.7×/decade and the catalog's
    heaviest row at sf10 before the r12 default flip (VERDICT r11 #1);
    use only when exact total mass matters more than scale.

    Weights must be positive integers on the caller's chosen grid
    (cents for money — decimal-exact); rank queries against the
    survivors via :func:`kll_quantiles` return weighted quantiles.
    """
    if weight_mode == "round":
        # l = bit_length(w) - 1 via length(bin(w)) — exact integer
        # logic, no float log2; identical in DuckDB (bin()).
        base = df.select(
            F.col(value_col).alias("v"),
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("long").alias("_wz"),
        ).withColumn("_l", (F.length(F.bin("_wz")) - 1).cast("int"))
        # md5_32(id) mod 2^l is exactly uniform on [0, 2^l) only while
        # 2^32 is a multiple of 2^l, i.e. l <= 32 (w < 2^33). Beyond
        # that the coin saturates and P(round up) silently becomes
        # min(1, r/2^32) — biased up — so the bound is ENFORCED per
        # row (ADVICE r12): heavier weights must use weight_mode="bits".
        coin = _md5_long(F.col("id").cast("string")) % F.expr(
            "shiftleft(1L, _l)"
        )
        too_heavy = F.col("_wz") >= F.lit(1 << 33)
        coin = F.when(
            too_heavy,
            F.raise_error(
                F.concat(
                    F.lit(
                        "kll_weighted_sketch(weight_mode='round') requires "
                        "weights < 2^33 for an unbiased md5_32 coin; got "
                    ),
                    F.col("_wz").cast("string"),
                    F.lit(" — use weight_mode='bits' for heavier weights"),
                )
            ).cast("bigint"),
        ).otherwise(coin)
        cur = base.select(
            "v",
            "id",
            F.expr("shiftleft(1L, _l)").alias("_lo"),
            coin.alias("_coin"),
            F.col("_wz"),
        ).select(
            "v",
            "id",
            F.when(
                F.col("_coin") < F.col("_wz") - F.col("_lo"),
                F.col("_lo") * 2,
            )
            .otherwise(F.col("_lo"))
            .alias("w"),
        )
    elif weight_mode == "bits":
        # pyspark's shiftleft/shiftright take a literal bit count, so
        # the per-element bit tests run as SQL expressions (column bit
        # counts are legal there)
        bits = F.expr(
            f"""filter(transform(sequence(0, {max_bits - 1}),
                   b -> CASE WHEN (_w0 & shiftleft(1L, b)) != 0
                             THEN b ELSE -1 END),
                   x -> x >= 0)"""
        )
        cur = (
            df.select(
                F.col(value_col).alias("v"),
                F.col(id_col).alias("_id0"),
                F.col(weight_col).cast("long").alias("_w0"),
            )
            .select("v", "_id0", F.explode(bits).alias("_bit"))
            .select(
                "v",
                (F.col("_id0") * max_bits + F.col("_bit")).alias("id"),
                F.expr("shiftleft(1L, _bit)").alias("w"),
            )
        )
    else:
        raise ValueError(f"unknown weight_mode: {weight_mode!r}")
    # same one-shuffle loop shape as kll_sketch (r15)
    cur = kll_bucketed(cur, "v", bucket_width)
    with _carried_partitioning(df.sparkSession):
        for _ in range(rounds):
            cur = kll_compact_round(
                cur, "v", "id", "w", bucket_width=bucket_width
            ).localCheckpoint()
    return cur.drop("_rb")


# ---------------------------------------------------------------------------
# Theta (KMV) sketch: mergeable distinct-count state that ALSO supports
# set intersection/difference estimates — the operation HLL registers
# cannot answer. Keep the k smallest distinct hash values; theta is the
# k-th smallest, estimate = (k-1)/theta (normalized). Deterministic
# md5 hashing makes every sketch, merge, and estimate replayable in
# any engine — the same oracle-exactness contract as hll_registers and
# the KLL compaction schedule.
# ---------------------------------------------------------------------------

#: theta hash space: 13 hex chars = 52 bits, exact in float64 in every
#: engine (the same width bound the z-order keys use).
THETA_MAX = 16**13


def theta_hash(col):
    """52-bit md5-prefix hash onto [0, THETA_MAX) — engine-portable
    (DuckDB twin ``CAST('0x' || substr(md5(x), 1, 13) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10).cast(
        "bigint"
    )


def theta_sketch(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """KMV/theta sketch of ``col``: the ``k`` smallest DISTINCT hash
    values, one row each (column ``h``).

    Scale: the distinct is one hash-shuffle of (hash) longs; the
    bounded top-k compiles to ``TakeOrderedAndProject`` — every
    partition keeps its own k smallest and the driver merges k-sized
    heaps, no global sort. Sketches merge by union → k smallest
    (:func:`theta_union`) — shards/days combine with k rows of state
    each, the point of the sketch at 100 TB."""
    return (
        df.select(theta_hash(F.col(col)).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def theta_union(*sketches: DataFrame, k: int = 64) -> DataFrame:
    """Union of theta sketches: merge retained hashes, keep the k
    smallest — the mergeable-state operation (associative and
    commutative, so shards combine in any order)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.union(s)
    return out.distinct().orderBy("h").limit(k)


def theta_stats(sketch: DataFrame, k: int = 64) -> DataFrame:
    """1-row frame ``(n, theta, estimate)``: an unsaturated sketch
    (n < k) retains every distinct hash so the estimate is exact = n;
    a saturated one estimates (k−1)/θ normalized. The division runs
    on exact ≤2^52 integers and the single multiply is IEEE-exact in
    any engine, so the rounded estimate hash-matches the SQL twin."""
    return sketch.agg(
        F.count("*").alias("n"), F.max("h").alias("_maxh")
    ).select(
        "n",
        F.when(F.col("n") < k, F.lit(THETA_MAX))
        .otherwise(F.col("_maxh"))
        .alias("theta"),
        F.when(F.col("n") < k, F.col("n").cast("double"))
        .otherwise(
            F.round(
                F.lit(float(k - 1))
                * (F.lit(float(THETA_MAX)) / F.col("_maxh")),
                4,
            )
        )
        .alias("estimate"),
    )


def theta_intersection_estimate(
    sa: DataFrame, sb: DataFrame, k: int = 64
) -> DataFrame:
    """Intersection estimate from two theta sketches (the canonical
    theta-sketch set operation): with θ_AB = min(θ_A, θ_B), the
    retained hashes below θ_AB form a uniform sample of the union at
    rate θ_AB/MAX, so |A∩B| ≈ |S_A ∩ S_B ∩ [0, θ_AB)| · MAX/θ_AB.
    Unsaturated sketches (θ = MAX) degrade gracefully to the exact
    intersection of their full hash sets. Returns 1 row
    ``(matched, theta_ab, estimate)``; the join touches ≤k rows per
    side."""
    stats = (
        theta_stats(sa, k)
        .select(F.col("theta").alias("_ta"))
        .crossJoin(theta_stats(sb, k).select(F.col("theta").alias("_tb")))
        .select(F.least("_ta", "_tb").alias("theta_ab"))
    )
    matched = (
        sa.join(sb, "h")
        .crossJoin(F.broadcast(stats))
        .where(F.col("h") < F.col("theta_ab"))
        .groupBy("theta_ab")
        .agg(F.count("*").alias("matched"))
    )
    # groupBy(theta_ab) drops the row when NO hash matches — restore
    # the zero row via the stats frame so the estimate is always 1 row
    return (
        stats.join(matched, "theta_ab", "left")
        .select(
            F.coalesce(F.col("matched"), F.lit(0)).alias("matched"),
            "theta_ab",
            F.round(
                F.coalesce(F.col("matched"), F.lit(0)).cast("double")
                * (F.lit(float(THETA_MAX)) / F.col("theta_ab")),
                4,
            ).alias("estimate"),
        )
    )


class MaterializedThetaSketch:
    """A versioned k-row theta sketch kept current from a versioned
    source's change feed — distinct-count-as-matview, the theta twin
    of :class:`MaterializedSketch`.

    Because KMV retention is "the k smallest distinct hashes", merging
    an increment's sketch into the stored one is LOSSLESS: the k
    smallest of (A ∪ B) all lie within the k smallest of A or of B, so
    the maintained sketch equals the sketch of the full history
    exactly — which is what lets the oracle verify the incremental
    protocol against one plain full-corpus SQL sketch (no unrolled
    replay needed, unlike KLL's round-by-round coin schedule).

    Protocol mirrors ``MaterializedSketch``: the applied source
    version rides inside the sketch commit as ``_source_hi`` so
    apply+advance are atomic and a replayed refresh is a no-op.
    Insert-only (theta sketches have no delete inverse); a
    delete/update in the feed raises and the caller recomputes.
    Refresh cost is O(|increment|) + a k-row merge."""

    SOURCE_HI = "_source_hi"

    def __init__(self, spark, table, key_col: str, k: int = 64):
        self.spark = spark
        self.table = table
        self.key_col = key_col
        self.k = k

    def applied_hi(self) -> int:
        # footer-stats watermark read with scan fallback (matview)
        from .matview import stored_watermark

        return stored_watermark(self.table)

    def refresh(self, source) -> tuple[int, int]:
        """Fold source versions ``(applied_hi, latest]``; returns the
        applied ``(lo, hi)`` (lo > hi = already current)."""
        from .merge import CHANGE_TYPE, CT_INSERT

        lo = self.applied_hi() + 1
        hi = source.latest_version()
        if lo > hi:
            return lo, hi
        changes = source.read_changes(lo, hi)
        # ledger commit modes usually prove insert-only without a
        # probe job (append commits emit only CT_INSERT rows)
        _ins_only = getattr(source, "changes_insert_only", lambda *_: None)(
            lo, hi
        )
        if _ins_only is not True and (
            changes.where(F.col(CHANGE_TYPE) != CT_INSERT).limit(1).count() > 0
        ):
            raise ValueError(
                "MaterializedThetaSketch is insert-only: KMV retention "
                "has no delete inverse — recompute instead"
            )
        inc = theta_sketch(changes, self.key_col, self.k)
        if self.table.exists():
            state = theta_union(
                self.table.read().select("h"), inc, k=self.k
            )
        else:
            state = inc
        self.table.write(
            state.withColumn(self.SOURCE_HI, F.lit(hi).cast("long")),
            mode="overwrite",
        )
        return lo, hi

    def stats(self) -> DataFrame:
        return theta_stats(self.table.read().select("h"), self.k)


class MaterializedCountMin:
    """A versioned count-min counter grid kept current from a
    versioned source's change feed — frequency-as-matview, completing
    the sketch-maintenance family: KLL (quantiles) and theta
    (distincts) are insert-only because they have no delete inverse,
    but count-min is a LINEAR sketch (counters form an abelian group),
    so it self-maintains under inserts, deletes, AND updates — inserts
    and update post-images add 1 to each of the key's d counters,
    deletes and update pre-images subtract 1. After any change
    history, the maintained grid equals the one-shot sketch of the
    surviving rows exactly (linearity), which is what the oracle
    checks. Hashes are the engine-portable md5 convention
    (``md5(d ':' key)``), the same grid ``count_min_estimates``
    builds. Refresh cost is O(|changes| × depth) fixed-width rows plus
    a (d × width)-bounded merge."""

    SOURCE_HI = "_source_hi"

    def __init__(self, spark, table, key_col: str, depth: int = 4, width: int = 256):
        self.spark = spark
        self.table = table
        self.key_col = key_col
        self.depth = depth
        self.width = width

    def _bucketed(self, df: DataFrame, signed) -> DataFrame:
        rows_idx = F.explode(
            F.array(*[F.lit(i) for i in range(self.depth)])
        ).alias("d")
        return (
            df.select(
                F.col(self.key_col).cast("string").alias("_k"),
                signed.alias("_s"),
            )
            .select("_k", "_s", rows_idx)
            .select(
                "d",
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("d").cast("string"),
                                    F.lit(":"),
                                    F.col("_k"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % self.width
                ).alias("bucket"),
                "_s",
            )
            .groupBy("d", "bucket")
            .agg(F.sum("_s").alias("c"))
        )

    def applied_hi(self) -> int:
        # footer-stats watermark read with scan fallback (matview)
        from .matview import stored_watermark

        return stored_watermark(self.table)

    def refresh(self, source) -> tuple[int, int]:
        """Fold source versions ``(applied_hi, latest]``; returns the
        applied ``(lo, hi)`` (lo > hi = already current)."""
        from .merge import (
            CHANGE_TYPE,
            CT_DELETE,
            CT_INSERT,
            CT_UPDATE_POST,
            CT_UPDATE_PRE,
        )

        lo = self.applied_hi() + 1
        hi = source.latest_version()
        if lo > hi:
            return lo, hi
        changes = source.read_changes(lo, hi)
        # A NULL sign would be dropped by F.sum and silently corrupt
        # the maintained counters — fail loudly on change types outside
        # the four CDC kinds instead, matching the KLL/theta
        # maintainers' contract (r8 ADVICE).
        known = (CT_INSERT, CT_UPDATE_POST, CT_DELETE, CT_UPDATE_PRE)
        # append-only ranges provably carry CT_INSERT rows alone —
        # the unknown-type probe job is needed only for data-dependent
        # (merge/update/overwrite) feeds
        _ins_only = getattr(source, "changes_insert_only", lambda *_: None)(
            lo, hi
        )
        unknown = changes.where(~F.col(CHANGE_TYPE).isin(*known))
        if _ins_only is not True and unknown.limit(1).count() > 0:
            bad = sorted(
                r[0]
                for r in unknown.select(CHANGE_TYPE).distinct().collect()
            )
            raise ValueError(
                "MaterializedCountMin.refresh: unsupported change types "
                f"in feed: {bad} (known: {list(known)})"
            )
        sign = (
            F.when(F.col(CHANGE_TYPE).isin(CT_INSERT, CT_UPDATE_POST), F.lit(1))
            .when(F.col(CHANGE_TYPE).isin(CT_DELETE, CT_UPDATE_PRE), F.lit(-1))
        )
        delta = self._bucketed(
            changes.withColumn("_sgn", sign), F.col("_sgn")
        )
        if self.table.exists():
            state = (
                self.table.read()
                .select("d", "bucket", "c")
                .unionByName(delta)
                .groupBy("d", "bucket")
                .agg(F.sum("c").alias("c"))
            )
        else:
            state = delta
        self.table.write(
            state.where(F.col("c") != 0).withColumn(
                self.SOURCE_HI, F.lit(hi).cast("long")
            ),
            mode="overwrite",
        )
        return lo, hi

    def estimates(self, keys: DataFrame, key_col: str) -> DataFrame:
        """Point-frequency estimates for a key frame: min over the d
        counters each key hashes to (the CM estimator — never an
        under-count on insert-only histories; with deletes folded in
        it estimates the SURVIVING multiplicity)."""
        rows_idx = F.explode(
            F.array(*[F.lit(i) for i in range(self.depth)])
        ).alias("d")
        probes = keys.select(
            F.col(key_col), F.col(key_col).cast("string").alias("_k")
        ).select(key_col, "_k", rows_idx).select(
            key_col,
            "d",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("d").cast("string"),
                                F.lit(":"),
                                F.col("_k"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % self.width
            ).alias("bucket"),
        )
        counters = self.table.read().select("d", "bucket", "c")
        return (
            probes.join(F.broadcast(counters), ["d", "bucket"], "left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cm_estimate"))
        )


# ---------------------------------------------------------------------------
# t-digest (Dunning & Ertl, "Computing extremely accurate quantiles
# using t-digests", arXiv 1902.04023) — the interpolated-quantile twin
# beside KLL: KLL answers rank queries with step estimates from
# survivor weights; the t-digest keeps (mean, count) centroids sized by
# the k1 scale function, so tail quantiles interpolate smoothly.
# This construction is the DETERMINISTIC batch form: values collapse to
# the distinct-value histogram, each distinct value takes its mid-rank
# quantile from the cumulative CDF, and the k1 function
# k(q) = delta * (asin(2q-1)/pi + 1/2) buckets values into clusters —
# a pure function of the value multiset, so a SQL oracle rebuilds the
# identical digest and estimates hash-match exactly (the same
# oracle-exactness trick as the md5-coin KLL).
# Scale: the only row-count-sized stage is the first groupBy (map-side
# combinable histogram shuffle); the CDF window and everything after
# run over DISTINCT values — bounded by value cardinality (2-decimal
# money: ~1e5 cells), the same cardinality class as the
# weighted-median/histogram family. Centroid count is bounded by delta.
# ---------------------------------------------------------------------------

#: Correctly-rounded double pi, written identically in the SQL twins.
TDIGEST_PI = 3.141592653589793


def tdigest_centroids(
    df: DataFrame,
    value_col: str,
    delta: int = 50,
    value_scale: int = 2,
    weight_col: str | None = None,
    assume_bounded: bool = False,
) -> DataFrame:
    """Build the digest: ``(cluster, n_c, mean)`` centroid rows.

    ``value_scale`` grids the values first (2 for money) so the
    histogram key — and the weighted mean numerator — is decimal-exact
    in both engines. The asin is libm on both sides; k rounds to the
    1e-9 grid before the floor so a sub-ulp asin divergence cannot
    flip a cluster boundary.

    ``weight_col`` feeds pre-weighted values in — the MERGE path:
    a shard's centroid frame re-digests as (mean, n_c) weighted
    values, which is exactly Dunning's centroid-merge recipe
    (sort combined centroids, re-cluster by the scale function).

    Precondition (r9 ADVICE): every cluster's value SUM must be
    non-negative. The exact half-up mean ⌊(2·units+n)/(2n)⌋ relies on
    floor division, and the two engines only agree there for
    non-negative numerators — Spark's ``div`` truncates toward zero
    while DuckDB's ``//`` floors, so a cluster whose Σ(v·cnt) goes
    negative would round down in DuckDB and up in Spark, off by 1e-6.
    All current callers digest money/price columns (≥ 0); to digest a
    signed column, shift it by a known lower bound first and shift the
    quantile estimates back."""
    from .sampling import range_cumsum

    wexp = (
        F.lit(1).cast("long") if weight_col is None else F.col(weight_col)
    )
    h = (
        df.groupBy(F.round(F.col(value_col), value_scale).alias("v"))
        .agg(F.sum(wexp).alias("cnt"))
    )
    # CDF over the distinct-value histogram. Distinct VALUES are
    # cardinality-bounded, not row-bounded — but for a money column at
    # scale 2 that cardinality still tracks the fact table (ks_test
    # measured order-count-sized), so the cumulative runs on
    # range_cumsum (r11): $1k value buckets accumulate in parallel
    # with broadcast offsets instead of one global-window task,
    # hash-identical (v is unique per row here). ``assume_bounded=True``
    # is the re-digest fast path for inputs PROVABLY ≤ O(delta) rows
    # (Dunning's centroid-merge recipe — the MERGE and
    # incremental-state callers feed ≤ 2·delta centroid rows): a plain
    # global window over ~100 rows beats two extra joins per refresh
    # round (measured: the range_cumsum conversion took incremental
    # maintenance 4.2 s → 7.1 s before this split).
    # The histogram feeds three consumers on the unbounded path (total,
    # the cumsum's bucket counts, the cumsum's rank join). Recomputing
    # it is the CHEAPEST option — measured r12: a lazy persist() here
    # took tdigest_merge_shards 2.5 s → 7.0 s and quantile_drift
    # 2.9 s → 8.2 s at sf0.1 (the InMemoryRelation blocks the
    # map-side-combined histogram shuffle reuse the recompute gets for
    # free and adds cache write/read on every digest build), so the
    # VERDICT r11 #3 persist audit concluded: keep the recompute.
    tot = F.broadcast(h.agg(F.sum("cnt").alias("n")))
    if assume_bounded:
        cum = h.withColumn(
            "cum", F.sum("cnt").over(W.orderBy("v"))
        ).crossJoin(tot)
    else:
        cum = range_cumsum(
            h, "v", "cnt",
            bucket_expr=F.floor(F.col("v") / 1000), out_col="cum",
            inclusive=True,
        ).crossJoin(tot)
    q_mid = (F.col("cum") - F.col("cnt") / 2.0) / F.col("n")
    k = F.lit(float(delta)) * (
        F.asin(2.0 * q_mid - 1.0) / F.lit(TDIGEST_PI) + F.lit(0.5)
    )
    # Mean at the 1e-6 grid via EXACT integer round-half-up:
    # units = Σ(v·cnt) in 10^-6 units (decimal-exact, then one exact
    # long cast), mean_micro = ⌊(2·units + n_c) / (2·n_c)⌋. A double
    # division + round(…, 6) can land exactly on a .5 tie, where
    # Spark and DuckDB round in opposite directions (observed once in
    # the shard-merge digest); integer arithmetic cannot.
    units = (
        F.sum((F.col("v") * F.col("cnt")).cast(f"decimal(28,{value_scale})"))
        * F.lit(1_000_000)
    ).cast("decimal(38,0)").cast("long")
    n_c = F.sum("cnt")
    mean_micro = F.call_function(
        "div", 2 * units + n_c, 2 * n_c
    )
    return (
        cum.withColumn("cluster", F.floor(F.round(k, 9)).cast("long"))
        .groupBy("cluster")
        .agg(
            n_c.alias("n_c"),
            (mean_micro / F.lit(1_000_000.0)).alias("mean"),
        )
    )


def tdigest_quantiles(centroids: DataFrame, probs: list[float]) -> DataFrame:
    """Interpolated quantile estimates from a centroid frame.

    Standard t-digest interpolation: centroid i covers mid-rank
    ``cum_i - n_i/2``; for target rank ``t = p*N`` the bracketing
    centroids interpolate linearly; past the last centroid the
    estimate clamps to its mean (and symmetrically at the head).
    Output ``(prob, est, total_weight)`` — the same shape as
    :func:`kll_quantiles` so the drift family can swap sketches.
    All arithmetic runs over <= delta centroid rows; the centroid
    frame is checkpointed first so the five consumers below (window,
    total, selection, head fallback) re-read ~delta rows instead of
    re-running the histogram lineage."""
    centroids = centroids.localCheckpoint()
    # Head clamp as a SENTINEL row instead of a separate anti-join
    # branch (r15): a zero-weight row carrying the first centroid's
    # mean, sorted before every real centroid. Its cum_mid is 0 (≤
    # every target rank t = p·N ≥ 0) and its lead() is the first real
    # centroid, whose mean equals its own — so when t lands below the
    # first real cum_mid the selection picks the sentinel and the
    # interpolation term is exactly 0: est = round(first mean, 6),
    # bit-for-bit the old head branch (verified row-equal, including
    # p=0.001 head hits and the 1-centroid edge). Real rows' cum_mids
    # are unchanged (sentinel weight 0). This folds the old
    # probs⟕anti(sel) + crossJoin + union tail — several tiny stages
    # of scheduling latency per query — into the main pass.
    first = centroids.orderBy("cluster").limit(1).select(
        F.lit(0).alias("_ord"),
        F.col("cluster"),
        F.lit(0).cast(centroids.schema["n_c"].dataType).alias("n_c"),
        F.col("mean"),
    )
    aug = centroids.select(
        F.lit(1).alias("_ord"), "cluster", "n_c", "mean"
    ).unionByName(first)
    w = W.orderBy("_ord", "cluster")
    cm = (
        aug.select(
            "cluster", "n_c", "mean", "_ord",
            (F.sum("n_c").over(w) - F.col("n_c") / 2.0).alias("cum_mid"),
        )
        .select(
            "cluster", "n_c", "mean", "cum_mid",
            F.lead("mean").over(w).alias("next_mean"),
            F.lead("cum_mid").over(w).alias("next_cum_mid"),
        )
    )
    tot = centroids.agg(F.sum("n_c").alias("total_weight"))
    probs_df = centroids.sparkSession.createDataFrame(
        [(p,) for p in probs], "prob double"
    )
    joined = (
        cm.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(probs_df))
        .withColumn("t", F.col("prob") * F.col("total_weight"))
    )
    sel = (
        joined.where(F.col("cum_mid") <= F.col("t"))
        .groupBy("prob")
        .agg(
            F.max_by(
                F.struct(
                    "mean", "cum_mid", "next_mean", "next_cum_mid", "t",
                    "total_weight",
                ),
                F.col("cum_mid"),
            ).alias("s")
        )
        .select("prob", "s.*")
    )
    est = F.when(
        F.col("next_cum_mid").isNull(), F.col("mean")
    ).otherwise(
        F.col("mean")
        + (F.col("next_mean") - F.col("mean"))
        * ((F.col("t") - F.col("cum_mid"))
           / (F.col("next_cum_mid") - F.col("cum_mid")))
    )
    return sel.select("prob", F.round(est, 6).alias("est"), "total_weight")


class MaterializedTDigest:
    """A versioned t-digest centroid frame kept current from a
    versioned source's change feed — the interpolated-quantile twin of
    :class:`MaterializedSketch` (KLL), so BOTH quantile families now
    maintain incrementally (r9 verdict #8).

    Protocol mirrors ``MaterializedSketch``: the applied source
    version rides *inside* the centroid commit as ``_source_hi``, so
    apply+advance are one atomic write and a replayed refresh is a
    no-op. Each refresh digests ONLY the increment
    (:func:`tdigest_centroids` over O(changes) rows —
    cardinality-bounded after the first groupBy) and folds it into the
    stored centroids with Dunning's centroid merge: re-digest the
    union of ``(mean, n_c)`` weighted rows at ``value_scale=6`` —
    exactly the merge phase of ``tdigest_merge_shards``. Work per
    refresh is O(|changes| + delta); the stored state never exceeds
    ~delta centroid rows, so at 100 TB only centroids move.

    Insert-only by design: centroids have no delete inverse (same
    scoping as ``MaterializedSketch``); non-insert changes raise and
    the caller recomputes. The whole schedule — deterministic
    histogram digests, integer half-up means on the 1e-6 grid — is a
    pure function of the commit partition, so an unrolled SQL oracle
    replays create/append/append commit-by-commit and the interpolated
    quantiles hash-match exactly (``incremental_tdigest_maintenance``).
    """

    SOURCE_HI = "_source_hi"

    def __init__(
        self,
        spark,
        table,
        value_col: str,
        delta: int = 50,
        value_scale: int = 2,
    ):
        self.spark = spark
        self.table = table
        self.value_col = value_col
        self.delta = delta
        self.value_scale = value_scale

    def applied_hi(self) -> int:
        # footer-stats watermark read with scan fallback (matview)
        from .matview import stored_watermark

        return stored_watermark(self.table)

    def refresh(self, source) -> tuple[int, int]:
        """Fold source versions ``(applied_hi, latest]``; returns the
        applied ``(lo, hi)`` (lo > hi = already current)."""
        from .merge import CHANGE_TYPE, CT_INSERT

        lo = self.applied_hi() + 1
        hi = source.latest_version()
        if lo > hi:
            return lo, hi
        changes = source.read_changes(lo, hi)
        # ledger commit modes usually prove insert-only without a
        # probe job (append commits emit only CT_INSERT rows)
        _ins_only = getattr(source, "changes_insert_only", lambda *_: None)(
            lo, hi
        )
        if _ins_only is not True and (
            changes.where(F.col(CHANGE_TYPE) != CT_INSERT).limit(1).count() > 0
        ):
            raise ValueError(
                "MaterializedTDigest is insert-only: centroids have "
                "no delete inverse — recompute instead"
            )
        inc = tdigest_centroids(
            changes, self.value_col, delta=self.delta,
            value_scale=self.value_scale,
        )
        if self.table.exists():
            merged = (
                self.table.read().select("mean", "n_c")
                .unionByName(inc.select("mean", "n_c"))
            )
            state = tdigest_centroids(
                merged, "mean", delta=self.delta, value_scale=6,
                weight_col="n_c", assume_bounded=True,  # <= 2*delta rows
            )
        else:
            state = inc
        self.table.write(
            state.withColumn(self.SOURCE_HI, F.lit(hi).cast("long")),
            mode="overwrite",
        )
        return lo, hi

    def quantiles(self, probs: list[float]) -> DataFrame:
        return tdigest_quantiles(
            self.table.read().select("cluster", "n_c", "mean"), probs
        )
