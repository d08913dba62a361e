"""Mining / advanced-analytics query additions (round 2, session 3).

Multidimensional dominance (skyline), inequality and trend statistics,
graph triangle motifs, neighborhood-based recommendation, and
decimal-exact exponential smoothing. Every query keeps the engine's
determinism contract: exact decimal sums for anything hashed, one
final IEEE double op chain, identical aliases in Spark and SQL.

These extend SURVEY.md §2's aggregate/window/join families with the
shapes a warehouse team actually layers on top of them (reference
scope: SAFEHR-data/Data-Seedling `example_transform/src/example_transform/
transform.py:1-200` stops at project/filter/merge — the mining tier
here is the superset a Spark engine provides on the same tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .queries import query
from .session import sql_conf
from .tables import load_table

# The graph loops' per-round localCheckpoint materializes at the
# configured shuffle width and AQE coalescing does not survive the
# checkpoint: clamp the width for the node-sized label frames.
_GRAPH_SHUFFLE = {"spark.sql.shuffle.partitions": 32}


@query(
    "pareto_frontier_parts",
    oracle="""
    WITH by_price AS (
      SELECT p_retailprice AS price, max(p_size) AS best_size
      FROM part GROUP BY p_retailprice
    ), frontier_prices AS (
      SELECT price, best_size,
             max(best_size) OVER (
               ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS cheaper_best
      FROM by_price
    )
    SELECT p.p_partkey, p.p_retailprice AS price, p.p_size AS size
    FROM part p
    JOIN frontier_prices f ON p.p_retailprice = f.price
    WHERE p.p_size = f.best_size
      AND (f.cheaper_best IS NULL OR f.best_size > f.cheaper_best)
    """,
    tags=("skyline", "dominance", "window"),
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts where no other part is both
    cheaper-or-equal AND larger-or-equal with one strict (minimize
    price, maximize size).

    The naive formulation is a quadratic NOT EXISTS self-join. For two
    dimensions the frontier is a running-max scan: group to one row
    per distinct price (max size), then a strictly-preceding running
    max over prices — a part survives iff it achieves its price
    group's max AND beats every cheaper group's max. One shuffle on
    price + a window over *distinct prices only* (bounded by price
    cardinality, not row count). Skylines are also distributive
    (skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))), so at 100 TB
    the same operator runs per-partition first and merges frontiers —
    the group-by here already plays that role for the 2-D case.
    """
    part = load_table(spark, sf_dir, "part")
    by_price = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("best_size")
    )
    w = W.orderBy("price").rowsBetween(W.unboundedPreceding, -1)
    frontier = by_price.withColumn("cheaper_best", F.max("best_size").over(w)).where(
        F.col("cheaper_best").isNull()
        | (F.col("best_size") > F.col("cheaper_best"))
    )
    return (
        part.join(
            F.broadcast(frontier),
            (part.p_retailprice == frontier.price)
            & (part.p_size == frontier.best_size),
        )
        .select("p_partkey", F.col("p_retailprice").alias("price"), F.col("p_size").alias("size"))
    )


@query(
    "gini_revenue_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS r
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i FROM rev
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DOUBLE) AS total_revenue,
           round(
             2.0 * CAST(SUM(CAST(i AS DECIMAL(10,0)) * CAST(r AS DECIMAL(18,2)))
                        AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DOUBLE))
             - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE),
             9) AS gini
    FROM ranked
    """,
    tags=("inequality", "gini", "rank"),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    standard inequality audit over a ranked value distribution:
    ``G = 2·Σ(i·xᵢ) / (n·Σxᵢ) − (n+1)/n`` with xᵢ ascending.

    Revenue per customer is an exact decimal sum; the rank-weighted
    sum i·xᵢ is a decimal×bigint product summed in decimal, so both
    moments are order-independent and exact, and G is a fixed chain of
    IEEE double ops on identical inputs. Ties in revenue contribute
    x·Σi regardless of tie order, so the custkey tie-break changes
    nothing but keeps row_number deterministic. Ranking uses
    ``range_rank`` (operators/sampling.py): revenue range-buckets at
    $50k width, per-bucket row_number in parallel + broadcast bucket
    offsets — exactly ``row_number() OVER (ORDER BY r, custkey)``
    (the bucket key is monotone in r, so ties never straddle buckets)
    with every rank window partitioned instead of one global
    single-partition sort.
    """
    from .operators.sampling import range_rank

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("r")
    )
    ranked = range_rank(
        rev, "r", tie_cols=("o_custkey",),
        bucket_expr=F.floor(F.col("r") / 50000), rank_col="i",
    ).select("r", "i")
    n = F.count("*")
    tot = F.sum(F.col("r").cast("decimal(28,2)")).cast("double")
    weighted = F.sum(
        F.col("i").cast("decimal(10,0)") * F.col("r").cast("decimal(18,2)")
    ).cast("double")
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        tot.alias("total_revenue"),
        F.round(
            2.0 * weighted / (n.cast("double") * tot)
            - (n.cast("double") + 1.0) / n.cast("double"),
            9,
        ).alias("gini"),
    )


@query(
    "ols_price_quantity_trend",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DECIMAL(8,0)) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(10,0))) AS DECIMAL(10,0)) AS sx,
             CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
                  AS DECIMAL(14,2)) AS sy,
             CAST(SUM(CAST(round(l_quantity * l_extendedprice, 2) AS DECIMAL(18,2)))
                  AS DECIMAL(16,2)) AS sxy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(10,0)))
                  AS DECIMAL(14,0)) AS sxx,
             CAST(SUM(CAST(round(l_extendedprice * l_extendedprice, 4)
                           AS DECIMAL(24,4))) AS DECIMAL(21,4)) AS syy
      FROM lineitem GROUP BY l_returnflag
    ),
    d AS (
      SELECT l_returnflag,
             CAST(n AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
             CAST(sy AS DOUBLE) AS sy, CAST(sxy AS DOUBLE) AS sxy,
             CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy
      FROM m
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM d
    """,
    tags=("regression", "ols", "stats-agg"),
)
def ols_price_quantity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple OLS per group (extendedprice ~ quantity):
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), plus intercept and R².

    The built-in ``regr_slope``/``corr`` accumulate double moments
    whose value depends on partial-aggregation order — fine for
    analysis, unusable for a hash-compared contract. Here all five
    moments are exact decimal sums (quantity is integral, price sits
    on the 2-decimal grid, price² on the 4-decimal grid); each moment
    is then cast to DOUBLE *before* any product so the whole
    slope/intercept/R² chain is a fixed sequence of IEEE double ops,
    identical in both engines — and no engine ever multiplies wide
    decimals (DuckDB overflows DECIMAL(18)×DECIMAL(18) products that
    Spark widens silently). One partial+final aggregate pass, no shuffle beyond the
    3-group rollup; this is the map-side-combine shape that survives
    any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("decimal(8,0)").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(10,0)"))
        .cast("decimal(10,0)")
        .alias("sx"),
        F.sum(F.round("l_extendedprice", 2).cast("decimal(18,2)"))
        .cast("decimal(14,2)")
        .alias("sy"),
        F.sum(
            F.round(F.col("l_quantity") * F.col("l_extendedprice"), 2).cast(
                "decimal(18,2)"
            )
        )
        .cast("decimal(16,2)")
        .alias("sxy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(10,0)"))
        .cast("decimal(14,0)")
        .alias("sxx"),
        F.sum(
            F.round(F.col("l_extendedprice") * F.col("l_extendedprice"), 4).cast(
                "decimal(24,4)"
            )
        )
        .cast("decimal(21,4)")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    dx = nd * sxx - sx * sx
    dy = nd * syy - sy * sy
    slope = num / dx
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / nd, 6).alias("intercept"),
        F.round(num * num / (dx * dy), 6).alias("r2"),
    )


def orient_edges_by_degree(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge from its lower-degree endpoint to its
    higher-degree endpoint (ties broken by id) — the Schank–Wagner
    "forward" orientation. Every wedge then pivots at its
    lowest-degree vertex, so per-vertex wedge work is bounded by
    out-degree ≤ O(√m) and the triangle join is O(m^{3/2}) total even
    on a Zipfian degree distribution, where id-orientation lets one
    hot low-id vertex generate O(d²) wedges.

    Input: undirected edge set as columns ``(u, v)``, one row per
    edge. Output: ``(src, dst, dst_d)`` where ``dst_d`` is the
    destination's (degree, id)-rank carrier used to order wedge
    endpoints without a re-join. Two degree joins of a tiny (vertex,
    degree) relation — both sides keyed on the vertex id the edge
    list is already hashed by.
    """
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    e = edges.join(
        deg.select(F.col("x").alias("u"), F.col("d").alias("_du")), "u"
    ).join(deg.select(F.col("x").alias("v"), F.col("d").alias("_dv")), "v")
    fwd = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("_dv")).otherwise(F.col("_du")).alias("dst_d"),
    )



def cap_power_users(
    basket: DataFrame, max_basket: int, cust_col: str = "cust"
) -> DataFrame:
    """Drop customers whose basket exceeds ``max_basket`` distinct
    items before any basket self-join. Candidate-pair work per
    customer is k·(k−1)/2, so a single Zipfian hot key (a bot, a
    wholesale account) dominates the whole pair stage; the cap bounds
    per-key work at max_basket²/2 and the hot keys it drops are
    exactly the ones whose co-occurrence signal is noise. One window
    count partitioned by the same key the pair join shuffles on — the
    exchange is reused, so the guard costs no extra shuffle.
    """
    w = W.partitionBy(cust_col)
    return (
        basket.withColumn("_bsz", F.count("*").over(w))
        .where(F.col("_bsz") <= max_basket)
        .drop("_bsz")
    )


#: Basket cap threaded through every lineitem⋈lineitem pair builder
#: and mirrored verbatim in each query's SQL oracle. Generous: TPC-H
#: baskets are ≤7 lines by schema, so at test SF the cap is a no-op;
#: on real co-purchase data it bounds per-basket pair work at
#: max_basket²/2 ≈ 500k rows instead of letting one Zipfian hot order
#: (a bot, a wholesale account) emit billions.
COPURCHASE_MAX_BASKET = 1000

#: Oracle twin of the cap inside :func:`copurchase_pairs` — splice as
#: the first CTE and join ``li_capped`` instead of raw ``lineitem``.
LI_CAPPED_CTE = f"""li_capped AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS bsz
        FROM lineitem
      ) WHERE bsz <= {COPURCHASE_MAX_BASKET}
    )"""


def copurchase_pairs(
    li: DataFrame, max_basket: int = COPURCHASE_MAX_BASKET
) -> DataFrame:
    """The ONE co-purchase pair builder (basket-capped lineitem
    self-join) behind the graph/mining family — triangles, BFS,
    Bellman-Ford, k-core, LPA, association rules, frequent pairs.

    Pair work per order is k·(k−1)/2, so a single hot basket dominates
    the whole stage; the cap drops orders whose line count exceeds
    ``max_basket`` BEFORE the self-join, bounding per-key work the
    same way :func:`cap_power_users` does for customer baskets. The
    window partitions by the same ``l_orderkey`` the pair join
    shuffles on, so the exchange is reused — the guard costs no extra
    shuffle. Output: one row per co-purchase incidence
    ``(o=l_orderkey, u<v part keys)``, multiplicity preserved, so
    callers can ``distinct`` (edge sets), ``groupBy(u, v).count``
    (weights) or ``countDistinct(o)`` (support) without re-joining.
    """
    w = W.partitionBy("l_orderkey")
    capped = (
        li.select("l_orderkey", "l_partkey")
        .withColumn("_bsz", F.count("*").over(w))
        .where(F.col("_bsz") <= max_basket)
        .drop("_bsz")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_orderkey").alias("o"),
        F.col("a.l_partkey").alias("u"),
        F.col("b.l_partkey").alias("v"),
    )


@query(
    "triangle_count_copurchase",
    oracle=f"""
    WITH {LI_CAPPED_CTE}, pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST((SELECT count(DISTINCT u) FROM
                  (SELECT u FROM pairs UNION ALL SELECT v FROM pairs) t(u))
                AS BIGINT) AS n_nodes,
           CAST((SELECT count(*)
                 FROM pairs e1
                 JOIN pairs e2 ON e1.v = e2.u
                 JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT)
             AS n_triangles
    """,
    tags=("graph", "triangles", "motif"),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts appearing
    in the same order are adjacent) — the classic clustering-structure
    motif count.

    Edges are degree-oriented (low-degree → high-degree endpoint, ties
    by id — Schank & Wagner's forward algorithm via
    :func:`orient_edges_by_degree`), so each triangle is generated
    exactly once: under the (degree, id) total order every triangle's
    oriented form is a DAG with a unique source of out-degree 2, the
    wedge join enumerates that source's out-pairs ordered by the same
    total order, and the closing edge carries exactly the matching
    direction. The count is orientation-invariant, so the id-ordered
    SQL oracle stays the twin; what changes is the work bound — wedge
    generation is O(m^{3/2}) instead of O(Σ d(v)²), which is the
    difference between a bounded and an exploding plan when one hot
    part sits in every basket. The per-order pair expansion is bounded
    by basket size (k·(k−1)/2 per order). Counts are integers: nothing
    to round, hash-exact by construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        copurchase_pairs(li)
        .select("u", "v")
        .distinct()
        .persist()
    )
    n_edges = edges.count()
    n_nodes = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .distinct()
        .count()
    )
    oriented = orient_edges_by_degree(edges).persist()
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    wedge = (F.col("e1.src") == F.col("e2.src")) & (
        (F.col("e1.dst_d") < F.col("e2.dst_d"))
        | (
            (F.col("e1.dst_d") == F.col("e2.dst_d"))
            & (F.col("e1.dst") < F.col("e2.dst"))
        )
    )
    tri = (
        e1.join(e2, wedge)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .count()
    )
    spark_df = spark.createDataFrame(
        [(n_edges, n_nodes, tri)], "n_edges long, n_nodes long, n_triangles long"
    )
    oriented.unpersist()
    edges.unpersist()
    return spark_df


@query(
    "item_item_cosine_recommend",
    oracle="""
    WITH basket_all AS (
      SELECT o.o_custkey AS cust, l.l_partkey AS item,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, l.l_partkey
    ), basket AS (
      SELECT cust, item, c FROM (
        SELECT b.*, count(*) OVER (PARTITION BY cust) AS bsz
        FROM basket_all b
      ) WHERE bsz <= 200
    ), norms AS (
      SELECT item, CAST(SUM(c * c) AS BIGINT) AS n2 FROM basket GROUP BY item
    ), dots AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dot,
             CAST(count(*) AS BIGINT) AS n_users
      FROM basket a JOIN basket b
        ON a.cust = b.cust AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT item_a, item_b, dot, n_users,
           round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                                        * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
             AS cosine
    FROM dots
    JOIN norms na ON na.item = dots.item_a
    JOIN norms nb ON nb.item = dots.item_b
    WHERE n_users >= 3
    ORDER BY cosine DESC, item_a, item_b
    LIMIT 50
    """,
    tags=("recommendation", "cosine", "co-occurrence"),
)
def item_item_cosine_recommend(
    spark: SparkSession, sf_dir: str, max_basket: int = 200
) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between
    parts over the implicit customer×part purchase-count matrix, top
    50 pairs with ≥3 shared customers.

    Dot products and squared norms are integer sums (exact,
    order-free); IEEE ``sqrt`` is correctly rounded by spec, so the
    one cosine expression is deterministic across engines — no decimal
    staging needed. The pair generation joins baskets on the customer
    key, so candidate work is Σ basketᵢ² — bounded by per-customer
    basket size; the power-user cap (:func:`cap_power_users`,
    ``max_basket`` distinct items, mirrored in the oracle's windowed
    ``bsz <= 200`` CTE) drops Zipfian hot customers before pairing so
    one hot key can't blow the pair stage. Support pruning
    (n_users ≥ 3) happens before the norm join, and the norm side
    broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    basket = cap_power_users(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("item")
        )
        .agg(F.count("*").alias("c")),
        max_basket,
    ).persist()
    norms = basket.groupBy("item").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    a = basket.alias("a")
    b = basket.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(
            F.sum(F.col("a.c") * F.col("b.c")).alias("dot"),
            F.count("*").alias("n_users"),
        )
        .where(F.col("n_users") >= 3)
    )
    out = (
        dots.join(
            F.broadcast(norms.select(F.col("item").alias("item_a"), F.col("n2").alias("_na"))),
            "item_a",
        )
        .join(
            F.broadcast(norms.select(F.col("item").alias("item_b"), F.col("n2").alias("_nb"))),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "dot",
            "n_users",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("_na").cast("double"))
                    * F.sqrt(F.col("_nb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "item_a", "item_b")
        .limit(50)
    )
    return out


@query(
    "ewma_user_value",
    oracle="""
    WITH lagged AS (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn,
             lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v1,
             lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v2,
             lag(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v3,
             lag(value, 4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v4,
             lag(value, 5) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v5,
             lag(value, 6) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v6,
             lag(value, 7) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v7
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           round(CAST(
               CAST(round(value, 6) AS DECIMAL(20,6)) * CAST(1.0 AS DECIMAL(8,7))
             + coalesce(CAST(round(v1, 6) AS DECIMAL(20,6)), 0) * CAST(0.5 AS DECIMAL(8,7))
             + coalesce(CAST(round(v2, 6) AS DECIMAL(20,6)), 0) * CAST(0.25 AS DECIMAL(8,7))
             + coalesce(CAST(round(v3, 6) AS DECIMAL(20,6)), 0) * CAST(0.125 AS DECIMAL(8,7))
             + coalesce(CAST(round(v4, 6) AS DECIMAL(20,6)), 0) * CAST(0.0625 AS DECIMAL(8,7))
             + coalesce(CAST(round(v5, 6) AS DECIMAL(20,6)), 0) * CAST(0.03125 AS DECIMAL(8,7))
             + coalesce(CAST(round(v6, 6) AS DECIMAL(20,6)), 0) * CAST(0.015625 AS DECIMAL(8,7))
             + coalesce(CAST(round(v7, 6) AS DECIMAL(20,6)), 0) * CAST(0.0078125 AS DECIMAL(8,7))
             AS DOUBLE)
             / CAST(
                 CAST(1.0 AS DECIMAL(8,7))
               + CASE WHEN v1 IS NULL THEN 0 ELSE CAST(0.5 AS DECIMAL(8,7)) END
               + CASE WHEN v2 IS NULL THEN 0 ELSE CAST(0.25 AS DECIMAL(8,7)) END
               + CASE WHEN v3 IS NULL THEN 0 ELSE CAST(0.125 AS DECIMAL(8,7)) END
               + CASE WHEN v4 IS NULL THEN 0 ELSE CAST(0.0625 AS DECIMAL(8,7)) END
               + CASE WHEN v5 IS NULL THEN 0 ELSE CAST(0.03125 AS DECIMAL(8,7)) END
               + CASE WHEN v6 IS NULL THEN 0 ELSE CAST(0.015625 AS DECIMAL(8,7)) END
               + CASE WHEN v7 IS NULL THEN 0 ELSE CAST(0.0078125 AS DECIMAL(8,7)) END
               AS DOUBLE),
           6) AS ewma_value
    FROM lagged WHERE rn = 1
    """,
    tags=("timeseries", "ewma", "window"),
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 1/2) of each user's
    last 8 purchase values — the smoothing primitive behind activity
    scores and anomaly baselines.

    A window SUM over doubles is association-order-dependent (segment
    trees vs sequential accumulation differ between engines), so the
    trailing window is unrolled into explicit ``lag`` terms: weights
    ½ᵏ are exact 7-decimal constants, each product is exact decimal
    arithmetic, and the normalizing mass adapts to series shorter
    than 8 via the same NULL pattern — one double division at the
    end. Single window pass partitioned by user (no global sort); the
    8-term unroll is fixed-depth regardless of history length, which
    is what makes trailing-EWMA cheap where full-history recursion
    would need a stateful scan (``applyInPandasWithState`` covers the
    streaming variant in streaming/windows.py).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    asc = W.partitionBy("user_id").orderBy("ts", "event_id")
    desc = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    lagged = ev.select(
        "user_id",
        F.row_number().over(desc).alias("rn"),
        F.col("value").alias("v0"),
        *[F.lag("value", k).over(asc).alias(f"v{k}") for k in range(1, 8)],
    ).where(F.col("rn") == 1)
    weights = [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125]
    num = None
    den = None
    for k, wt in enumerate(weights):
        col = F.col(f"v{k}")
        wdec = F.lit(wt).cast("decimal(8,7)")
        term = F.coalesce(F.round(col, 6).cast("decimal(20,6)"), F.lit(0)) * wdec
        mass = (
            wdec
            if k == 0
            else F.when(col.isNull(), F.lit(0)).otherwise(wdec)
        )
        num = term if num is None else num + term
        den = mass if den is None else den + mass
    return lagged.select(
        "user_id",
        F.round(num.cast("double") / den.cast("double"), 6).alias("ewma_value"),
    )


@query(
    "kcore_peel_copurchase",
    oracle=f"""
    WITH {LI_CAPPED_CTE}, pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), d0 AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
      ) GROUP BY node
    ), k1 AS (
      SELECT node FROM d0 WHERE deg >= 3
    ), e1 AS (
      SELECT p.u, p.v FROM pairs p
      JOIN k1 a ON p.u = a.node JOIN k1 b ON p.v = b.node
    ), d1 AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1
      ) GROUP BY node
    ), k2 AS (
      SELECT node FROM d1 WHERE deg >= 3
    ), e2 AS (
      SELECT p.u, p.v FROM e1 p
      JOIN k2 a ON p.u = a.node JOIN k2 b ON p.v = b.node
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2
    ) GROUP BY node
    """,
    tags=("graph", "kcore"),
)
def kcore_peel_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round 3-core peel of the part co-purchase graph (Batagelj &
    Zaveršnik's peeling step, fixed depth so the round count is
    engine-independent at any SF): drop nodes of degree < 3, restrict
    edges to survivors, repeat, report surviving degrees. Each round
    is one degree aggregate (map-side combined) + two semi-join edge
    filters — no all-pairs stage; full-core extraction iterates the
    identical round to fixpoint with a convergence count, exactly like
    the connected-components loop.

    Edges come from the basket-capped :func:`copurchase_pairs`
    builder (cap mirrored in the oracle's windowed ``bsz <=
    1000`` CTE), so one Zipfian hot basket cannot blow the pair
    stage."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li).select("u", "v").distinct()
    for _ in range(2):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= 3).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


@query(
    "bfs_hops_copurchase",
    oracle=f"""
    WITH RECURSIVE {LI_CAPPED_CTE}, e1 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u AS a, v AS b FROM e1 UNION ALL SELECT v, u FROM e1
    ), walk(node, hops) AS (
        SELECT (SELECT MIN(a) FROM e), 0
      UNION
        SELECT e.b, w.hops + 1
        FROM walk w JOIN e ON e.a = w.node
        WHERE w.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops
    FROM walk GROUP BY node
    """,
    tags=("graph", "bfs", "shortest-path"),
)
def bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop-distance (3-level BFS) from the smallest part id
    over the co-purchase graph — the reachability/neighborhood query
    behind \"related products within N hops\". Frontier expansion with
    visited-set anti-join pruning keeps per-level work O(boundary
    edges) where the oracle's recursive CTE re-derives nodes at every
    depth and MIN-aggregates after; integer hop labels make the whole
    traversal hash-comparable.

    Edges come from the basket-capped :func:`copurchase_pairs`
    builder (cap mirrored in the oracle's windowed ``bsz <=
    1000`` CTE), so one Zipfian hot basket cannot blow the pair
    stage."""
    from .operators.graph import bfs_hops

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li).select("u", "v").distinct()
    out = bfs_hops(edges, src="u", dst="v", max_hops=3)
    return out.select("node", F.col("hops").cast("int").alias("hops"))


@query(
    "bellman_ford_cheapest_route",
    oracle=f"""
    WITH {LI_CAPPED_CTE}, pc AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), e1 AS (
      SELECT u, v, 1 + 1000 // c AS w FROM pc
    ), e AS (
      SELECT u AS a, v AS b, w FROM e1 UNION ALL SELECT v, u, w FROM e1
    ), d0 AS (
      SELECT (SELECT MIN(a) FROM e) AS node, CAST(0 AS BIGINT) AS cost
    ), d1 AS (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT e.b AS node, d.cost + e.w AS cost
        FROM e JOIN d0 d ON e.a = d.node
        UNION ALL SELECT node, cost FROM d0
      ) GROUP BY node
    ), d2 AS (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT e.b AS node, d.cost + e.w AS cost
        FROM e JOIN d1 d ON e.a = d.node
        UNION ALL SELECT node, cost FROM d1
      ) GROUP BY node
    ), d3 AS (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT e.b AS node, d.cost + e.w AS cost
        FROM e JOIN d2 d ON e.a = d.node
        UNION ALL SELECT node, cost FROM d2
      ) GROUP BY node
    )
    SELECT node, cost FROM d3
    """,
    tags=("graph", "shortest-path", "weighted"),
)
def bellman_ford_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted cheapest-path costs (3-round Bellman-Ford) from the
    smallest part over the co-purchase graph, edge weight inversely
    tied to co-purchase count (strong associations are cheap to
    traverse) — BFS's weighted sibling for \"association distance\"
    analytics. Per round: relax ALL edges in one join + one min
    aggregate (map-side combinable); integer weights via exact integer
    division keep every tentative cost hash-exact against the
    unrolled per-round CTE oracle.

    Edges come from the basket-capped :func:`copurchase_pairs`
    builder (cap mirrored in the oracle's windowed ``bsz <=
    1000`` CTE), so one Zipfian hot basket cannot blow the pair
    stage."""
    from .operators.graph import bellman_ford

    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .select(
            "u", "v", (F.lit(1) + F.floor(F.lit(1000) / F.col("c"))).alias("w")
        )
    )
    return bellman_ford(edges, src="u", dst="v", weight="w", rounds=3)


@query(
    "association_rules_copurchase",
    oracle=f"""
    WITH {LI_CAPPED_CTE}, n AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem
    ), item AS (
      SELECT l_partkey AS it, COUNT(DISTINCT l_orderkey) AS c
      FROM lineitem GROUP BY 1
    ), pc AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             COUNT(DISTINCT a.l_orderkey) AS c_uv
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2
    ), rules AS (
      SELECT u AS antecedent, v AS consequent, c_uv FROM pc
      UNION ALL
      SELECT v, u, c_uv FROM pc
    )
    SELECT r.antecedent, r.consequent, r.c_uv AS support_count,
           round(r.c_uv / ia.c, 6) AS confidence,
           round((r.c_uv * n.n_orders) / (ia.c * ic.c), 6) AS lift
    FROM rules r
    JOIN item ia ON ia.it = r.antecedent
    JOIN item ic ON ic.it = r.consequent
    CROSS JOIN n
    """,
    tags=("mining", "association-rules"),
)
def association_rules_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (Agrawal et al. 1993) from order baskets:
    both directions of every 2-itemset with support ≥ 2, scored with
    confidence and lift from integer order counts (exact ratios on a
    fixed double expression → hash-stable). The support filter runs
    INSIDE the pair aggregate (HAVING), so low-support pairs die
    before the item-stats join; item counts broadcast. This is the
    rule-extraction tail of frequent_part_pairs, not a second basket
    scan shape.

    Edges come from the basket-capped :func:`copurchase_pairs`
    builder (cap mirrored in the oracle's windowed ``bsz <=
    1000`` CTE), so one Zipfian hot basket cannot blow the pair
    stage."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = li.groupBy(F.col("l_partkey").alias("it")).agg(
        F.countDistinct("l_orderkey").alias("c")
    )
    pc = (
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.countDistinct("o").alias("c_uv"))
        .where(F.col("c_uv") >= 2)
    )
    rules = pc.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "c_uv"
    ).unionByName(
        pc.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "c_uv"
        )
    )
    ia = item.select(F.col("it").alias("antecedent"), F.col("c").alias("_ca"))
    ic = item.select(F.col("it").alias("consequent"), F.col("c").alias("_cc"))
    return (
        rules.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("c_uv").alias("support_count"),
            F.round(F.col("c_uv") / F.col("_ca"), 6).alias("confidence"),
            F.round(
                (F.col("c_uv") * F.col("n_orders"))
                / (F.col("_ca") * F.col("_cc")),
                6,
            ).alias("lift"),
        )
    )


def _lpa_oracle(rounds: int = 2) -> str:
    """Unrolled synchronous-LPA oracle: per round, a neighbor-label
    count CTE + a deterministic argmax CTE."""
    parts = [
        f"""WITH {LI_CAPPED_CTE}, e1 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u AS a, v AS b FROM e1 UNION ALL SELECT v, u FROM e1
    ), l0 AS (
      SELECT DISTINCT a AS node, a AS label FROM e
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", c{r} AS (
      SELECT e.a AS node, l.label, COUNT(*) AS c
      FROM e JOIN l{r - 1} l ON l.node = e.b
      GROUP BY e.a, l.label
    ), l{r} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(node) AS min_node, MAX(node) AS max_node
    FROM l{rounds} GROUP BY label"""
    )
    return "".join(parts)


@query(
    "label_propagation_communities",
    oracle=_lpa_oracle(2),
    tags=("graph", "community-detection"),
)
def label_propagation_communities_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community census of the part co-purchase graph via 2-round
    deterministic synchronous label propagation (Raghavan et al. 2007
    with a (count DESC, label ASC) tie rule replacing the original's
    coin flips): the majority-vote sibling of the connected-components dedup step —
    where CC's min-label propagation merges through ANY touching edge,
    LPA weighs neighbors by count, so sparse bridges lose votes
    against dense neighborhoods (with the deterministic tie rule,
    tie-heavy regions still coalesce by min id). Whole trajectory
    hash-checked against an unrolled per-round CTE oracle.

    Edges come from the basket-capped :func:`copurchase_pairs`
    builder (cap mirrored in the oracle's windowed ``bsz <=
    1000`` CTE), so one Zipfian hot basket cannot blow the pair
    stage."""
    from .operators.graph import label_propagation_communities

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li).select("u", "v").distinct()
    with sql_conf(spark, **_GRAPH_SHUFFLE):
        labels = label_propagation_communities(edges, src="u", dst="v", rounds=2)
        return labels.groupBy(F.col("label").alias("community")).agg(
            F.count("*").alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )


def _pagerank_oracle(rounds: int = 3) -> str:
    """Unrolled integer-microunit PageRank rounds (twin of
    ``operators.graph.pagerank_integer``)."""
    parts = [
        f"""
    WITH {LI_CAPPED_CTE}, e1 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u AS a, v AS b FROM e1 UNION ALL SELECT v, u FROM e1
    ), deg AS (
      SELECT a, COUNT(*) AS c FROM e GROUP BY a
    ), r0 AS (
      SELECT a AS node, CAST(1000000000000 AS BIGINT) AS r FROM deg
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", r{i} AS (
      SELECT e.b AS node,
             CAST(150000000000 + SUM((85 * r.r) // (100 * d.c)) AS BIGINT) AS r
      FROM e JOIN r{i - 1} r ON e.a = r.node JOIN deg d ON d.a = e.a
      GROUP BY e.b
    )"""
        )
    parts.append(
        f"""
    SELECT node, r AS rank_micro FROM r{rounds}"""
    )
    return "".join(parts)


@query(
    "pagerank_copurchase",
    oracle=_pagerank_oracle(3),
    tags=("graph", "pagerank", "centrality"),
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-importance centrality: 3 damped PageRank rounds over the
    basket-capped co-purchase graph, in exact integer microunits so
    the whole trajectory hash-matches the unrolled CTE oracle (float
    PageRank's per-node contribution sums are order-dependent; the
    integer grid makes them commutative). Completes the graph family
    next to BFS/Bellman-Ford/k-core/LPA/triangles with the
    random-walk centrality every co-view/co-purchase ranker uses."""
    from .operators.graph import pagerank_integer

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li).select("u", "v").distinct()
    with sql_conf(spark, **_GRAPH_SHUFFLE):
        ranks = pagerank_integer(edges, rounds=3)
        return ranks.select("node", F.col("r").alias("rank_micro"))


def _pagerank_weighted_oracle(rounds: int = 3) -> str:
    """Unrolled edge-weighted integer PageRank (twin of
    ``operators.graph.pagerank_weighted``; weights = basket-capped
    co-purchase multiplicities clamped to 100)."""
    parts = [
        f"""
    WITH {LI_CAPPED_CTE}, e1 AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), e AS (
      SELECT u AS a, v AS b, LEAST(w, 100) AS w FROM e1
      UNION ALL SELECT v, u, LEAST(w, 100) FROM e1
    ), deg AS (
      SELECT a, SUM(w) AS c FROM e GROUP BY a
    ), r0 AS (
      SELECT a AS node, CAST(1000000000000 AS BIGINT) AS r FROM deg
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", r{i} AS (
      SELECT e.b AS node,
             CAST(150000000000
                  + SUM((85 * r.r * e.w) // (100 * d.c)) AS BIGINT) AS r
      FROM e JOIN r{i - 1} r ON e.a = r.node JOIN deg d ON d.a = e.a
      GROUP BY e.b
    )"""
        )
    parts.append(f"""
    SELECT node, r AS rank_micro FROM r{rounds}""")
    return "".join(parts)


@query(
    "pagerank_weighted_copurchase",
    oracle=_pagerank_weighted_oracle(3),
    tags=("graph", "pagerank", "centrality", "weighted"),
)
def pagerank_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank over the capped co-purchase graph: an
    edge's weight is its basket multiplicity (clamped to 100 for both
    int64 headroom and bot-pair damping), so a pair bought together in
    40 baskets pulls 40× the walk mass of a one-off pairing — the
    co-view ranker's standard upgrade. Exact integer microunits end to
    end (``div`` on the grid, order-independent sums), so all 3 rounds
    hash-match the unrolled CTE oracle."""
    from .operators.graph import pagerank_weighted

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li).groupBy("u", "v").agg(
        F.count("*").alias("w")
    )
    with sql_conf(spark, **_GRAPH_SHUFFLE):
        ranks = pagerank_weighted(edges, rounds=3)
        return ranks.select("node", F.col("r").alias("rank_micro"))


def _pagerank_personalized_oracle(rounds: int = 3) -> str:
    """Unrolled personalized-restart integer PageRank (twin of
    ``operators.graph.pagerank_personalized``; seeds = co-purchase
    nodes ≡ 0 mod 50)."""
    parts = [
        f"""
    WITH {LI_CAPPED_CTE}, e1 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u AS a, v AS b FROM e1 UNION ALL SELECT v, u FROM e1
    ), deg AS (
      SELECT a, COUNT(*) AS c FROM e GROUP BY a
    ), seeds AS (
      SELECT DISTINCT a AS node FROM e WHERE a % 50 = 0
    ), r0 AS (
      SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM seeds
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", c{i} AS (
      SELECT e.b AS node, SUM((85 * r.r) // (100 * d.c)) AS c
      FROM e JOIN r{i - 1} r ON e.a = r.node JOIN deg d ON d.a = e.a
      GROUP BY e.b
    ), r{i} AS (
      SELECT COALESCE(c.node, s.node) AS node,
             CAST(CASE WHEN s.node IS NOT NULL
                       THEN 150000000000 ELSE 0 END
                  + COALESCE(c.c, 0) AS BIGINT) AS r
      FROM c{i} c FULL OUTER JOIN seeds s ON c.node = s.node
    )"""
        )
    parts.append(f"""
    SELECT node, r AS rank_micro FROM r{rounds}""")
    return "".join(parts)


@query(
    "pagerank_personalized_copurchase",
    oracle=_pagerank_personalized_oracle(3),
    tags=("graph", "pagerank", "centrality", "personalized"),
)
def pagerank_personalized_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the 15% restart mass
    teleports to a seed product set (part keys ≡ 0 mod 50 — a stand-in
    for "this brand's catalog") instead of uniformly, giving
    importance RELATIVE to the seeds — the similar-items walk behind
    every co-purchase recommender (Haveliwala 2002). Mass starts on
    the seeds, so round k's support is exactly the k-hop
    neighborhood; non-seed ranks are pure walk-through traffic.
    Integer microunits per `pagerank_integer`'s contract keep all 3
    rounds hash-exact against the unrolled CTE oracle."""
    from .operators.graph import pagerank_personalized

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li).select("u", "v").distinct()
    nodes = edges.select(F.col("u").alias("node")).unionByName(
        edges.select(F.col("v").alias("node"))
    ).distinct()
    seeds = nodes.where(F.col("node") % 50 == 0)
    with sql_conf(spark, **_GRAPH_SHUFFLE):
        ranks = pagerank_personalized(edges, seeds, rounds=3)
        return ranks.select("node", F.col("r").alias("rank_micro"))


def _als_solve_sql(pre: str, lam: str = "0.25") -> str:
    """Closed-form 2x2 ridge solve shared by both ALS half-sweeps:
    given per-key sums a=Σv1², b=Σv1v2, d=Σv2², e=Σv1r, f=Σv2r from
    CTE ``pre``, emit x=(V'V+λI)⁻¹V'r rounded to the 1e-6 grid."""
    det = f"((a + {lam}) * (d + {lam}) - b * b)"
    return f"""
      SELECT key, n,
             round(((d + {lam}) * e - b * f) / {det}, 6) AS x1,
             round(((a + {lam}) * f - b * e) / {det}, 6) AS x2
      FROM {pre}
    """


@query(
    "als_factorization_sweep",
    oracle="""
    WITH ratings AS (
      SELECT o.o_custkey AS u, l.l_partkey AS p,
             CAST(l.l_quantity AS BIGINT) AS r
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), rated AS (
      SELECT u, p, r,
             1.0 AS v1, ((p % 7) - 3) / 2.0 AS v2
      FROM ratings
    ), upre AS (
      SELECT u AS key, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(ROUND(v1 * v1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS a,
        CAST(SUM(CAST(ROUND(v1 * v2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS b,
        CAST(SUM(CAST(ROUND(v2 * v2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS d,
        CAST(SUM(CAST(ROUND(v1 * r, 6) AS DECIMAL(38,6))) AS DOUBLE) AS e,
        CAST(SUM(CAST(ROUND(v2 * r, 6) AS DECIMAL(38,6))) AS DOUBLE) AS f
      FROM rated GROUP BY u
    ), ufac AS (
    """ + _als_solve_sql("upre") + """
    ), joined AS (
      SELECT rt.p, rt.r, uf.x1 AS u1, uf.x2 AS u2
      FROM ratings rt JOIN ufac uf ON rt.u = uf.key
    ), ipre AS (
      SELECT p AS key, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(ROUND(u1 * u1, 12) AS DECIMAL(38,12))) AS DOUBLE) AS a,
        CAST(SUM(CAST(ROUND(u1 * u2, 12) AS DECIMAL(38,12))) AS DOUBLE) AS b,
        CAST(SUM(CAST(ROUND(u2 * u2, 12) AS DECIMAL(38,12))) AS DOUBLE) AS d,
        CAST(SUM(CAST(ROUND(u1 * r, 12) AS DECIMAL(38,12))) AS DOUBLE) AS e,
        CAST(SUM(CAST(ROUND(u2 * r, 12) AS DECIMAL(38,12))) AS DOUBLE) AS f
      FROM joined GROUP BY p
    ), ifac AS (
    """ + _als_solve_sql("ipre") + """
    )
    SELECT key AS part_id, n AS n_ratings, x1 AS w1, x2 AS w2
    FROM ifac WHERE key < 300
    ORDER BY part_id
    """,
    tags=("recommender", "als", "matrix-factorization", "model-training"),
)
def als_factorization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full ALS sweep (k=2) of collaborative filtering over the
    customer x part quantity matrix, hash-exact across engines — the
    matrix-factorization companion to the neighborhood recommender
    (``item_item_cosine_recommend``). The trick that keeps an
    iterative float algorithm oracle-checkable: each half-sweep's
    normal-equation sums run as exact decimal aggregation (the
    deterministic item init lives on a 0.5 grid, so every product is
    on a fixed decimal grid — no float-sum order dependence), the 2x2
    ridge solve ``x = (V'V + λI)⁻¹ V'r`` is a handful of IEEE ops on
    identical operands, and factors are ROUNDED BACK TO THE 1e-6 GRID
    between half-sweeps so the item update's products land on the
    1e-12 grid and decimal-sum exactly again. Regrid-between-sweeps
    generalizes to any fixed number of ALS iterations.
    Scale: the classic two-shuffle ALS shape — one hash aggregate per
    half-sweep keyed on user then item (map-side combinable), one
    broadcast-or-shuffle join to carry factors back to the ratings;
    no driver-side matrix ever materializes (k=2 factors are columns,
    not a collected model)."""
    lam = F.lit(0.25)

    def solve(pre):
        det = (F.col("a") + lam) * (F.col("d") + lam) - F.col("b") * F.col("b")
        return pre.select(
            "key",
            "n",
            F.round(
                ((F.col("d") + lam) * F.col("e") - F.col("b") * F.col("f"))
                / det,
                6,
            ).alias("x1"),
            F.round(
                ((F.col("a") + lam) * F.col("f") - F.col("b") * F.col("e"))
                / det,
                6,
            ).alias("x2"),
        )

    def pre(df, key, v1, v2, r, scale):
        def dsum(col, alias):
            return (
                F.sum(F.round(col, scale).cast(f"decimal(38,{scale})"))
                .cast("double")
                .alias(alias)
            )

        return df.groupBy(F.col(key).alias("key")).agg(
            F.count("*").alias("n"),
            dsum(v1 * v1, "a"),
            dsum(v1 * v2, "b"),
            dsum(v2 * v2, "d"),
            dsum(v1 * r, "e"),
            dsum(v2 * r, "f"),
        )

    # r15 negative result at scale: scale_out on the projected lineitem
    # won the sf0.1 interleaved A/B (2.85 -> 2.33 s, 4/4 — the 3-split
    # scan pinned the ratings join + decimal partials to 3 tasks) but
    # LOST the sf1 one (old 3.82 vs new 4.60 best, old 2/3): with the
    # input already 20 files wide, repartitioning the full fact table
    # ships ~100 MB for marginal width. Bytes outrank local latency
    # (guide §2.3, the bfs pre-partition precedent) — REVERTED.
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("p"),
        F.col("l_quantity").cast("long").alias("r"),
    )
    rated = ratings.select(
        "u", "p", "r",
        F.lit(1.0).alias("v1"),
        ((F.col("p") % 7 - 3) / 2.0).alias("v2"),
    )
    ufac = solve(
        pre(rated, "u", F.col("v1"), F.col("v2"), F.col("r"), 6)
    ).select(F.col("key").alias("u"), F.col("x1").alias("u1"), F.col("x2").alias("u2"))
    joined = ratings.join(ufac, "u").select(
        "p", "r", F.col("u1"), F.col("u2")
    )
    ifac = solve(
        pre(joined, "p", F.col("u1"), F.col("u2"), F.col("r"), 12)
    )
    return (
        ifac.where(F.col("key") < 300)
        .select(
            F.col("key").alias("part_id"),
            F.col("n").alias("n_ratings"),
            F.col("x1").alias("w1"),
            F.col("x2").alias("w2"),
        )
        .orderBy("part_id")
    )


@query(
    "link_prediction_jaccard",
    oracle=f"""
    WITH li_year AS (
      SELECT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
    ), li_capped AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS bsz
        FROM li_year
      ) WHERE bsz <= {COPURCHASE_MAX_BASKET}
    ), pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), adj0 AS (
      SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
    ), deg0 AS (
      SELECT u AS node, COUNT(*) AS d FROM adj0 GROUP BY u
    ), keep AS (
      SELECT node FROM deg0 WHERE d <= 1000
    ), adj AS (
      SELECT a.u, a.v FROM adj0 a
      JOIN keep k1 ON k1.node = a.u
      JOIN keep k2 ON k2.node = a.v
    ), degk AS (
      SELECT u AS node, COUNT(*) AS d FROM adj GROUP BY u
    ), cand AS (
      SELECT a1.u AS a, a2.u AS b, COUNT(*) AS cn
      FROM adj a1 JOIN adj a2 ON a1.v = a2.v AND a1.u < a2.u
      GROUP BY a1.u, a2.u
    ), nonedge AS (
      SELECT c.a, c.b, c.cn FROM cand c
      LEFT JOIN pairs p ON p.u = c.a AND p.v = c.b
      WHERE p.u IS NULL
    )
    SELECT CAST(n.a AS BIGINT) AS part_a, CAST(n.b AS BIGINT) AS part_b,
           CAST(n.cn AS BIGINT) AS common_neighbors,
           CAST(da.d AS BIGINT) AS deg_a, CAST(db.d AS BIGINT) AS deg_b,
           round(CAST(n.cn AS DOUBLE) / (da.d + db.d - n.cn), 6) AS jaccard
    FROM nonedge n
    JOIN degk da ON da.node = n.a
    JOIN degk db ON db.node = n.b
    ORDER BY n.cn DESC,
             CAST(n.cn AS DOUBLE) / (da.d + db.d - n.cn) DESC,
             part_a, part_b
    LIMIT 20
    """,
    tags=("graph", "link-prediction", "recommendation"),
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood link prediction (Liben-Nowell & Kleinberg): score
    NON-adjacent part pairs of the co-purchase graph by common-neighbor
    count and Jaccard overlap of their neighborhoods — the classic
    \"customers who bought these also bought\" candidate generator. The
    graph is the capped copurchase_pairs edge set; hub nodes with
    degree > 1000 are removed BEFORE the wedge join (mirrored in the
    oracle), which bounds the common-neighbor fan-out at cap² per
    intermediate — the wedge join is the Σ deg(z)² stage that a single
    celebrity node would otherwise blow up at 100 TB, and hubs carry
    asymptotically no discriminative signal (every pair shares them).
    Common-neighbor counts and subgraph degrees are exact integers; the
    Jaccard cn/(deg_a+deg_b−cn) is one terminal division, so the
    (cn, jaccard, a, b)-ordered top-20 is engine-identical.
    The graph is scoped to ONE ship-year (how production recommenders
    actually generate candidates — a trailing window, not all history):
    beyond freshness, this is the second scale guard — the wedge stage
    costs Σ deg(z)² and degree grows with the co-purchase history
    retained, so the window keeps candidate generation proportional to
    recent activity rather than to the total archive (measured at
    sf0.1: 43 s all-history → ~3 s one-year, same plan).
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    pairs = copurchase_pairs(li).select("u", "v").distinct()
    adj0 = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg0 = adj0.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    keep = deg0.where(F.col("d") <= 1000).select("node")
    adj = (
        adj0.join(keep.withColumnRenamed("node", "u"), "u")
        .join(keep.withColumnRenamed("node", "v"), "v")
        .select("u", "v")
    )
    degk = adj.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    cand = (
        a1.join(
            a2,
            (F.col("a1.v") == F.col("a2.v"))
            & (F.col("a1.u") < F.col("a2.u")),
        )
        .groupBy(F.col("a1.u").alias("a"), F.col("a2.u").alias("b"))
        .agg(F.count("*").alias("cn"))
    )
    nonedge = cand.join(
        pairs,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
        "left_anti",
    )
    da = degk.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    db = degk.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    scored = nonedge.join(da, "a").join(db, "b")
    jac = F.col("cn").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("cn")
    )
    return (
        scored.orderBy(
            F.col("cn").desc(), jac.desc(), F.col("a"), F.col("b")
        )
        .limit(20)
        .select(
            F.col("a").cast("long").alias("part_a"),
            F.col("b").cast("long").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("deg_a").cast("long"),
            F.col("deg_b").cast("long"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query(
    "sequential_patterns_prefixspan",
    oracle="""
    WITH ranked AS (
      SELECT user_id, substr(event_type, 1, 1) AS ch,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), pos AS (
      SELECT user_id, ch, rn FROM ranked WHERE rn <= 500
    ), mn AS (
      SELECT user_id, ch, MIN(rn) AS mn, MAX(rn) AS mx
      FROM pos GROUP BY user_id, ch
    ), pair_user AS (
      SELECT a.user_id, a.ch AS ca, b.ch AS cb
      FROM mn a JOIN mn b ON a.user_id = b.user_id
      WHERE a.mn < b.mx
    ), pair_support AS (
      SELECT ca, cb, COUNT(*) AS support FROM pair_user GROUP BY ca, cb
    ), m2 AS (
      SELECT p.user_id, a.ch AS ca, p.ch AS cb, MIN(p.rn) AS m2
      FROM pos p JOIN mn a ON a.user_id = p.user_id
      WHERE p.rn > a.mn
      GROUP BY p.user_id, a.ch, p.ch
    ), tri_user AS (
      SELECT m.user_id, m.ca, m.cb, c.ch AS cc
      FROM m2 m JOIN mn c ON c.user_id = m.user_id
      WHERE m.m2 < c.mx
    ), tri_support AS (
      SELECT ca, cb, cc, COUNT(*) AS support
      FROM tri_user GROUP BY ca, cb, cc
    ), unioned AS (
      SELECT ca || '>' || cb AS pattern, 2 AS length, support
      FROM pair_support
      UNION ALL
      SELECT ca || '>' || cb || '>' || cc, 3, support FROM tri_support
    )
    SELECT pattern, CAST(length AS INT) AS length,
           CAST(support AS BIGINT) AS support
    FROM unioned
    ORDER BY support DESC, pattern
    LIMIT 15
    """,
    tags=("mining", "sequential-patterns", "events"),
)
def sequential_patterns_prefixspan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequential-pattern mining in the PrefixSpan style (Pei et al.):
    support counts of length-2 and length-3 NON-contiguous event-type
    subsequences across per-user journeys — \"how many users ever did
    a … then b … then c\". Instead of materializing subsequence
    candidates per user (exponential), each user's journey is reduced
    to per-type position statistics: (a,b) is supported iff
    min_pos(a) < max_pos(b), and (a,b,c) iff the earliest b AFTER the
    first a precedes the last c — the m2 frame (min pos of b beyond
    min_pos(a)) is the one data-sized intermediate, bounded at
    5 × journey length per user (journeys capped at 500 events,
    mirrored in the oracle, the same cap the CEP query uses). Every
    stage shuffles on user_id with map-side combine; supports are
    exact integer counts with a (support, pattern) tiebreak.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )
    pos = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .where(F.col("rn") <= 500)
        .select("user_id", "ch", "rn")
    )
    mn = pos.groupBy("user_id", "ch").agg(
        F.min("rn").alias("mn"), F.max("rn").alias("mx")
    )
    a = mn.select("user_id", F.col("ch").alias("ca"), "mn")
    b = mn.select("user_id", F.col("ch").alias("cb"), "mx")
    pair_support = (
        a.join(b, "user_id")
        .where(F.col("mn") < F.col("mx"))
        .groupBy("ca", "cb")
        .agg(F.count("*").alias("support"))
    )
    m2 = (
        pos.join(a, "user_id")
        .where(F.col("rn") > F.col("mn"))
        .groupBy("user_id", "ca", F.col("ch").alias("cb"))
        .agg(F.min("rn").alias("m2"))
    )
    c = mn.select("user_id", F.col("ch").alias("cc"), F.col("mx").alias("mxc"))
    tri_support = (
        m2.join(c, "user_id")
        .where(F.col("m2") < F.col("mxc"))
        .groupBy("ca", "cb", "cc")
        .agg(F.count("*").alias("support"))
    )
    unioned = pair_support.select(
        F.concat_ws(">", "ca", "cb").alias("pattern"),
        F.lit(2).cast("int").alias("length"),
        "support",
    ).unionByName(
        tri_support.select(
            F.concat_ws(">", "ca", "cb", "cc").alias("pattern"),
            F.lit(3).cast("int").alias("length"),
            "support",
        )
    )
    return (
        unioned.orderBy(F.col("support").desc(), "pattern")
        .limit(15)
        .select("pattern", "length", F.col("support").cast("long"))
    )


def _truss_round_sql(i: int) -> str:
    """One unrolled k-truss peel round: per-edge triangle support via
    the two-sided adjacency join, then the support >= k-2 filter
    (k = 4 -> threshold 2)."""
    return f""", adj{i} AS (
      SELECT u, v FROM e{i} UNION ALL SELECT v AS u, u AS v FROM e{i}
    ), sup{i + 1} AS (
      SELECT e.u, e.v, COUNT(*) AS sup
      FROM e{i} e
      JOIN adj{i} a ON a.u = e.u
      JOIN adj{i} b ON b.u = e.v AND b.v = a.v
      GROUP BY e.u, e.v
    ), e{i + 1} AS (
      SELECT u, v FROM sup{i + 1} WHERE sup >= 2
    )"""


@query(
    "ktruss_copurchase",
    oracle=f"""
    WITH li_year AS (
      SELECT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
    ), li_capped AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS bsz
        FROM li_year
      ) WHERE bsz <= {COPURCHASE_MAX_BASKET}
    ), e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li_capped a JOIN li_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ){_truss_round_sql(0)}{_truss_round_sql(1)}{_truss_round_sql(2)}
    SELECT CAST(4 AS INT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges_initial,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_after_round1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e2) AS n_after_round2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e3) AS n_after_round3,
           (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) FROM
              (SELECT u FROM e3 UNION ALL SELECT v FROM e3) t(u))
             AS n_nodes_final
    """,
    tags=("graph", "k-truss", "community"),
)
def ktruss_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (k=4, three bounded peel rounds — the
    protocol both engines run identically, like the bounded-horizon
    PageRank): repeatedly drop every edge that participates in fewer
    than k−2 = 2 triangles of the CURRENT edge set. The truss is the
    standard cohesive-subgraph refinement of k-core — edges survive
    only inside overlapping triangles, so it isolates genuinely dense
    co-purchase communities rather than hub stars. Per round the edge
    support is one two-sided adjacency join grouped per edge (the
    triangle-count shape, Σ deg² bounded by the one-year window + the
    basket cap), and each round's edge set is localCheckpointed so the
    lineage doesn't re-expand. Supports and edge counts are exact
    integers — the round-by-round census hash-matches the unrolled
    3-round CTE oracle.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    edges = copurchase_pairs(li).select("u", "v").distinct()
    counts = [edges.count()]
    cur = edges.localCheckpoint(eager=False)
    for _ in range(3):
        adj = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        a = adj.select(F.col("u").alias("eu"), F.col("v").alias("z"))
        b = adj.select(F.col("u").alias("ev"), F.col("v").alias("z2"))
        sup = (
            cur.join(a, F.col("u") == F.col("eu"))
            .join(b, (F.col("v") == F.col("ev")) & (F.col("z") == F.col("z2")))
            .groupBy("u", "v")
            .agg(F.count("*").alias("sup"))
        )
        cur = (
            sup.where(F.col("sup") >= 2)
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        counts.append(cur.count())
    nodes = cur.select("u").unionByName(
        cur.select(F.col("v").alias("u"))
    ).distinct()
    n_nodes = nodes.count()
    return spark.createDataFrame(
        [
            (
                4,
                counts[0],
                counts[1],
                counts[2],
                counts[3],
                n_nodes,
            )
        ],
        "k int, n_edges_initial long, n_after_round1 long,"
        " n_after_round2 long, n_after_round3 long, n_nodes_final long",
    )


@query(
    "apriori_triples_census",
    oracle=f"""
    WITH {LI_CAPPED_CTE}, items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM li_capped
    ), l1 AS (
      SELECT i, COUNT(*) AS sup FROM items GROUP BY i HAVING COUNT(*) >= 5
    ), items1 AS (
      SELECT t.o, t.i FROM items t JOIN l1 ON l1.i = t.i
    ), l2 AS (
      SELECT a.i AS u, b.i AS v, COUNT(*) AS sup
      FROM items1 a JOIN items1 b ON a.o = b.o AND a.i < b.i
      GROUP BY a.i, b.i HAVING COUNT(*) >= 2
    ), c3 AS (
      SELECT p.u AS a, p.v AS b, q.v AS c
      FROM l2 p JOIN l2 q ON p.u = q.u AND p.v < q.v
      JOIN l2 r ON r.u = p.v AND r.v = q.v
    ), l3 AS (
      SELECT c3.a, c3.b, c3.c, COUNT(*) AS sup
      FROM c3
      JOIN items x ON x.i = c3.a
      JOIN items y ON y.o = x.o AND y.i = c3.b
      JOIN items z ON z.o = x.o AND z.i = c3.c
      GROUP BY c3.a, c3.b, c3.c HAVING COUNT(*) >= 2
    ), top3 AS (
      SELECT a, b, c, sup FROM l3
      ORDER BY sup DESC, a, b, c LIMIT 1
    )
    SELECT (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) FROM items)
             AS n_baskets,
           (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) FROM items) AS n_items,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM l1) AS n_l1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM l2) AS n_l2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c3) AS n_c3,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM l3) AS n_l3,
           COALESCE((SELECT CAST(a AS BIGINT) FROM top3), -1) AS top_a,
           COALESCE((SELECT CAST(b AS BIGINT) FROM top3), -1) AS top_b,
           COALESCE((SELECT CAST(c AS BIGINT) FROM top3), -1) AS top_c,
           COALESCE((SELECT CAST(sup AS BIGINT) FROM top3), 0)
             AS top_support
    """,
    tags=("mining", "apriori", "frequent-itemsets"),
)
def apriori_triples_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori at level 3 (Agrawal & Srikant) — the anti-monotone
    prune that makes frequent-itemset mining tractable: L1 (items with
    support ≥ 5) shrinks the basket stream BEFORE the pair self-join,
    L2 (pairs ≥ 2) generates level-3 candidates by the classic
    prefix join L2⋈L2 PLUS the (b,c)∈L2 subset check, and only the
    surviving candidates are counted against baskets (three keyed
    joins against the candidate frame — at real scale a broadcast,
    since pruning keeps C3 tiny regardless of corpus size; this is the
    entire point of the algorithm). The per-level census plus the
    (support, keys)-tiebroken top triple are exact integers; sentinel
    −1/0 keeps the row hash-stable when no triple clears support.
    Pair work is bounded by the shared basket cap."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey")
    items = (
        li.select("l_orderkey", "l_partkey")
        .withColumn("_bsz", F.count("*").over(w))
        .where(F.col("_bsz") <= COPURCHASE_MAX_BASKET)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i"))
        .distinct()
        # 7 consumers (l1 chain, the l2 self-join's two sides, x/y/z in
        # the L3 count, stats) re-ran the window+distinct per subtree;
        # persist won the interleaved A/B that two stash A/Bs left in
        # the noise (best-of-4: 6.76 s recompute vs 5.21 s persisted,
        # persist ahead in every adjacent pair — r14 optimization #12).
        # MEMORY_AND_DISK default spills gracefully at cluster scale.
        .persist()
    )
    l1 = (
        items.groupBy("i")
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= 5)
    )
    items1 = items.join(l1.select("i"), "i").select("o", "i")
    a, b = items1.alias("a"), items1.alias("b")
    l2 = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.i") < F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("u"), F.col("b.i").alias("v"))
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    p = l2.select(F.col("u").alias("pa"), F.col("v").alias("pb"))
    q = l2.select(F.col("u").alias("qa"), F.col("v").alias("qc"))
    r = l2.select(F.col("u").alias("rb"), F.col("v").alias("rc"))
    c3 = (
        p.join(q, (F.col("pa") == F.col("qa")) & (F.col("pb") < F.col("qc")))
        .join(
            r,
            (F.col("rb") == F.col("pb")) & (F.col("rc") == F.col("qc")),
        )
        .select(
            F.col("pa").alias("ca"),
            F.col("pb").alias("cb"),
            F.col("qc").alias("cc"),
        )
    )
    x = items.select(F.col("o").alias("ox"), F.col("i").alias("ca"))
    y = items.select(F.col("o").alias("oy"), F.col("i").alias("yb"))
    z = items.select(F.col("o").alias("oz"), F.col("i").alias("zc"))
    l3 = (
        c3.join(x, "ca")
        .join(
            y,
            (F.col("oy") == F.col("ox")) & (F.col("yb") == F.col("cb")),
        )
        .join(
            z,
            (F.col("oz") == F.col("ox")) & (F.col("zc") == F.col("cc")),
        )
        .groupBy("ca", "cb", "cc")
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= 2)
    )
    top3 = l3.orderBy(F.col("sup").desc(), "ca", "cb", "cc").limit(1)
    stats = items.agg(
        F.countDistinct("o").alias("n_baskets"),
        F.countDistinct("i").alias("n_items"),
    )
    counts = (
        stats.crossJoin(F.broadcast(l1.agg(F.count("*").alias("n_l1"))))
        .crossJoin(F.broadcast(l2.agg(F.count("*").alias("n_l2"))))
        .crossJoin(F.broadcast(c3.agg(F.count("*").alias("n_c3"))))
        .crossJoin(F.broadcast(l3.agg(F.count("*").alias("n_l3"))))
        .crossJoin(
            F.broadcast(
                top3.agg(
                    F.coalesce(F.max("ca"), F.lit(-1)).alias("top_a"),
                    F.coalesce(F.max("cb"), F.lit(-1)).alias("top_b"),
                    F.coalesce(F.max("cc"), F.lit(-1)).alias("top_c"),
                    F.coalesce(F.max("sup"), F.lit(0)).alias("top_support"),
                )
            )
        )
    )
    return counts.select(
        F.col("n_baskets").cast("long"),
        F.col("n_items").cast("long"),
        F.col("n_l1").cast("long"),
        F.col("n_l2").cast("long"),
        F.col("n_c3").cast("long"),
        F.col("n_l3").cast("long"),
        F.col("top_a").cast("long"),
        F.col("top_b").cast("long"),
        F.col("top_c").cast("long"),
        F.col("top_support").cast("long"),
    )


@query(
    "recommender_hitrate_temporal",
    oracle=f"""
    WITH li_o AS (
      SELECT l.l_orderkey, l.l_partkey, o.o_custkey, o.o_orderdate
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), pre AS (
      SELECT * FROM li_o WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ), post AS (
      SELECT DISTINCT o_custkey, l_partkey FROM li_o
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    ), pre_capped AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS bsz
        FROM pre
      ) WHERE bsz <= {COPURCHASE_MAX_BASKET}
    ), co AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             COUNT(DISTINCT a.l_orderkey) AS c
      FROM pre_capped a JOIN pre_capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ), sym AS (
      SELECT u AS src, v AS dst, c FROM co
      UNION ALL SELECT v AS src, u AS dst, c FROM co
    ), top10 AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY c DESC, dst) AS rk
        FROM sym
      ) WHERE rk <= 10
    ), qitem AS (
      SELECT o_custkey, l_partkey AS q FROM (
        SELECT o_custkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, l_orderkey DESC,
                          l_partkey DESC) AS rk
        FROM pre
      ) WHERE rk = 1
    ), eval_users AS (
      SELECT q.o_custkey, q.q FROM qitem q
      WHERE q.o_custkey IN (SELECT o_custkey FROM post)
    ), hits AS (
      SELECT e.o_custkey,
             MAX(CASE WHEN p.l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM eval_users e
      LEFT JOIN top10 t ON t.src = e.q
      LEFT JOIN post p ON p.o_custkey = e.o_custkey
                      AND p.l_partkey = t.dst
      GROUP BY e.o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_users,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           round(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS hit_rate
    FROM hits
    """,
    tags=("recommendation", "evaluation", "temporal"),
)
def recommender_hitrate_temporal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hit-rate@10 with an honest TEMPORAL split — the offline
    recommender eval done right: the item-item co-occurrence model is
    trained ONLY on pre-1997 baskets, each eval customer's query item
    is their last pre-split purchase, and a hit means any of their
    actual POST-split purchases appears in the query item's top-10
    co-occurrence neighbors. No leakage: future baskets never touch
    the model. The top-10-per-item window is rank-limited per
    partition key (Spark's WindowGroupLimit pushes the cutoff
    map-side — each item forwards ≤10 neighbors into the shuffle),
    pair counting is basket-capped, and hit accounting is one
    left-join aggregate of integer flags — hash-exact.
    Scale: model ∝ co-pair counts (capped), eval ∝ customers; the
    per-item window never globally sorts."""
    from pyspark.sql.window import Window as W2

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cut = F.lit("1997-01-01").cast("timestamp")
    li_o = li.join(orders, li.l_orderkey == orders.o_orderkey)
    pre = li_o.where(F.col("o_orderdate") < cut)
    post = (
        li_o.where(F.col("o_orderdate") >= cut)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    co = (
        copurchase_pairs(pre.select("l_orderkey", "l_partkey"))
        .groupBy("u", "v")
        .agg(F.countDistinct("o").alias("c"))
    )
    sym = co.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "c"
    ).unionByName(
        co.select(F.col("v").alias("src"), F.col("u").alias("dst"), "c")
    )
    top10 = (
        sym.withColumn(
            "rk",
            F.row_number().over(
                W2.partitionBy("src").orderBy(F.col("c").desc(), "dst")
            ),
        )
        .where(F.col("rk") <= 10)
        .select("src", "dst")
    )
    qitem = (
        pre.withColumn(
            "rk",
            F.row_number().over(
                W2.partitionBy("o_custkey").orderBy(
                    F.col("o_orderdate").desc(),
                    F.col("l_orderkey").desc(),
                    F.col("l_partkey").desc(),
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("o_custkey", F.col("l_partkey").alias("q"))
    )
    eval_users = qitem.join(
        post.select("o_custkey").distinct(), "o_custkey", "left_semi"
    )
    recs = eval_users.join(
        top10, F.col("q") == F.col("src"), "left"
    ).select("o_custkey", "dst")
    hit_rows = recs.join(
        post.select(
            F.col("o_custkey").alias("pc"), F.col("l_partkey").alias("pp")
        ),
        (F.col("pc") == F.col("o_custkey")) & (F.col("pp") == F.col("dst")),
        "left",
    ).groupBy("o_custkey").agg(
        F.max(F.col("pp").isNotNull().cast("int")).alias("hit")
    )
    return hit_rows.agg(
        F.count("*").cast("long").alias("n_eval_users"),
        F.sum("hit").cast("long").alias("n_hits"),
        F.round(
            F.sum("hit").cast("double") / F.count("*"), 6
        ).alias("hit_rate"),
    )


def _hits_round_sql(i: int) -> str:
    """One unrolled HITS round: authority = sum of incident hub
    scores, hub = sum of incident (fresh) authority scores, each
    max-normalized back to the 1e6 integer grid (integer division —
    exact, order-free)."""
    return f""", a{i}_raw AS (
      SELECT e.p, SUM(h.s) AS s FROM edges e
      JOIN h{i - 1} h ON h.c = e.c GROUP BY e.p
    ), a{i} AS (
      SELECT p, CAST(s * 1000000 // (SELECT MAX(s) FROM a{i}_raw) AS BIGINT)
               AS s
      FROM a{i}_raw
    ), h{i}_raw AS (
      SELECT e.c, SUM(a.s) AS s FROM edges e
      JOIN a{i} a ON a.p = e.p GROUP BY e.c
    ), h{i} AS (
      SELECT c, CAST(s * 1000000 // (SELECT MAX(s) FROM h{i}_raw) AS BIGINT)
               AS s
      FROM h{i}_raw
    )"""


@query(
    "hits_bipartite_copurchase",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), h0 AS (
      SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS s FROM edges
    ){_hits_round_sql(1)}{_hits_round_sql(2)}{_hits_round_sql(3)}
    SELECT CAST(p AS BIGINT) AS part, CAST(s AS BIGINT) AS authority_micro
    FROM a3 ORDER BY s DESC, p LIMIT 10
    """,
    tags=("graph", "hits", "centrality", "bipartite"),
)
def hits_bipartite_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg's hubs-and-authorities) on the bipartite
    customer→part purchase graph: a part is authoritative when bought
    by strong hub customers, a customer is a hub when they buy
    authoritative parts — the mutually recursive centrality that plain
    degree (popularity) cannot express. Three bounded rounds in
    INTEGER MICRO-UNITS, the pagerank_integer protocol: each round's
    scores are integer sums over the edge frame, max-normalized back
    to the 1e6 grid by integer division — order-free, bit-identical
    across engines, no floats anywhere. Returns the top-10 authorities
    with (score, part) tiebreak.
    Scale: each round is two edge-keyed join+sum shuffles (degree-
    linear — HITS needs no basket self-join, so no cap is required)
    plus a 1-row max broadcast; rounds are localCheckpointed so
    lineage stays flat."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = edges.select("c").distinct().withColumn(
        "s", F.lit(1000000).cast("long")
    )
    a = None
    # r14 (guide §3.1, same restructure as the pagerank family): the
    # score frames are O(nodes) while edges is O(edges) — broadcast the
    # state side of each round's join so the edge list is never
    # shuffled inside the loop; the per-round exchange is only the
    # map-side-combined SUM.
    from .operators.graph import _state

    for _ in range(3):
        a_raw = (
            edges.join(_state(h.withColumnRenamed("s", "hs"), True), "c")
            .groupBy("p")
            .agg(F.sum("hs").alias("s"))
        )
        amax = a_raw.agg(F.max("s").alias("mx"))
        a = (
            a_raw.crossJoin(F.broadcast(amax))
            .select("p", F.expr("CAST(s * 1000000 DIV mx AS BIGINT)").alias("s"))
            .localCheckpoint(eager=False)
        )
        h_raw = (
            edges.join(_state(a.withColumnRenamed("s", "as_"), True), "p")
            .groupBy("c")
            .agg(F.sum("as_").alias("s"))
        )
        hmax = h_raw.agg(F.max("s").alias("mx"))
        h = (
            h_raw.crossJoin(F.broadcast(hmax))
            .select("c", F.expr("CAST(s * 1000000 DIV mx AS BIGINT)").alias("s"))
            .localCheckpoint(eager=False)
        )
    return (
        a.orderBy(F.col("s").desc(), "p")
        .limit(10)
        .select(
            F.col("p").cast("long").alias("part"),
            F.col("s").cast("long").alias("authority_micro"),
        )
    )
