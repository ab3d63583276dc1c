"""Round-5 additions, eighth batch: association rules and
collaborative-filtering similarity.

- ``orders_basket_lift``: association-rule readout over co-purchased
  part pairs — support, directional confidences, and lift from exact
  integer counts (the only floats are the final three ratios, rounded
  at 6). The step after ``orders_market_basket``'s raw pair counts.
- ``graph_jaccard_neighbors``: item-item collaborative filtering —
  supplier similarity as Jaccard over distinct customer neighborhoods,
  computed through the shared-customer inverted index (never
  |S|×|S|), hot customers degree-capped to a deterministic md5 sample
  (r8), top-3 neighbours per supplier by (similarity, id).

All pure DataFrame algebra with exact DuckDB twins; invariant tests in
tests/test_round13.py. Extensions beyond the reference DAGs, same
oracle discipline as the §2 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.plans.fixtures import TRADE_PAIRS_SQL
from trackdechets_etl_spark.queries import QuerySpec

# -------------------------------------------------- association rules

_LIFT_MIN_SUPPORT = 2  # pair must co-occur in ≥ 2 orders


def _orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchased part pairs: for every pair
    in ≥ 2 orders, support counts (exact integers), confidence in both
    directions, and lift = n·supp_ab/(supp_a·supp_b). One distinct
    (order, part) projection feeds all three counts: the pair self-join
    is co-partitioned on the order key (the ``orders_market_basket``
    plan), the per-part supports are one aggregation of the same
    projection, and the order total is a 1-row broadcast. Floats only
    in the final three ratios, rounded at 6 — no boundary to diverge
    on."""
    # r14: hash the raw projection on the order key FIRST — the dedup
    # aggregate then satisfies its (orderkey, partkey) clustering from
    # the subset rule and, crucially, both self-join sides inherit the
    # order-key partitioning, so the two join-side re-exchanges of the
    # deduped frame are gone (sorts only). Output unchanged.
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.hint("merge")
        .join(b, (F.col("ok") == F.col("ok2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= _LIFT_MIN_SUPPORT)
    )
    supp = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    n_orders = li.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    return (
        pairs.join(
            supp.select(F.col("l_partkey").alias("p1"), F.col("supp").alias("supp_a")),
            "p1",
        )
        .join(
            supp.select(F.col("l_partkey").alias("p2"), F.col("supp").alias("supp_b")),
            "p2",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            F.col("supp_ab").cast("long").alias("supp_ab"),
            F.col("supp_a").cast("long").alias("supp_a"),
            F.col("supp_b").cast("long").alias("supp_b"),
            F.round(
                F.col("supp_ab").cast("double") / F.col("supp_a"), 6
            ).alias("conf_a_to_b"),
            F.round(
                F.col("supp_ab").cast("double") / F.col("supp_b"), 6
            ).alias("conf_b_to_a"),
            F.round(
                F.col("supp_ab").cast("double")
                * F.col("n_orders")
                / (F.col("supp_a") * F.col("supp_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("p1", "p2")
    )


ORDERS_BASKET_LIFT_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS supp_ab
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {_LIFT_MIN_SUPPORT}),
supp AS (SELECT l_partkey, count(*) AS supp FROM li GROUP BY 1),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li)
SELECT p1, p2,
       CAST(supp_ab AS BIGINT) AS supp_ab,
       CAST(sa.supp AS BIGINT) AS supp_a,
       CAST(sb.supp AS BIGINT) AS supp_b,
       round(CAST(supp_ab AS DOUBLE) / sa.supp, 6) AS conf_a_to_b,
       round(CAST(supp_ab AS DOUBLE) / sb.supp, 6) AS conf_b_to_a,
       round(CAST(supp_ab AS DOUBLE) * n_orders / (sa.supp * sb.supp), 6)
           AS lift
FROM pairs
JOIN supp sa ON pairs.p1 = sa.l_partkey
JOIN supp sb ON pairs.p2 = sb.l_partkey, n
ORDER BY p1, p2
"""


# --------------------------------------- neighborhood Jaccard similarity

_NBR_TOP_K = 3
# Per-customer neighborhood cap: candidate pairs are Σ min(d, CAP)² —
# LINEAR in customers once capped, where the uncapped form is Σd² and
# one hot customer (a marketplace reseller at real scale) contributes
# d²/2 pairs on its own. Same degenerate-hot-key guard the phash LSH
# bands got in round 6. Measured on the synthetic data: 12.5M → ~5M
# candidate pairs at sf0.1 (avg degree 39, max 102).
_NBR_DEG_CAP = 32


def _graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: supplier similarity as
    Jaccard over distinct customer neighborhoods. Shared-customer
    counts come from the inverted index (customer → its suppliers,
    self-joined per customer) so candidate pairs are linear in
    Σ|customer's suppliers|² — never |S|×|S|; degree joins broadcast
    (supplier-sized). Hot customers are degree-capped FIRST to a
    deterministic md5-ordered sample of ``_NBR_DEG_CAP`` suppliers
    (the standard item-CF downsampling guard — DIMSUM-style), so the
    pair stage is bounded per customer at any scale; Jaccard is
    computed self-consistently on the capped bipartite graph and the
    oracle applies the identical cut. Top-3 neighbours per supplier by
    (similarity rounded at 6, neighbour id) — a supplier-keyed window
    over the candidate pair table."""
    # Not plans.fixtures.trade_pairs: this one repartitions by cust first.
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
        )
        # repartition("cust") BEFORE the distinct: hash(cust) satisfies
        # the clustered-by-(cust,supp) requirement (subset rule), so
        # the dedup, the degree-cap window AND the per-customer pair
        # self-join all run off ONE exchange instead of two (the r12
        # shape shuffled by (cust,supp) for distinct, then again by
        # cust for the window). Local wall-clock is a wash within box
        # noise (r13 interleaved A/B), kept for the structural shuffle
        # count — one exchange fewer is what matters at cluster scale.
        .repartition("cust")
        .distinct()
    )
    wc = Window.partitionBy("cust").orderBy(
        F.md5(F.concat_ws(":", "cust", "supp")), "supp"
    )
    # NO checkpoint here: measured same-session A/B (r8) — lazy
    # checkpoints on edges/sim were neutral-to-worse (the pair table
    # materialization costs more than the replayed scans save), same
    # lesson as the r7 jaccard experiment.
    edges = (
        raw.withColumn("srk", F.row_number().over(wc))
        .filter(F.col("srk") <= _NBR_DEG_CAP)
        .drop("srk")
    )
    deg = edges.groupBy("supp").agg(F.count(F.lit(1)).alias("deg"))
    x = edges.select("cust", F.col("supp").alias("s1"))
    y = edges.select(F.col("cust").alias("cust2"), F.col("supp").alias("s2"))
    shared = (
        x.join(y, (F.col("cust") == F.col("cust2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sim = (
        shared.join(
            deg.select(F.col("supp").alias("s1"), F.col("deg").alias("d1")),
            "s1",
        )
        .join(
            deg.select(F.col("supp").alias("s2"), F.col("deg").alias("d2")),
            "s2",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("shared")),
                6,
            ),
        )
    )
    both = sim.select(
        F.col("s1").alias("supp"), F.col("s2").alias("nbr"), "jaccard"
    ).unionByName(
        sim.select(
            F.col("s2").alias("supp"), F.col("s1").alias("nbr"), "jaccard"
        )
    )
    # Top-k stays a row_number window, NOT a collect_list+sort_array
    # agg: r13 interleaved A/B measured the two as a wash within box
    # noise (old best 2.57 vs agg best 2.86 s, then the reverse on a
    # second run), and the window shape is the one that survives
    # scale — WindowGroupLimit (verified present in this plan) bounds
    # per-group state to k rows in a streaming pass, while collect_list
    # materializes a supplier's FULL candidate list (O(|S|) structs on
    # a hot supplier) in one task.
    w = Window.partitionBy("supp").orderBy(F.desc("jaccard"), F.col("nbr"))
    return (
        both.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _NBR_TOP_K)
        .orderBy("supp", "rank")
    )


GRAPH_JACCARD_NBR_SQL = f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
edges AS (
    SELECT cust, supp FROM (
        SELECT cust, supp,
               row_number() OVER (PARTITION BY cust
                   ORDER BY md5(CAST(cust AS VARCHAR) || ':'
                               || CAST(supp AS VARCHAR)), supp) AS srk
        FROM trade_pairs) WHERE srk <= {_NBR_DEG_CAP}),
deg AS (SELECT supp, count(*) AS deg FROM edges GROUP BY supp),
shared AS (
    SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
    FROM edges a JOIN edges b ON a.cust = b.cust AND a.supp < b.supp
    GROUP BY 1, 2),
sim AS (
    SELECT s1, s2,
           round(CAST(shared AS DOUBLE) / (d1.deg + d2.deg - shared), 6)
               AS jaccard
    FROM shared
    JOIN deg d1 ON shared.s1 = d1.supp
    JOIN deg d2 ON shared.s2 = d2.supp),
sym AS (
    SELECT s1 AS supp, s2 AS nbr, jaccard FROM sim
    UNION ALL
    SELECT s2 AS supp, s1 AS nbr, jaccard FROM sim),
ranked AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY supp
                                      ORDER BY jaccard DESC, nbr)
                   AS INTEGER) AS rank
    FROM sym)
SELECT supp, nbr, jaccard, rank
FROM ranked WHERE rank <= {_NBR_TOP_K}
ORDER BY supp, rank
"""


QUERIES: dict[str, QuerySpec] = {
    "orders_basket_lift": QuerySpec(_orders_basket_lift, ORDERS_BASKET_LIFT_SQL),
    "graph_jaccard_neighbors": QuerySpec(
        _graph_jaccard_neighbors, GRAPH_JACCARD_NBR_SQL
    ),
}
