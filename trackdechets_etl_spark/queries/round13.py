"""Round-5 additions, eighth batch: association rules.

- ``orders_basket_lift``: association-rule readout over co-purchased
  part pairs — support, directional confidences, and lift from exact
  integer counts (the only floats are the final three ratios, rounded
  at 6). The step after ``orders_market_basket``'s raw pair counts.

All pure DataFrame algebra with exact DuckDB twins; invariant tests in
tests/test_round13.py. Extensions beyond the reference DAGs, same
oracle discipline as the §2 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
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


QUERIES: dict[str, QuerySpec] = {
    "orders_basket_lift": QuerySpec(_orders_basket_lift, ORDERS_BASKET_LIFT_SQL),
}
