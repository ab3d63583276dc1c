"""Round-9 additions, fourth batch: a distributional
(quantile-level) treatment effect.

- ``events_quantile_treatment_effect``: quantile-level treatment
  effect between the two md5-free user cohorts (user_id parity, the
  ``events_mann_whitney_u`` contract) at p ∈ {25, 50, 75, 90} — the
  distributional companion to mean-difference tests: a treatment can
  leave the mean flat while shifting the tails. Quantiles are picked
  by the integer cross-multiplied rank test (100·cum ≥ p·n) over the
  distinct-cents value frame; the effect is an exact integer cents
  difference per quantile. No floats anywhere.

Scale notes in docs/SCALE.md §round-9 fourth batch; invariant tests
in tests/test_round59.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

# -------------------------------- quantile treatment effect (QTE)

_QTE_PS = [25, 50, 75, 90]


def _events_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    vals = ev.groupBy("cents").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    # distinct-cents value frame (the events_two_sample_ks bound —
    # allowlisted): inclusive cumulative counts per cohort.
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        "cents",
        F.sum("c0").over(wv).alias("cum0"),
        F.sum("c1").over(wv).alias("cum1"),
    )
    tot = vals.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    ps = spark.createDataFrame([(p,) for p in _QTE_PS], "p int")
    j = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ps))
    # lower quantile pick, integer cross-multiplied: the p-quantile is
    # the smallest value whose inclusive cumulative count reaches
    # ceil(p*n/100), i.e. 100*cum >= p*n.
    q = j.groupBy("p").agg(
        F.first("n0").cast("long").alias("n0"),
        F.first("n1").cast("long").alias("n1"),
        F.min(
            F.when(100 * F.col("cum0") >= F.col("p") * F.col("n0"), F.col("cents"))
        ).alias("q0_cents"),
        F.min(
            F.when(100 * F.col("cum1") >= F.col("p") * F.col("n1"), F.col("cents"))
        ).alias("q1_cents"),
    )
    return q.select(
        F.col("p").cast("long").alias("p"),
        "n0",
        "n1",
        F.col("q0_cents").cast("long").alias("q0_cents"),
        F.col("q1_cents").cast("long").alias("q1_cents"),
        (F.col("q1_cents") - F.col("q0_cents")).cast("long").alias("qte_cents"),
    ).orderBy("p")


QTE_SQL = f"""
WITH ev AS (
    SELECT user_id % 2 AS grp,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events),
vals AS (
    SELECT cents,
           sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
           sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
    FROM ev GROUP BY cents),
cum AS (
    SELECT cents,
           sum(c0) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
           sum(c1) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
    FROM vals),
tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
               CAST(sum(c1) AS BIGINT) AS n1 FROM vals),
ps(p) AS (VALUES {", ".join(f"({p})" for p in _QTE_PS)})
SELECT CAST(p AS BIGINT) AS p,
       min(n0) AS n0, min(n1) AS n1,
       CAST(min(CASE WHEN 100 * cum0 >= p * n0 THEN cents END) AS BIGINT)
           AS q0_cents,
       CAST(min(CASE WHEN 100 * cum1 >= p * n1 THEN cents END) AS BIGINT)
           AS q1_cents,
       CAST(min(CASE WHEN 100 * cum1 >= p * n1 THEN cents END)
            - min(CASE WHEN 100 * cum0 >= p * n0 THEN cents END) AS BIGINT)
           AS qte_cents
FROM cum, tot, ps
GROUP BY p ORDER BY p
"""


QUERIES: dict[str, QuerySpec] = {
    "events_quantile_treatment_effect": QuerySpec(
        _events_quantile_treatment_effect, QTE_SQL
    ),
}
