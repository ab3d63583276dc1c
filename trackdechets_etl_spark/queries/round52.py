"""Round-7 additions, fourteenth batch: PMI collocations and
Spearman rank correlation.

- ``text_pmi_bigrams``: pointwise mutual information of adjacent word
  pairs — the classic collocation detector (PMI = ln p(ab) / p(a)p(b)).
  Bigram and unigram counts are distributed hash aggregates; corpus
  totals arrive as 1-row broadcast crossJoins so the plan stays lazy;
  the support floor bounds the scoring join at any corpus size.
  All-integer counts; the only float is the fixed-order sum of lns.
- ``lineitem_spearman_corr``: Spearman rank correlation between
  ``l_quantity`` and ``l_discount`` with textbook average-rank tie
  handling — computed WITHOUT ranking any fact row. Average ranks come
  from the distinct-value frames (50 quantities, 11 discounts): for a
  value with count c and inclusive cumulative count cum, twice the
  average rank is the integer 2*cum - (c-1). Facts reduce to the
  (quantity, discount) joint-count grid (≤ 550 cells); the Pearson
  closed form runs over integer moment sums accumulated in
  decimal(38,0) (rank products overflow int64 at fact scale). Rho is
  invariant under the ×2 rank scaling (Pearson is affine-invariant).
  Requires bounded measure cardinality, like events_two_sample_ks.

Invariant tests in tests/test_round52.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

# --------------------------------------------------- PMI collocations

_PMI_MIN_SUPPORT = 5
_PMI_TOP = 20


def _text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    toks = d.select(F.explode(w).alias("term"))
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n_uni = toks.agg(F.count(F.lit(1)).alias("n_uni"))
    pair_arr = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = d.select(F.explode(pair_arr).alias("p")).select("p.w1", "p.w2")
    n_bg = bg.agg(F.count(F.lit(1)).alias("n_bg"))
    cnt = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_SUPPORT)
    )
    j = (
        cnt.join(uni.select(F.col("term").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bg))
    )
    pmi = (
        F.log(F.col("n_pair"))
        + F.lit(2.0) * F.log(F.col("n_uni"))
        - F.log(F.col("n_bg"))
        - F.log(F.col("c1"))
        - F.log(F.col("c2"))
    )
    scored = j.select(
        F.concat_ws(" ", F.col("w1"), F.col("w2")).alias("bigram"),
        F.col("n_pair").cast("long").alias("n_pair"),
        F.round(pmi, 6).alias("pmi"),
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("bigram").asc()).limit(
        _PMI_TOP
    )


TEXT_PMI_SQL = f"""
WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
uni AS (
    SELECT w[i] AS term, CAST(count(*) AS BIGINT) AS c
    FROM toks, unnest(generate_series(1, len(w))) AS u(i)
    GROUP BY 1),
nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
bg AS (
    SELECT w[i] AS w1, w[i+1] AS w2
    FROM toks, unnest(generate_series(1, len(w) - 1)) AS u(i)
    WHERE len(w) >= 2),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bg FROM bg),
cnt AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
    FROM bg GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN_SUPPORT}),
j AS (
    SELECT w1, w2, n_pair, a.c AS c1, b.c AS c2
    FROM cnt JOIN uni a ON cnt.w1 = a.term JOIN uni b ON cnt.w2 = b.term)
SELECT w1 || ' ' || w2 AS bigram, n_pair,
       round(ln(n_pair) + 2 * ln(n_uni) - ln(n_bg) - ln(c1) - ln(c2), 6)
           AS pmi
FROM j, nu, nb
ORDER BY pmi DESC, bigram ASC LIMIT {_PMI_TOP}
"""


# ------------------------------------------ Spearman rank correlation


def _rank2_map(frame: DataFrame, col: str) -> DataFrame:
    """value → 2*average_rank (exact integer) over the DISTINCT-value
    frame. Single-partition window is over ≤ |distinct values| rows
    (allowlisted with the same bound as events_two_sample_ks)."""
    vals = frame.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
    return vals.select(
        F.col(col),
        (F.lit(2) * F.sum("c").over(wv) - (F.col("c") - 1))
        .cast("long")
        .alias("r2"),
    )


def _lineitem_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_quantity", "l_discount")
    qmap = _rank2_map(li, "l_quantity").withColumnRenamed("r2", "rx2")
    dmap = _rank2_map(li, "l_discount").withColumnRenamed("r2", "ry2")
    joint = li.groupBy("l_quantity", "l_discount").agg(
        F.count(F.lit(1)).alias("n")
    )
    j = joint.join(F.broadcast(qmap), "l_quantity").join(
        F.broadcast(dmap), "l_discount"
    )
    nd = F.col("n").cast("decimal(38,0)")
    sums = j.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum(nd * F.col("rx2")).alias("sx"),
        F.sum(nd * F.col("ry2")).alias("sy"),
        F.sum(nd * F.col("rx2") * F.col("ry2")).alias("sxy"),
        F.sum(nd * F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(nd * F.col("ry2") * F.col("ry2")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    rho = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return sums.select(
        F.col("n").alias("n_rows"), F.round(rho, 6).alias("rho_spearman")
    )


SPEARMAN_SQL = """
WITH q AS (SELECT l_quantity AS v, CAST(count(*) AS BIGINT) AS c
           FROM lineitem GROUP BY 1),
qr AS (SELECT v, 2 * sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (c - 1) AS rx2
       FROM q),
d AS (SELECT l_discount AS v, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
dr AS (SELECT v, 2 * sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (c - 1) AS ry2
       FROM d),
joint AS (SELECT l_quantity AS qv, l_discount AS dv,
                 CAST(count(*) AS BIGINT) AS n
          FROM lineitem GROUP BY 1, 2),
j AS (SELECT n, rx2, ry2
      FROM joint JOIN qr ON joint.qv = qr.v JOIN dr ON joint.dv = dr.v),
s AS (SELECT CAST(sum(n) AS BIGINT) AS n,
             sum(CAST(n AS HUGEINT) * rx2) AS sx,
             sum(CAST(n AS HUGEINT) * ry2) AS sy,
             sum(CAST(n AS HUGEINT) * rx2 * ry2) AS sxy,
             sum(CAST(n AS HUGEINT) * rx2 * rx2) AS sxx,
             sum(CAST(n AS HUGEINT) * ry2 * ry2) AS syy
      FROM j)
SELECT n AS n_rows,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           AS rho_spearman
FROM s
"""


QUERIES: dict[str, QuerySpec] = {
    "text_pmi_bigrams": QuerySpec(_text_pmi_bigrams, TEXT_PMI_SQL),
    "lineitem_spearman_corr": QuerySpec(_lineitem_spearman_corr, SPEARMAN_SQL),
}
