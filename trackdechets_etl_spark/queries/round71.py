"""Round-9 additions, sixteenth batch: class-balanced sampling,
hubness diagnostics, parametric gap/price fits and regression
discontinuity.

- ``sample_class_balanced``: class-balanced downsampling — every
  label capped at the smallest class size by deterministic md5 rank
  (the sample_hash_deterministic contract) — the imbalanced-learning
  prep step; emits per-class before/after counts and the exact sum of
  selected ids as the cross-engine draw checksum.
- ``embedding_hubness_score``: hubness diagnostic of the embedding
  space — the k-occurrence distribution N₅ (how often each point
  appears in sampled queries' exact top-5), its skewness from exact
  integer moments, the max hub, and the anti-hub share (points never
  retrieved). Skewed hubness is THE high-dimensional pathology that
  silently degrades ANN quality — measure it before shipping any
  cosine retrieval.
- ``orders_interorder_gamma_fit``: Gamma method-of-moments fit of
  customer inter-order gaps (shape = m²/s², rate = m/s² — exact
  integer day gaps, closed form). Completes the parametric-fit family:
  Weibull (sessions), exponential (inter-arrivals), log-normal
  (prices) — the gamma shape ≈ 1.08 here says orders arrive nearly
  memorylessly.
- ``lineitem_rdd_discount5``: regression discontinuity at the
  discount-5 cutoff — local linear fits on levels {2,3,4} vs {6,7,8}
  (3-point closed-form OLS on exact cell means), jump = gap between
  the two intercepts projected at the cutoff. Completes the causal
  family (DiD, stratified/IPW ATE, QTE): RDD is the design for
  threshold-assigned treatments.
- ``orders_lognormal_fit``: log-normal fit of order prices by exact
  micro-unit log moments (ln cents → integer micro-nats, decimal
  sums) — μ, σ, and the implied median/mean back in price units. The
  sanity check on every revenue model that assumes log-normality.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 sixteenth batch; invariant
tests in tests/test_round71.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import cosine_from_norms, cosine_sql, norm
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------- class-balanced sample


def _sample_class_balanced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    sizes = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    cap = sizes.agg(F.min("n_before").alias("cap"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = e.withColumn("rk", F.row_number().over(w))
    picked = (
        ranked.crossJoin(F.broadcast(cap))
        .filter(F.col("rk") <= F.col("cap"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_after"),
            F.sum("vec_id").cast("long").alias("sum_selected_ids"),
        )
    )
    return (
        sizes.join(picked, "label")
        .select("label", "n_before", "n_after", "sum_selected_ids")
        .orderBy("label")
    )


CLASS_BALANCED_SQL = """
WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label
           FROM embeddings),
sizes AS (
    SELECT label, CAST(count(*) AS BIGINT) AS n_before
    FROM e GROUP BY label),
cap AS (SELECT min(n_before) AS cap FROM sizes),
ranked AS (
    SELECT label, vec_id, row_number() OVER (
        PARTITION BY label
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
    FROM e),
picked AS (
    SELECT label, CAST(count(*) AS BIGINT) AS n_after,
           CAST(sum(vec_id) AS BIGINT) AS sum_selected_ids
    FROM ranked, cap WHERE rk <= cap GROUP BY label)
SELECT label, n_before, n_after, sum_selected_ids
FROM sizes JOIN picked USING (label)
ORDER BY label
"""


# --------------------------------------------------- hubness score

_HUB_K = 5
_HUB_QUERY_HEX = "4"  # md5 first hex < '4' → ~1/4 of vectors query


def _embedding_hubness_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Norms are projected per SIDE before the crossJoin: cosine() would
    # re-evaluate sqrt(dot(v,v)) per PAIR, and with ~N/4 queries the
    # pair count makes that the dominant arithmetic (3 dots/pair → 1);
    # A/B best-of-4 at sf0.1: 2.08 → 1.33 s.
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("n", norm(F.col("v")))
    q = e.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        < _HUB_QUERY_HEX
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("n").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(
            e.select(
                F.col("vec_id").alias("c_id"),
                F.col("v").alias("cv"),
                F.col("n").alias("cn"),
            )
        )
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(
                cosine_from_norms(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                9,
            ).alias("ckey"),
        )
    )
    wk = Window.partitionBy("q_id").orderBy(
        F.desc("ckey"), F.asc("c_id")
    )
    occ = (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _HUB_K)
        .groupBy("c_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n5"))
    )
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("np"))
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("nq"))
    moments = occ.agg(
        F.sum("n5").cast("long").alias("s1"),
        F.sum(F.col("n5") * F.col("n5")).cast("long").alias("s2"),
        F.sum(F.col("n5") * F.col("n5") * F.col("n5"))
        .cast("long")
        .alias("s3"),
        F.max("n5").cast("long").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n_hit"),
    )
    j = moments.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(nq))
    m = F.col("s1") / F.col("np")
    ex2 = F.col("s2") / F.col("np")
    ex3 = F.col("s3") / F.col("np")
    var = ex2 - m * m
    skew = (ex3 - 3.0 * m * var - m * m * m) / F.pow(var, 1.5)
    return j.select(
        F.col("np").alias("n_points"),
        F.col("nq").alias("n_queries"),
        F.col("mx").alias("max_k_occurrence"),
        F.round(skew, 6).alias("hubness_skew"),
        F.round(
            (F.col("np") - F.col("n_hit")) / F.col("np"), 6
        ).alias("antihub_share"),
    )


HUBNESS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e
      WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
            < '{_HUB_QUERY_HEX}'),
scored AS (
    SELECT q_id, c.vec_id AS c_id,
           round({cosine_sql("qv", "c.v")}, 9) AS ckey
    FROM q, e c WHERE c.vec_id <> q_id),
occ AS (
    SELECT c_id, CAST(count(*) AS BIGINT) AS n5
    FROM (SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY ckey DESC, c_id) AS rk
          FROM scored)
    WHERE rk <= {_HUB_K} GROUP BY c_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS np FROM e),
nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM q),
m AS (
    SELECT CAST(sum(n5) AS BIGINT) AS s1,
           CAST(sum(n5 * n5) AS BIGINT) AS s2,
           CAST(sum(n5 * n5 * n5) AS BIGINT) AS s3,
           CAST(max(n5) AS BIGINT) AS mx,
           CAST(count(*) AS BIGINT) AS n_hit
    FROM occ)
SELECT np AS n_points, nq AS n_queries, mx AS max_k_occurrence,
       round((s3 * 1.0 / np
              - 3.0 * (s1 * 1.0 / np)
                * (s2 * 1.0 / np - (s1 * 1.0 / np) * (s1 * 1.0 / np))
              - (s1 * 1.0 / np) * (s1 * 1.0 / np) * (s1 * 1.0 / np))
             / pow(s2 * 1.0 / np - (s1 * 1.0 / np) * (s1 * 1.0 / np),
                   1.5), 6) AS hubness_skew,
       round((np - n_hit) * 1.0 / np, 6) AS antihub_share
FROM m, tot, nq
"""


# --------------------------------------------- inter-order gamma


def _orders_interorder_gamma_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = (
        o.select(
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("d")
        )
        .filter(F.col("d") >= 1)
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("d")).alias("s1"),
        F.sum(dec("d") * dec("d")).alias("s2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("s1") / d("n")
    var = (d("n") * d("s2") - d("s1") * d("s1")) / (
        d("n") * (d("n") - 1.0)
    )
    return m.select(
        F.col("n").alias("n_gaps"),
        F.round(mean, 4).alias("mean_days"),
        F.round(mean * mean / var, 6).alias("gamma_shape"),
        F.round(mean / var, 6).alias("gamma_rate"),
    )


GAMMA_SQL = """
WITH gaps AS (
    SELECT date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS d
    FROM orders
    QUALIFY d >= 1),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(d) AS s1, sum(d * d) AS s2
    FROM gaps)
SELECT n AS n_gaps,
       round(CAST(s1 AS DOUBLE) / n, 4) AS mean_days,
       round((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             / ((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6)
           AS gamma_shape,
       round((CAST(s1 AS DOUBLE) / n)
             / ((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6)
           AS gamma_rate
FROM m
"""


# ------------------------------------------------ RDD at discount 5

_RDD_CUT = 5
_RDD_LEFT = [2, 3, 4]
_RDD_RIGHT = [6, 7, 8]


def _lineitem_rdd_discount5(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lv = (
        read_table(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_discount") * 100).cast("long").alias("dd"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .filter(F.col("dd").isin(_RDD_LEFT + _RDD_RIGHT))
        .groupBy("dd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )
        .select(
            "dd",
            "n",
            (F.col("dd") - _RDD_CUT).cast("double").alias("x"),
            (F.col("s") / F.col("n")).alias("y"),
            (F.col("dd") < _RDD_CUT).alias("left_side"),
        )
    )

    def side(flag: bool, tag: str) -> DataFrame:
        s3 = lv.filter(F.col("left_side") == flag)
        return s3.agg(
            F.count(F.lit(1)).alias(f"k_{tag}"),
            F.sum("x").alias(f"sx_{tag}"),
            F.sum("y").alias(f"sy_{tag}"),
            F.sum(F.col("x") * F.col("x")).alias(f"sxx_{tag}"),
            F.sum(F.col("x") * F.col("y")).alias(f"sxy_{tag}"),
            F.sum("n").cast("long").alias(f"n_{tag}"),
        )

    j = side(True, "l").crossJoin(F.broadcast(side(False, "r")))

    def fit(tag: str):
        k = F.col(f"k_{tag}")
        sx, sy = F.col(f"sx_{tag}"), F.col(f"sy_{tag}")
        sxx, sxy = F.col(f"sxx_{tag}"), F.col(f"sxy_{tag}")
        slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
        icept = (sy - slope * sx) / k
        return slope, icept

    sl, il = fit("l")
    sr, ir = fit("r")
    return j.select(
        F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
        F.round(il / 100.0, 4).alias("left_at_cut"),
        F.round(ir / 100.0, 4).alias("right_at_cut"),
        F.round((ir - il) / 100.0, 4).alias("jump"),
        F.round(sl / 100.0, 4).alias("left_slope"),
        F.round(sr / 100.0, 4).alias("right_slope"),
    )


_RDD_ALL = ", ".join(str(x) for x in _RDD_LEFT + _RDD_RIGHT)

RDD_SQL = f"""
WITH lv AS (
    SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS dd,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS s
    FROM lineitem
    WHERE CAST(round(l_discount * 100, 0) AS BIGINT) IN ({_RDD_ALL})
    GROUP BY 1),
pts AS (
    SELECT dd, n, CAST(dd - {_RDD_CUT} AS DOUBLE) AS x,
           s * 1.0 / n AS y, dd < {_RDD_CUT} AS left_side
    FROM lv),
l AS (
    SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(x * y) AS sxy,
           CAST(sum(n) AS BIGINT) AS nn
    FROM pts WHERE left_side),
r AS (
    SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(x * y) AS sxy,
           CAST(sum(n) AS BIGINT) AS nn
    FROM pts WHERE NOT left_side),
fits AS (
    SELECT l.nn AS n_left, r.nn AS n_right,
           (l.sy - ((l.k * l.sxy - l.sx * l.sy)
                    / (l.k * l.sxx - l.sx * l.sx)) * l.sx) / l.k
               AS il,
           (r.sy - ((r.k * r.sxy - r.sx * r.sy)
                    / (r.k * r.sxx - r.sx * r.sx)) * r.sx) / r.k
               AS ir,
           (l.k * l.sxy - l.sx * l.sy)
           / (l.k * l.sxx - l.sx * l.sx) AS sl,
           (r.k * r.sxy - r.sx * r.sy)
           / (r.k * r.sxx - r.sx * r.sx) AS sr
    FROM l, r)
SELECT n_left, n_right,
       round(il / 100.0, 4) AS left_at_cut,
       round(ir / 100.0, 4) AS right_at_cut,
       round((ir - il) / 100.0, 4) AS jump,
       round(sl / 100.0, 4) AS left_slope,
       round(sr / 100.0, 4) AS right_slope
FROM fits
"""


# ------------------------------------------------ log-normal fit

_LN_MICRO = 1_000_000


def _orders_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = read_table(spark, sf_dir, "orders").select(
        F.round(
            F.log(
                F.round(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("double")
            )
            * _LN_MICRO
        )
        .cast("long")
        .alias("x")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("s1"),
        F.sum(dec("x") * dec("x")).alias("s2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = d("s1") / d("n") / _LN_MICRO
    var = (
        (d("n") * d("s2") - d("s1") * d("s1"))
        / (d("n") * (d("n") - 1.0))
        / (_LN_MICRO * 1.0 * _LN_MICRO)
    )
    return m.select(
        F.col("n").alias("n_orders"),
        F.round(mu, 6).alias("mu_ln_cents"),
        F.round(F.sqrt(var), 6).alias("sigma_ln"),
        F.round(F.exp(mu) / 100.0, 2).alias("implied_median_price"),
        F.round(F.exp(mu + var / 2.0) / 100.0, 2).alias(
            "implied_mean_price"
        ),
    )


LOGNORMAL_SQL = f"""
WITH x AS (
    SELECT CAST(round(ln(CAST(CAST(round(o_totalprice * 100, 0)
                                   AS BIGINT) AS DOUBLE))
                      * {_LN_MICRO}, 0) AS BIGINT) AS x
    FROM orders),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(x) AS s1, sum(x * x) AS s2
    FROM x),
f AS (
    SELECT n,
           CAST(s1 AS DOUBLE) / n / {_LN_MICRO} AS mu,
           (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
           / ({_LN_MICRO} * 1.0 * {_LN_MICRO}) AS var
    FROM m)
SELECT n AS n_orders,
       round(mu, 6) AS mu_ln_cents,
       round(sqrt(var), 6) AS sigma_ln,
       round(exp(mu) / 100.0, 2) AS implied_median_price,
       round(exp(mu + var / 2.0) / 100.0, 2) AS implied_mean_price
FROM f
"""


QUERIES: dict[str, QuerySpec] = {
    "sample_class_balanced": QuerySpec(
        _sample_class_balanced, CLASS_BALANCED_SQL
    ),
    "embedding_hubness_score": QuerySpec(
        _embedding_hubness_score, HUBNESS_SQL
    ),
    "orders_interorder_gamma_fit": QuerySpec(
        _orders_interorder_gamma_fit, GAMMA_SQL
    ),
    "lineitem_rdd_discount5": QuerySpec(
        _lineitem_rdd_discount5, RDD_SQL
    ),
    "orders_lognormal_fit": QuerySpec(
        _orders_lognormal_fit, LOGNORMAL_SQL
    ),
}
