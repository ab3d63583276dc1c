"""Round-9 additions, twelfth batch: Poisson GLM, retention decay
fitting, stylometry, seasonality strength, and closed-form tail-bound
anomaly scoring.

- ``events_poisson_glm_irls``: Poisson regression (log link) of
  hour-of-day event totals — 4 Fisher-scoring iterations on the
  24-level frame, started at b0 = ln(ȳ) (a cold (0,0) start overshoots
  exp() on count data), unrolled verbatim in the oracle CTE chain.
  With the logistic IRLS (round63) this completes the two workhorse
  GLM families; exposure is uniform by construction on the synthetic
  feed (every hour-of-day slot spans the same ~30 days), so no offset
  term is needed.
- ``orders_retention_halflife``: log-linear decay fit of the pooled
  cohort-retention curve over ages 1..12 months, with the
  observability (triangle) cut — only cohorts old enough to be
  observed at age a enter age a's denominator. The synthetic orders
  are uniform over time, so retention is FLAT (probed) — the fit
  reports slope ≈ 0, no_decay = 1 and halflife 0 rather than a fake
  horizon; on decaying data halflife = ln2/(−slope). Micro-unit
  integer OLS (the events_session_weibull contract).
- ``text_burrows_delta``: Burrows' Delta stylometric distance between
  corpus sources over the top-50 words — per-source relative
  frequencies, per-word μ/σ across sources (rounded at 9dp before
  z-scoring, the cross-engine cut), Delta = mean |z_a − z_b|; 20
  closest pairs. THE authorship/provenance attribution baseline.
- ``events_seasonality_strength``: STL-style variance decomposition of
  the daily count series — trend = ±3-day moving average via a
  BOUNDED self-join on the calendar frame (window-free), seasonal =
  day-of-week means of the detrended series, strength = 1 −
  var(resid)/var(detrended) (and the trend analog). Quantifies what
  events_seasonal_dow only displays.
- ``events_peak_hour_chernoff``: closed-form Chernoff upper bound
  P(X ≥ k) ≤ e^{−λ}(eλ/k)^k for the busiest wall-clock hour against
  the fitted Poisson rate — an anomaly p-bound with no factorials or
  incomplete gammas, exact in ln-space on both engines.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 twelfth batch; invariant tests
in tests/test_round67.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ---------------------------------------------- Poisson GLM (IRLS)

_PGLM_ITERS = 4


def _events_poisson_glm_irls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lv = materialize(
        read_table(spark, sf_dir, "events")
        .groupBy(F.hour("ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    beta = lv.agg(
        F.log(F.avg(F.col("y").cast("double"))).alias("b0"),
        F.lit(0.0).alias("b1"),
    )
    for _ in range(_PGLM_ITERS):
        mu = F.exp(F.col("b0") + F.col("b1") * F.col("h"))
        s = lv.crossJoin(F.broadcast(beta)).agg(
            F.first("b0").alias("b0"),
            F.first("b1").alias("b1"),
            F.sum(mu).alias("sw"),
            F.sum(mu * F.col("h")).alias("swx"),
            F.sum(mu * F.col("h") * F.col("h")).alias("swxx"),
            F.sum(F.col("y") - mu).alias("g0"),
            F.sum((F.col("y") - mu) * F.col("h")).alias("g1"),
        )
        det = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
        beta = s.select(
            (
                F.col("b0")
                + (F.col("swxx") * F.col("g0") - F.col("swx") * F.col("g1"))
                / det
            ).alias("b0"),
            (
                F.col("b1")
                + (F.col("sw") * F.col("g1") - F.col("swx") * F.col("g0"))
                / det
            ).alias("b1"),
        )
    tot = lv.agg(
        F.count(F.lit(1)).cast("long").alias("n_levels"),
        F.sum("y").cast("long").alias("n_events"),
    )
    return tot.crossJoin(F.broadcast(beta)).select(
        "n_levels",
        "n_events",
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round(F.exp("b0"), 4).alias("rate_at_h0"),
        F.round(F.exp(F.col("b0") + 23.0 * F.col("b1")), 4).alias(
            "rate_at_h23"
        ),
    )


def _pglm_sql(iters: int = _PGLM_ITERS) -> str:
    ctes = ["it0 AS (SELECT ln(avg(y * 1.0)) AS b0, 0.0 AS b1 FROM lv)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"""it{k} AS (
    SELECT b0 + (swxx * g0 - swx * g1) / (sw * swxx - swx * swx) AS b0,
           b1 + (sw * g1 - swx * g0) / (sw * swxx - swx * swx) AS b1
    FROM (SELECT min(b0) AS b0, min(b1) AS b1,
                 sum(mu) AS sw, sum(mu * h) AS swx,
                 sum(mu * h * h) AS swxx,
                 sum(y - mu) AS g0, sum((y - mu) * h) AS g1
          FROM (SELECT h, y, b0, b1, exp(b0 + b1 * h) AS mu
                FROM lv, it{k - 1}) t) s)"""
        )
    joined = ",\n".join(ctes)
    return f"""
WITH lv AS (
    SELECT hour(ts) AS h, CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1),
{joined},
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_levels,
           CAST(sum(y) AS BIGINT) AS n_events
    FROM lv)
SELECT n_levels, n_events,
       round(b0, 6) AS b0, round(b1, 6) AS b1,
       round(exp(b0), 4) AS rate_at_h0,
       round(exp(b0 + 23.0 * b1), 4) AS rate_at_h23
FROM tot, it{iters}
"""


PGLM_SQL = _pglm_sql()


# ---------------------------------------------- retention halflife

_RET_MAX_AGE = 12
_RET_MICRO = 1_000_000
_LN2 = "0.6931471805599453"


def _orders_retention_halflife(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cm = materialize(
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .alias("mi"),
        )
        .distinct()
    )
    f = cm.groupBy("o_custkey").agg(F.min("mi").alias("fm"))
    maxm = cm.agg(F.max("mi").alias("mm"))
    # observability triangle: cohort fm contributes to age a only if
    # fm + a <= max month
    cohort_sizes = f.groupBy("fm").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    ages = spark.range(1, _RET_MAX_AGE + 1).select(
        F.col("id").cast("long").alias("age")
    )
    denom = (
        ages.crossJoin(F.broadcast(maxm))
        .join(
            F.broadcast(cohort_sizes),
            F.col("fm") + F.col("age") <= F.col("mm"),
        )
        .groupBy("age")
        .agg(F.sum("sz").cast("long").alias("den"))
    )
    act = (
        cm.join(f, "o_custkey")
        .select((F.col("mi") - F.col("fm")).alias("age"))
        .filter(
            (F.col("age") >= 1) & (F.col("age") <= _RET_MAX_AGE)
        )
        .groupBy("age")
        .agg(F.count(F.lit(1)).cast("long").alias("num"))
    )
    pts = denom.join(act, "age").filter(F.col("num") > 0)
    xy = pts.select(
        "age",
        F.round(
            F.log(F.col("num") / F.col("den")) * _RET_MICRO
        )
        .cast("long")
        .alias("ly"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(dec("age")).alias("sx"),
        F.sum(dec("ly")).alias("sy"),
        F.sum(dec("age") * dec("age")).alias("sxx"),
        F.sum(dec("age") * dec("ly")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (
        (d("k") * d("sxy") - d("sx") * d("sy"))
        / (d("k") * d("sxx") - d("sx") * d("sx"))
        / _RET_MICRO
    )
    return m.select(
        F.col("k").alias("n_ages"),
        F.round(slope, 6).alias("slope_per_month"),
        (slope >= 0).cast("int").cast("long").alias("no_decay"),
        F.round(
            F.when(slope < 0, float(_LN2) / (-slope)).otherwise(0.0),
            4,
        ).alias("halflife_months"),
    )


RETENTION_SQL = f"""
WITH cm AS (
    SELECT DISTINCT o_custkey,
           year(o_orderdate) * 12 + month(o_orderdate) AS mi
    FROM orders),
f AS (SELECT o_custkey, min(mi) AS fm FROM cm GROUP BY o_custkey),
maxm AS (SELECT max(mi) AS mm FROM cm),
cohort_sizes AS (
    SELECT fm, CAST(count(*) AS BIGINT) AS sz FROM f GROUP BY fm),
ages AS (SELECT CAST(i AS BIGINT) AS age
         FROM unnest(generate_series(1, {_RET_MAX_AGE})) u(i)),
denom AS (
    SELECT age, CAST(sum(sz) AS BIGINT) AS den
    FROM ages, maxm JOIN cohort_sizes ON fm + age <= mm
    GROUP BY age),
act AS (
    SELECT cm.mi - f.fm AS age, CAST(count(*) AS BIGINT) AS num
    FROM cm JOIN f USING (o_custkey)
    WHERE cm.mi - f.fm BETWEEN 1 AND {_RET_MAX_AGE}
    GROUP BY 1),
xy AS (
    SELECT denom.age,
           CAST(round(ln(num * 1.0 / den) * {_RET_MICRO}, 0) AS BIGINT)
               AS ly
    FROM denom JOIN act USING (age) WHERE num > 0),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           sum(age) AS sx, sum(ly) AS sy,
           sum(age * age) AS sxx, sum(age * ly) AS sxy
    FROM xy),
fit AS (
    SELECT k,
           (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / {_RET_MICRO} AS slope
    FROM m)
SELECT k AS n_ages,
       round(slope, 6) AS slope_per_month,
       CAST(CASE WHEN slope >= 0 THEN 1 ELSE 0 END AS BIGINT)
           AS no_decay,
       round(CASE WHEN slope < 0 THEN {_LN2} / (-slope)
                  ELSE 0.0 END, 4) AS halflife_months
FROM fit
"""


# --------------------------------------------------- Burrows Delta

_BD_TOP_WORDS = 50
_BD_OUT_PAIRS = 20


def _text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = materialize(
        read_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_BD_TOP_WORDS)
        .select("w")
    )
    totals = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    # full (source × top-word) grid so missing words count as freq 0
    grid = totals.crossJoin(F.broadcast(top))
    cnts = (
        tok.join(F.broadcast(top), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    freq = (
        grid.join(cnts, ["source", "w"], "left")
        .na.fill(0, ["c"])
        .select(
            "source", "w", (F.col("c") / F.col("t")).alias("fr")
        )
    )
    # per-word μ and σ across sources, ROUNDED at 9dp before z-scoring
    # (the cross-engine determinism cut); ns = number of sources
    stats = freq.groupBy("w").agg(
        F.round(F.avg("fr"), 9).alias("mu"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.avg(F.col("fr") * F.col("fr"))
                    - F.avg("fr") * F.avg("fr"),
                    F.lit(0.0),
                )
            ),
            9,
        ).alias("sig"),
    ).filter(F.col("sig") > 0)
    z = freq.join(F.broadcast(stats), "w").select(
        "source",
        "w",
        ((F.col("fr") - F.col("mu")) / F.col("sig")).alias("z"),
    )
    za = z.select(
        F.col("source").alias("src_a"), "w", F.col("z").alias("zza")
    )
    zb = z.select(
        F.col("source").alias("src_b"), "w", F.col("z").alias("zzb")
    )
    pairs = (
        za.join(zb, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.round(F.avg(F.abs(F.col("zza") - F.col("zzb"))), 9).alias(
                "dkey"
            )
        )
    )
    return (
        pairs.orderBy(F.asc("dkey"), F.asc("src_a"), F.asc("src_b"))
        .limit(_BD_OUT_PAIRS)
        .select(
            "src_a",
            "src_b",
            F.round("dkey", 6).alias("delta"),
        )
    )


BURROWS_SQL = f"""
WITH tok AS (
    SELECT source, w
    FROM (SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents)
    WHERE w != ''),
top AS (
    SELECT w FROM tok GROUP BY w
    ORDER BY count(*) DESC, w LIMIT {_BD_TOP_WORDS}),
totals AS (
    SELECT source, CAST(count(*) AS BIGINT) AS t
    FROM tok GROUP BY source),
grid AS (SELECT source, t, w FROM totals CROSS JOIN top),
cnts AS (
    SELECT source, w, CAST(count(*) AS BIGINT) AS c
    FROM tok WHERE w IN (SELECT w FROM top)
    GROUP BY source, w),
freq AS (
    SELECT grid.source, grid.w,
           coalesce(c, 0) * 1.0 / t AS fr
    FROM grid LEFT JOIN cnts
      ON grid.source = cnts.source AND grid.w = cnts.w),
stats AS (
    SELECT w, round(avg(fr), 9) AS mu,
           round(sqrt(greatest(avg(fr * fr) - avg(fr) * avg(fr), 0.0)),
                 9) AS sig
    FROM freq GROUP BY w
    HAVING round(sqrt(greatest(avg(fr * fr) - avg(fr) * avg(fr), 0.0)),
                 9) > 0),
z AS (
    SELECT source, freq.w, (fr - mu) / sig AS z
    FROM freq JOIN stats ON freq.w = stats.w),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b,
           round(avg(abs(a.z - b.z)), 9) AS dkey
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source)
SELECT src_a, src_b, round(dkey, 6) AS delta
FROM pairs
ORDER BY dkey, src_a, src_b LIMIT {_BD_OUT_PAIRS}
"""


# ------------------------------------------- seasonality strength


def _events_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = materialize(
        read_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("dday"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    a = daily.select(
        F.col("dday").alias("da"), F.col("c").alias("ca")
    )
    # ±3-day moving average via bounded self-join on the calendar
    # frame — window-free trend
    trend = (
        a.join(
            F.broadcast(daily),
            F.abs(F.datediff(F.col("da"), F.col("dday"))) <= 3,
        )
        .groupBy("da", "ca")
        .agg(F.avg("c").alias("tr"))
    )
    det = trend.select(
        "da",
        (F.col("ca") - F.col("tr")).alias("dt"),
        F.dayofweek("da").alias("dw"),
        F.col("ca").cast("double").alias("cd"),
    )
    seas = det.groupBy("dw").agg(F.avg("dt").alias("sv"))
    resid = det.join(F.broadcast(seas), "dw").select(
        "da",
        "dt",
        "cd",
        (F.col("dt") - F.col("sv")).alias("rs"),
        (F.col("cd") - F.col("sv")).alias("deseas"),
    )
    agg = resid.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.var_samp("rs").alias("vr"),
        F.var_samp("dt").alias("vdt"),
        F.var_samp("deseas").alias("vds"),
    )
    return agg.select(
        "n_days",
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vdt")), 6
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vds")), 6
        ).alias("trend_strength"),
    )


SEASONALITY_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS dday, CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1),
trend AS (
    SELECT a.dday AS da, a.c AS ca, avg(b.c) AS tr
    FROM daily a JOIN daily b
      ON abs(date_diff('day', b.dday, a.dday)) <= 3
    GROUP BY a.dday, a.c),
det AS (
    SELECT da, ca - tr AS dt,
           CASE WHEN dayofweek(da) = 0 THEN 1
                ELSE dayofweek(da) + 1 END AS dw,
           CAST(ca AS DOUBLE) AS cd
    FROM trend),
seas AS (SELECT dw, avg(dt) AS sv FROM det GROUP BY dw),
resid AS (
    SELECT da, dt, cd, dt - sv AS rs, cd - sv AS deseas
    FROM det JOIN seas USING (dw)),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           var_samp(rs) AS vr, var_samp(dt) AS vdt,
           var_samp(deseas) AS vds
    FROM resid)
SELECT n_days,
       round(greatest(0.0, 1.0 - vr / vdt), 6) AS seasonal_strength,
       round(greatest(0.0, 1.0 - vr / vds), 6) AS trend_strength
FROM agg
"""


# ------------------------------------------- peak-hour Chernoff


def _events_peak_hour_chernoff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hh = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hb"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = hh.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("tot"),
        F.max("c").cast("long").alias("k"),
    )
    lam = F.col("tot") / F.col("n_hours")
    # ln P(X >= k) <= -λ + k·(1 + ln λ − ln k); log10 = ln / ln 10
    lnb = -lam + F.col("k") * (
        1.0 + F.log(lam) - F.log(F.col("k").cast("double"))
    )
    return agg.select(
        "n_hours",
        F.col("k").alias("peak_count"),
        F.round(lam, 6).alias("lambda_hourly"),
        F.round(lnb / math.log(10.0), 4).alias(
            "chernoff_log10_bound"
        ),
    )


_LN10 = repr(math.log(10.0))

CHERNOFF_SQL = f"""
WITH hh AS (
    SELECT date_trunc('hour', ts) AS hb, CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(c) AS BIGINT) AS tot,
           CAST(max(c) AS BIGINT) AS k
    FROM hh)
SELECT n_hours, k AS peak_count,
       round(tot * 1.0 / n_hours, 6) AS lambda_hourly,
       round((-(tot * 1.0 / n_hours)
              + k * (1.0 + ln(tot * 1.0 / n_hours)
                     - ln(CAST(k AS DOUBLE))))
             / {_LN10}, 4) AS chernoff_log10_bound
FROM agg
"""


QUERIES: dict[str, QuerySpec] = {
    "events_poisson_glm_irls": QuerySpec(
        _events_poisson_glm_irls, PGLM_SQL
    ),
    "orders_retention_halflife": QuerySpec(
        _orders_retention_halflife, RETENTION_SQL
    ),
    "text_burrows_delta": QuerySpec(_text_burrows_delta, BURROWS_SQL),
    "events_seasonality_strength": QuerySpec(
        _events_seasonality_strength, SEASONALITY_SQL
    ),
    "events_peak_hour_chernoff": QuerySpec(
        _events_peak_hour_chernoff, CHERNOFF_SQL
    ),
}
