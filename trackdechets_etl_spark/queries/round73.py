"""Round-12 additions: distribution analytics on the value-counts
spine plus four classical nonparametric/time-series tests that were
missing from the registry (grep-verified: tukey/fence, lorenz,
wilcoxon, levene/brown-forsythe, ljung, pettitt, granger, holt/ses all
had zero hits).

- ``lineitem_tukey_fences``: per return flag — exact Q1/Q3 via the
  distributed value-counts percentile operator, IQR, 1.5·IQR Tukey
  fences, and the outlier counts beyond them. THE standard robust
  outlier screen run before training-data ingestion.
- ``orders_lorenz_deciles``: Lorenz curve of customer spend — decile
  boundaries from exact percentiles over integer cents, per-decile
  revenue share and cumulative share. The concentration diagnostic
  behind Gini (already in the registry) with the actual curve points.
- ``events_brown_forsythe``: Brown–Forsythe (median-centered Levene)
  test for variance homogeneity of event values across event types —
  group medians from the percentile operator, deviations snapped to
  exact quarter-cents, one-way ANOVA F on integer sums.
- ``events_ses_backtest``: simple exponential smoothing (α=0.3) on the
  daily event-count series via the closed-form weight expansion
  (w(t,i) = α(1−α)^{t−i}, init weight (1−α)^{t−1}), with one-step-ahead
  MAE/RMSE backtest. The T×T weight grid is bounded by calendar days.
- ``orders_ljung_box``: Ljung–Box Q at lags 1..7 on daily revenue —
  autocorrelations computed from EXACT integer cross-products
  (numerator and denominator scaled by n² stay in decimal(38)),
  doubles only at the ρ_k division.
- ``lineitem_wilcoxon_signed_rank``: Wilcoxon signed-rank test on the
  per-order odd-vs-even line-number price split — midranks from the
  value-counts cumsum (2·rank kept integer), tie-corrected normal
  approximation. No global sort: ranks come from the same shuffle-once
  value-counts spine as the percentiles.
- ``events_pettitt_test``: Pettitt rank-based change-point test on the
  daily event-count series — U_t from midranks (integer throughout),
  argmax |U_t| with deterministic tie-break, approximate p-value.
- ``orders_granger_daily``: lag-1 Granger-style test — does daily
  order COUNT improve the one-step forecast of daily REVENUE beyond
  revenue's own lag? Restricted vs unrestricted OLS in closed form
  from exact integer cross-products, F-statistic on the RSS drop.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-12; tests in tests/test_round73.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.operators.percentiles import (
    exact_percentiles_value_counts,
)
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------------------ tukey fences


def _lineitem_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    pct = exact_percentiles_value_counts(
        li, ["l_returnflag"], "l_extendedprice", [0.25, 0.75], ["__q1", "__q3"]
    )
    iqr = F.col("__q3") - F.col("__q1")
    fen = pct.select(
        "l_returnflag",
        "__q1",
        "__q3",
        (F.col("__q1") - 1.5 * iqr).alias("__lo"),
        (F.col("__q3") + 1.5 * iqr).alias("__hi"),
    )
    j = li.join(fen, "l_returnflag")
    g = j.groupBy("l_returnflag").agg(
        F.round(F.min("__q1"), 4).alias("q1"),
        F.round(F.min("__q3"), 4).alias("q3"),
        F.round(F.min("__q3") - F.min("__q1"), 4).alias("iqr"),
        F.round(F.min("__lo"), 4).alias("lo_fence"),
        F.round(F.min("__hi"), 4).alias("hi_fence"),
        F.sum((F.col("l_extendedprice") < F.col("__lo")).cast("int"))
        .cast("long")
        .alias("n_low"),
        F.sum((F.col("l_extendedprice") > F.col("__hi")).cast("int"))
        .cast("long")
        .alias("n_high"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return g.select(
        "l_returnflag",
        "q1",
        "q3",
        "iqr",
        "lo_fence",
        "hi_fence",
        "n_low",
        "n_high",
        "n_rows",
        F.round(
            100.0 * (F.col("n_low") + F.col("n_high")) / F.col("n_rows"), 6
        ).alias("pct_outliers"),
    ).orderBy("l_returnflag")


TUKEY_SQL = """
WITH f AS (
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS q1x,
           quantile_cont(l_extendedprice, 0.75) AS q3x
    FROM lineitem GROUP BY 1)
SELECT li.l_returnflag,
       round(min(q1x), 4) AS q1,
       round(min(q3x), 4) AS q3,
       round(min(q3x) - min(q1x), 4) AS iqr,
       round(min(q1x - 1.5 * (q3x - q1x)), 4) AS lo_fence,
       round(min(q3x + 1.5 * (q3x - q1x)), 4) AS hi_fence,
       CAST(sum(CASE WHEN l_extendedprice < q1x - 1.5 * (q3x - q1x)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN l_extendedprice > q3x + 1.5 * (q3x - q1x)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(100.0 * (sum(CASE WHEN l_extendedprice < q1x - 1.5 * (q3x - q1x)
                               THEN 1 ELSE 0 END)
                      + sum(CASE WHEN l_extendedprice > q3x + 1.5 * (q3x - q1x)
                                 THEN 1 ELSE 0 END))
             / count(*), 6) AS pct_outliers
FROM lineitem li JOIN f USING (l_returnflag)
GROUP BY li.l_returnflag
ORDER BY 1
"""


# ---------------------------------------------------- lorenz deciles

_LORENZ_QS = [i / 10 for i in range(1, 10)]


def _orders_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    # Boundaries from exact percentiles over integer cents (< 2^53, so
    # the double cast is exact); the boundary frame is ONE row.
    bounds = exact_percentiles_value_counts(
        spend.withColumn("v", F.col("cents").cast("double")),
        [],
        "v",
        _LORENZ_QS,
        [f"__b{i}" for i in range(1, 10)],
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + (F.col("cents") > F.col(f"__b{i}")).cast("int")
    dec = spend.crossJoin(F.broadcast(bounds)).select(
        "cents", decile.cast("long").alias("decile")
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("__dc"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(F.sum("__dc").cast("long").alias("__tot"))
    return (
        per.withColumn("__cum", F.sum("__dc").over(wcum).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.round(F.col("__dc") / F.col("__tot"), 6).alias(
                "decile_share"
            ),
            F.round(F.col("__cum") / F.col("__tot"), 6).alias("cum_share"),
        )
        .orderBy("decile")
    )


_LORENZ_BOUNDS = ", ".join(
    f"quantile_cont(v, {q}) AS b{i}" for i, q in enumerate(_LORENZ_QS, 1)
)
_LORENZ_CASE = " + ".join(
    f"(CASE WHEN cents > b{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
)

LORENZ_SQL = f"""
WITH spend AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey),
b AS (
    SELECT {_LORENZ_BOUNDS}
    FROM (SELECT CAST(cents AS DOUBLE) AS v FROM spend)),
dec AS (
    SELECT cents, CAST(1 + {_LORENZ_CASE} AS BIGINT) AS decile
    FROM spend, b),
per AS (
    SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS dc
    FROM dec GROUP BY decile),
tot AS (SELECT CAST(sum(dc) AS BIGINT) AS t FROM per)
SELECT decile, n_customers,
       round(dc * 1.0 / t, 6) AS decile_share,
       round(CAST(sum(dc) OVER (ORDER BY decile) AS BIGINT) * 1.0 / t, 6)
           AS cum_share
FROM per, tot
ORDER BY decile
"""


# ------------------------------------------------- brown-forsythe


def _events_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deviations |value − group median| snap to exact quarter-cents
    (values are 2dp; the interpolated median lands on quarter-cent
    grid points, and ×400 + round recovers the exact integer from the
    sub-ulp float error), so every ANOVA sum is integer-exact; floats
    appear only in the final F division."""
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    med = exact_percentiles_value_counts(
        ev, ["event_type"], "value", [0.5], ["__med"]
    )
    z = ev.join(med, "event_type").select(
        "event_type",
        F.round(F.abs(F.col("value") - F.col("__med")) * 400, 0)
        .cast("long")
        .alias("zq"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("zq").cast("long").alias("sz"),
        F.sum(
            F.col("zq").cast("decimal(38,0)")
            * F.col("zq").cast("decimal(38,0)")
        ).alias("szz"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum(d("sz")).alias("stot"),
        F.sum("szz").cast("decimal(38,0)").alias("sztot"),
        F.sum(d("sz") * d("sz") / d("ng")).alias("ssb_raw"),
    )
    ssb = F.col("ssb_raw") - F.col("stot") * F.col("stot") / d("n")
    ssw = d("sztot") - F.col("ssb_raw")
    fstat = (ssb / (d("k") - 1.0)) / (ssw / (d("n") - d("k")))
    return t.select(
        "k",
        "n",
        F.round(fstat, 6).alias("f_stat"),
    )


BROWN_FORSYTHE_SQL = """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS m
    FROM events GROUP BY event_type),
z AS (
    SELECT events.event_type,
           CAST(round(abs(value - m) * 400, 0) AS BIGINT) AS zq
    FROM events JOIN med USING (event_type)),
g AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
           CAST(sum(zq) AS BIGINT) AS sz,
           sum(CAST(zq AS HUGEINT) * CAST(zq AS HUGEINT)) AS szz
    FROM z GROUP BY event_type),
t AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(ng) AS BIGINT) AS n,
           sum(CAST(sz AS DOUBLE)) AS stot,
           CAST(sum(szz) AS DOUBLE) AS sztot,
           sum(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
               / CAST(ng AS DOUBLE)) AS ssb_raw
    FROM g)
SELECT k, n,
       round(((ssb_raw - stot * stot / CAST(n AS DOUBLE))
              / (CAST(k AS DOUBLE) - 1.0))
             / ((sztot - ssb_raw) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))),
             6) AS f_stat
FROM t
"""


# ----------------------------------------------------- SES backtest

_SES_ALPHA = 0.3


def _events_ses_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form SES: s_t = Σ_i w(t,i)·x_i with w(t,i) =
    α(1−α)^{t−i} (i>1) and (1−α)^{t−1} for the s_1 = x_1 init. The
    (t,i) grid is T² over CALENDAR DAYS (30 here, bounded by the date
    domain at any corpus size), so the quadratic form never grows with
    rows; the heavy part — the daily counts — is one parallel
    aggregate."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    wd = Window.orderBy("day")
    idx = daily.withColumn("t", F.row_number().over(wd).cast("long"))
    a = idx.select(F.col("t").alias("tt"))
    b = idx.select(F.col("t").alias("i"), F.col("x").alias("xi"))
    al, om = _SES_ALPHA, 1.0 - _SES_ALPHA
    w = F.when(
        F.col("i") == 1, F.pow(F.lit(om), F.col("tt") - 1)
    ).otherwise(F.lit(al) * F.pow(F.lit(om), F.col("tt") - F.col("i")))
    s = (
        a.join(b, F.col("i") <= F.col("tt"))
        .select("tt", (w * F.col("xi")).alias("term"))
        .groupBy("tt")
        .agg(F.sum("term").alias("s"))
    )
    # one-step-ahead: error at day t+1 is x_{t+1} − s_t
    err = idx.join(
        s.select((F.col("tt") + 1).alias("t"), F.col("s").alias("prev_s")),
        "t",
    ).select((F.col("x") - F.col("prev_s")).alias("e"))
    nmax = idx.agg(F.max("t").alias("tmax"))
    last = s.join(
        nmax, F.col("tt") == F.col("tmax")
    ).select(F.col("s").alias("last_s"))
    return (
        err.agg(
            F.count(F.lit(1)).cast("long").alias("n_forecasts"),
            F.round(F.avg(F.abs(F.col("e"))), 4).alias("mae"),
            F.round(F.sqrt(F.avg(F.col("e") * F.col("e"))), 4).alias(
                "rmse"
            ),
        )
        .crossJoin(F.broadcast(last))
        .select(
            "n_forecasts",
            "mae",
            "rmse",
            F.round("last_s", 4).alias("last_smooth"),
        )
    )


SES_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1),
idx AS (
    SELECT day, x,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily),
s AS (
    SELECT a.t AS tt,
           sum((CASE WHEN b.t = 1
                     THEN pow({1.0 - _SES_ALPHA}, a.t - 1)
                     ELSE {_SES_ALPHA} * pow({1.0 - _SES_ALPHA}, a.t - b.t)
                END) * b.x) AS s
    FROM idx a JOIN idx b ON b.t <= a.t
    GROUP BY a.t),
err AS (
    SELECT idx.x - s.s AS e
    FROM idx JOIN s ON idx.t = s.tt + 1),
last AS (
    SELECT s FROM s WHERE tt = (SELECT max(t) FROM idx))
SELECT CAST(count(*) AS BIGINT) AS n_forecasts,
       round(avg(abs(e)), 4) AS mae,
       round(sqrt(avg(e * e)), 4) AS rmse,
       round(min(last.s), 4) AS last_smooth
FROM err, last
"""


# ------------------------------------------------------- ljung-box

_LB_LAGS = 7


def _daily_revenue_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("x")
    )
    wd = Window.orderBy("day")
    return daily.withColumn(
        "t", F.row_number().over(wd).cast("long")
    )


def _orders_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelations from EXACT integer arithmetic: with m = Sx/n,
    n²·Σ(x_t−m)(x_{t+k}−m) = n²·Σx_t·x_{t+k} − n·Sx·(Σhead+Σtail)
    + (n−k)·Sx² and n²·Σ(x−m)² = n²·Σx² − n·Sx², all decimal(38,0)
    (cents ~1e7, n ~2400 → terms ≤ ~1e24). Doubles only at ρ_k = num/
    den and the final Q sum. The day index is a calendar-bounded
    window; the daily aggregate is the only row-scale pass."""
    idx = materialize(_daily_revenue_idx(spark, sf_dir))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    base = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
    )
    lags = spark.range(1, _LB_LAGS + 1).select(
        F.col("id").cast("long").alias("k")
    )
    a = idx.select(F.col("t"), F.col("x").alias("xa"))
    b = idx.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    per = (
        lags.join(a, F.lit(True))
        .join(
            b,
            F.col("tb") == F.col("t") + F.col("k"),
        )
        .groupBy("k")
        .agg(
            F.sum(dec("xa") * dec("xb")).alias("sxy"),
            F.sum("xa").cast("long").alias("sh"),
            F.sum("xb").cast("long").alias("st"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    j = per.crossJoin(F.broadcast(base))
    num = (
        dec("n") * dec("n") * F.col("sxy")
        - dec("n") * dec("sx") * (dec("sh") + dec("st"))
        + (dec("n") - dec("k")) * dec("sx") * dec("sx")
    )
    den = dec("n") * dec("n") * F.col("sxx") - dec("n") * dec("sx") * dec(
        "sx"
    )
    rho = j.select(
        "k",
        "n",
        (num.cast("double") / den.cast("double")).alias("rho"),
    )
    q = rho.select(
        "n",
        (
            F.col("rho") * F.col("rho") / (d("n") - d("k"))
        ).alias("qterm"),
        F.when(F.col("k") == 1, F.col("rho")).alias("rho1"),
    ).groupBy("n").agg(
        F.round(
            d("n") * (d("n") + 2.0) * F.sum("qterm"), 6
        ).alias("q_stat"),
        F.round(F.max("rho1"), 6).alias("rho_lag1"),
    )
    return q.select(
        F.col("n").alias("n_days"), "q_stat", "rho_lag1"
    )


LJUNG_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS x
    FROM orders GROUP BY 1),
idx AS (
    SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily),
base AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
    FROM idx),
lags AS (SELECT CAST(i AS BIGINT) AS k
         FROM unnest(generate_series(1, {_LB_LAGS})) u(i)),
per AS (
    SELECT k,
           sum(CAST(a.x AS HUGEINT) * CAST(b.x AS HUGEINT)) AS sxy,
           CAST(sum(a.x) AS BIGINT) AS sh,
           CAST(sum(b.x) AS BIGINT) AS st
    FROM lags, idx a JOIN idx b ON b.t = a.t + k
    GROUP BY k),
rho AS (
    SELECT k, n,
           CAST(CAST(n AS HUGEINT) * n * sxy
                - CAST(n AS HUGEINT) * sx * (CAST(sh AS HUGEINT) + st)
                + CAST(n - k AS HUGEINT) * sx * sx AS DOUBLE)
           / CAST(CAST(n AS HUGEINT) * n * sxx
                  - CAST(n AS HUGEINT) * sx * sx AS DOUBLE) AS rho
    FROM per, base)
SELECT min(n) AS n_days,
       round(CAST(min(n) AS DOUBLE) * (CAST(min(n) AS DOUBLE) + 2.0)
             * sum(rho * rho / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))),
             6) AS q_stat,
       round(max(CASE WHEN k = 1 THEN rho END), 6) AS rho_lag1
FROM rho
"""


# ------------------------------------------- wilcoxon signed rank


def _lineitem_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Paired sample: per order, summed price of odd line numbers vs
    even line numbers (cents — exact). Midranks of |d| come from the
    value-counts cumsum (2·rank = 2·cnt_less + cnt + 1 stays integer),
    so W+ is integer-exact with no global sort; the tie-corrected
    normal approximation goes to doubles only at z."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    dd = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                F.when(F.col("l_linenumber") % 2 == 1, cents).otherwise(
                    -cents
                )
            )
            .cast("long")
            .alias("dpair")
        )
        .filter(F.col("dpair") != 0)
        .select(
            F.abs(F.col("dpair")).alias("ad"),
            (F.col("dpair") > 0).cast("int").alias("pos"),
        )
    )
    vc = dd.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("npos"),
    )
    # Distinct |d| values grow with the order count, so the rank
    # cumsum uses the range-partitioned exact prefix sum (integer —
    # bit-identical decomposition), not a single-partition window.
    from trackdechets_etl_spark.operators.ranking import global_row_number

    ranked = global_row_number(
        vc, [F.asc("ad")], rank_col="__vc_rank", sum_of=("cnt", "ccnt")
    ).drop("__vc_rank")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    two_rbar = 2 * (F.col("ccnt") - F.col("cnt")) + F.col("cnt") + 1
    agg = ranked.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(dec("npos") * two_rbar.cast("decimal(38,0)")).alias(
            "w2plus"
        ),
        F.sum(
            dec("cnt") * dec("cnt") * dec("cnt") - dec("cnt")
        ).alias("tie3"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # z = (W+ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σ(c³−c)/48)
    #   = (2W+ − n(n+1)/2) / sqrt(n(n+1)(2n+1)/6 − Σ(c³−c)/12)
    num = d("w2plus") - d("n") * (d("n") + 1.0) / 2.0
    var4 = d("n") * (d("n") + 1.0) * (2.0 * d("n") + 1.0) / 6.0 - d(
        "tie3"
    ) / 12.0
    return agg.select(
        F.col("n").alias("n_pairs"),
        (F.col("w2plus").cast("double") / 2.0).alias("w_plus"),
        F.round(num / F.sqrt(var4), 6).alias("z_stat"),
    )


WILCOXON_SQL = """
WITH dd AS (
    SELECT abs(dpair) AS ad,
           CASE WHEN dpair > 0 THEN 1 ELSE 0 END AS pos
    FROM (
        SELECT l_orderkey,
               CAST(sum(CASE WHEN l_linenumber % 2 = 1
                             THEN CAST(round(l_extendedprice * 100, 0)
                                       AS BIGINT)
                             ELSE -CAST(round(l_extendedprice * 100, 0)
                                        AS BIGINT) END) AS BIGINT)
                   AS dpair
        FROM lineitem GROUP BY l_orderkey)
    WHERE dpair <> 0),
vc AS (
    SELECT ad, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(pos) AS BIGINT) AS npos
    FROM dd GROUP BY ad),
ranked AS (
    SELECT *, CAST(sum(cnt) OVER (ORDER BY ad) AS BIGINT) AS ccnt
    FROM vc),
agg AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS n,
           sum(CAST(npos AS HUGEINT)
               * (2 * (ccnt - cnt) + cnt + 1)) AS w2plus,
           sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie3
    FROM ranked)
SELECT n AS n_pairs,
       CAST(w2plus AS DOUBLE) / 2.0 AS w_plus,
       round((CAST(w2plus AS DOUBLE)
              - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0)
             / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                    * (2.0 * CAST(n AS DOUBLE) + 1.0) / 6.0
                    - CAST(tie3 AS DOUBLE) / 12.0), 6) AS z_stat
FROM agg
"""


# ------------------------------------------------------ pettitt test


def _events_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Midrank form: U_t = 2·Σ_{i≤t} r̄_i − t(n+1) stays integer when
    tracked as 2·r̄ (= 2·cnt_less + cnt + 1 from the value-counts
    cumsum); K = max|U_t| with min-t tie-break, p ≈ 2·exp(−6K²/(n³+n²)).
    Day count is calendar-bounded, so every window here is O(days)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    vc = daily.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.orderBy("x")
    ranked = vc.withColumn("ccnt", F.sum("cnt").over(wv)).select(
        "x",
        (2 * (F.col("ccnt") - F.col("cnt")) + F.col("cnt") + 1).alias(
            "two_rbar"
        ),
    )
    wd = Window.orderBy("day")
    ut = (
        daily.join(ranked, "x")
        .withColumn("t", F.row_number().over(wd).cast("long"))
        .withColumn(
            "s2", F.sum("two_rbar").over(
                wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        )
    )
    nrow = ut.agg(F.max("t").cast("long").alias("n"))
    scored = ut.crossJoin(F.broadcast(nrow)).select(
        "day",
        "t",
        "n",
        (F.col("s2") - F.col("t") * (F.col("n") + 1)).alias("u"),
    )
    best = scored.orderBy(
        F.abs(F.col("u")).desc(), F.col("t").asc()
    ).limit(1)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p = 2.0 * F.exp(
        -6.0
        * d("u")
        * d("u")
        / (d("n") * d("n") * d("n") + d("n") * d("n"))
    )
    return best.select(
        F.col("n").alias("n_days"),
        F.date_format("day", "yyyy-MM-dd").alias("change_day"),
        F.abs(F.col("u")).cast("long").alias("k_stat"),
        F.round(p, 6).alias("p_approx"),
    )


PETTITT_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1),
vc AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM daily GROUP BY x),
ranked AS (
    SELECT x, 2 * (CAST(sum(cnt) OVER (ORDER BY x) AS BIGINT) - cnt)
              + cnt + 1 AS two_rbar
    FROM vc),
ut AS (
    SELECT day,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
           CAST(sum(two_rbar) OVER (ORDER BY day) AS BIGINT) AS s2
    FROM daily JOIN ranked USING (x)),
n AS (SELECT CAST(max(t) AS BIGINT) AS n FROM ut),
scored AS (
    SELECT day, t, n.n, s2 - t * (n.n + 1) AS u FROM ut, n),
best AS (
    SELECT * FROM scored ORDER BY abs(u) DESC, t ASC LIMIT 1)
SELECT n AS n_days,
       strftime(day, '%Y-%m-%d') AS change_day,
       CAST(abs(u) AS BIGINT) AS k_stat,
       round(2.0 * exp(-6.0 * CAST(u AS DOUBLE) * CAST(u AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          * CAST(n AS DOUBLE)
                          + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
             6) AS p_approx
FROM best
"""


# ------------------------------------------------------ granger lag-1


def _orders_granger_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does daily order count Granger-cause daily revenue at lag 1?
    Closed-form OLS on centered cross-products scaled by m (S̃ab =
    m·Σab − Σa·Σb, exact in decimal(38,0) from integer cents/counts);
    the restricted (revenue lag only) vs unrestricted (+ count lag)
    RSS drop gives the F statistic. Doubles only after the exact
    sums."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "r"
        ),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    wd = Window.orderBy("day")
    idx = materialize(
        daily.withColumn("t", F.row_number().over(wd).cast("long"))
    )
    cur = idx.select(F.col("t"), F.col("r").alias("y"))
    prev = idx.select(
        (F.col("t") + 1).alias("t"),
        F.col("r").alias("x1"),
        F.col("c").alias("x2"),
    )
    rows = cur.join(prev, "t")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = rows.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum(dec("y") * dec("y")).alias("syy"),
        F.sum(dec("x1") * dec("x1")).alias("sx1x1"),
        F.sum(dec("x2") * dec("x2")).alias("sx2x2"),
        F.sum(dec("x1") * dec("y")).alias("sx1y"),
        F.sum(dec("x2") * dec("y")).alias("sx2y"),
        F.sum(dec("x1") * dec("x2")).alias("sx1x2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def tilde(ab: str, a: str, b: str):
        return (
            dec("m") * F.col(ab) - dec(a) * dec(b)
        ).cast("double")

    tyy = tilde("syy", "sy", "sy")
    t11 = tilde("sx1x1", "sx1", "sx1")
    t22 = tilde("sx2x2", "sx2", "sx2")
    t1y = tilde("sx1y", "sx1", "sy")
    t2y = tilde("sx2y", "sx2", "sy")
    t12 = tilde("sx1x2", "sx1", "sx2")
    det = t11 * t22 - t12 * t12
    b1 = (t1y * t22 - t2y * t12) / det
    b2 = (t2y * t11 - t1y * t12) / det
    rss_u = tyy - b1 * t1y - b2 * t2y
    rss_r = tyy - t1y * t1y / t11
    fstat = (rss_r - rss_u) / (rss_u / (d("m") - 3.0))
    return s.select(
        F.col("m").alias("n_days"),
        F.round(fstat, 6).alias("f_stat"),
        F.round(b2, 6).alias("b_cnt_lag"),
        F.round(rss_r / rss_u, 6).alias("rss_ratio"),
    )


GRANGER_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS r,
           CAST(count(*) AS BIGINT) AS c
    FROM orders GROUP BY 1),
idx AS (
    SELECT r, c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily),
rows_ AS (
    SELECT a.r AS y, b.r AS x1, b.c AS x2
    FROM idx a JOIN idx b ON a.t = b.t + 1),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x1) AS BIGINT) AS sx1,
           CAST(sum(x2) AS BIGINT) AS sx2,
           sum(CAST(y AS HUGEINT) * y) AS syy,
           sum(CAST(x1 AS HUGEINT) * x1) AS sx1x1,
           sum(CAST(x2 AS HUGEINT) * x2) AS sx2x2,
           sum(CAST(x1 AS HUGEINT) * y) AS sx1y,
           sum(CAST(x2 AS HUGEINT) * y) AS sx2y,
           sum(CAST(x1 AS HUGEINT) * x2) AS sx1x2
    FROM rows_),
tl AS (
    SELECT m,
           CAST(CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                AS DOUBLE) AS tyy,
           CAST(CAST(m AS HUGEINT) * sx1x1 - CAST(sx1 AS HUGEINT) * sx1
                AS DOUBLE) AS t11,
           CAST(CAST(m AS HUGEINT) * sx2x2 - CAST(sx2 AS HUGEINT) * sx2
                AS DOUBLE) AS t22,
           CAST(CAST(m AS HUGEINT) * sx1y - CAST(sx1 AS HUGEINT) * sy
                AS DOUBLE) AS t1y,
           CAST(CAST(m AS HUGEINT) * sx2y - CAST(sx2 AS HUGEINT) * sy
                AS DOUBLE) AS t2y,
           CAST(CAST(m AS HUGEINT) * sx1x2 - CAST(sx1 AS HUGEINT) * sx2
                AS DOUBLE) AS t12
    FROM s),
fin AS (
    SELECT m, tyy, t11, t22, t1y, t2y, t12,
           t11 * t22 - t12 * t12 AS det
    FROM tl)
SELECT m AS n_days,
       round(((tyy - t1y * t1y / t11)
              - (tyy - ((t1y * t22 - t2y * t12) / det) * t1y
                     - ((t2y * t11 - t1y * t12) / det) * t2y))
             / ((tyy - ((t1y * t22 - t2y * t12) / det) * t1y
                     - ((t2y * t11 - t1y * t12) / det) * t2y)
                / (CAST(m AS DOUBLE) - 3.0)), 6) AS f_stat,
       round((t2y * t11 - t1y * t12) / det, 6) AS b_cnt_lag,
       round((tyy - t1y * t1y / t11)
             / (tyy - ((t1y * t22 - t2y * t12) / det) * t1y
                    - ((t2y * t11 - t1y * t12) / det) * t2y), 6)
           AS rss_ratio
FROM fin
"""


QUERIES: dict[str, QuerySpec] = {
    "lineitem_tukey_fences": QuerySpec(_lineitem_tukey_fences, TUKEY_SQL),
    "orders_lorenz_deciles": QuerySpec(_orders_lorenz_deciles, LORENZ_SQL),
    "events_brown_forsythe": QuerySpec(
        _events_brown_forsythe, BROWN_FORSYTHE_SQL
    ),
    "events_ses_backtest": QuerySpec(_events_ses_backtest, SES_SQL),
    "orders_ljung_box": QuerySpec(_orders_ljung_box, LJUNG_SQL),
    "lineitem_wilcoxon_signed_rank": QuerySpec(
        _lineitem_wilcoxon_signed_rank, WILCOXON_SQL
    ),
    "events_pettitt_test": QuerySpec(_events_pettitt_test, PETTITT_SQL),
    "orders_granger_daily": QuerySpec(_orders_granger_daily, GRANGER_SQL),
}
