"""Round-9 additions, eighth batch: iterative GLM fitting,
distribution-free prediction intervals, relational cross-validation,
count-model diagnostics, and experiment sizing.

- ``lineitem_logistic_irls``: logistic regression of return
  probability on discount, fit by 4 Fisher-scoring (IRLS) iterations —
  the registry's flagship ITERATIVE algorithm expressed declaratively:
  facts reduce once to the ≤11-level (discount, n, y) frame, and each
  iteration is a re-aggregation of that tiny frame against the 1-row
  broadcast beta. The oracle replays the identical 4 unrolled
  iterations as chained CTEs — proving the lazy-lineage loop ≡ the
  textbook IRLS recursion.
- ``orders_conformal_interval``: split-conformal prediction interval —
  md5-half calibration set, per-month mean model (integer cents),
  nonconformity = |residual|, q̂ = the exact ⌈0.9(n+1)⌉-th order
  statistic via the distributed global rank (operators/ranking.py —
  no single-partition window), empirical coverage on the held half.
  Distribution-free ~90% coverage guarantee; eval rows whose month
  has no calibration support are excluded by the inner model join
  (1 order at sf0.001 — probed).
- ``orders_kfold_cv_rmse``: 5-fold cross-validated RMSE of the
  month-mean model, folds from md5(o_orderkey) — the ML eval loop
  done relationally: train-fold means come from the LEAVE-ONE-FOLD
  algebra over per-(month, fold) sums (no 5× re-scan, the jackknife
  trick), residuals are exact integers (train mean rounded to cents),
  so per-fold RMSE is engine-deterministic. Cells with no train
  support drop via the inner join (probed: 1 singleton month at
  sf0.001).
- ``events_overdispersion_index``: variance-to-mean dispersion index
  of daily counts per event type — THE diagnostic before fitting any
  Poisson count model (index ≈ 1 Poisson, > 1.5 needs a negative
  binomial). Exact integer moments end-to-end: the index is a single
  integer-ratio division (n·Σc²−(Σc)²)/((n−1)·Σc).
- ``events_ab_power_mde``: A/B experiment sizing — minimum detectable
  effect at α=5%/power=80% from the pooled user-level purchase
  conversion, arms = user parity. z quantiles are shared decimal
  literals (no quantile function on either engine); reports observed
  lift over MDE — the "is this test even big enough" gate.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 eighth batch; invariant tests in
tests/test_round63.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.operators.ranking import global_row_number
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.queries.round61 import _hex8_int_sql
from trackdechets_etl_spark.session import materialize

# ------------------------------------------------- logistic IRLS

_IRLS_ITERS = 4


def _lineitem_logistic_irls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # the level frame feeds one aggregation per IRLS iteration —
    # materialize it so the fact scan runs once, not ×iterations
    lv = materialize(
        read_table(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_discount") * 100).cast("long").alias("d"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("yy"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("yy").cast("long").alias("y"),
        )
    )
    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )
    for _ in range(_IRLS_ITERS):
        mu = 1.0 / (
            1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("d")))
        )
        w = F.col("n") * mu * (1.0 - mu)
        g = F.col("y") - F.col("n") * mu
        s = (
            lv.crossJoin(F.broadcast(beta))
            .agg(
                F.first("b0").alias("b0"),
                F.first("b1").alias("b1"),
                F.sum(w).alias("sw"),
                F.sum(w * F.col("d")).alias("swx"),
                F.sum(w * F.col("d") * F.col("d")).alias("swxx"),
                F.sum(g).alias("g0"),
                F.sum(g * F.col("d")).alias("g1"),
            )
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
        F.sum("n").cast("long").alias("n_total"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    sig = lambda eta: 1.0 / (1.0 + F.exp(-eta))  # noqa: E731
    return tot.crossJoin(F.broadcast(beta)).select(
        "n_total",
        "n_pos",
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round(sig(F.col("b0")), 6).alias("mu_at_0"),
        F.round(sig(F.col("b0") + 10.0 * F.col("b1")), 6).alias(
            "mu_at_10"
        ),
    )


def _irls_sql(iters: int = _IRLS_ITERS) -> str:
    ctes = ["it0 AS (SELECT 0.0 AS b0, 0.0 AS b1)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"""it{k} AS (
    SELECT b0 + (swxx * g0 - swx * g1) / (sw * swxx - swx * swx) AS b0,
           b1 + (sw * g1 - swx * g0) / (sw * swxx - swx * swx) AS b1
    FROM (SELECT min(b0) AS b0, min(b1) AS b1,
                 sum(n * mu * (1.0 - mu)) AS sw,
                 sum(n * mu * (1.0 - mu) * d) AS swx,
                 sum(n * mu * (1.0 - mu) * d * d) AS swxx,
                 sum(y - n * mu) AS g0,
                 sum((y - n * mu) * d) AS g1
          FROM (SELECT d, n, y, b0, b1,
                       1.0 / (1.0 + exp(-(b0 + b1 * d))) AS mu
                FROM lv, it{k - 1}) t) s)"""
        )
    joined = ",\n".join(ctes)
    return f"""
WITH lv AS (
    SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM lineitem GROUP BY 1),
{joined},
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_total,
           CAST(sum(y) AS BIGINT) AS n_pos
    FROM lv)
SELECT n_total, n_pos,
       round(b0, 6) AS b0, round(b1, 6) AS b1,
       round(1.0 / (1.0 + exp(-b0)), 6) AS mu_at_0,
       round(1.0 / (1.0 + exp(-(b0 + 10.0 * b1))), 6) AS mu_at_10
FROM tot, it{iters}
"""


IRLS_SQL = _irls_sql()


# --------------------------------------------- conformal interval

_CONF_ALPHA_NUM = 9  # target coverage 0.9 = 9/10
_CONF_ALPHA_DEN = 10


def _orders_conformal_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
            "g"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
            < "8"
        ).alias("is_cal"),
    )
    cal = o.filter("is_cal")
    # r14: the model aggregate carries the per-month calibration count,
    # so n_cal (= Σ n_g: the model join is inner on the calibration
    # rows' own months, preserving row count) and k come from a one-row
    # aggregate of the tiny model frame — the second full scan+md5 pass
    # over the calibration rows that nk used to cost is gone. The model
    # frame is lazy-checkpointed once for its three consumers.
    model_n = materialize(
        cal.groupBy("g").agg(
            F.round(F.avg("cents")).cast("long").alias("mc"),
            F.count(F.lit(1)).alias("n_g"),
        ),
        eager=False,
    )
    model = model_n.select("g", "mc")
    res = cal.join(F.broadcast(model), "g").select(
        "o_orderkey", F.abs(F.col("cents") - F.col("mc")).alias("r")
    )
    nk = model_n.agg(
        F.sum("n_g").cast("long").alias("n_cal"),
        # exact ceil(0.9*(n+1)) in integers
        F.floor(
            (
                _CONF_ALPHA_NUM * (F.sum("n_g") + 1)
                + _CONF_ALPHA_DEN
                - 1
            )
            / _CONF_ALPHA_DEN
        )
        .cast("long")
        .alias("k"),
    )
    ranked = global_row_number(
        res, [F.asc("r"), F.asc("o_orderkey")], rank_col="rk"
    )
    qhat = (
        ranked.crossJoin(F.broadcast(nk))
        .filter(F.col("rk") == F.col("k"))
        .select("n_cal", F.col("r").alias("q_cents"))
    )
    ev = o.filter(~F.col("is_cal")).join(F.broadcast(model), "g")
    return (
        ev.crossJoin(F.broadcast(qhat))
        .agg(
            F.first("n_cal").alias("n_cal"),
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.round(F.first("q_cents") / 100.0, 2).alias("q_hat"),
            F.round(
                F.avg(
                    (
                        F.abs(F.col("cents") - F.col("mc"))
                        <= F.col("q_cents")
                    ).cast("double")
                ),
                6,
            ).alias("coverage"),
            F.lit(0.9).alias("target"),
        )
    )


CONFORMAL_SQL = f"""
WITH o AS (
    SELECT o_orderkey,
           year(o_orderdate) * 100 + month(o_orderdate) AS g,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8' AS is_cal
    FROM orders),
model AS (
    SELECT g, CAST(round(avg(cents), 0) AS BIGINT) AS mc
    FROM o WHERE is_cal GROUP BY g),
res AS (
    SELECT o.o_orderkey, abs(cents - mc) AS r
    FROM o JOIN model USING (g) WHERE is_cal),
nk AS (
    SELECT CAST(count(*) AS BIGINT) AS n_cal,
           ({_CONF_ALPHA_NUM} * (count(*) + 1) + {_CONF_ALPHA_DEN} - 1)
               // {_CONF_ALPHA_DEN} AS k
    FROM res),
ranked AS (
    SELECT r, row_number() OVER (ORDER BY r, o_orderkey) AS rk
    FROM res),
qhat AS (
    SELECT n_cal, r AS q_cents FROM ranked, nk WHERE rk = k)
SELECT n_cal,
       CAST(count(*) AS BIGINT) AS n_eval,
       round(min(q_cents) / 100.0, 2) AS q_hat,
       round(avg(CASE WHEN abs(cents - mc) <= q_cents
                      THEN 1.0 ELSE 0.0 END), 6) AS coverage,
       CAST(0.9 AS DOUBLE) AS target
FROM o JOIN model USING (g) CROSS JOIN qhat
WHERE NOT is_cal
GROUP BY n_cal
"""


# ------------------------------------------------- k-fold CV RMSE

_KFOLDS = 5


def _orders_kfold_cv_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
            "g"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(F.col("o_orderkey").cast("string")), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _KFOLDS
        ).alias("fold"),
    )
    cells = o.groupBy("g", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_gf"),
        F.sum("cents").cast("long").alias("s_gf"),
    )
    gtot = cells.groupBy("g").agg(
        F.sum("n_gf").cast("long").alias("n_g"),
        F.sum("s_gf").cast("long").alias("s_g"),
    )
    # leave-one-fold train mean, rounded to integer cents so every
    # residual is exact; cells with no train support (singleton months
    # — probed at sf0.001) drop via the filter
    train = (
        cells.join(gtot, "g")
        .filter(F.col("n_g") > F.col("n_gf"))
        .select(
            "g",
            "fold",
            F.round(
                (F.col("s_g") - F.col("s_gf"))
                / (F.col("n_g") - F.col("n_gf"))
            )
            .cast("long")
            .alias("mc"),
        )
    )
    ev = o.join(F.broadcast(train), ["g", "fold"])
    sq = (F.col("cents") - F.col("mc")) * (F.col("cents") - F.col("mc"))
    per = ev.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(sq.cast("decimal(38,0)")).alias("ss"),
    )
    tot = per.agg(
        (
            F.sum(F.col("ss").cast("double")) / F.sum("n_eval")
        ).alias("mse_all")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_eval",
            F.round(
                F.sqrt(F.col("ss").cast("double") / F.col("n_eval"))
                / 100.0,
                4,
            ).alias("rmse"),
            F.round(F.sqrt("mse_all") / 100.0, 4).alias("overall_rmse"),
        )
        .orderBy("fold")
    )


_KF_FOLD = f"{_hex8_int_sql('md5(CAST(o_orderkey AS VARCHAR))')} % {_KFOLDS}"

KFOLD_SQL = f"""
WITH o AS (
    SELECT year(o_orderdate) * 100 + month(o_orderdate) AS g,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           CAST({_KF_FOLD} AS BIGINT) AS fold
    FROM orders),
cells AS (
    SELECT g, fold, CAST(count(*) AS BIGINT) AS n_gf,
           CAST(sum(cents) AS BIGINT) AS s_gf
    FROM o GROUP BY g, fold),
gtot AS (
    SELECT g, CAST(sum(n_gf) AS BIGINT) AS n_g,
           CAST(sum(s_gf) AS BIGINT) AS s_g
    FROM cells GROUP BY g),
train AS (
    SELECT g, fold,
           CAST(round((s_g - s_gf) * 1.0 / (n_g - n_gf), 0) AS BIGINT)
               AS mc
    FROM cells JOIN gtot USING (g)
    WHERE n_g > n_gf),
per AS (
    SELECT fold, CAST(count(*) AS BIGINT) AS n_eval,
           sum((cents - mc) * (cents - mc)) AS ss
    FROM o JOIN train USING (g, fold)
    GROUP BY fold),
tot AS (
    SELECT sum(CAST(ss AS DOUBLE)) / sum(n_eval) AS mse_all FROM per)
SELECT fold, n_eval,
       round(sqrt(CAST(ss AS DOUBLE) / n_eval) / 100.0, 4) AS rmse,
       round(sqrt(mse_all) / 100.0, 4) AS overall_rmse
FROM per, tot
ORDER BY fold
"""


# ---------------------------------------------- overdispersion


def _events_overdispersion_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    # dispersion = var_samp/mean = (n·Σc² − (Σc)²) / ((n−1)·Σc) —
    # one exact-integer ratio, engine-deterministic
    disp = (
        F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")
    ) / ((F.col("n_days") - 1) * F.col("s1"))
    return per.select(
        "event_type",
        "n_days",
        F.round(F.col("s1") / F.col("n_days"), 4).alias("mean_daily"),
        F.round(disp, 6).alias("dispersion"),
        (disp > 1.5).cast("int").cast("long").alias("overdispersed"),
    ).orderBy("event_type")


OVERDISP_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS dd,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2),
per AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(c) AS BIGINT) AS s1,
           CAST(sum(c * c) AS BIGINT) AS s2
    FROM daily GROUP BY event_type)
SELECT event_type, n_days,
       round(s1 * 1.0 / n_days, 4) AS mean_daily,
       round((n_days * s2 - s1 * s1) * 1.0
             / ((n_days - 1) * s1), 6) AS dispersion,
       CAST(CASE WHEN (n_days * s2 - s1 * s1) * 1.0
                      / ((n_days - 1) * s1) > 1.5
                 THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
FROM per ORDER BY event_type
"""


# --------------------------------------------------- A/B power

# z_{0.975} and z_{0.80} as SHARED decimal literals — neither engine
# has (or calls) a normal quantile function
_Z_ALPHA = "1.959963984540054"
_Z_BETA = "0.8416212335729143"


# every synthetic user purchases at least once (probed: min per-user
# purchase count ≥ 5, mean ≈ 13), so "any purchase" is a degenerate
# conversion (p̄ = 1 → MDE = 0); "heavy buyer" (≥ _POWER_CONV_MIN
# purchases) splits near the median at every SF
_POWER_CONV_MIN = 14


def _events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(
                        0
                    )
                )
                >= _POWER_CONV_MIN
            )
            .cast("int")
            .alias("conv")
        )
        .select((F.col("user_id") % 2).alias("arm"), "conv")
    )
    agg = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_ctrl"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_treat"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_ctrl"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_treat"),
    )
    p0 = F.col("conv_ctrl") / F.col("n_ctrl")
    p1 = F.col("conv_treat") / F.col("n_treat")
    pbar = (F.col("conv_ctrl") + F.col("conv_treat")) / (
        F.col("n_ctrl") + F.col("n_treat")
    )
    mde = (float(_Z_ALPHA) + float(_Z_BETA)) * F.sqrt(
        pbar * (1.0 - pbar) * (1.0 / F.col("n_ctrl") + 1.0 / F.col("n_treat"))
    )
    return agg.select(
        "n_ctrl",
        "n_treat",
        "conv_ctrl",
        "conv_treat",
        F.round(p0, 6).alias("p_ctrl"),
        F.round(p1, 6).alias("p_treat"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(
            F.when(mde > 0, (p1 - p0) / mde).otherwise(0.0), 4
        ).alias("lift_over_mde"),
    )


POWER_SQL = f"""
WITH users AS (
    SELECT user_id % 2 AS arm,
           CASE WHEN sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) >= {_POWER_CONV_MIN}
                THEN 1 ELSE 0 END AS conv
    FROM events GROUP BY user_id),
agg AS (
    SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ctrl,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_treat,
           CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_ctrl,
           CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_treat
    FROM users),
x AS (
    SELECT *,
           conv_ctrl * 1.0 / n_ctrl AS p0,
           conv_treat * 1.0 / n_treat AS p1,
           (conv_ctrl + conv_treat) * 1.0 / (n_ctrl + n_treat) AS pbar
    FROM agg),
m AS (
    SELECT *,
           ({_Z_ALPHA} + {_Z_BETA})
           * sqrt(pbar * (1.0 - pbar)
                  * (1.0 / n_ctrl + 1.0 / n_treat)) AS mde
    FROM x)
SELECT n_ctrl, n_treat, conv_ctrl, conv_treat,
       round(p0, 6) AS p_ctrl,
       round(p1, 6) AS p_treat,
       round(mde, 6) AS mde_abs,
       round(CASE WHEN mde > 0 THEN (p1 - p0) / mde ELSE 0.0 END, 4)
           AS lift_over_mde
FROM m
"""


QUERIES: dict[str, QuerySpec] = {
    "lineitem_logistic_irls": QuerySpec(_lineitem_logistic_irls, IRLS_SQL),
    "orders_conformal_interval": QuerySpec(
        _orders_conformal_interval, CONFORMAL_SQL
    ),
    "orders_kfold_cv_rmse": QuerySpec(_orders_kfold_cv_rmse, KFOLD_SQL),
    "events_overdispersion_index": QuerySpec(
        _events_overdispersion_index, OVERDISP_SQL
    ),
    "events_ab_power_mde": QuerySpec(_events_ab_power_mde, POWER_SQL),
}
