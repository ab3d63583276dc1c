"""Round-9 additions, ninth batch: classifier evaluation, decision
stumps, empirical-Bayes shrinkage, cooperative-game attribution
and economic price indices.

- ``embedding_bucket_label_eval``: confusion-matrix evaluation of the
  hyperplane-LSH bucket-majority label assignment — per-label
  TP/FP/FN, precision/recall/F1 and overall accuracy. The
  classification-metrics companion to ``sim_silhouette_lsh``
  (geometry) and ``embedding_label_noise_knn`` (instance audit):
  if bucket-majority accuracy is near chance, the LSH space carries
  no label signal and ANN-based labeling is unsafe.
- ``lineitem_decision_stump``: exact 1-split decision-stump learning
  on the discount level frame — weighted binary Gini impurity for
  every candidate threshold, best split flagged. The CART building
  block expressed as algebra over the ≤11-level sufficient-statistics
  frame (same frame as the logistic IRLS — grouped-data exactness).
- ``supplier_eb_shrinkage``: beta-binomial empirical-Bayes shrinkage
  of per-supplier return rates — method-of-moments prior strength
  M = m(1−m)/V − 1 (rate deviations centered on the pooled mean
  BEFORE squaring, the round62 jackknife cancellation contract),
  posterior rate (y + mM)/(n + M), top-20. THE answer to ranking
  small-sample rates (a 2/3 supplier must not outrank a 300/1000).
- ``events_shapley_attribution``: exact Shapley-value channel
  attribution over the 4 non-purchase channels (view, click, signup,
  error) — exposure set = channels in the user's FIRST 5 events
  (all-time exposure is degenerate: every user touches all 4 —
  probed), value v(S) = heavy-buyer conversion rate of users with
  exactly that exposure set, unseen coalitions v = 0 by convention.
  k = 4 makes the 2⁴ coalition grid exact — weights are the literal
  rationals |S|!(k−|S|−1)!/k! = {6,2,2,6}/24.
- ``part_price_index``: Laspeyres / Paasche / Fisher price indices of
  part unit prices by ship year against the base (first) year,
  matched-part inner join (~190 parts/year probed). The BI/economics
  staple absent from the TPC-H family.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 ninth batch; invariant tests in
tests/test_round64.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import bucket_expr, bucket_sql
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

EMB_DIMS = 64


# --------------------------------------- bucket-majority label eval


def _embedding_bucket_label_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        bucket_expr(F.col("embedding"), EMB_DIMS).alias("bucket"),
    )
    bl = e.groupBy("bucket", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # extremum key cnt*1000 + (999 - label): max picks the largest
    # count, ties to the SMALLEST label (label domain 0..9 probed)
    modal = bl.groupBy("bucket").agg(
        (
            999
            - F.max(F.col("cnt") * 1000 + (999 - F.col("label"))) % 1000
        ).alias("pred_of_bucket"),
    )
    pred = e.join(F.broadcast(modal), "bucket").select(
        "label", F.col("pred_of_bucket").alias("pred")
    )
    conf = pred.groupBy("label", "pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    tp = conf.filter(F.col("label") == F.col("pred")).select(
        "label", F.col("n").alias("tp")
    )
    per_true = conf.groupBy("label").agg(
        F.sum("n").cast("long").alias("n_true")
    )
    per_pred = conf.groupBy(F.col("pred").alias("label")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    acc = conf.agg(
        (
            F.sum(F.when(F.col("label") == F.col("pred"), F.col("n")))
            / F.sum("n")
        ).alias("acc_raw")
    )
    out = (
        per_true.join(per_pred, "label", "full_outer")
        .join(tp, "label", "left")
        .na.fill(0, ["n_true", "n_pred", "tp"])
        .crossJoin(F.broadcast(acc))
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")
    ).otherwise(0.0)
    rec = F.when(
        F.col("n_true") > 0, F.col("tp") / F.col("n_true")
    ).otherwise(0.0)
    f1 = F.when(
        (prec + rec) > 0, 2.0 * prec * rec / (prec + rec)
    ).otherwise(0.0)
    return out.select(
        "label",
        "n_true",
        F.col("tp").cast("long").alias("tp"),
        (F.col("n_pred") - F.col("tp")).cast("long").alias("fp"),
        (F.col("n_true") - F.col("tp")).cast("long").alias("fn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round("acc_raw", 6).alias("accuracy"),
    ).orderBy("label")


BUCKET_LABEL_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           {bucket_sql('v', EMB_DIMS)} AS bucket
    FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
          FROM embeddings)),
bl AS (
    SELECT bucket, label, count(*) AS cnt
    FROM e GROUP BY bucket, label),
modal AS (
    SELECT bucket,
           999 - max(cnt * 1000 + (999 - label)) % 1000 AS pred_of_bucket
    FROM bl GROUP BY bucket),
pred AS (
    SELECT label, pred_of_bucket AS pred
    FROM e JOIN modal USING (bucket)),
conf AS (SELECT label, pred, count(*) AS n FROM pred GROUP BY 1, 2),
tp AS (SELECT label, n AS tp FROM conf WHERE label = pred),
per_true AS (
    SELECT label, CAST(sum(n) AS BIGINT) AS n_true
    FROM conf GROUP BY label),
per_pred AS (
    SELECT pred AS label, CAST(sum(n) AS BIGINT) AS n_pred
    FROM conf GROUP BY pred),
acc AS (
    SELECT sum(CASE WHEN label = pred THEN n ELSE 0 END) * 1.0
           / sum(n) AS acc_raw
    FROM conf),
out AS (
    SELECT coalesce(pt.label, pp.label) AS label,
           coalesce(n_true, 0) AS n_true,
           coalesce(n_pred, 0) AS n_pred,
           coalesce(tp.tp, 0) AS tp
    FROM per_true pt
    FULL OUTER JOIN per_pred pp ON pt.label = pp.label
    LEFT JOIN tp ON coalesce(pt.label, pp.label) = tp.label)
SELECT label, n_true,
       CAST(tp AS BIGINT) AS tp,
       CAST(n_pred - tp AS BIGINT) AS fp,
       CAST(n_true - tp AS BIGINT) AS fn,
       round(CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred
                  ELSE 0.0 END, 6) AS precision,
       round(CASE WHEN n_true > 0 THEN tp * 1.0 / n_true
                  ELSE 0.0 END, 6) AS recall,
       round(CASE WHEN (CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred
                             ELSE 0.0 END
                        + CASE WHEN n_true > 0 THEN tp * 1.0 / n_true
                               ELSE 0.0 END) > 0
                  THEN 2.0 * (tp * 1.0 / n_pred) * (tp * 1.0 / n_true)
                       / (tp * 1.0 / n_pred + tp * 1.0 / n_true)
                  ELSE 0.0 END, 6) AS f1,
       round(acc_raw, 6) AS accuracy
FROM out, acc
ORDER BY label
"""


# ------------------------------------------------- decision stump


def _lineitem_decision_stump(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
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
    mind = lv.agg(F.min("d").alias("mind"))
    thr = (
        lv.crossJoin(F.broadcast(mind))
        .filter(F.col("d") > F.col("mind"))
        .select(F.col("d").alias("thr"))
    )
    sides = thr.crossJoin(F.broadcast(lv)).groupBy("thr").agg(
        F.sum(F.when(F.col("d") < F.col("thr"), F.col("n")))
        .cast("long")
        .alias("nl"),
        F.sum(F.when(F.col("d") < F.col("thr"), F.col("y")))
        .cast("long")
        .alias("yl"),
        F.sum(F.when(F.col("d") >= F.col("thr"), F.col("n")))
        .cast("long")
        .alias("nr"),
        F.sum(F.when(F.col("d") >= F.col("thr"), F.col("y")))
        .cast("long")
        .alias("yr"),
    )
    gini = (
        2.0
        * (
            F.col("yl") * (F.col("nl") - F.col("yl")) / F.col("nl")
            + F.col("yr") * (F.col("nr") - F.col("yr")) / F.col("nr")
        )
        / (F.col("nl") + F.col("nr"))
    )
    scored = sides.select(
        "thr",
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        F.round(gini, 9).alias("gini_key"),
    )
    mg = scored.agg(F.min("gini_key").alias("mg"))
    best = (
        scored.crossJoin(F.broadcast(mg))
        .filter(F.col("gini_key") == F.col("mg"))
        .agg(F.min("thr").alias("best_thr"))
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            "thr",
            "n_left",
            "n_right",
            F.round("gini_key", 6).alias("gini_split"),
            (F.col("thr") == F.col("best_thr"))
            .cast("int")
            .cast("long")
            .alias("is_best"),
        )
        .orderBy("thr")
    )


STUMP_SQL = """
WITH lv AS (
    SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM lineitem GROUP BY 1),
thr AS (SELECT d AS thr FROM lv WHERE d > (SELECT min(d) FROM lv)),
sides AS (
    SELECT thr,
           CAST(sum(CASE WHEN d < thr THEN n END) AS BIGINT) AS nl,
           CAST(sum(CASE WHEN d < thr THEN y END) AS BIGINT) AS yl,
           CAST(sum(CASE WHEN d >= thr THEN n END) AS BIGINT) AS nr,
           CAST(sum(CASE WHEN d >= thr THEN y END) AS BIGINT) AS yr
    FROM thr, lv GROUP BY thr),
scored AS (
    SELECT thr, nl AS n_left, nr AS n_right,
           round(2.0 * (yl * (nl - yl) * 1.0 / nl
                        + yr * (nr - yr) * 1.0 / nr)
                 / (nl + nr), 9) AS gini_key
    FROM sides),
best AS (
    SELECT min(thr) AS best_thr FROM scored
    WHERE gini_key = (SELECT min(gini_key) FROM scored))
SELECT thr, n_left, n_right,
       round(gini_key, 6) AS gini_split,
       CAST(CASE WHEN thr = best_thr THEN 1 ELSE 0 END AS BIGINT)
           AS is_best
FROM scored, best
ORDER BY thr
"""


# ---------------------------------------------- EB shrinkage

_EB_TOP_K = 20


def _supplier_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("sn"),
        F.sum("y").cast("long").alias("sy"),
    )
    # deviations centered on the pooled mean BEFORE squaring (the
    # round62 jackknife cancellation contract)
    dev = F.col("y") / F.col("n") - F.col("sy") / F.col("sn")
    st = s.crossJoin(F.broadcast(tot)).agg(
        F.first("k").alias("k"),
        (F.first("sy") / F.first("sn")).alias("m"),
        (
            (
                F.sum(dev * dev)
                - F.sum(dev) * F.sum(dev) / F.first("k")
            )
            / (F.first("k") - 1)
        ).alias("v"),
    )
    prior = st.select(
        "m",
        F.greatest(
            F.col("m") * (1.0 - F.col("m")) / F.col("v") - 1.0,
            F.lit(1.0),
        ).alias("big_m"),
    )
    shrunk = s.crossJoin(F.broadcast(prior)).select(
        "l_suppkey",
        "n",
        "y",
        F.round(F.col("y") / F.col("n"), 6).alias("raw_rate"),
        F.round(
            (F.col("y") + F.col("m") * F.col("big_m"))
            / (F.col("n") + F.col("big_m")),
            9,
        ).alias("skey"),
        F.round("m", 6).alias("prior_mean"),
        F.round("big_m", 4).alias("prior_strength"),
    )
    return (
        shrunk.orderBy(F.desc("skey"), F.asc("l_suppkey"))
        .limit(_EB_TOP_K)
        .select(
            "l_suppkey",
            "n",
            "y",
            "raw_rate",
            F.round("skey", 6).alias("shrunk_rate"),
            "prior_mean",
            "prior_strength",
        )
    )


EB_SQL = f"""
WITH s AS (
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM lineitem GROUP BY l_suppkey),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n) AS BIGINT) AS sn,
           CAST(sum(y) AS BIGINT) AS sy
    FROM s),
st AS (
    SELECT min(k) AS k, min(sy * 1.0 / sn) AS m,
           (sum((y * 1.0 / n - sy * 1.0 / sn)
                * (y * 1.0 / n - sy * 1.0 / sn))
            - sum(y * 1.0 / n - sy * 1.0 / sn)
              * sum(y * 1.0 / n - sy * 1.0 / sn) / min(k))
           / (min(k) - 1) AS v
    FROM s, tot),
prior AS (
    SELECT m, greatest(m * (1.0 - m) / v - 1.0, 1.0) AS big_m
    FROM st),
shrunk AS (
    SELECT l_suppkey, n, y,
           round(y * 1.0 / n, 6) AS raw_rate,
           round((y + m * big_m) / (n + big_m), 9) AS skey,
           round(m, 6) AS prior_mean,
           round(big_m, 4) AS prior_strength
    FROM s, prior)
SELECT l_suppkey, n, y, raw_rate,
       round(skey, 6) AS shrunk_rate, prior_mean, prior_strength
FROM shrunk
ORDER BY skey DESC, l_suppkey LIMIT {_EB_TOP_K}
"""


# ------------------------------------------- Shapley attribution

_SHAP_FIRST_N = 5
_SHAP_CONV_MIN = 14
_SHAP_CHANNELS = [("view", 1), ("click", 2), ("signup", 4), ("error", 8)]
# |S|!(k-|S|-1)! for k=4, |S| = 0..3; denominator 4! = 24
_SHAP_NUM = [6, 2, 2, 6]


def _events_shapley_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_n = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SHAP_FIRST_N)
    )
    masks = (
        first_n.groupBy("user_id")
        .agg(
            *[
                F.max((F.col("event_type") == name).cast("int")).alias(
                    f"b_{name}"
                )
                for name, _ in _SHAP_CHANNELS
            ]
        )
        .select(
            "user_id",
            sum(
                [
                    F.col(f"b_{name}") * b
                    for name, b in _SHAP_CHANNELS
                ],
                F.lit(0),
            ).alias("mask"),
        )
    )
    conv = (
        ev.groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", 1
                    ).otherwise(0)
                )
                >= _SHAP_CONV_MIN
            )
            .cast("int")
            .alias("conv")
        )
    )
    co = (
        masks.join(conv, "user_id")
        .groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conv").cast("long").alias("c"),
        )
    )
    grid = spark.range(16).select(F.col("id").cast("long").alias("mask"))
    v = (
        grid.join(F.broadcast(co), "mask", "left")
        .na.fill(0, ["n", "c"])
        .select(
            "mask",
            F.when(F.col("n") > 0, F.col("c") / F.col("n"))
            .otherwise(0.0)
            .alias("v"),
        )
    )
    # JVM-side literal frame (the round70 broadcast-spin-up profile)
    ch = spark.range(len(_SHAP_CHANNELS)).select(
        F.element_at(
            F.array(*[F.lit(n) for n, _ in _SHAP_CHANNELS]),
            (F.col("id") + 1).cast("int"),
        ).alias("channel"),
        F.element_at(
            F.array(*[F.lit(b) for _, b in _SHAP_CHANNELS]),
            (F.col("id") + 1).cast("int"),
        ).cast("long").alias("bit"),
    )
    pop = sum(
        [
            (F.col("mask") / (2**i)).cast("long") % 2
            for i in range(4)
        ],
        F.lit(0),
    )
    wnum = (
        F.when(pop == 0, _SHAP_NUM[0])
        .when(pop == 1, _SHAP_NUM[1])
        .when(pop == 2, _SHAP_NUM[2])
        .otherwise(_SHAP_NUM[3])
    )
    base = (
        ch.join(
            F.broadcast(v),
            F.col("mask").bitwiseAND(F.col("bit")) == 0,
        )
        .select(
            "channel",
            "bit",
            "mask",
            F.col("v").alias("v_s"),
            wnum.alias("wnum"),
            (F.col("mask") + F.col("bit")).alias("mask_up"),
        )
    )
    up = v.select(
        F.col("mask").alias("mask_up"), F.col("v").alias("v_su")
    )
    phi = (
        base.join(F.broadcast(up), "mask_up")
        .groupBy("channel")
        .agg(
            (
                F.sum(
                    F.col("wnum") * (F.col("v_su") - F.col("v_s"))
                )
                / 24.0
            ).alias("phi_raw")
        )
    )
    ends = v.agg(
        F.sum(F.when(F.col("mask") == 0, F.col("v"))).alias("v_empty"),
        F.sum(F.when(F.col("mask") == 15, F.col("v"))).alias("v_full"),
    )
    return (
        phi.crossJoin(F.broadcast(ends))
        .select(
            "channel",
            F.round("phi_raw", 6).alias("phi"),
            F.round("v_empty", 6).alias("v_empty"),
            F.round("v_full", 6).alias("v_full"),
        )
        .orderBy("channel")
    )


_SHAP_CH_VALUES = ", ".join(
    f"('{name}', {b})" for name, b in _SHAP_CHANNELS
)

SHAPLEY_SQL = f"""
WITH r AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events),
masks AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS mask
    FROM r WHERE rn <= {_SHAP_FIRST_N} GROUP BY user_id),
conv AS (
    SELECT user_id,
           CASE WHEN sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) >= {_SHAP_CONV_MIN}
                THEN 1 ELSE 0 END AS conv
    FROM events GROUP BY user_id),
co AS (
    SELECT mask, count(*) AS n, sum(conv) AS c
    FROM masks JOIN conv USING (user_id) GROUP BY mask),
grid AS (SELECT CAST(i AS BIGINT) AS mask
         FROM unnest(generate_series(0, 15)) AS u(i)),
v AS (
    SELECT grid.mask,
           CASE WHEN coalesce(n, 0) > 0 THEN c * 1.0 / n
                ELSE 0.0 END AS v
    FROM grid LEFT JOIN co ON grid.mask = co.mask),
ch(channel, bit) AS (VALUES {_SHAP_CH_VALUES}),
base AS (
    SELECT channel, bit, mask, v AS v_s,
           CASE (mask // 1) % 2 + (mask // 2) % 2
                + (mask // 4) % 2 + (mask // 8) % 2
                WHEN 0 THEN {_SHAP_NUM[0]}
                WHEN 1 THEN {_SHAP_NUM[1]}
                WHEN 2 THEN {_SHAP_NUM[2]}
                ELSE {_SHAP_NUM[3]} END AS wnum,
           mask + bit AS mask_up
    FROM ch JOIN v ON (mask & bit) = 0),
phi AS (
    SELECT channel,
           sum(wnum * (up.v - base.v_s)) / 24.0 AS phi_raw
    FROM base JOIN v up ON base.mask_up = up.mask
    GROUP BY channel),
ends AS (
    SELECT sum(CASE WHEN mask = 0 THEN v END) AS v_empty,
           sum(CASE WHEN mask = 15 THEN v END) AS v_full
    FROM v)
SELECT channel, round(phi_raw, 6) AS phi,
       round(v_empty, 6) AS v_empty,
       round(v_full, 6) AS v_full
FROM phi, ends
ORDER BY channel
"""


# ------------------------------------------------- price indices


def _part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    py = materialize(
        read_table(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey", F.year("l_shipdate").alias("yr")
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("sp"),
            F.sum(F.round(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("sq"),
        )
    )
    base_yr = py.agg(F.min("yr").alias("byr"))
    base = (
        py.crossJoin(F.broadcast(base_yr))
        .filter(F.col("yr") == F.col("byr"))
        .select(
            "l_partkey",
            (F.col("sp") / F.col("sq")).alias("p0"),
            F.col("sq").alias("q0"),
        )
    )
    cur = py.select(
        "l_partkey",
        "yr",
        (F.col("sp") / F.col("sq")).alias("pt"),
        F.col("sq").alias("qt"),
    )
    j = cur.join(base, "l_partkey")
    lp = (
        j.groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (
                F.sum(F.col("pt") * F.col("q0"))
                / F.sum(F.col("p0") * F.col("q0"))
            ).alias("l_raw"),
            (
                F.sum(F.col("pt") * F.col("qt"))
                / F.sum(F.col("p0") * F.col("qt"))
            ).alias("p_raw"),
        )
    )
    return lp.select(
        F.col("yr").cast("long").alias("yr"),
        "n_parts",
        F.round("l_raw", 6).alias("laspeyres"),
        F.round("p_raw", 6).alias("paasche"),
        F.round(F.sqrt(F.col("l_raw") * F.col("p_raw")), 6).alias(
            "fisher"
        ),
    ).orderBy("yr")


PRICE_INDEX_SQL = """
WITH py AS (
    SELECT l_partkey, year(l_shipdate) AS yr,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sp,
           CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sq
    FROM lineitem GROUP BY 1, 2),
base AS (
    SELECT l_partkey, sp * 1.0 / sq AS p0, sq AS q0
    FROM py WHERE yr = (SELECT min(yr) FROM py)),
cur AS (
    SELECT l_partkey, yr, sp * 1.0 / sq AS pt, sq AS qt FROM py),
j AS (
    SELECT cur.yr, pt, qt, p0, q0
    FROM cur JOIN base USING (l_partkey))
SELECT CAST(yr AS BIGINT) AS yr,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(pt * q0) / sum(p0 * q0), 6) AS laspeyres,
       round(sum(pt * qt) / sum(p0 * qt), 6) AS paasche,
       round(sqrt((sum(pt * q0) / sum(p0 * q0))
                  * (sum(pt * qt) / sum(p0 * qt))), 6) AS fisher
FROM j GROUP BY yr ORDER BY yr
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_bucket_label_eval": QuerySpec(
        _embedding_bucket_label_eval, BUCKET_LABEL_SQL
    ),
    "lineitem_decision_stump": QuerySpec(
        _lineitem_decision_stump, STUMP_SQL
    ),
    "supplier_eb_shrinkage": QuerySpec(_supplier_eb_shrinkage, EB_SQL),
    "events_shapley_attribution": QuerySpec(
        _events_shapley_attribution, SHAPLEY_SQL
    ),
    "part_price_index": QuerySpec(_part_price_index, PRICE_INDEX_SQL),
}
