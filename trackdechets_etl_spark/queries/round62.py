"""Round-9 additions, seventh batch: corpus unseen-mass estimation,
embedding spectrum diagnostics, resampling-free variance, ML ranking
metrics, and heavy-tail estimation.

- ``text_good_turing_mass``: Good–Turing unseen-probability mass and
  Chao1 richness from the frequency-of-frequencies of 3-token
  shingles — P₀ = N₁/N (the probability the NEXT shingle drawn is
  novel) and Chao1 = V + N₁(N₁−1)/(2(N₂+1)) (bias-corrected total
  vocabulary). The quantitative answer to "is this corpus exhausted?"
  that the Heaps'-law fit (``text_heaps_law_fit``) answers only in
  trend form. Unigrams are saturated on the synthetic corpus
  (N₁=N₂=0 — probed), so the shingle stream is the right fixture.
- ``embedding_effective_dim``: effective dimensionality of the
  embedding space from the per-dimension variance spectrum —
  exp(entropy of the normalized variance mass) plus the top
  dimension's share. The diagonal-only counterpart of participation
  ratio: no eigendecomposition, one scan. Companion diagnostic to
  ``embedding_isotropy_score`` (mean-direction bias) — this one
  catches variance collapsing onto few axes even when the mean is
  centered.
- ``orders_jackknife_mean_se``: leave-one-group-out jackknife
  standard error of the mean order price, groups = order month. The
  resampling companion to ``orders_poisson_bootstrap_ci`` that needs
  NO random draws at all: every leave-one-out mean is algebra over
  per-group (n, sum) — the delete-a-group jackknife is THE variance
  estimate for cluster-correlated data.
- ``lineitem_roc_auc_discount``: ROC-AUC of discount as a return
  predictor via the rank-sum identity AUC = U/(n₁n₀), tie-corrected
  with exact integers (2U accumulated per score level, ≤11 levels) —
  the standard ML-eval metric, computed without ever materializing a
  curve. The metric-space twin of the Mann-Whitney U test
  (events_mann_whitney_u): same statistic, eval framing.
- ``customer_spend_hill_tail``: Hill tail-index estimator over the
  top-k=100 customer spends — α̂ = k / Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎). α̂ ≤ 2 means
  infinite variance: sampling/bootstrap assumptions break and skew
  mitigation (salting) is mandatory. The measured answer to "how
  heavy is the key-frequency tail" that the skew diagnostics
  (diag_key_skew) only rank.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 seventh batch; invariant tests
in tests/test_round62.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

EMB_DIMS = 64


# -------------------------------------------------- Good–Turing


def _trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        read_table(spark, sf_dir, "documents")
        .select(F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
    )
    return d.select(
        F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("i"),
        "w",
    ).select(
        F.concat_ws(
            " ",
            F.element_at(F.col("w"), F.col("i")),
            F.element_at(F.col("w"), F.col("i") + 1),
            F.element_at(F.col("w"), F.col("i") + 2),
        ).alias("g")
    )


def _text_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    freq = _trigrams(spark, sf_dir).groupBy("g").agg(
        F.count(F.lit(1)).alias("c")
    )
    return freq.agg(
        F.count(F.lit(1)).cast("long").alias("v_observed"),
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    ).select(
        "v_observed",
        "n_total",
        "n1",
        "n2",
        F.round(F.col("n1") / F.col("n_total"), 6).alias(
            "p0_good_turing"
        ),
        F.round(
            F.col("v_observed")
            + F.col("n1") * (F.col("n1") - 1) / (2.0 * (F.col("n2") + 1)),
            4,
        ).alias("chao1_richness"),
    )


GOOD_TURING_SQL = """
WITH d AS (
    SELECT string_split(text, ' ') AS w FROM documents
    WHERE len(string_split(text, ' ')) >= 3),
tri AS (
    SELECT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
    FROM d, unnest(generate_series(1, len(w) - 2)) AS u(i)),
freq AS (SELECT g, count(*) AS c FROM tri GROUP BY g)
SELECT CAST(count(*) AS BIGINT) AS v_observed,
       CAST(sum(c) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / sum(c), 6)
           AS p0_good_turing,
       round(count(*)
             + sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
               * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
               / (2.0 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)), 4)
           AS chao1_richness
FROM freq
"""


# ----------------------------------------- effective dimensionality


def _embedding_effective_dim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ex = (
        read_table(spark, sf_dir, "embeddings")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .select(F.posexplode("v").alias("pos", "x"))
    )
    # per-dim variance ROUNDED at 6dp — the cross-engine determinism
    # cut (dedup_semantic_prune contract); all downstream math consumes
    # the rounded spectrum.
    var = ex.groupBy("pos").agg(
        F.round(
            F.avg(F.col("x") * F.col("x"))
            - F.avg("x") * F.avg("x"),
            6,
        ).alias("var_d")
    )
    tot = var.agg(F.sum("var_d").alias("tv"), F.max("var_d").alias("mv"))
    p = F.col("var_d") / F.col("tv")
    ent = (
        var.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(-p * F.log(p)).alias("h"),
            F.first("tv").alias("tv"),
            F.first("mv").alias("mv"),
            F.min(
                F.when(F.col("var_d") == F.col("mv"), F.col("pos"))
            ).alias("top_dim"),
        )
    )
    return ent.select(
        F.lit(EMB_DIMS).cast("long").alias("dim"),
        F.round("tv", 6).alias("total_var"),
        F.round(F.exp("h"), 4).alias("eff_dim"),
        F.col("top_dim").cast("long").alias("top_dim"),
        F.round(F.col("mv") / F.col("tv"), 6).alias("top_share"),
    )


EFFDIM_SQL = f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
ex AS (
    SELECT i - 1 AS pos, v[i] AS x
    FROM e, unnest(generate_series(1, {EMB_DIMS})) AS u(i)),
var AS (
    SELECT pos, round(avg(x * x) - avg(x) * avg(x), 6) AS var_d
    FROM ex GROUP BY pos),
tot AS (SELECT sum(var_d) AS tv, max(var_d) AS mv FROM var),
ent AS (
    SELECT sum(-(var_d / tv) * ln(var_d / tv)) AS h,
           min(tv) AS tv, min(mv) AS mv,
           min(CASE WHEN var_d = mv THEN pos END) AS top_dim
    FROM var, tot)
SELECT CAST({EMB_DIMS} AS BIGINT) AS dim,
       round(tv, 6) AS total_var,
       round(exp(h), 4) AS eff_dim,
       CAST(top_dim AS BIGINT) AS top_dim,
       round(mv / tv, 6) AS top_share
FROM ent
"""


# ------------------------------------------------ jackknife SE


def _orders_jackknife_mean_se(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    g = (
        read_table(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
                "grp"
            ),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("cents").cast("long").alias("s_g"),
        )
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("big_g"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
    )
    # center each leave-one-out mean on the overall mean BEFORE
    # squaring: both terms are pure functions of exact integers, so
    # each dev is a deterministic double on both engines, and the
    # Σdev² sum has no catastrophic cancellation to amplify
    # summation-order ULPs (the raw Σloo² − G·m̄² form mismatched at
    # the 9th significant digit in selfcheck)
    dev = (F.col("s") - F.col("s_g")) / (
        100.0 * (F.col("n") - F.col("n_g"))
    ) - F.col("s") / (100.0 * F.col("n"))
    per = g.crossJoin(F.broadcast(tot)).select(
        dev.alias("dev"), "big_g", "n", "s"
    )
    return per.agg(
        F.first("big_g").alias("n_groups"),
        F.round(F.first("s") / (100.0 * F.first("n")), 4).alias(
            "mean_price"
        ),
        F.round(
            F.sqrt(
                (F.first("big_g") - 1)
                / F.first("big_g")
                * (
                    F.sum(F.col("dev") * F.col("dev"))
                    - F.sum("dev") * F.sum("dev") / F.first("big_g")
                )
            ),
            6,
        ).alias("jackknife_se"),
    )


JACKKNIFE_SQL = """
WITH g AS (
    SELECT year(o_orderdate) * 100 + month(o_orderdate) AS grp,
           CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS s_g
    FROM orders GROUP BY 1),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS big_g,
           CAST(sum(n_g) AS BIGINT) AS n,
           CAST(sum(s_g) AS BIGINT) AS s
    FROM g),
per AS (
    SELECT (s - s_g) / (100.0 * (n - n_g)) - s / (100.0 * n) AS dev,
           big_g, n, s
    FROM g, tot)
SELECT min(big_g) AS n_groups,
       round(min(s) / (100.0 * min(n)), 4) AS mean_price,
       round(sqrt((min(big_g) - 1.0) / min(big_g)
                  * (sum(dev * dev)
                     - sum(dev) * sum(dev) / min(big_g))),
             6) AS jackknife_se
FROM per
"""


# ------------------------------------------------------- ROC AUC


def _lineitem_roc_auc_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lv = (
        read_table(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_discount") * 100).cast("long").alias("d"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("y"),
        )
        .groupBy("d")
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.sum(1 - F.col("y")).cast("long").alias("neg"),
        )
    )
    below = (
        lv.alias("a")
        .join(
            F.broadcast(lv.alias("b")),
            F.col("b.d") < F.col("a.d"),
            "left",
        )
        .groupBy(F.col("a.d").alias("d"), "a.pos", "a.neg")
        .agg(
            F.coalesce(F.sum("b.neg"), F.lit(0))
            .cast("long")
            .alias("neg_below")
        )
    )
    return below.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        # 2U stays exact integer (tie term counted at half weight)
        F.sum(
            F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))
        )
        .cast("long")
        .alias("twice_u"),
    ).select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("twice_u") / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


ROC_AUC_SQL = """
WITH lv AS (
    SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS pos,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
                AS BIGINT) AS neg
    FROM lineitem GROUP BY 1),
below AS (
    SELECT a.d, a.pos, a.neg,
           CAST(coalesce(sum(b.neg), 0) AS BIGINT) AS neg_below
    FROM lv a LEFT JOIN lv b ON b.d < a.d
    GROUP BY a.d, a.pos, a.neg)
SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(neg) AS BIGINT) AS n_neg,
       round(CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT)
             / (2.0 * sum(pos) * sum(neg)), 6) AS auc
FROM below
"""


# -------------------------------------------------- Hill tail index

_HILL_K = 100


def _customer_spend_hill_tail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    spend = (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("spend"))
    )
    top = spend.orderBy(
        F.desc("spend"), F.asc("o_custkey")
    ).limit(_HILL_K + 1)
    thr = top.agg(F.min("spend").alias("thr"))
    # the (k+1)-th order statistic contributes ln(1)=0, so summing over
    # all k+1 rows equals the canonical sum over the top k
    return (
        top.crossJoin(F.broadcast(thr))
        .agg(
            F.lit(_HILL_K).cast("long").alias("k"),
            F.round(F.first("thr") / 100.0, 2).alias("threshold_price"),
            F.sum(F.log(F.col("spend") / F.col("thr"))).alias("sum_ln"),
        )
        .select(
            "k",
            "threshold_price",
            F.round(F.lit(_HILL_K) / F.col("sum_ln"), 6).alias(
                "alpha_hill"
            ),
        )
    )


HILL_SQL = f"""
WITH spend AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS spend
    FROM orders GROUP BY o_custkey),
top AS (
    SELECT * FROM spend
    ORDER BY spend DESC, o_custkey LIMIT {_HILL_K + 1}),
thr AS (SELECT min(spend) AS thr FROM top)
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       round(min(thr) / 100.0, 2) AS threshold_price,
       round({_HILL_K} / sum(ln(spend * 1.0 / thr)), 6) AS alpha_hill
FROM top, thr
"""


QUERIES: dict[str, QuerySpec] = {
    "text_good_turing_mass": QuerySpec(
        _text_good_turing_mass, GOOD_TURING_SQL
    ),
    "embedding_effective_dim": QuerySpec(
        _embedding_effective_dim, EFFDIM_SQL
    ),
    "orders_jackknife_mean_se": QuerySpec(
        _orders_jackknife_mean_se, JACKKNIFE_SQL
    ),
    "lineitem_roc_auc_discount": QuerySpec(
        _lineitem_roc_auc_discount, ROC_AUC_SQL
    ),
    "customer_spend_hill_tail": QuerySpec(
        _customer_spend_hill_tail, HILL_SQL
    ),
}
