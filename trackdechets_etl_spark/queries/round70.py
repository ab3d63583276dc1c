"""Round-9 additions, fifteenth batch: Kneser–Ney smoothing, spectral
seasonality, temperature-sampled mixtures, dedup ROI, law-of-one-price
dispersion, and Simpson's-paradox detection.

- ``text_kn_vs_mle_heldout``: interpolated Kneser–Ney bigram LM
  (absolute discount d = 0.75, continuation distribution add-one
  smoothed for OOV) scored against the round56 add-one baseline on
  the SAME md5 train/held-out split — corpus cross-entropy in integer
  micro-nats for both models and the (signed) improvement. KN is THE
  n-gram smoothing (its continuation counts are why "San Francisco"
  doesn't make "Francisco" likely everywhere). On THIS corpus the
  improvement is honestly NEGATIVE (~−0.63 nats measured): the
  synthetic vocabulary is 31 dense words, so add-one's uniform prior
  is near-optimal and KN's rare-context machinery has nothing to
  exploit — the harness reports it rather than hiding it (the
  weak-fixture honesty convention).
- ``events_dft_weekly_power``: single-frequency DFT power of the
  daily count series at fixed periods {7, 14, 30} days — the spectral
  answer to "is there a weekly cycle", normalized as the harmonic-
  regression R² share of variance. Complements
  ``events_seasonality_strength`` (time-domain) with the
  frequency-domain view; all trig arguments are exact-integer
  multiples of a shared 2π literal.
- ``training_temperature_mixture``: temperature-sampled language
  mixture — w_i ∝ n_i^τ for τ ∈ {0.3, 0.7, 1.0} with per-language
  budgets out of 100k — the multilingual-corpus sampling table
  (τ < 1 up-weights low-resource languages; τ = 1 is proportional).
  The planning step upstream of ``training_mixture_sample``.
- ``dedup_token_savings``: the dedup ROI report — near-dup clusters
  (the dedup_clusters jaccard ≥ 0.8 components, reused verbatim)
  rolled up by cluster size: clusters, docs, tokens, tokens saved by
  keeping one canonical per cluster, and the corpus-level savings
  share. Exact-dup savings are zero on this corpus (probed — no
  duplicate texts), so the near-dup clusters are the real figure.
- ``part_price_dispersion_nations``: law-of-one-price audit — the
  coefficient of variation of a part's per-nation average unit price
  across supplier nations (≥ 3 nations per part — probed), top-20
  most dispersed parts plus the corpus mean CV. High CV on identical
  goods is the arbitrage/consistency signal procurement watches.
- ``orders_simpson_paradox_check``: Simpson's-paradox audit — the
  treatment/control rate difference (outcome = order price above the
  global mean, exact integer cross-multiply) computed overall AND
  within each order-priority stratum; flags when the overall sign
  contradicts the per-stratum majority sign. The sanity gate before
  reading ANY aggregate A/B difference.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 fifteenth batch; invariant
tests in tests/test_round70.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.queries.round56 import (
    _LM_TRAIN_HEX,
    _doc_bigrams,
)
from trackdechets_etl_spark.session import materialize

# --------------------------------------------------- KN vs add-one

_KN_D = "0.75"
_LM_MICRO = 1_000_000_000.0


def _text_kn_vs_mle_heldout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bg = _doc_bigrams(spark, sf_dir).select(
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < _LM_TRAIN_HEX
        ).alias("is_train"),
        F.col("tok").alias("w1"),
        F.col("nxt").alias("w2"),
    )
    train = materialize(bg.filter(F.col("is_train")))
    val = bg.filter(~F.col("is_train"))
    c12 = train.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n12")
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("n12").alias("n1"),
        F.count(F.lit(1)).alias("na"),  # N1+(w1 •)
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).alias("nb")  # N1+(• w2)
    )
    types = c12.agg(F.count(F.lit(1)).alias("tt"))
    vocab = train.select(
        F.explode(F.array("w1", "w2")).alias("t")
    ).agg(F.countDistinct("t").alias("v"))
    d = float(_KN_D)
    scored = (
        val.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(types))
        .crossJoin(F.broadcast(vocab))
    )
    # add-one-smoothed continuation distribution (OOV-safe)
    pc = (F.coalesce(F.col("nb"), F.lit(0)) + 1) / (
        F.col("tt") + F.col("v")
    )
    p_kn = F.when(
        F.col("n1").isNotNull(),
        (
            F.greatest(
                F.coalesce(F.col("n12"), F.lit(0)) - d, F.lit(0.0)
            )
            + d * F.col("na") * pc
        )
        / F.col("n1"),
    ).otherwise(pc)
    p_a1 = (F.coalesce(F.col("n12"), F.lit(0)) + 1) / (
        F.coalesce(F.col("n1"), F.lit(0)) + F.col("v")
    )
    nll = scored.select(
        F.floor(-F.log(p_kn) * _LM_MICRO).cast("long").alias("kn"),
        F.floor(-F.log(p_a1) * _LM_MICRO).cast("long").alias("a1"),
    )
    return nll.agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(a1) div count(1)").cast("long").alias(
            "ce_micro_addone"
        ),
        F.expr("sum(kn) div count(1)").cast("long").alias(
            "ce_micro_kn"
        ),
        (
            F.expr("sum(a1) div count(1)")
            - F.expr("sum(kn) div count(1)")
        )
        .cast("long")
        .alias("improvement_micro"),
    )


KN_SQL = f"""
WITH toks AS (
    SELECT doc_id, pos, tok FROM (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS tok,
               unnest(range(1, len(string_split(lower(text), ' ')) + 1))
                   AS pos
        FROM documents)
    WHERE tok <> ''),
bg AS (
    SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_LM_TRAIN_HEX}'
               AS is_train,
           tok AS w1,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks
    QUALIFY w2 IS NOT NULL),
train AS (SELECT w1, w2 FROM bg WHERE is_train),
val AS (SELECT w1, w2 FROM bg WHERE NOT is_train),
c12 AS (SELECT w1, w2, count(*) AS n12 FROM train GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1,
              count(*) AS na FROM c12 GROUP BY w1),
cont AS (SELECT w2, count(*) AS nb FROM c12 GROUP BY w2),
types AS (SELECT count(*) AS tt FROM c12),
vocab AS (
    SELECT count(DISTINCT t) AS v
    FROM (SELECT w1 AS t FROM train UNION ALL SELECT w2 FROM train)),
scored AS (
    SELECT
        CASE WHEN n1 IS NOT NULL
             THEN (greatest(coalesce(n12, 0) - {_KN_D}, 0.0)
                   + {_KN_D} * na * ((coalesce(nb, 0) + 1) * 1.0
                                     / (tt + v))) / n1
             ELSE (coalesce(nb, 0) + 1) * 1.0 / (tt + v) END AS p_kn,
        (coalesce(n12, 0) + 1) * 1.0
        / (coalesce(n1, 0) + v) AS p_a1
    FROM val
    LEFT JOIN c12 USING (w1, w2)
    LEFT JOIN c1 USING (w1)
    LEFT JOIN cont USING (w2)
    CROSS JOIN types CROSS JOIN vocab)
SELECT CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CAST(floor(-ln(p_a1) * {_LM_MICRO}) AS BIGINT))
            // count(*) AS BIGINT) AS ce_micro_addone,
       CAST(sum(CAST(floor(-ln(p_kn) * {_LM_MICRO}) AS BIGINT))
            // count(*) AS BIGINT) AS ce_micro_kn,
       CAST(sum(CAST(floor(-ln(p_a1) * {_LM_MICRO}) AS BIGINT))
            // count(*)
            - sum(CAST(floor(-ln(p_kn) * {_LM_MICRO}) AS BIGINT))
              // count(*) AS BIGINT) AS improvement_micro
FROM scored
"""


# ------------------------------------------------ DFT weekly power

_DFT_PERIODS = [7, 14, 30]
_TWO_PI = repr(2.0 * math.pi)


def _events_dft_weekly_power(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = materialize(
        read_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("dd"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.min("dd").alias("d0"),
    )
    dm = daily.crossJoin(F.broadcast(mom)).select(
        F.datediff("dd", "d0").alias("t"),
        (F.col("c") - F.col("s") / F.col("n")).alias("d"),
        "n",
    )
    terms = dm.select(
        "*",
        F.explode(
            F.array(*[F.lit(p) for p in _DFT_PERIODS])
        ).alias("period"),
    ).select(
        "period",
        "n",
        "d",
        (
            F.col("d")
            * F.cos(
                float(_TWO_PI) * F.col("t") / F.col("period")
            )
        ).alias("ac"),
        (
            F.col("d")
            * F.sin(
                float(_TWO_PI) * F.col("t") / F.col("period")
            )
        ).alias("bs"),
    )
    agg = terms.groupBy("period").agg(
        F.first("n").alias("n"),
        F.sum("ac").alias("a"),
        F.sum("bs").alias("b"),
        F.sum(F.col("d") * F.col("d")).alias("ss"),
    )
    # harmonic-regression variance share: 2(A² + B²)/(n·Σd²)
    return agg.select(
        F.col("period").cast("long").alias("period_days"),
        F.col("n").alias("n_days"),
        F.round(
            2.0
            * (F.col("a") * F.col("a") + F.col("b") * F.col("b"))
            / (F.col("n") * F.col("ss")),
            6,
        ).alias("variance_share"),
    ).orderBy("period_days")


DFT_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS dd, CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
           min(dd) AS d0
    FROM daily),
dm AS (
    SELECT date_diff('day', d0, dd) AS t, c - s * 1.0 / n AS d, n
    FROM daily, mom),
periods(period) AS (VALUES {", ".join(f"({p})" for p in _DFT_PERIODS)}),
terms AS (
    SELECT period, n, d,
           d * cos({_TWO_PI} * t / period) AS ac,
           d * sin({_TWO_PI} * t / period) AS bs
    FROM periods, dm),
agg AS (
    SELECT period, min(n) AS n, sum(ac) AS a, sum(bs) AS b,
           sum(d * d) AS ss
    FROM terms GROUP BY period)
SELECT CAST(period AS BIGINT) AS period_days,
       n AS n_days,
       round(2.0 * (a * a + b * b) / (n * ss), 6) AS variance_share
FROM agg ORDER BY period_days
"""


# ------------------------------------------- temperature mixture

_TEMPS = ["0.3", "0.7", "1.0"]
_MIX_BUDGET = 100_000


def _training_temperature_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    langs = (
        read_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    # literal grid via explode — a broadcast of a Python-created
    # 3-row frame costs ~4.4 s of serialization/exchange spin-up
    # (profiled); explode(array(lit..)) stays JVM-side
    g = langs.select(
        "*",
        F.explode(
            F.array(*[F.lit(t) for t in _TEMPS])
        ).alias("tau"),
    ).select(
        "tau",
        "lang",
        "n_docs",
        F.pow(
            F.col("n_docs").cast("double"),
            F.col("tau").cast("double"),
        ).alias("wraw"),
    )
    tot = g.groupBy("tau").agg(F.sum("wraw").alias("z"))
    return (
        g.join(F.broadcast(tot), "tau")
        .select(
            "tau",
            "lang",
            "n_docs",
            F.round(F.col("wraw") / F.col("z"), 6).alias("weight"),
            F.floor(
                F.col("wraw") / F.col("z") * _MIX_BUDGET + 0.5
            )
            .cast("long")
            .alias("budget_of_100k"),
        )
        .orderBy("tau", "lang")
    )


MIXTURE_SQL = f"""
WITH langs AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang),
taus(tau) AS (VALUES {", ".join(f"('{t}')" for t in _TEMPS)}),
g AS (
    SELECT tau, lang, n_docs,
           pow(CAST(n_docs AS DOUBLE), CAST(tau AS DOUBLE)) AS wraw
    FROM taus, langs),
tot AS (SELECT tau, sum(wraw) AS z FROM g GROUP BY tau)
SELECT g.tau, lang, n_docs,
       round(wraw / z, 6) AS weight,
       CAST(floor(wraw / z * {_MIX_BUDGET} + 0.5) AS BIGINT)
           AS budget_of_100k
FROM g JOIN tot ON g.tau = tot.tau
ORDER BY g.tau, lang
"""


# ------------------------------------------------ dedup savings


def _dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.queries.advanced import _dedup_clusters

    clusters = _dedup_clusters(spark, sf_dir)
    toks = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("nt")
    )
    j = clusters.join(toks, "doc_id")
    per_size = j.groupBy("cluster_size").agg(
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("tokens"),
        F.sum(F.when(~F.col("is_canonical"), F.col("nt")).otherwise(0))
        .cast("long")
        .alias("tokens_saved"),
    )
    tot = per_size.agg(
        (F.sum("tokens_saved") / F.sum("tokens")).alias("pct")
    )
    return (
        per_size.crossJoin(F.broadcast(tot))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "tokens",
            "tokens_saved",
            F.round("pct", 6).alias("corpus_savings_share"),
        )
        .orderBy("cluster_size")
    )


def _savings_sql() -> str:
    from trackdechets_etl_spark.queries.advanced import (
        _dedup_clusters_sql,
    )

    return f"""
WITH base AS ({_dedup_clusters_sql()}),
toks AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
    FROM documents),
j AS (SELECT base.*, nt FROM base JOIN toks USING (doc_id)),
per_size AS (
    SELECT cluster_size,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS tokens,
           CAST(sum(CASE WHEN NOT is_canonical THEN nt ELSE 0 END)
                AS BIGINT) AS tokens_saved
    FROM j GROUP BY cluster_size),
tot AS (
    SELECT sum(tokens_saved) * 1.0 / sum(tokens) AS pct FROM per_size)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       n_clusters, n_docs, tokens, tokens_saved,
       round(pct, 6) AS corpus_savings_share
FROM per_size, tot
ORDER BY cluster_size
"""


# ------------------------------------- price dispersion / nations

_PD_TOP = 20


def _part_price_dispersion_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pn = (
        read_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "supplier").select(
                    "s_suppkey", "s_nationkey"
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "s_nationkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("sp"),
            F.sum(F.round(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("sq"),
        )
    )
    prices = pn.select(
        "l_partkey", (F.col("sp") / F.col("sq")).alias("p")
    )
    per = prices.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.avg("p").alias("m"),
        F.sum(F.col("p") * F.col("p")).alias("s2"),
        F.sum("p").alias("s1"),
    ).filter(F.col("n_nations") >= 3)
    cv = F.sqrt(
        F.greatest(
            F.col("s2") / F.col("n_nations")
            - F.col("s1") / F.col("n_nations") * (F.col("s1") / F.col("n_nations")),
            F.lit(0.0),
        )
    ) / (F.col("s1") / F.col("n_nations"))
    # r14: scored feeds both the corpus-mean aggregate and the top-k —
    # lazy-checkpoint it so the lineitem scan + two aggregation
    # exchanges run once instead of once per consumer (the frame is
    # bounded by |part|, a few 10k rows at sf0.1).
    scored = materialize(
        per.select(
            "l_partkey",
            "n_nations",
            F.round(F.col("s1") / F.col("n_nations") / 100.0, 4).alias(
                "mean_price"
            ),
            F.round(cv, 9).alias("cvkey"),
        ),
        eager=False,
    )
    meancv = scored.agg(F.avg("cvkey").alias("corpus_mean_cv"))
    return (
        scored.crossJoin(F.broadcast(meancv))
        .orderBy(F.desc("cvkey"), F.asc("l_partkey"))
        .limit(_PD_TOP)
        .select(
            "l_partkey",
            "n_nations",
            "mean_price",
            F.round("cvkey", 6).alias("price_cv"),
            F.round("corpus_mean_cv", 6).alias("corpus_mean_cv"),
        )
    )


PRICE_DISP_SQL = f"""
WITH pn AS (
    SELECT l_partkey, s_nationkey,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sp,
           CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
               AS sq
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1, 2),
prices AS (SELECT l_partkey, sp * 1.0 / sq AS p FROM pn),
per AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_nations,
           sum(p) AS s1, sum(p * p) AS s2
    FROM prices GROUP BY l_partkey
    HAVING count(*) >= 3),
scored AS (
    SELECT l_partkey, n_nations,
           round(s1 / n_nations / 100.0, 4) AS mean_price,
           round(sqrt(greatest(s2 / n_nations
                               - (s1 / n_nations) * (s1 / n_nations),
                               0.0))
                 / (s1 / n_nations), 9) AS cvkey
    FROM per),
meancv AS (SELECT avg(cvkey) AS corpus_mean_cv FROM scored)
SELECT l_partkey, n_nations, mean_price,
       round(cvkey, 6) AS price_cv,
       round(corpus_mean_cv, 6) AS corpus_mean_cv
FROM scored, meancv
ORDER BY cvkey DESC, l_partkey LIMIT {_PD_TOP}
"""


# ------------------------------------------- Simpson paradox check


def _orders_simpson_paradox_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        (F.col("o_custkey") % 2).cast("int").alias("treat"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tot = o.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("cents").cast("decimal(38,0)").alias("ss"),
    )
    # outcome: cents·N > S (exact integer cross-multiply vs the mean)
    flagged = o.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "treat",
        (
            F.col("cents").cast("decimal(38,0)") * F.col("nn")
            > F.col("ss")
        )
        .cast("int")
        .alias("hi"),
    )
    cells = flagged.groupBy("stratum").agg(
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("treat") == 1, F.col("hi")).otherwise(0))
        .cast("long")
        .alias("ht"),
        F.sum(F.when(F.col("treat") == 0, F.col("hi")).otherwise(0))
        .cast("long")
        .alias("hc"),
    )
    diff = F.col("ht") / F.col("nt") - F.col("hc") / F.col("nc")
    per = cells.select(
        "stratum",
        "nt",
        "nc",
        F.round(F.col("ht") / F.col("nt"), 6).alias("rate_treat"),
        F.round(F.col("hc") / F.col("nc"), 6).alias("rate_ctrl"),
        F.round(diff, 6).alias("diff"),
        (diff > 0).cast("int").alias("pos"),
        "ht",
        "hc",
    )
    overall = per.agg(
        (
            F.sum("ht") / F.sum("nt") - F.sum("hc") / F.sum("nc")
        ).alias("od"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("k"),
    ).select(
        "od",
        "n_pos",
        "k",
        # reversal: overall sign contradicts the stratum majority
        (
            (
                (F.col("od") > 0)
                & (2 * F.col("n_pos") < F.col("k"))
            )
            | (
                (F.col("od") <= 0)
                & (2 * F.col("n_pos") > F.col("k"))
            )
        )
        .cast("int")
        .cast("long")
        .alias("paradox"),
    )
    return (
        per.crossJoin(F.broadcast(overall))
        .select(
            "stratum",
            "nt",
            "nc",
            "rate_treat",
            "rate_ctrl",
            "diff",
            F.round("od", 6).alias("overall_diff"),
            F.col("paradox").alias("paradox_flag"),
        )
        .orderBy("stratum")
    )


SIMPSON_SQL = """
WITH o AS (
    SELECT o_orderpriority AS stratum,
           CAST(o_custkey % 2 AS INT) AS treat,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS nn, sum(cents) AS ss FROM o),
flagged AS (
    SELECT stratum, treat,
           CASE WHEN cents * nn > ss THEN 1 ELSE 0 END AS hi
    FROM o, tot),
cells AS (
    SELECT stratum,
           CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nt,
           CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nc,
           CAST(sum(CASE WHEN treat = 1 THEN hi ELSE 0 END) AS BIGINT)
               AS ht,
           CAST(sum(CASE WHEN treat = 0 THEN hi ELSE 0 END) AS BIGINT)
               AS hc
    FROM flagged GROUP BY stratum),
per AS (
    SELECT stratum, nt, nc, ht, hc,
           ht * 1.0 / nt - hc * 1.0 / nc AS diff_raw
    FROM cells),
overall AS (
    SELECT sum(ht) * 1.0 / sum(nt) - sum(hc) * 1.0 / sum(nc) AS od,
           CAST(sum(CASE WHEN diff_raw > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pos,
           CAST(count(*) AS BIGINT) AS k
    FROM per)
SELECT stratum, nt, nc,
       round(ht * 1.0 / nt, 6) AS rate_treat,
       round(hc * 1.0 / nc, 6) AS rate_ctrl,
       round(diff_raw, 6) AS diff,
       round(od, 6) AS overall_diff,
       CAST(CASE WHEN (od > 0 AND 2 * n_pos < k)
                   OR (od <= 0 AND 2 * n_pos > k)
                 THEN 1 ELSE 0 END AS BIGINT) AS paradox_flag
FROM per, overall
ORDER BY stratum
"""


QUERIES: dict[str, QuerySpec] = {
    "text_kn_vs_mle_heldout": QuerySpec(
        _text_kn_vs_mle_heldout, KN_SQL
    ),
    "events_dft_weekly_power": QuerySpec(
        _events_dft_weekly_power, DFT_SQL
    ),
    "training_temperature_mixture": QuerySpec(
        _training_temperature_mixture, MIXTURE_SQL
    ),
    "dedup_token_savings": QuerySpec(
        _dedup_token_savings, _savings_sql()
    ),
    "part_price_dispersion_nations": QuerySpec(
        _part_price_dispersion_nations, PRICE_DISP_SQL
    ),
    "orders_simpson_paradox_check": QuerySpec(
        _orders_simpson_paradox_check, SIMPSON_SQL
    ),
}
