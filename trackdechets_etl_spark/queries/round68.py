"""Round-9 additions, thirteenth batch: factorial ANOVA, embedding
triplet evaluation, intermittent-demand forecasting, Markov entropy
rate, and composite scorecards.

- ``lineitem_two_way_anova``: two-factor ANOVA with interaction
  (returnflag × linestatus on price cents) — SS decomposition from
  exact decimal cell moments (the ANOVA overflow contract), F ratios
  for both main effects and the interaction. Completes the ANOVA
  family: one-way (round47) tests a single factor; the interaction
  term here is what catches "discount only matters for returns".
- ``embedding_triplet_eval``: metric-learning triplet evaluation —
  anchors pair with the next same-label vector in md5 order
  (partitioned lead) and with the same-md5-rank vector of the next
  label ((l+1) mod 10 — wrap, rank-aligned equi-join, no global
  window), margin = cos(a,p) − cos(a,n); per-label satisfaction rate
  and mean margin. The contrastive-quality gate for an embedding
  model: margins ≤ 0 mean same-label vectors are no closer than
  cross-label ones.
- ``part_croston_intermittent``: Croston's method for intermittent
  demand — per part: mean nonzero weekly demand z̄, mean inter-demand
  interval ī (week gaps via partitioned lag, ≥2 demand weeks
  required), demand rate z̄/ī. The supply-chain answer to forecasting
  a series that is 84% zeros (probed: 5 768 demand weeks of 71 400
  part-weeks) where a moving average is biased toward zero.
- ``events_markov_entropy_rate``: entropy rate of the first-order
  event chain — H = Σ_s π_s · H(next|s) with π the observed state
  frequencies, plus predictability 1 − H/ln(k). The
  information-theoretic summary of what events_markov_heldout_acc
  measures empirically: H near ln(k) says top-1 accuracy can never
  beat 1/k.
- ``supplier_composite_scorecard``: weighted composite supplier index
  from min-max-normalized metrics (volume share ↑ 0.4, return rate ↓
  0.4, avg unit price ↓ 0.2 — literal weights, documented) — the BI
  scorecard pattern: incommensurable metrics on one ranking scale.
  Top-20 with all components exposed.

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py).
Scale notes in docs/SCALE.md §round-9 thirteenth batch; invariant
tests in tests/test_round68.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import cosine_from_norms, cosine_sql, norm
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------------- two-way ANOVA


def _lineitem_two_way_anova(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("a"),
        F.col("l_linestatus").alias("b"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cells = li.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("y")).alias("s"),
        F.sum(dec("y") * dec("y")).alias("ss"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    tot = cells.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum(dec("s")).alias("st"),
        F.sum(dec("ss")).alias("sst"),
        F.countDistinct("a").cast("long").alias("ka"),
        F.countDistinct("b").cast("long").alias("kb"),
    )
    am = cells.groupBy("a").agg(
        F.sum("n").cast("long").alias("na"),
        F.sum(dec("s")).alias("sa"),
    )
    bm = cells.groupBy("b").agg(
        F.sum("n").cast("long").alias("nb"),
        F.sum(dec("s")).alias("sb"),
    )
    # SS via the squared-total/count identity: Σ_g S_g²/n_g − S²/N —
    # every term is (decimal)²/long cast to double at the last moment
    ss_a = am.crossJoin(F.broadcast(tot)).agg(
        (
            F.sum(d("sa") * d("sa") / d("na"))
            - F.first(d("st") * d("st") / d("nt"))
        ).alias("v"),
        F.first("nt").alias("nt"),
        F.first(d("sst")).alias("sst"),
        F.first(d("st") * d("st") / d("nt")).alias("cm"),
        F.first("ka").alias("ka"),
        F.first("kb").alias("kb"),
    )
    ss_b = bm.crossJoin(F.broadcast(tot)).agg(
        (
            F.sum(d("sb") * d("sb") / d("nb"))
            - F.first(d("st") * d("st") / d("nt"))
        ).alias("v")
    )
    ss_cells = cells.crossJoin(F.broadcast(tot)).agg(
        (
            F.sum(d("s") * d("s") / F.col("n"))
            - F.first(d("st") * d("st") / d("nt"))
        ).alias("v"),
        F.sum(F.lit(1)).cast("long").alias("ncells"),
    )
    j = (
        ss_a.crossJoin(F.broadcast(ss_b.withColumnRenamed("v", "vb")))
        .crossJoin(
            F.broadcast(
                ss_cells.withColumnRenamed("v", "vc")
            )
        )
    )
    ss_ab = F.col("vc") - F.col("v") - F.col("vb")
    ss_tot = F.col("sst") - F.col("cm")
    ss_err = ss_tot - F.col("vc")
    df_a = F.col("ka") - 1
    df_b = F.col("kb") - 1
    df_ab = df_a * df_b
    df_err = F.col("nt") - F.col("ncells")
    # raw SS magnitudes (~5e17 cents²) carry summation-order ULPs
    # past any fixed-decimal rounding — emit scale-free η² shares
    # instead (ratio noise ~1e-16, safe at 6dp)
    return j.select(
        F.col("nt").alias("n"),
        F.round(F.col("v") / ss_tot, 6).alias("eta2_a"),
        F.round(F.col("vb") / ss_tot, 6).alias("eta2_b"),
        F.round(ss_ab / ss_tot, 6).alias("eta2_interaction"),
        F.round(ss_err / ss_tot, 6).alias("eta2_error"),
        F.round(
            (F.col("v") / df_a) / (ss_err / df_err), 6
        ).alias("f_a"),
        F.round(
            (F.col("vb") / df_b) / (ss_err / df_err), 6
        ).alias("f_b"),
        F.round(
            (ss_ab / df_ab) / (ss_err / df_err), 6
        ).alias("f_interaction"),
    )


TWO_WAY_ANOVA_SQL = """
WITH li AS (
    SELECT l_returnflag AS a, l_linestatus AS b,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
    FROM lineitem),
cells AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS n,
           sum(y) AS s, sum(y * y) AS ss
    FROM li GROUP BY a, b),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s) AS st, sum(ss) AS sst,
           CAST(count(DISTINCT a) AS BIGINT) AS ka,
           CAST(count(DISTINCT b) AS BIGINT) AS kb,
           CAST(count(*) AS BIGINT) AS ncells
    FROM cells),
am AS (SELECT a, CAST(sum(n) AS BIGINT) AS na, sum(s) AS sa
       FROM cells GROUP BY a),
bm AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb, sum(s) AS sb
       FROM cells GROUP BY b),
x AS (
    SELECT
        (SELECT sum(CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
         FROM am)
        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt AS va,
        (SELECT sum(CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb)
         FROM bm)
        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt AS vb,
        (SELECT sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
         FROM cells)
        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt AS vc,
        CAST(sst AS DOUBLE)
        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt AS sstot,
        nt, ka, kb, ncells
    FROM tot)
SELECT nt AS n,
       round(va / sstot, 6) AS eta2_a,
       round(vb / sstot, 6) AS eta2_b,
       round((vc - va - vb) / sstot, 6) AS eta2_interaction,
       round((sstot - vc) / sstot, 6) AS eta2_error,
       round((va / (ka - 1))
             / ((sstot - vc) / (nt - ncells)), 6) AS f_a,
       round((vb / (kb - 1))
             / ((sstot - vc) / (nt - ncells)), 6) AS f_b,
       round(((vc - va - vb) / ((ka - 1) * (kb - 1)))
             / ((sstot - vc) / (nt - ncells)), 6) AS f_interaction
FROM x
"""


# ------------------------------------------------- triplet eval

_TRIP_LABELS = 10


def _embedding_triplet_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    ).withColumn("n", norm(F.col("v")))
    w = Window.partitionBy("label").orderBy("h", "vec_id")
    ranked = e.withColumn("rk", F.row_number().over(w))
    anchors = ranked.select(
        "label",
        "rk",
        F.col("v").alias("av"),
        F.col("n").alias("an"),
        F.lead("v").over(w).alias("pv"),
        F.lead("n").over(w).alias("pn"),
    ).filter(F.col("pv").isNotNull())
    negs = ranked.select(
        ((F.col("label") + _TRIP_LABELS - 1) % _TRIP_LABELS).alias(
            "label"
        ),
        "rk",
        F.col("v").alias("nv"),
        F.col("n").alias("nn"),
    )
    trips = anchors.join(negs, ["label", "rk"])
    margins = trips.select(
        "label",
        (
            cosine_from_norms(F.col("av"), F.col("pv"), F.col("an"), F.col("pn"))
            - cosine_from_norms(F.col("av"), F.col("nv"), F.col("an"), F.col("nn"))
        ).alias("m"),
    )
    return (
        margins.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triplets"),
            F.sum((F.col("m") > 0).cast("int"))
            .cast("long")
            .alias("satisfied"),
            F.round(F.avg("m"), 6).alias("mean_margin"),
        )
        .withColumn(
            "satisfied_rate",
            F.round(F.col("satisfied") / F.col("n_triplets"), 6),
        )
        .orderBy("label")
    )


TRIPLET_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           embedding::DOUBLE[] AS v,
           md5(CAST(vec_id AS VARCHAR)) AS h
    FROM embeddings),
ranked AS (
    SELECT label, v,
           row_number() OVER (PARTITION BY label
                              ORDER BY h, vec_id) AS rk,
           lead(v) OVER (PARTITION BY label
                         ORDER BY h, vec_id) AS pv
    FROM e),
anchors AS (
    SELECT label, rk, v AS av, pv FROM ranked WHERE pv IS NOT NULL),
negs AS (
    SELECT (label + {_TRIP_LABELS} - 1) % {_TRIP_LABELS} AS label,
           rk, v AS nv
    FROM ranked),
trips AS (
    SELECT anchors.label,
           {cosine_sql("av", "pv")} - {cosine_sql("av", "nv")} AS m
    FROM anchors JOIN negs USING (label, rk))
SELECT label,
       CAST(count(*) AS BIGINT) AS n_triplets,
       CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS satisfied,
       round(avg(m), 6) AS mean_margin,
       round(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) * 1.0 / count(*),
             6) AS satisfied_rate
FROM trips GROUP BY label ORDER BY label
"""


# -------------------------------------------- Croston intermittent

_CROSTON_TOP = 20


def _part_croston_intermittent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pw = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey",
            F.date_trunc("week", "l_shipdate").alias("wk"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("q")
        )
    )
    # The lag-gap window telescopes (r14): week-truncated dates differ
    # by exact multiples of 7 days, so the per-row gap sum equals
    # datediff(max wk, min wk)/7 and count(gap) is n_weeks - 1 — the
    # per-part window exchange + sort is gone, and the (part, wk)
    # frame folds straight into one partial-aggregated groupBy.
    # Exact-equal gated vs the window form at 3 SFs.
    per = (
        pw.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_weeks"),
            F.sum("q").cast("long").alias("sq"),
            (F.datediff(F.max("wk"), F.min("wk")) / 7)
            .cast("long")
            .alias("sgap"),
        )
        .withColumn("ngap", F.col("n_weeks") - F.lit(1))
        .filter(F.col("ngap") >= 1)
    )
    zbar = F.col("sq") / F.col("n_weeks")
    ibar = F.col("sgap") / F.col("ngap")
    return (
        per.select(
            "l_partkey",
            F.col("n_weeks").alias("n_demand_weeks"),
            F.round(zbar, 4).alias("mean_demand"),
            F.round(ibar, 4).alias("mean_interval_weeks"),
            F.round(zbar / ibar, 9).alias("ckey"),
        )
        .orderBy(F.desc("ckey"), F.asc("l_partkey"))
        .limit(_CROSTON_TOP)
        .select(
            "l_partkey",
            "n_demand_weeks",
            "mean_demand",
            "mean_interval_weeks",
            F.round("ckey", 4).alias("croston_rate"),
        )
    )


CROSTON_SQL = f"""
WITH pw AS (
    SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
           CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
               AS q
    FROM lineitem GROUP BY 1, 2),
gaps AS (
    SELECT l_partkey, q,
           CAST(date_diff('day',
                lag(wk) OVER (PARTITION BY l_partkey ORDER BY wk),
                wk) // 7 AS BIGINT) AS gap
    FROM pw),
per AS (
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_weeks,
           CAST(sum(q) AS BIGINT) AS sq,
           CAST(sum(gap) AS BIGINT) AS sgap,
           CAST(count(gap) AS BIGINT) AS ngap
    FROM gaps GROUP BY l_partkey
    HAVING count(gap) >= 1)
SELECT l_partkey,
       n_weeks AS n_demand_weeks,
       round(sq * 1.0 / n_weeks, 4) AS mean_demand,
       round(sgap * 1.0 / ngap, 4) AS mean_interval_weeks,
       round((sq * 1.0 / n_weeks) / (sgap * 1.0 / ngap), 4)
           AS croston_rate
FROM per
ORDER BY round((sq * 1.0 / n_weeks) / (sgap * 1.0 / ngap), 9) DESC,
         l_partkey
LIMIT {_CROSTON_TOP}
"""


# ------------------------------------------- Markov entropy rate


def _events_markov_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    counts = tr.groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rows = counts.groupBy("prev").agg(
        F.sum("c").cast("long").alias("rc")
    )
    tot = counts.agg(
        F.sum("c").cast("long").alias("n"),
        F.countDistinct("prev").cast("long").alias("k"),
    )
    # H = Σ_{prev,nxt} (c/N)·ln(rc/c) — every ratio from exact ints
    h = (
        counts.join(F.broadcast(rows), "prev")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.first("n").alias("n"),
            F.first("k").alias("k"),
            F.sum(
                F.col("c")
                / F.col("n")
                * F.log(F.col("rc") / F.col("c"))
            ).alias("hr"),
        )
    )
    return h.select(
        F.col("n").alias("n_transitions"),
        F.col("k").alias("n_states"),
        F.round("hr", 6).alias("entropy_rate_nats"),
        F.round(F.log(F.col("k").cast("double")), 6).alias(
            "max_entropy"
        ),
        F.round(
            1.0 - F.col("hr") / F.log(F.col("k").cast("double")), 6
        ).alias("predictability"),
    )


MARKOV_ENTROPY_SQL = """
WITH tr AS (
    SELECT event_type AS prev,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events),
counts AS (
    SELECT prev, nxt, CAST(count(*) AS BIGINT) AS c
    FROM tr WHERE nxt IS NOT NULL GROUP BY prev, nxt),
rws AS (SELECT prev, CAST(sum(c) AS BIGINT) AS rc
        FROM counts GROUP BY prev),
tot AS (
    SELECT CAST(sum(c) AS BIGINT) AS n,
           CAST(count(DISTINCT prev) AS BIGINT) AS k
    FROM counts),
h AS (
    SELECT min(n) AS n, min(k) AS k,
           sum(c * 1.0 / n * ln(rc * 1.0 / c)) AS hr
    FROM counts JOIN rws USING (prev), tot)
SELECT n AS n_transitions, k AS n_states,
       round(hr, 6) AS entropy_rate_nats,
       round(ln(CAST(k AS DOUBLE)), 6) AS max_entropy,
       round(1.0 - hr / ln(CAST(k AS DOUBLE)), 6) AS predictability
FROM h
"""


# ------------------------------------------- composite scorecard

_SC_TOP = 20
_SC_W_VOL = "0.4"
_SC_W_RET = "0.4"
_SC_W_PRICE = "0.2"


def _supplier_composite_scorecard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    s = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("vol"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("ret"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev"),
        )
    )
    m = s.select(
        "l_suppkey",
        F.col("vol").cast("double").alias("vol"),
        (F.col("ret") / F.col("n")).alias("rr"),
        (F.col("rev") / (100.0 * F.col("vol"))).alias("up"),
    )
    mm = m.agg(
        F.min("vol").alias("vlo"),
        F.max("vol").alias("vhi"),
        F.min("rr").alias("rlo"),
        F.max("rr").alias("rhi"),
        F.min("up").alias("plo"),
        F.max("up").alias("phi"),
    )
    j = m.crossJoin(F.broadcast(mm))

    def norm(c, lo, hi):
        return F.when(
            F.col(hi) > F.col(lo),
            (F.col(c) - F.col(lo)) / (F.col(hi) - F.col(lo)),
        ).otherwise(0.5)

    vn = norm("vol", "vlo", "vhi")
    rn = norm("rr", "rlo", "rhi")
    pn = norm("up", "plo", "phi")
    score = (
        float(_SC_W_VOL) * vn
        + float(_SC_W_RET) * (1.0 - rn)
        + float(_SC_W_PRICE) * (1.0 - pn)
    )
    return (
        j.select(
            "l_suppkey",
            F.round("vol", 0).cast("long").alias("volume"),
            F.round("rr", 6).alias("return_rate"),
            F.round("up", 4).alias("avg_unit_price"),
            F.round(score, 9).alias("skey"),
        )
        .orderBy(F.desc("skey"), F.asc("l_suppkey"))
        .limit(_SC_TOP)
        .select(
            "l_suppkey",
            "volume",
            "return_rate",
            "avg_unit_price",
            F.round("skey", 6).alias("score"),
        )
    )


SCORECARD_SQL = f"""
WITH s AS (
    SELECT l_suppkey,
           CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
               AS vol,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS ret,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS rev
    FROM lineitem GROUP BY l_suppkey),
m AS (
    SELECT l_suppkey, CAST(vol AS DOUBLE) AS vol,
           ret * 1.0 / n AS rr,
           rev / (100.0 * vol) AS up
    FROM s),
mm AS (
    SELECT min(vol) AS vlo, max(vol) AS vhi,
           min(rr) AS rlo, max(rr) AS rhi,
           min(up) AS plo, max(up) AS phi
    FROM m),
j AS (
    SELECT l_suppkey, vol, rr, up,
           {_SC_W_VOL} * (CASE WHEN vhi > vlo
                               THEN (vol - vlo) / (vhi - vlo)
                               ELSE 0.5 END)
           + {_SC_W_RET} * (1.0 - (CASE WHEN rhi > rlo
                                        THEN (rr - rlo) / (rhi - rlo)
                                        ELSE 0.5 END))
           + {_SC_W_PRICE} * (1.0 - (CASE WHEN phi > plo
                                          THEN (up - plo) / (phi - plo)
                                          ELSE 0.5 END)) AS skey
    FROM m, mm)
SELECT l_suppkey,
       CAST(round(vol, 0) AS BIGINT) AS volume,
       round(rr, 6) AS return_rate,
       round(up, 4) AS avg_unit_price,
       round(skey, 6) AS score
FROM j
ORDER BY round(skey, 9) DESC, l_suppkey LIMIT {_SC_TOP}
"""


QUERIES: dict[str, QuerySpec] = {
    "lineitem_two_way_anova": QuerySpec(
        _lineitem_two_way_anova, TWO_WAY_ANOVA_SQL
    ),
    "embedding_triplet_eval": QuerySpec(
        _embedding_triplet_eval, TRIPLET_SQL
    ),
    "part_croston_intermittent": QuerySpec(
        _part_croston_intermittent, CROSTON_SQL
    ),
    "events_markov_entropy_rate": QuerySpec(
        _events_markov_entropy_rate, MARKOV_ENTROPY_SQL
    ),
    "supplier_composite_scorecard": QuerySpec(
        _supplier_composite_scorecard, SCORECARD_SQL
    ),
}
