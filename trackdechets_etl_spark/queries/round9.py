"""Round-5 additions, fourth batch: marketing/linkage analytics
and a semantic-dedup training op.

- ``events_attribution``: multi-touch attribution (first-touch,
  last-touch, linear) of purchase conversions to prior touch events in
  a 7-day lookback. Linear credit is distributed in integer
  micro-credits (``1e6 div n``) so every sum is BIGINT-exact in both
  engines — no float accumulation-order hazard.
- ``linkage_blocking_score``: probabilistic record linkage
  (Fellegi–Sunter shape): block on nation, score field agreements
  (name id-suffix, account-balance proximity) with integer
  agree/disagree weights, keep pairs above threshold. The blocking
  join is the whole point at scale — candidate pairs are linear in
  block sizes, never |A|×|B|.
- ``dedup_semantic_prune``: SemDeDup-style semantic dedup — per-label
  centroid, centroid-cosine ranking, and within-cluster pair pruning:
  a vector is dropped iff some same-cluster vector exceeds the pair
  cosine threshold AND ranks closer to the centroid (ties by id).
  Non-iterative, so one self-join decides the keep set.
- ``events_seasonal_dow``: day-of-week seasonal baseline per event
  type with a 2σ anomaly flag evaluated as a cross-multiplied INTEGER
  inequality ``(n·x−S)²·(n−1) > 4·n·(n·Q−S²)`` — no float boundary can
  diverge between engines.
- ``orders_backlog_aging``: open-order backlog aged into 30-day
  buckets as-of the corpus max order date, value in exact cents.

All pure DataFrame algebra with exact DuckDB twins; invariant tests in
tests/test_round9.py. Extensions beyond the reference DAGs (the
reference's analytics surface ends at the §2 inventory); they follow
the same oracle discipline as the §2 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import cosine_sql
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------------- multi-touch attribution

_ATTR_LOOKBACK_DAYS = 7
_ATTR_TOUCH_TYPES = ("click", "view", "signup")


def _events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear attribution of each purchase to the user's
    touch events (click/view/signup) in the preceding 7 days. One
    shuffle keyed by conversion id carries all three models: a count
    window sizes the path, two row_number windows pick the first and
    last touch (ties broken by event_id — unique), and linear credit
    is ``1_000_000 div n`` micro-credits per touch so the per-channel
    sums are integer-exact. At 100 TB the user-keyed range join is the
    only fact×fact step and the lookback horizon bounds its fan-out;
    everything after runs on path-sized data."""
    ev = read_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("cts"),
    )
    touch = ev.filter(F.col("event_type").isin(*_ATTR_TOUCH_TYPES)).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    j = conv.join(touch, conv.c_user == touch.t_user).filter(
        (F.col("tts") < F.col("cts"))
        & (
            F.col("tts")
            >= F.col("cts") - F.expr(f"INTERVAL {_ATTR_LOOKBACK_DAYS} DAYS")
        )
    )
    w = Window.partitionBy("conv_id")
    w_asc = w.orderBy("tts", "touch_id")
    w_desc = w.orderBy(F.desc("tts"), F.desc("touch_id"))
    scored = (
        j.withColumn("n", F.count("*").over(w))
        .withColumn("rn_first", F.row_number().over(w_asc))
        .withColumn("rn_last", F.row_number().over(w_desc))
    )
    return (
        scored.groupBy("channel")
        .agg(
            F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
            .cast("long")
            .alias("first_touch"),
            F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
            .cast("long")
            .alias("last_touch"),
            F.sum(F.expr("1000000 div n")).cast("long").alias("linear_micro"),
            F.count("*").alias("touches"),
        )
        .orderBy("channel")
    )


EVENTS_ATTRIBUTION_SQL = f"""
WITH conv AS (
    SELECT user_id AS c_user, event_id AS conv_id, ts AS cts
    FROM events WHERE event_type = 'purchase'),
touch AS (
    SELECT user_id AS t_user, event_id AS touch_id, ts AS tts,
           event_type AS channel
    FROM events
    WHERE event_type IN ('click', 'view', 'signup')),
j AS (
    SELECT conv_id, touch_id, tts, channel
    FROM conv JOIN touch ON c_user = t_user
    WHERE tts < cts AND tts >= cts - INTERVAL {_ATTR_LOOKBACK_DAYS} DAY),
scored AS (
    SELECT channel,
           count(*) OVER (PARTITION BY conv_id) AS n,
           row_number() OVER (PARTITION BY conv_id
                              ORDER BY tts, touch_id) AS rn_first,
           row_number() OVER (PARTITION BY conv_id
                              ORDER BY tts DESC, touch_id DESC) AS rn_last
    FROM j)
SELECT channel,
       CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS first_touch,
       CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS last_touch,
       CAST(sum(1000000 // n) AS BIGINT) AS linear_micro,
       CAST(count(*) AS BIGINT) AS touches
FROM scored
GROUP BY channel
ORDER BY channel
"""


# ----------------------------------------------- record linkage scoring

_LNK_W_DIGIT_AGREE = 30
_LNK_W_DIGIT_DISAGREE = -10
_LNK_W_BAL_AGREE = 20
_LNK_W_BAL_DISAGREE = -5
_LNK_BAL_EPS_CENTS = 50_000  # |Δacctbal| < $500 counts as agreement
_LNK_THRESHOLD = 25


def _last2(c):
    """Exact Spark equivalent of DuckDB ``right(x, 2)`` for ANY input
    length: negative-position ``substring(x, -2, 2)`` returns '' when
    |pos| exceeds the length (1-char inputs), where ``right`` returns
    the whole string. ``substring(x, greatest(len-1, 1), 2)`` agrees
    with ``right`` for lengths 0, 1 and >=2 alike."""
    return F.substring(c, F.greatest(F.length(c) - F.lit(1), F.lit(1)), F.lit(2))


def _linkage_blocking_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter-shaped record linkage between customers and
    suppliers: block on nationkey (candidate pairs are linear in block
    sizes — the step that makes linkage feasible at all at scale),
    then score two field comparisons with integer agree/disagree
    weights — last-2-digit name-id agreement and account-balance
    proximity in exact cents — and keep pairs scoring ≥ threshold.
    Mirrors the reference's siretisation matching problem
    (dags/icpe-siretisation.py name-join) restated as weighted
    evidence instead of a single exact key. The customer side shuffles
    on nationkey once; the supplier side broadcasts."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nk"),
        _last2(F.regexp_extract("c_name", r"([0-9]+)$", 1)).alias("c_d2"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c_cents"),
    )
    s = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nk"),
        _last2(F.regexp_extract("s_name", r"([0-9]+)$", 1)).alias("s_d2"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("s_cents"),
    )
    pairs = c.join(s, "nk")
    scored = pairs.withColumn(
        "score",
        F.when(
            F.col("c_d2") == F.col("s_d2"), F.lit(_LNK_W_DIGIT_AGREE)
        ).otherwise(F.lit(_LNK_W_DIGIT_DISAGREE))
        + F.when(
            F.abs(F.col("c_cents") - F.col("s_cents")) < _LNK_BAL_EPS_CENTS,
            F.lit(_LNK_W_BAL_AGREE),
        ).otherwise(F.lit(_LNK_W_BAL_DISAGREE)),
    )
    return (
        scored.filter(F.col("score") >= _LNK_THRESHOLD)
        .select(
            "c_custkey",
            "s_suppkey",
            F.col("nk").cast("int").alias("nationkey"),
            F.col("score").cast("int").alias("score"),
        )
        .orderBy("c_custkey", "s_suppkey")
    )


LINKAGE_SCORE_SQL = f"""
WITH c AS (
    SELECT c_custkey, c_nationkey AS nk,
           right(regexp_extract(c_name, '([0-9]+)$', 1), 2) AS c_d2,
           CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c_cents
    FROM customer),
s AS (
    SELECT s_suppkey, s_nationkey AS nk,
           right(regexp_extract(s_name, '([0-9]+)$', 1), 2) AS s_d2,
           CAST(round(s_acctbal * 100, 0) AS BIGINT) AS s_cents
    FROM supplier),
scored AS (
    SELECT c_custkey, s_suppkey, c.nk AS nationkey,
           (CASE WHEN c_d2 = s_d2 THEN {_LNK_W_DIGIT_AGREE}
                 ELSE {_LNK_W_DIGIT_DISAGREE} END
            + CASE WHEN abs(c_cents - s_cents) < {_LNK_BAL_EPS_CENTS}
                   THEN {_LNK_W_BAL_AGREE}
                   ELSE {_LNK_W_BAL_DISAGREE} END) AS score
    FROM c JOIN s ON c.nk = s.nk)
SELECT c_custkey, s_suppkey, CAST(nationkey AS INTEGER) AS nationkey,
       CAST(score AS INTEGER) AS score
FROM scored WHERE score >= {_LNK_THRESHOLD}
ORDER BY c_custkey, s_suppkey
"""


# ------------------------------------------------- semantic dedup (prune)

_SEM_TAU = 0.35  # pair-cosine threshold (synthetic corpus: max ≈ 0.47)
_SEM_DIMS = 64


def _dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023 shape): rank
    each vector by cosine to its cluster centroid (labels stand in for
    the k-means assignment), then inside each cluster drop any vector
    that has a too-similar neighbour ranking strictly closer to the
    centroid (ties by smaller vec_id). The rule is non-iterative —
    one blocked self-join decides every keep/drop. Centroid averages
    round to 4 decimals (absorbing distributed float sum order, the
    ``embedding_label_centroids`` convention) and all cosines round to
    6 before any comparison, so both engines agree exactly. At 100 TB
    the cluster count scales with the corpus so intra-cluster pair
    counts stay bounded; centroids broadcast."""
    from trackdechets_etl_spark.llm.similarity import (
        as_double,
        cosine_from_norms,
        norm,
    )

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("n", norm(F.col("v")))
    ex = e.select("label", F.posexplode("v").alias("pos", "x"))
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 4).alias("a"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "a"))),
                lambda st: st["a"],
            ).alias("centroid")
        )
        .withColumn("cn", norm(F.col("centroid")))
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        "v",
        "n",
        F.round(
            cosine_from_norms(F.col("v"), F.col("centroid"), F.col("n"), F.col("cn")),
            6,
        ).alias("cos_c"),
    )
    a = scored.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("lbl"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
        F.col("cos_c").alias("a_cos"),
    )
    b = scored.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("lbl"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
        F.col("cos_c").alias("b_cos"),
    )
    dropped = (
        a.join(b, "lbl")
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(
            F.round(
                cosine_from_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
                6,
            )
            >= _SEM_TAU
        )
        .filter(
            (F.col("b_cos") > F.col("a_cos"))
            | (
                (F.col("b_cos") == F.col("a_cos"))
                & (F.col("b_id") < F.col("a_id"))
            )
        )
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
    )
    return (
        scored.join(
            dropped.withColumn("__d", F.lit(1)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "label",
            "cos_c",
            F.when(F.col("__d").isNotNull(), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("status"),
        )
        .orderBy("vec_id")
    )


DEDUP_SEMANTIC_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
per_dim AS (
    SELECT label, i, round(avg(v[i]), 4) AS a
    FROM e, unnest(generate_series(1, {_SEM_DIMS})) AS u(i)
    GROUP BY label, i),
cent AS (
    SELECT label, list(a ORDER BY i) AS centroid FROM per_dim GROUP BY label),
scored AS (
    SELECT vec_id, label, v,
           round({cosine_sql('v', 'centroid')}, 6) AS cos_c
    FROM e JOIN cent USING (label)),
dropped AS (
    SELECT DISTINCT a.vec_id
    FROM scored a JOIN scored b
      ON a.label = b.label AND a.vec_id != b.vec_id
    WHERE round({cosine_sql('a.v', 'b.v')}, 6) >= {_SEM_TAU}
      AND (b.cos_c > a.cos_c
           OR (b.cos_c = a.cos_c AND b.vec_id < a.vec_id)))
SELECT s.vec_id, s.label, s.cos_c,
       CASE WHEN d.vec_id IS NULL THEN 'keep' ELSE 'drop' END AS status
FROM scored s LEFT JOIN dropped d ON s.vec_id = d.vec_id
ORDER BY s.vec_id
"""


# ------------------------------------------- day-of-week seasonal anomaly

_DOW_MIN_DAYS = 3


def _events_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline per event type with a 2σ anomaly
    flag. Daily counts are integers, so the flag is evaluated as the
    cross-multiplied integer inequality
    ``(n·x − S)²·(n−1) > 4·n·(n·Q − S²)`` (S=Σx, Q=Σx² per
    (type, dow) group) — algebraically identical to |x−μ| > 2·σ_sample
    but bit-exact in both engines, with no float boundary to diverge
    on. Fact-sized work ends at the first daily rollup; the baseline
    stats run over |types|×7 groups. The reported mean rounds to 6."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
        )
        .agg(F.count("*").alias("cnt"))
        .withColumn("dow", F.dayofweek("day").cast("int"))
    )
    w = Window.partitionBy("event_type", "dow")
    flagged = (
        daily.withColumn("n", F.count("*").over(w))
        .withColumn("s", F.sum("cnt").over(w))
        .withColumn("q", F.sum(F.col("cnt") * F.col("cnt")).over(w))
        .withColumn(
            "is_anomaly",
            (F.col("n") >= _DOW_MIN_DAYS)
            & (
                (F.col("n") * F.col("cnt") - F.col("s"))
                * (F.col("n") * F.col("cnt") - F.col("s"))
                * (F.col("n") - 1)
                > 4
                * F.col("n")
                * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
            ),
        )
    )
    return flagged.select(
        "event_type",
        "day",
        "cnt",
        "dow",
        F.round(F.col("s") / F.col("n"), 6).alias("dow_mean"),
        "is_anomaly",
    ).orderBy("event_type", "day")


EVENTS_SEASONAL_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
d2 AS (SELECT *, CAST(dayofweek(day) + 1 AS INTEGER) AS dow FROM daily),
st AS (
    SELECT *,
           count(*) OVER w AS n,
           sum(cnt) OVER w AS s,
           sum(cnt * cnt) OVER w AS q
    FROM d2
    WINDOW w AS (PARTITION BY event_type, dow))
SELECT event_type, day, cnt, dow,
       round(s / CAST(n AS DOUBLE), 6) AS dow_mean,
       (n >= {_DOW_MIN_DAYS}
        AND (n * cnt - s) * (n * cnt - s) * (n - 1)
            > 4 * n * (n * q - s * s)) AS is_anomaly
FROM st
ORDER BY event_type, day
"""


# ------------------------------------------------------- backlog aging

_AGE_BUCKETS = ((30, "00-29"), (60, "30-59"), (90, "60-89"))
_AGE_LAST = "90+"


def _orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order ('O') backlog aged into 30-day buckets as of the
    corpus max order date, counted and valued in exact cents per
    (bucket, priority). The as-of scalar comes from a 1-row broadcast
    aggregate (the engine's percent-of-total pattern); bucket edges
    are a CASE over an integer day difference, so the whole query is
    integer/date arithmetic with no float hazard. At 100 TB this is
    one scan + one small-key aggregation; the as-of date would come
    from the partition manifest rather than a max() scan."""
    o = read_table(spark, sf_dir, "orders")
    asof = o.agg(F.max(F.to_date("o_orderdate")).alias("asof"))
    aged = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))
        .withColumn(
            "age_days", F.datediff("asof", F.to_date("o_orderdate"))
        )
    )
    bucket = F.when(F.col("age_days") < _AGE_BUCKETS[0][0], _AGE_BUCKETS[0][1])
    for edge, lab in _AGE_BUCKETS[1:]:
        bucket = bucket.when(F.col("age_days") < edge, lab)
    bucket = bucket.otherwise(_AGE_LAST)
    return (
        aged.withColumn("age_bucket", bucket)
        .groupBy("age_bucket", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .orderBy("age_bucket", "o_orderpriority")
    )


ORDERS_BACKLOG_SQL = f"""
WITH asof_d AS (
    SELECT max(CAST(o_orderdate AS DATE)) AS cutoff FROM orders),
aged AS (
    SELECT o_orderpriority, o_totalprice,
           date_diff('day', CAST(o_orderdate AS DATE), cutoff) AS age_days
    FROM orders, asof_d
    WHERE o_orderstatus = 'O')
SELECT CASE WHEN age_days < {_AGE_BUCKETS[0][0]} THEN '{_AGE_BUCKETS[0][1]}'
            WHEN age_days < {_AGE_BUCKETS[1][0]} THEN '{_AGE_BUCKETS[1][1]}'
            WHEN age_days < {_AGE_BUCKETS[2][0]} THEN '{_AGE_BUCKETS[2][1]}'
            ELSE '{_AGE_LAST}' END AS age_bucket,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM aged
GROUP BY 1, 2
ORDER BY age_bucket, o_orderpriority
"""


QUERIES: dict[str, QuerySpec] = {
    "events_attribution": QuerySpec(
        _events_attribution, EVENTS_ATTRIBUTION_SQL
    ),
    "linkage_blocking_score": QuerySpec(
        _linkage_blocking_score, LINKAGE_SCORE_SQL
    ),
    "dedup_semantic_prune": QuerySpec(
        _dedup_semantic_prune, DEDUP_SEMANTIC_SQL
    ),
    "events_seasonal_dow": QuerySpec(_events_seasonal_dow, EVENTS_SEASONAL_SQL),
    "orders_backlog_aging": QuerySpec(
        _orders_backlog_aging, ORDERS_BACKLOG_SQL
    ),
}
