"""Round-8 additions, second batch: rank statistics, a range join, and
vocabulary coverage.

- ``events_mann_whitney_u``: two-sample Mann-Whitney U between the
  purchase-value distributions of the two deterministic user halves —
  the nonparametric complement to ``events_two_sample_ks`` (KS sees
  max CDF gap; U sees stochastic dominance). Average ranks computed on
  the DISTINCT-cents value frame in exact HALF-units (2·rank is
  integer), tie-corrected z. All sums decimal(38,0)/HUGEINT; floats
  only in the final emitted statistics with a fixed association order.
- ``lineitem_kendall_tau``: Kendall tau-b between discount level and
  quantity. Facts reduce to the (discount, quantity) CELL frame
  (≤ 11×50 cells); concordant/discordant mass is an exact
  decimal(38,0) sum over cell PAIRS (≤ 302k — the broadcast cross of
  an aggregate with itself), never over fact pairs. The rank
  correlation the Pearson/Spearman pair can't give: tau's pair
  semantics are what A/B analysts quote.
- ``events_interval_overlap_join``: a RANGE JOIN done Spark-first —
  gap sessions (30 min) overlap-joined to the top-20 busiest hours by
  exploding each session onto its touched hour bins and EQUI-joining
  on the bin (broadcast, hours are aggregate-sized). The oracle states
  the same join declaratively as a range predicate, proving
  bin-join ≡ range-join. Per peak hour: sessions intersecting it and
  total overlapped seconds. At 100 TB the bin fan-out is bounded by
  the broadcast peak-hour [min, max] spread — the explode sequence is
  clamped to it (empty-clamp sessions filtered pre-explode), so even
  a continuously-active user whose gap-only session spans weeks emits
  only in-range bins; no sort-merge range scan, no cartesian.
- ``text_oov_rate_topv``: per-document out-of-vocabulary rate against
  the top-V corpus vocabulary (V=24 by count desc, term asc — the
  token-budget framing; a support floor is degenerate on the synthetic
  corpus' 31-term vocabulary, probed before shipping). The 20 docs
  with the highest OOV share — the "weird token" quality screen run
  before tokenizer training. Vocab is TakeOrdered-bounded and
  broadcast.

Invariant tests in tests/test_round55.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------- Mann-Whitney U


def _events_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    vals = ev.groupBy("cents").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    nv = F.col("c0") + F.col("c1")
    # cumulative count of strictly-smaller values over the
    # DISTINCT-cents frame (bounded by the value grid, the
    # events_two_sample_ks contract) — average rank in HALF-units:
    # 2·avgrank(v) = 2·cum_below(v) + n_v + 1, an exact integer.
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "cents",
        "c0",
        "c1",
        nv.alias("nv"),
        F.coalesce(F.sum(nv).over(wv), F.lit(0)).alias("cb"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    two_rank = F.lit(2) * F.col("cb") + F.col("nv") + 1
    sums = ranked.agg(
        F.sum("c0").alias("n0"),
        F.sum("c1").alias("n1"),
        F.sum(dec(F.col("c0")) * dec(two_rank)).alias("r2_0"),
        F.sum(
            dec(F.col("nv")) * dec(F.col("nv")) * dec(F.col("nv"))
            - dec(F.col("nv"))
        ).alias("tt"),
    )
    n0d, n1d = dec(F.col("n0")), dec(F.col("n1"))
    u2_0 = F.col("r2_0") - n0d * (n0d + 1)  # = 2·U0, exact
    nn = n0d * n1d
    n = (F.col("n0") + F.col("n1")).cast("double")
    # fixed-order float algebra, mirrored verbatim in the oracle
    var = (
        n0d.cast("double") * F.col("n1") / 12.0
        * ((n + 1.0) - F.col("tt").cast("double") / (n * (n - 1.0)))
    )
    z = (u2_0.cast("double") - nn.cast("double")) / (2.0 * F.sqrt(var))
    return sums.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(u2_0.cast("double") / 2.0, 1).alias("u_stat"),
        F.round(u2_0.cast("double") / nn.cast("double") - 1.0, 6).alias(
            "rank_biserial"
        ),
        F.round(z, 6).alias("z_score"),
    )


MANN_WHITNEY_SQL = """
WITH ev AS (
    SELECT user_id % 2 AS grp,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events),
vals AS (
    SELECT cents,
           sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
           sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
    FROM ev GROUP BY cents),
ranked AS (
    SELECT cents, c0, c1, c0 + c1 AS nv,
           COALESCE(sum(c0 + c1) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM vals),
s AS (
    SELECT CAST(sum(c0) AS BIGINT) AS n0,
           CAST(sum(c1) AS BIGINT) AS n1,
           sum(CAST(c0 AS HUGEINT) * (2 * cb + nv + 1)) AS r2_0,
           sum(CAST(nv AS HUGEINT) * nv * nv - nv) AS tt
    FROM ranked),
d AS (
    SELECT n0, n1,
           r2_0 - CAST(n0 AS HUGEINT) * (n0 + 1) AS u2_0,
           CAST(n0 AS HUGEINT) * n1 AS nn,
           CAST(n0 + n1 AS DOUBLE) AS n, tt
    FROM s)
SELECT n0, n1,
       round(CAST(u2_0 AS DOUBLE) / 2.0, 1) AS u_stat,
       round(CAST(u2_0 AS DOUBLE) / CAST(nn AS DOUBLE) - 1.0, 6)
           AS rank_biserial,
       round((CAST(u2_0 AS DOUBLE) - CAST(nn AS DOUBLE))
             / (2.0 * sqrt(CAST(n0 AS DOUBLE) * n1 / 12.0
                * ((n + 1.0) - CAST(tt AS DOUBLE) / (n * (n - 1.0))))), 6)
           AS z_score
FROM d
"""


# ------------------------------------------- Kendall tau-b


def _lineitem_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    cells = li.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("n").alias("nb")
    )
    # cell-pair cross: both sides are the aggregate cell frame
    # (≤ 11 discounts × 50 quantities), so the cross is ≤ 302k rows —
    # bounded at ANY fact scale; fact pairs never materialize.
    pair_mass = dec("na") * dec("nb")
    cd = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("xa") < F.col("xb"))
        .agg(
            F.sum(F.when(F.col("ya") < F.col("yb"), pair_mass)).alias("conc"),
            F.sum(F.when(F.col("ya") > F.col("yb"), pair_mass)).alias("disc"),
        )
    )
    margx = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("nx"))
        .agg(F.sum(dec("nx") * (dec("nx") - 1) / 2).alias("tx"))
        .select(F.col("tx").cast("decimal(38,0)").alias("tx"))
    )
    margy = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("ny"))
        .agg(F.sum(dec("ny") * (dec("ny") - 1) / 2).alias("ty"))
        .select(F.col("ty").cast("decimal(38,0)").alias("ty"))
    )
    tot = cells.agg(F.sum("n").alias("nr"))
    n0 = (dec("nr") * (dec("nr") - 1) / 2).cast("decimal(38,0)")
    out = (
        cd.crossJoin(F.broadcast(margx))
        .crossJoin(F.broadcast(margy))
        .crossJoin(F.broadcast(tot))
    )
    tau = (F.col("conc").cast("double") - F.col("disc").cast("double")) / (
        F.sqrt((n0 - F.col("tx")).cast("double"))
        * F.sqrt((n0 - F.col("ty")).cast("double"))
    )
    return out.select(
        F.col("nr").cast("long").alias("n_rows"),
        F.round(F.col("conc").cast("double") / n0.cast("double"), 6).alias(
            "p_concordant"
        ),
        F.round(F.col("disc").cast("double") / n0.cast("double"), 6).alias(
            "p_discordant"
        ),
        F.round(tau, 6).alias("tau_b"),
    )


KENDALL_TAU_SQL = """
WITH li AS (
    SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS x,
           CAST(l_quantity AS BIGINT) AS y
    FROM lineitem),
cells AS (SELECT x, y, count(*) AS n FROM li GROUP BY x, y),
cd AS (
    SELECT sum(CASE WHEN a.y < b.y
                    THEN CAST(a.n AS HUGEINT) * b.n END) AS conc,
           sum(CASE WHEN a.y > b.y
                    THEN CAST(a.n AS HUGEINT) * b.n END) AS disc
    FROM cells a JOIN cells b ON a.x < b.x),
mx AS (SELECT sum(CAST(nx AS HUGEINT) * (nx - 1) // 2) AS tx
       FROM (SELECT sum(n) AS nx FROM cells GROUP BY x)),
my AS (SELECT sum(CAST(ny AS HUGEINT) * (ny - 1) // 2) AS ty
       FROM (SELECT sum(n) AS ny FROM cells GROUP BY y)),
tot AS (SELECT CAST(sum(n) AS HUGEINT) AS nr FROM cells),
d AS (SELECT conc, disc, tx, ty, nr, nr * (nr - 1) // 2 AS n0
      FROM cd, mx, my, tot)
SELECT CAST(nr AS BIGINT) AS n_rows,
       round(CAST(conc AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS p_concordant,
       round(CAST(disc AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS p_discordant,
       round((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
             / (sqrt(CAST(n0 - tx AS DOUBLE))
                * sqrt(CAST(n0 - ty AS DOUBLE))), 6) AS tau_b
FROM d
"""


# ------------------------------------------- interval overlap join

_OVL_GAP_S = 1800
_OVL_TOP_HOURS = 20


def _events_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("s"),
    )
    wu = Window.partitionBy("user_id").orderBy("s")
    flagged = ev.withColumn("prev", F.lag("s").over(wu)).withColumn(
        "ns",
        F.when(
            F.col("prev").isNull() | (F.col("s") - F.col("prev") > _OVL_GAP_S),
            1,
        ).otherwise(0),
    )
    sess = (
        flagged.withColumn(
            "sid",
            F.sum("ns").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("s").alias("st"), F.max("s").alias("en"))
    )
    hours = ev.groupBy((F.col("s") - F.col("s") % 3600).alias("hstart")).agg(
        F.count(F.lit(1)).alias("n_events_hour")
    )
    peak = hours.orderBy(F.desc("n_events_hour"), "hstart").limit(
        _OVL_TOP_HOURS
    )
    # bin explosion: a session touches span/3600 + 1 hour bins, then
    # the overlap join is an EQUI-join on the bin against the
    # broadcast peak-hour frame — the declarative range join (oracle)
    # without a range scan. The sequence is CLAMPED to the broadcast
    # peak-hour [min, max] bin so fan-out is bounded by the peak-hour
    # spread, not the session span: a continuously-active user (one
    # arbitrarily long gap-only session) cannot explode thousands of
    # never-joining bins. Sessions entirely outside the peak range
    # produce an empty clamp (b0 > b1) and are filtered pre-explode —
    # they could never join, so the output is identical to the
    # unclamped form (oracle = the declarative range predicate).
    bounds = peak.agg(
        F.min(F.expr("hstart div 3600")).alias("peak_lo"),
        F.max(F.expr("hstart div 3600")).alias("peak_hi"),
    )
    bins = (
        sess.join(F.broadcast(bounds))
        .withColumn(
            "b0", F.greatest(F.expr("st div 3600"), F.col("peak_lo"))
        )
        .withColumn("b1", F.least(F.expr("en div 3600"), F.col("peak_hi")))
        .filter(F.col("b0") <= F.col("b1"))
        .select(
            "user_id",
            "sid",
            "st",
            "en",
            F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("hbin"),
        )
    )
    joined = bins.join(
        F.broadcast(peak.withColumn("hbin", F.expr("hstart div 3600"))),
        "hbin",
    )
    ovl = F.least(F.col("en"), F.col("hstart") + 3600) - F.greatest(
        F.col("st"), F.col("hstart")
    )
    return (
        joined.groupBy("hstart", "n_events_hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(ovl).cast("long").alias("total_overlap_s"),
        )
        .select(
            F.col("hstart").cast("long").alias("hstart"),
            F.col("n_events_hour").cast("long").alias("n_events_hour"),
            "n_sessions",
            "total_overlap_s",
        )
        .orderBy("hstart")
    )


INTERVAL_OVERLAP_SQL = f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) // 1000000 AS s FROM events),
flagged AS (
    SELECT user_id, s,
           CASE WHEN lag(s) OVER (PARTITION BY user_id ORDER BY s) IS NULL
                  OR s - lag(s) OVER (PARTITION BY user_id ORDER BY s)
                     > {_OVL_GAP_S}
                THEN 1 ELSE 0 END AS ns
    FROM ev),
sess AS (
    SELECT user_id,
           sum(ns) OVER (PARTITION BY user_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
           s
    FROM flagged),
g AS (SELECT user_id, sid, min(s) AS st, max(s) AS en
      FROM sess GROUP BY user_id, sid),
peak AS (
    SELECT s - s % 3600 AS hstart, count(*) AS n_events_hour
    FROM ev GROUP BY 1
    ORDER BY n_events_hour DESC, hstart LIMIT {_OVL_TOP_HOURS})
SELECT CAST(hstart AS BIGINT) AS hstart,
       CAST(n_events_hour AS BIGINT) AS n_events_hour,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(least(en, hstart + 3600) - greatest(st, hstart)) AS BIGINT)
           AS total_overlap_s
FROM g JOIN peak ON g.st < peak.hstart + 3600 AND g.en >= peak.hstart
GROUP BY hstart, n_events_hour
ORDER BY hstart
"""


# ------------------------------------------- OOV rate vs top-V vocab

_OOV_V = 24
_OOV_TOP = 20


def _text_oov_rate_topv(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "term")
        .limit(_OOV_V)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "term", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
        .orderBy(F.desc("oov_rate"), "doc_id")
        .limit(_OOV_TOP)
    )


OOV_RATE_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
t AS (SELECT doc_id, term FROM tok WHERE term != ''),
vocab AS (
    SELECT term FROM (SELECT term, count(*) AS c FROM t GROUP BY term)
    ORDER BY c DESC, term LIMIT {_OOV_V}),
f AS (
    SELECT doc_id,
           CASE WHEN term IN (SELECT term FROM vocab) THEN 0 ELSE 1 END AS oov
    FROM t)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
FROM f GROUP BY doc_id
ORDER BY oov_rate DESC, doc_id LIMIT {_OOV_TOP}
"""


QUERIES: dict[str, QuerySpec] = {
    "events_mann_whitney_u": QuerySpec(_events_mann_whitney_u, MANN_WHITNEY_SQL),
    "lineitem_kendall_tau": QuerySpec(_lineitem_kendall_tau, KENDALL_TAU_SQL),
    "events_interval_overlap_join": QuerySpec(
        _events_interval_overlap_join, INTERVAL_OVERLAP_SQL
    ),
    "text_oov_rate_topv": QuerySpec(_text_oov_rate_topv, OOV_RATE_SQL),
}
