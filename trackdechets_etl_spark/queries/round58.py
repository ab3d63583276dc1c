"""Round-9 additions, third batch: normality/two-sample/causal/
randomness tests and the repeated-span length ladder.

- ``lineitem_jarque_bera``: Jarque–Bera normality test of the
  quantity distribution — skewness, excess kurtosis and the JB
  statistic, all derived from EXACT decimal(38,0) raw power sums
  (S1..S4) in one scan; the central-moment algebra runs in doubles
  whose expression trees are mirrored verbatim in the oracle, so the
  emitted statistics are bit-reproducible. Builds on round5's
  ``agg_stats_suite`` raw-moment skew/kurtosis and adds the actual
  hypothesis-test statistic (JB = n/6 (S² + K²/4)) those moments
  feed — the normality GATE, not just the descriptive moments.
- ``lineitem_welch_ttest``: Welch's unequal-variance t-test of
  extended price between return flags 'R' and 'A' — means/variances
  from exact cents sums, t and the Welch–Satterthwaite df evaluated
  through identical trees. The two-sample companion to the k-group
  ANOVA row (which assumes pooled variance).
- ``orders_diff_in_diff``: the 2x2 difference-in-differences
  estimator — treatment = BUILDING-segment customers (broadcast dim
  join), period split at 1998-01-01, outcome = order value in cents.
  Four conditional (treat, post) cell aggregates in ONE scan row,
  cell means in doubles from exact integer sums, DiD =
  (m11-m10)-(m01-m00). The canonical causal-eval shape for
  "did the policy change outcomes for the treated segment".
- ``events_runs_test``: Wald–Wolfowitz runs test of the daily event
  count series — each day classified above/below the overall mean by
  the integer cross-multiplied test (n·c_d > total), runs counted
  with lag over the calendar-bounded day frame, z from the closed
  form. The randomness audit for "is daily volume trending or
  mean-reverting vs independent".
- ``text_repeated_span_ladder``: the repeated-span screen of
  ``text_repeated_span_coverage`` swept over span lengths
  n ∈ {4, 8, 16, 32} in ONE pass — token leads are computed once
  (31 lead columns over the per-doc window, materialized
  because four different hash aggregations consume them), and each
  rung hashes its own prefix. Corpus-level output: positions,
  cross-doc duplicated positions, and per-mille rate per rung — the
  curve that picks the production span length.

Scale notes in docs/SCALE.md §round-9 third batch; invariant tests in
tests/test_round58.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------ Jarque–Bera


def _lineitem_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    qd = dec(F.col("q"))
    m = li.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(qd).alias("s1"),
        F.sum(qd * qd).alias("s2"),
        F.sum(qd * qd * qd).alias("s3"),
        F.sum(qd * qd * qd * qd).alias("s4"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n, s1, s2, s3, s4 = d("n"), d("s1"), d("s2"), d("s3"), d("s4")
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu
    m4 = (
        s4 / n
        - 4 * mu * (s3 / n)
        + 6 * mu * mu * (s2 / n)
        - 3 * mu * mu * mu * mu
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    exk = m4 / (m2 * m2) - 3
    jb = n / 6 * (skew * skew + exk * exk / 4)
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(mu, 6).alias("mean_qty"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
    )


JARQUE_BERA_SQL = """
WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem),
m AS (
    SELECT CAST(count(*) AS HUGEINT) AS n,
           sum(CAST(q AS HUGEINT)) AS s1,
           sum(CAST(q AS HUGEINT) * q) AS s2,
           sum(CAST(q AS HUGEINT) * q * q) AS s3,
           sum(CAST(q AS HUGEINT) * q * q * q) AS s4
    FROM li),
d AS (SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
             CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
             CAST(s4 AS DOUBLE) AS s4, CAST(n AS BIGINT) AS n_rows
      FROM m),
k AS (
    SELECT n_rows, n, s1 / n AS mu,
           s2 / n - (s1 / n) * (s1 / n) AS m2,
           s3 / n - 3 * (s1 / n) * (s2 / n)
               + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
           s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
    FROM d)
SELECT n_rows,
       round(mu, 6) AS mean_qty,
       round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
       round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
       round(n / 6 * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
             + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4), 6) AS jb_stat
FROM k
"""


# ------------------------------------------ Welch's t-test

_WELCH_A = "R"
_WELCH_B = "A"


def _lineitem_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cd = dec(F.col("cents"))
    grp = lambda flag, col, name: F.sum(  # noqa: E731
        F.when(F.col("l_returnflag") == flag, col).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )
    ).alias(name)
    m = li.agg(
        grp(_WELCH_A, F.lit(1).cast("decimal(38,0)"), "na"),
        grp(_WELCH_A, cd, "sa"),
        grp(_WELCH_A, cd * cd, "qa"),
        grp(_WELCH_B, F.lit(1).cast("decimal(38,0)"), "nb"),
        grp(_WELCH_B, cd, "sb"),
        grp(_WELCH_B, cd * cd, "qb"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    na, sa, qa = d("na"), d("sa"), d("qa")
    nb, sb, qb = d("nb"), d("sb"), d("qb")
    ma, mb = sa / na, sb / nb
    va = (qa - sa * sa / na) / (na - 1)
    vb = (qb - sb * sb / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    df = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    return m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(ma, 4).alias("mean_cents_a"),
        F.round(mb, 4).alias("mean_cents_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 4).alias("welch_df"),
    )


WELCH_SQL = f"""
WITH li AS (
    SELECT l_returnflag,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
    FROM lineitem),
m AS (
    SELECT sum(CASE WHEN l_returnflag = '{_WELCH_A}' THEN CAST(1 AS HUGEINT)
                    ELSE 0 END) AS na,
           sum(CASE WHEN l_returnflag = '{_WELCH_A}' THEN CAST(cents AS HUGEINT)
                    ELSE 0 END) AS sa,
           sum(CASE WHEN l_returnflag = '{_WELCH_A}'
                    THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS qa,
           sum(CASE WHEN l_returnflag = '{_WELCH_B}' THEN CAST(1 AS HUGEINT)
                    ELSE 0 END) AS nb,
           sum(CASE WHEN l_returnflag = '{_WELCH_B}' THEN CAST(cents AS HUGEINT)
                    ELSE 0 END) AS sb,
           sum(CASE WHEN l_returnflag = '{_WELCH_B}'
                    THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS qb
    FROM li),
d AS (SELECT CAST(na AS DOUBLE) AS na, CAST(sa AS DOUBLE) AS sa,
             CAST(qa AS DOUBLE) AS qa, CAST(nb AS DOUBLE) AS nb,
             CAST(sb AS DOUBLE) AS sb, CAST(qb AS DOUBLE) AS qb,
             CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
      FROM m),
k AS (
    SELECT n_a, n_b, na, nb, sa / na AS ma, sb / nb AS mb,
           (qa - sa * sa / na) / (na - 1) AS va,
           (qb - sb * sb / nb) / (nb - 1) AS vb
    FROM d)
SELECT n_a, n_b,
       round(ma, 4) AS mean_cents_a,
       round(mb, 4) AS mean_cents_b,
       round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
       round(((va / na + vb / nb) * (va / na + vb / nb))
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)), 4) AS welch_df
FROM k
"""


# ------------------------------------------ diff-in-diff

_DID_SEGMENT = "BUILDING"
_DID_CUTOFF = "1998-01-01"


def _orders_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.to_date("o_orderdate") >= F.lit(_DID_CUTOFF).cast("date")).alias(
            "post"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("c_mktsegment") == _DID_SEGMENT).alias("treat"),
    )
    j = o.join(c, "o_custkey")
    dec = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    cell = lambda tr, po, col, name: F.sum(  # noqa: E731
        F.when(
            (F.col("treat") == tr) & (F.col("post") == po), col
        ).otherwise(F.lit(0).cast("decimal(38,0)"))
    ).alias(name)
    aggs = []
    for tr, po, tag in [
        (False, False, "00"),
        (False, True, "01"),
        (True, False, "10"),
        (True, True, "11"),
    ]:
        aggs.append(cell(tr, po, F.lit(1).cast("decimal(38,0)"), f"n{tag}"))
        aggs.append(cell(tr, po, dec(F.col("cents")), f"s{tag}"))
    m = j.agg(*aggs)
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    means = {
        tag: d(f"s{tag}") / d(f"n{tag}") for tag in ("00", "01", "10", "11")
    }
    did = (means["11"] - means["10"]) - (means["01"] - means["00"])
    return m.select(
        *[F.col(f"n{tag}").cast("long").alias(f"n_{tag}") for tag in ("00", "01", "10", "11")],
        *[F.round(means[tag], 4).alias(f"mean_cents_{tag}") for tag in ("00", "01", "10", "11")],
        F.round(did, 4).alias("did_cents"),
    )


DID_SQL = f"""
WITH o AS (
    SELECT o_custkey,
           CAST(o_orderdate AS DATE) >= DATE '{_DID_CUTOFF}' AS post,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders),
c AS (SELECT c_custkey AS o_custkey,
             c_mktsegment = '{_DID_SEGMENT}' AS treat
      FROM customer),
j AS (SELECT * FROM o JOIN c USING (o_custkey)),
m AS (
    SELECT
      sum(CASE WHEN NOT treat AND NOT post THEN CAST(1 AS HUGEINT) ELSE 0 END) AS n00,
      sum(CASE WHEN NOT treat AND NOT post THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s00,
      sum(CASE WHEN NOT treat AND post THEN CAST(1 AS HUGEINT) ELSE 0 END) AS n01,
      sum(CASE WHEN NOT treat AND post THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s01,
      sum(CASE WHEN treat AND NOT post THEN CAST(1 AS HUGEINT) ELSE 0 END) AS n10,
      sum(CASE WHEN treat AND NOT post THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s10,
      sum(CASE WHEN treat AND post THEN CAST(1 AS HUGEINT) ELSE 0 END) AS n11,
      sum(CASE WHEN treat AND post THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s11
    FROM j)
SELECT CAST(n00 AS BIGINT) AS n_00, CAST(n01 AS BIGINT) AS n_01,
       CAST(n10 AS BIGINT) AS n_10, CAST(n11 AS BIGINT) AS n_11,
       round(CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE), 4) AS mean_cents_00,
       round(CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE), 4) AS mean_cents_01,
       round(CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE), 4) AS mean_cents_10,
       round(CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE), 4) AS mean_cents_11,
       round((CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)
              - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
             - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)
                - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)), 4) AS did_cents
FROM m
"""


# ------------------------------------------ runs test


def _events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("c").cast("decimal(38,0)").alias("t"),
    )
    # integer cross-multiplied above-mean test: nd * c_d > T — no
    # float mean ever materializes.
    flagged = daily.crossJoin(F.broadcast(tot)).withColumn(
        "above",
        (
            F.col("nd").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
            > F.col("t")
        ).cast("long"),
    )
    # day-frame lag (calendar-bounded, allowlisted like the CUSUM row)
    wd = Window.orderBy("day")
    runs = flagged.withColumn(
        "newrun",
        F.when(
            F.lag("above").over(wd).isNull()
            | (F.lag("above").over(wd) != F.col("above")),
            1,
        ).otherwise(0),
    )
    m = runs.agg(
        F.first("nd").cast("long").alias("n_days"),
        F.sum("above").cast("long").alias("n1"),
        F.sum(1 - F.col("above")).cast("long").alias("n2"),
        F.sum("newrun").cast("long").alias("n_runs"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n1, n2, r = d("n1"), d("n2"), d("n_runs")
    n = n1 + n2
    er = 2 * n1 * n2 / n + 1
    vr = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    return m.select(
        "n_days",
        "n1",
        "n2",
        "n_runs",
        F.round(er, 6).alias("expected_runs"),
        F.round((r - er) / F.sqrt(vr), 6).alias("z_stat"),
    )


RUNS_TEST_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(c) AS HUGEINT) AS t FROM daily),
flagged AS (
    SELECT day,
           CAST(CASE WHEN CAST(nd AS HUGEINT) * c > t THEN 1 ELSE 0 END
                AS BIGINT) AS above,
           nd
    FROM daily, tot),
runs AS (
    SELECT nd, above,
           CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                  OR lag(above) OVER (ORDER BY day) <> above
                THEN 1 ELSE 0 END AS newrun
    FROM flagged),
m AS (
    SELECT CAST(min(nd) AS BIGINT) AS n_days,
           CAST(sum(above) AS BIGINT) AS n1,
           CAST(sum(1 - above) AS BIGINT) AS n2,
           CAST(sum(newrun) AS BIGINT) AS n_runs
    FROM runs),
d AS (SELECT n_days, n1, n2, n_runs,
             CAST(n1 AS DOUBLE) AS f1, CAST(n2 AS DOUBLE) AS f2,
             CAST(n_runs AS DOUBLE) AS fr
      FROM m)
SELECT n_days, n1, n2, n_runs,
       round(2 * f1 * f2 / (f1 + f2) + 1, 6) AS expected_runs,
       round((fr - (2 * f1 * f2 / (f1 + f2) + 1))
             / sqrt(2 * f1 * f2 * (2 * f1 * f2 - (f1 + f2))
                    / ((f1 + f2) * (f1 + f2) * ((f1 + f2) - 1))), 6)
           AS z_stat
FROM d
"""


# ------------------------------------- repeated-span length ladder

_LADDER_NS = [4, 8, 16, 32]
_LADDER_MAX = 32


def _text_repeated_span_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    leads = [
        F.lead("tok", i).over(wd).alias(f"t{i}")
        for i in range(1, _LADDER_MAX)
    ]
    # one window pass serves all four rungs; eager checkpoint because
    # four DIFFERENT hash aggregations consume the same lead frame.
    led = materialize(toks.select("doc_id", "tok", *leads))
    rungs = []
    for n in _LADDER_NS:
        cols = ["tok"] + [f"t{i}" for i in range(1, n)]
        sh = led.filter(F.col(f"t{n - 1}").isNotNull()).select(
            "doc_id", F.md5(F.concat_ws(" ", *cols)).alias("h")
        )
        # Join-free rung (r14): the rung total only needs, per span
        # hash, its position count and whether it spans >1 document —
        # so aggregate (h, doc_id) → per-doc counts, then h → (total
        # positions, n_docs), then sum. The owners join (which
        # re-shuffled the full position frame by h per rung) is gone;
        # both aggregations partial-aggregate map-side. n_docs is a
        # plain count over the (h, doc_id)-grouped frame — no distinct
        # machinery. Exact-integer equivalence; interleaved A/B at
        # sf0.1: median 4.63 → 3.91 s, best 3.89 → 3.63 s.
        per = sh.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("__c"))
        grp = per.groupBy("h").agg(
            F.sum("__c").alias("__cnt"), F.count(F.lit(1)).alias("__nd")
        )
        agg = grp.agg(
            F.lit(n).cast("long").alias("span_n"),
            F.sum("__cnt").cast("long").alias("n_positions"),
            F.sum(F.when(F.col("__nd") > 1, F.col("__cnt")).otherwise(0))
            .cast("long")
            .alias("n_dup_positions"),
        )
        rungs.append(agg)
    out = rungs[0]
    for r in rungs[1:]:
        out = out.unionByName(r)
    return out.select(
        "span_n",
        "n_positions",
        "n_dup_positions",
        F.expr("(1000 * n_dup_positions) div n_positions")
        .cast("long")
        .alias("dup_permille"),
    ).orderBy("span_n")


def _ladder_sql() -> str:
    lead_cols = ", ".join(
        f"lead(tok, {i}) OVER (PARTITION BY doc_id ORDER BY pos) AS t{i}"
        for i in range(1, _LADDER_MAX)
    )
    rungs = []
    for n in _LADDER_NS:
        cols = ", ".join(["tok"] + [f"t{i}" for i in range(1, n)])
        rungs.append(f"""(
    WITH sh AS (
        SELECT doc_id, md5(concat_ws(' ', {cols})) AS h
        FROM led WHERE t{n - 1} IS NOT NULL),
    owners AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
    SELECT CAST({n} AS BIGINT) AS span_n,
           CAST(count(*) AS BIGINT) AS n_positions,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_positions,
           CAST((1000 * sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS dup_permille
    FROM sh JOIN owners USING (h))""")
    union = "\nUNION ALL\n".join(rungs)
    return f"""
WITH toks AS (
    SELECT doc_id, pos, tok FROM (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS tok,
               unnest(range(1, len(string_split(lower(text), ' ')) + 1))
                   AS pos
        FROM documents)
    WHERE tok <> ''),
led AS (
    SELECT doc_id, tok, {lead_cols}
    FROM toks)
SELECT * FROM (
{union}
) ORDER BY span_n
"""


QUERIES: dict[str, QuerySpec] = {
    "lineitem_jarque_bera": QuerySpec(_lineitem_jarque_bera, JARQUE_BERA_SQL),
    "lineitem_welch_ttest": QuerySpec(_lineitem_welch_ttest, WELCH_SQL),
    "orders_diff_in_diff": QuerySpec(_orders_diff_in_diff, DID_SQL),
    "events_runs_test": QuerySpec(_events_runs_test, RUNS_TEST_SQL),
    "text_repeated_span_ladder": QuerySpec(
        _text_repeated_span_ladder, _ladder_sql()
    ),
}
