"""Round-9 additions, second batch: span-level dedup, k-group rank
test, multiple OLS, SCD2 dimension build, and a time-weighted
average.

- ``text_repeated_span_coverage``: per-document CROSS-document
  repeated 8-token span rate — the span-level memorization screen
  (cf. "Deduplicating Training Data Makes Language Models Better":
  verbatim-span dedup catches what whole-doc near-dup misses). Every
  8-gram shingle position is checked against the corpus-wide shingle
  owner count; a position is "duplicated" when its shingle appears in
  more than one document. Integer outputs only (per-mille rate via
  floor division). Same span family as round7's
  ``text_repeated_ngrams`` but the inverse projection: that query
  ranks the worst offending SPANS corpus-wide; this one scores each
  DOCUMENT by how much of it is duplicated elsewhere — the per-doc
  filter signal a curation pipeline thresholds on.
- ``events_kruskal_wallis``: Kruskal–Wallis H rank test of ``value``
  across the five event types — the k-group extension of the
  Mann-Whitney row, on the identical DISTINCT-cents value-frame
  discipline (average ranks in exact half-units; per-group rank sums
  are decimal(38,0)/HUGEINT; the only floats are the final H and its
  tie-corrected form, evaluated with a literally-pinned association
  order over the five per-group terms). The event-type set is part of
  the test's declaration (groups under comparison), like the ANOVA
  returnflag contract.
- ``lineitem_multiple_ols``: two-regressor least squares
  (quantity ~ discount + price) solved in closed form from exact
  integer moment sums (decimal(38,0) cents discipline) via Cramer's
  rule — the normal-equation map-reduce: one scan builds the 9
  moments, the 3x3 solve happens on one row. The SQL oracle evaluates
  the IDENTICAL expression tree, so the double arithmetic is
  bit-reproducible across engines.
- ``orders_scd2_intervals``: the SCD Type-2 dimension build — per
  customer, consecutive orders carrying the same o_orderpriority are
  collapsed into validity intervals [valid_from, valid_to) with a
  NULL open end for the current version; version numbers are the
  running count of attribute changes. Generalizes round4's
  ``events_scd2_validity`` (a user_id<50 slice with raw change rows)
  to the FULL log with per-version run aggregation (n_orders) — the
  dimension-table-grade build a warehouse would actually load.
- ``events_pchart_control``: Shewhart p-chart over the daily error
  rate — each day flagged out-of-control when its error proportion
  sits more than 3 sigma from the overall rate. The comparison is the
  squared cross-multiplied form ``(x_d·N − n_d·X)² > 9·X·(N−X)·n_d``:
  both sides are built from EXACT decimal(38,0)/HUGEINT integers and
  only then compared through identical double expressions, so the
  flag is deterministic across engines at any scale. The SPC
  companion to the error-budget burn and debounced-alert rows.
- ``events_twap_daily``: daily time-weighted average of ``value`` —
  each event weighted by the microseconds until the SAME USER's next
  event that day. Differs from round6's ``events_twap`` (per
  event-type hold-weighted mean, float at the end) in grouping
  (per user-day holds rolled up to a calendar-day series — the
  ops-dashboard shape), and in exactness: cents x micros products
  summed in decimal(38,0) with an integer floor division at the end —
  no float appears anywhere.

Scale notes in docs/SCALE.md §round-9 second batch; invariant tests
in tests/test_round57.py. Reference parity: extends the reference's
stats/dedup surface (dags/icpe-siretisation.py:316) along the
LLM-data and warehouse axes the driver mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------- repeated span coverage

_SPAN_N = 8


def _text_repeated_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(wd).alias(f"t{i}") for i in range(1, _SPAN_N)]
    sh = (
        toks.select("doc_id", "pos", "tok", *leads)
        .filter(F.col(f"t{_SPAN_N - 1}").isNotNull())
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ", "tok", *[f"t{i}" for i in range(1, _SPAN_N)]
                )
            ).alias("h"),
        )
    )
    # Join-free owner counting (r14, the dedup_clusters window-count
    # rule): aggregate spans to (h, doc_id) with per-doc occurrence
    # counts, then a window count over h gives the number of DISTINCT
    # owner docs per span hash (the frame is (h, doc_id)-unique), so
    # the owners aggregate and its join back onto the full position
    # frame are gone. The (h, doc_id) aggregation partial-aggregates
    # map-side, and the window sees the already-shrunk frame. Exact
    # integer equivalence; interleaved A/B at sf0.1: best 1.70 →
    # 1.25 s, all four rounds faster.
    per = sh.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("__c"))
    wnd = per.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        wnd.groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(
            F.sum("__c").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("nd") > 1, F.col("__c")).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.expr("(1000 * n_dup_spans) div n_spans")
            .cast("long")
            .alias("dup_permille"),
        )
        .orderBy("doc_id")
    )


REPEATED_SPAN_SQL = f"""
WITH toks AS (
    SELECT doc_id, pos, tok FROM (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS tok,
               unnest(range(1, len(string_split(lower(text), ' ')) + 1))
                   AS pos
        FROM documents)
    WHERE tok <> ''),
led AS (
    SELECT doc_id, tok,
           {", ".join(f"lead(tok, {i}) OVER (PARTITION BY doc_id ORDER BY pos) AS t{i}" for i in range(1, _SPAN_N))}
    FROM toks),
sh AS (
    SELECT doc_id,
           md5(concat_ws(' ', tok, {", ".join(f"t{i}" for i in range(1, _SPAN_N))})) AS h
    FROM led WHERE t{_SPAN_N - 1} IS NOT NULL),
owners AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
       CAST((1000 * sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)) // count(*)
            AS BIGINT) AS dup_permille
FROM sh JOIN owners USING (h)
GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------ Kruskal–Wallis H

_KW_TYPES = ["click", "error", "purchase", "signup", "view"]


def _events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cnt = lambda t: F.sum(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    ).alias(f"c_{t}")
    vals = ev.groupBy("cents").agg(*[cnt(t) for t in _KW_TYPES])
    nv = sum(F.col(f"c_{t}") for t in _KW_TYPES)
    # distinct-cents value frame (the events_two_sample_ks /
    # mann_whitney bound — allowlisted): 2·avgrank = 2·cum_below + n_v
    # + 1 is an exact integer for every value.
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        *[F.col(f"c_{t}") for t in _KW_TYPES],
        nv.alias("nv"),
        F.coalesce(F.sum(nv).over(wv), F.lit(0)).alias("cb"),
    )
    two_ar = 2 * F.col("cb") + F.col("nv") + 1
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = []
    for t in _KW_TYPES:
        aggs.append(F.sum(dec(F.col(f"c_{t}"))).alias(f"n_{t}"))
        aggs.append(
            F.sum(dec(F.col(f"c_{t}")) * dec(two_ar)).alias(f"r2_{t}")
        )
    aggs.append(F.sum(dec(F.col("nv"))).alias("n_total"))
    aggs.append(
        F.sum(
            dec(F.col("nv")) * dec(F.col("nv")) * dec(F.col("nv"))
            - dec(F.col("nv"))
        ).alias("ties")
    )
    m = ranked.agg(*aggs)
    nd = F.col("n_total").cast("double")
    # per-group term (2R_g)^2 / (4 n_g), double — each term is a
    # deterministic IEEE expression; the sum below is written in
    # LITERAL group order so both engines associate identically.
    terms = [
        (
            F.col(f"r2_{t}").cast("double")
            * F.col(f"r2_{t}").cast("double")
            / (4 * F.col(f"n_{t}").cast("double"))
        )
        for t in _KW_TYPES
    ]
    s = terms[0]
    for term in terms[1:]:
        s = s + term
    h = 12.0 / (nd * (nd + 1)) * s - 3 * (nd + 1)
    corr = 1 - F.col("ties").cast("double") / (nd * nd * nd - nd)
    return m.select(
        F.col("n_total").cast("long").alias("n_events"),
        *[F.col(f"n_{t}").cast("long").alias(f"n_{t}") for t in _KW_TYPES],
        F.round(h, 6).alias("h_stat"),
        F.round(h / corr, 6).alias("h_tie_adj"),
    )


def _kw_sql() -> str:
    counts = ",\n           ".join(
        f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS c_{t}"
        for t in _KW_TYPES
    )
    nv = " + ".join(f"c_{t}" for t in _KW_TYPES)
    per_group = ",\n           ".join(
        f"sum(CAST(c_{t} AS HUGEINT)) AS n_{t},\n           "
        f"sum(CAST(c_{t} AS HUGEINT) * (2 * cb + nv + 1)) AS r2_{t}"
        for t in _KW_TYPES
    )
    s = " + ".join(
        f"(CAST(r2_{t} AS DOUBLE) * CAST(r2_{t} AS DOUBLE)"
        f" / (4 * CAST(n_{t} AS DOUBLE)))"
        for t in _KW_TYPES
    )
    n_outs = ",\n       ".join(
        f"CAST(n_{t} AS BIGINT) AS n_{t}" for t in _KW_TYPES
    )
    return f"""
WITH ev AS (
    SELECT event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events),
vals AS (
    SELECT cents,
           {counts}
    FROM ev GROUP BY cents),
ranked AS (
    SELECT *, {nv} AS nv,
           coalesce(sum({nv}) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM vals),
m AS (
    SELECT {per_group},
           sum(CAST(nv AS HUGEINT)) AS n_total,
           sum(CAST(nv AS HUGEINT) * CAST(nv AS HUGEINT)
               * CAST(nv AS HUGEINT) - CAST(nv AS HUGEINT)) AS ties
    FROM ranked)
SELECT CAST(n_total AS BIGINT) AS n_events,
       {n_outs},
       round(12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1))
             * ({s}) - 3 * (CAST(n_total AS DOUBLE) + 1), 6) AS h_stat,
       round((12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1))
              * ({s}) - 3 * (CAST(n_total AS DOUBLE) + 1))
             / (1 - CAST(ties AS DOUBLE)
                    / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                       * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))),
             6) AS h_tie_adj
FROM m
"""


# ------------------------------------------ two-regressor OLS


def _lineitem_multiple_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("x1"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x2"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = li.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec("x1")).alias("s1"),
        F.sum(dec("x2")).alias("s2"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x1") * dec("x1")).alias("s11"),
        F.sum(dec("x1") * dec("x2")).alias("s12"),
        F.sum(dec("x2") * dec("x2")).alias("s22"),
        F.sum(dec("x1") * dec("y")).alias("s1y"),
        F.sum(dec("x2") * dec("y")).alias("s2y"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # Cramer on the 3x3 normal equations; every sub-expression below
    # is mirrored verbatim in the SQL oracle so the IEEE evaluation
    # order is identical.
    det = (
        d("n") * (d("s11") * d("s22") - d("s12") * d("s12"))
        - d("s1") * (d("s1") * d("s22") - d("s12") * d("s2"))
        + d("s2") * (d("s1") * d("s12") - d("s11") * d("s2"))
    )
    det0 = (
        d("sy") * (d("s11") * d("s22") - d("s12") * d("s12"))
        - d("s1") * (d("s1y") * d("s22") - d("s12") * d("s2y"))
        + d("s2") * (d("s1y") * d("s12") - d("s11") * d("s2y"))
    )
    det1 = (
        d("n") * (d("s1y") * d("s22") - d("s12") * d("s2y"))
        - d("sy") * (d("s1") * d("s22") - d("s12") * d("s2"))
        + d("s2") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
    )
    det2 = (
        d("n") * (d("s11") * d("s2y") - d("s1y") * d("s12"))
        - d("s1") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
        + d("sy") * (d("s1") * d("s12") - d("s11") * d("s2"))
    )
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    sse = (
        d("syy")
        - b0 * d("sy")
        - b1 * d("s1y")
        - b2 * d("s2y")
    )
    sst = d("syy") - d("sy") * d("sy") / d("n")
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(b0, 6).alias("beta0"),
        F.round(b1 * 1000000, 6).alias("beta1_per_1000000"),
        F.round(b2 * 1000000, 6).alias("beta2_per_1000000"),
        F.round(1 - sse / sst, 6).alias("r2"),
    )


MULTIPLE_OLS_SQL = """
WITH li AS (
    SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS x1,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x2,
           CAST(l_quantity AS BIGINT) AS y
    FROM lineitem),
m AS (
    SELECT CAST(count(*) AS HUGEINT) AS n,
           sum(CAST(x1 AS HUGEINT)) AS s1,
           sum(CAST(x2 AS HUGEINT)) AS s2,
           sum(CAST(y AS HUGEINT)) AS sy,
           sum(CAST(x1 AS HUGEINT) * x1) AS s11,
           sum(CAST(x1 AS HUGEINT) * x2) AS s12,
           sum(CAST(x2 AS HUGEINT) * x2) AS s22,
           sum(CAST(x1 AS HUGEINT) * y) AS s1y,
           sum(CAST(x2 AS HUGEINT) * y) AS s2y,
           sum(CAST(y AS HUGEINT) * y) AS syy
    FROM li),
d AS (
    SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
           CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
           CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
           CAST(s22 AS DOUBLE) AS s22, CAST(s1y AS DOUBLE) AS s1y,
           CAST(s2y AS DOUBLE) AS s2y, CAST(syy AS DOUBLE) AS syy,
           CAST(n AS BIGINT) AS n_rows
    FROM m),
k AS (
    SELECT *,
           (n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)) AS det,
           (sy * (s11 * s22 - s12 * s12)
            - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)) AS det0,
           (n * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)) AS det1,
           (n * (s11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)) AS det2
    FROM d)
SELECT n_rows,
       round(det0 / det, 6) AS beta0,
       round((det1 / det) * 1000000, 6) AS beta1_per_1000000,
       round((det2 / det) * 1000000, 6) AS beta2_per_1000000,
       round(1 - (syy - (det0 / det) * sy - (det1 / det) * s1y
                  - (det2 / det) * s2y)
                 / (syy - sy * sy / n), 6) AS r2
FROM k
"""


# ------------------------------------------ SCD2 interval build


def _orders_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
        F.col("o_orderpriority").alias("prio"),
    )
    wc = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    flagged = o.withColumn(
        "chg",
        F.when(
            F.lag("prio").over(wc).isNull()
            | (F.lag("prio").over(wc) != F.col("prio")),
            1,
        ).otherwise(0),
    ).withColumn(
        "version",
        F.sum("chg").over(wc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = flagged.groupBy("o_custkey", "version").agg(
        F.min("prio").alias("prio"),
        F.min("od").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    wv = Window.partitionBy("o_custkey").orderBy("version")
    return runs.select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("version").cast("long").alias("version_no"),
        "prio",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.col("n_orders").cast("long").alias("n_orders"),
    ).orderBy("custkey", "version_no")


SCD2_SQL = """
WITH o AS (
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
           o_orderpriority AS prio
    FROM orders),
flagged AS (
    SELECT *,
           CASE WHEN lag(prio) OVER w IS NULL
                  OR lag(prio) OVER w <> prio THEN 1 ELSE 0 END AS chg
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)),
runs AS (
    SELECT o_custkey,
           sum(chg) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version,
           prio, od
    FROM flagged),
g AS (
    SELECT o_custkey, version, min(prio) AS prio,
           min(od) AS valid_from, count(*) AS n_orders
    FROM runs GROUP BY o_custkey, version)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(version AS BIGINT) AS version_no,
       prio, valid_from,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
           AS valid_to,
       CAST(n_orders AS BIGINT) AS n_orders
FROM g ORDER BY custkey, version_no
"""


# ------------------------------------------ daily TWAP


def _events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.to_date("ts").alias("day"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wu = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    gapped = ev.withColumn(
        "gap", F.lead("us").over(wu) - F.col("us")
    ).filter(F.col("gap").isNotNull() & (F.col("gap") > 0))
    return (
        gapped.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum(F.col("gap").cast("decimal(38,0)")).alias("w"),
            F.sum(
                F.col("cents").cast("decimal(38,0)")
                * F.col("gap").cast("decimal(38,0)")
            ).alias("wv"),
        )
        .select(
            "day",
            "n_intervals",
            F.col("w").cast("long").alias("total_gap_us"),
            F.expr("CAST(wv div w AS BIGINT)").alias("twap_cents_floor"),
        )
        .orderBy("day")
    )


TWAP_SQL = """
WITH ev AS (
    SELECT user_id, event_id, CAST(ts AS DATE) AS day,
           epoch_us(ts) AS us,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events),
gapped AS (
    SELECT day, cents,
           lead(us) OVER (PARTITION BY user_id, day
               ORDER BY us, event_id) - us AS gap
    FROM ev)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(gap) AS BIGINT) AS total_gap_us,
       CAST(sum(CAST(cents AS HUGEINT) * gap) // sum(CAST(gap AS HUGEINT))
            AS BIGINT) AS twap_cents_floor
FROM gapped WHERE gap IS NOT NULL AND gap > 0
GROUP BY day ORDER BY day
"""


# ------------------------------------------ p-chart control limits


def _events_pchart_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        (F.col("event_type") == "error").cast("long").alias("is_err"),
    )
    daily = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("is_err").cast("long").alias("n_errors"),
    )
    tot = daily.agg(
        F.sum("n_events").cast("decimal(38,0)").alias("nn"),
        F.sum("n_errors").cast("decimal(38,0)").alias("xx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # exact integer cross-multiplied 3-sigma test: the deviation and
    # the variance bound are decimal(38,0); only the final comparison
    # runs in double — and BOTH engines build those doubles from the
    # same exact integers with the same expressions, so the flag is
    # deterministic at any scale.
    diff = dec("n_events") * F.col("xx") - dec("n_errors") * F.col("nn")
    rhs = (
        F.lit(9).cast("decimal(38,0)")
        * F.col("xx")
        * (F.col("nn") - F.col("xx"))
        * dec("n_events")
    )
    oob = (
        diff.cast("double") * diff.cast("double") > rhs.cast("double")
    ).cast("long")
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_events",
            "n_errors",
            F.expr("(1000 * n_errors) div n_events")
            .cast("long")
            .alias("err_permille"),
            oob.alias("out_of_control"),
        )
        .orderBy("day")
    )


PCHART_SQL = """
WITH ev AS (
    SELECT CAST(ts AS DATE) AS day,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
    FROM events),
daily AS (
    SELECT day, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_err) AS BIGINT) AS n_errors
    FROM ev GROUP BY day),
tot AS (SELECT CAST(sum(n_events) AS HUGEINT) AS nn,
               CAST(sum(n_errors) AS HUGEINT) AS xx
        FROM daily)
SELECT day, n_events, n_errors,
       (1000 * n_errors) // n_events AS err_permille,
       CAST(CASE WHEN CAST(n_events * xx - n_errors * nn AS DOUBLE)
                      * CAST(n_events * xx - n_errors * nn AS DOUBLE)
                    > CAST(9 * xx * (nn - xx) * n_events AS DOUBLE)
                 THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
FROM daily, tot
ORDER BY day
"""


QUERIES: dict[str, QuerySpec] = {
    "text_repeated_span_coverage": QuerySpec(
        _text_repeated_span_coverage, REPEATED_SPAN_SQL
    ),
    "events_kruskal_wallis": QuerySpec(_events_kruskal_wallis, _kw_sql()),
    "lineitem_multiple_ols": QuerySpec(
        _lineitem_multiple_ols, MULTIPLE_OLS_SQL
    ),
    "orders_scd2_intervals": QuerySpec(_orders_scd2_intervals, SCD2_SQL),
    "events_twap_daily": QuerySpec(_events_twap_daily, TWAP_SQL),
    "events_pchart_control": QuerySpec(_events_pchart_control, PCHART_SQL),
}
