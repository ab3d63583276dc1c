"""Round-5 seed queries: statistical aggregates, arg-extrema, ordered
string aggregation, gaps-and-islands, running distinct counts,
horizon-constrained funnels, ship-latency percentiles, windowed dedup,
unigram LM scoring, power-iteration PCA, Markov transition matrices,
and Pareto concentration curves.

Mostly single-scan or single-shuffle shapes; the statistical suite
shows the engine's full numeric-aggregate surface (corr / covariance /
regression slope / exact quantiles) with skewness and kurtosis computed
from explicit raw moments — the one place builtin formulas differ
between engines (sample vs population adjustment), so the moment
algebra is pinned identically on both sides. The iterative PCA and the
funnel chain demonstrate multi-stage numeric pipelines that stay fully
distributed (no UDFs, no driver collect) yet hash-match an unrolled
SQL oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.operators.percentiles import (
    exact_percentiles_value_counts,
)
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ---------------------------------------------------- stats suite


def _agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate + distribution statistics per returnflag in ONE partial
    -aggregable pass: correlation, population covariance, OLS slope,
    sample stddev, and skewness/kurtosis from explicit raw moments
    E[x], E[x²], E[x³], E[x⁴] (population form; l_quantity is small so
    the power sums stay well inside double precision — for wide-range
    columns switch to the shifted-moment form)."""
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    m1 = F.avg(x)
    m2 = F.avg(x * x)
    m3 = F.avg(x * x * x)
    m4 = F.avg(x * x * x * x)
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    kurt = (
        m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1
    ) / (var * var) - 3.0
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_pop"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("ols_slope"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(skew, 6).alias("skew_qty"),
        F.round(kurt, 6).alias("kurt_qty"),
    )


STATS_SUITE_SQL = """
WITH m AS (
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_pop,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS ols_slope,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           avg(l_quantity) AS m1,
           avg(l_quantity * l_quantity) AS m2,
           avg(l_quantity * l_quantity * l_quantity) AS m3,
           avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4
    FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, corr_qty_price, covar_pop, ols_slope, sd_qty,
       round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
             / pow(m2 - m1 * m1, 1.5), 6) AS skew_qty,
       round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
             / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3.0, 6) AS kurt_qty
FROM m
"""


# ---------------------------------------------------- arg extrema + quantiles


def _agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extrema and exact quantiles per group: min_by/max_by (which
    row's partkey at the price extremes — ties broken identically in
    both engines because (price, partkey) pairs are unique per flag at
    the extremes), exact median and lower-quartile (continuous
    interpolation, Spark percentile ↔ DuckDB quantile_cont). The
    percentiles run on the distributed value-counts path
    (operators/percentiles.py — bit-identical to ``F.percentile``,
    without the one-reducer-per-group funnel); the arg-extrema stay a
    plain parallel aggregate and re-join on the 3-row flag key."""
    li = read_table(spark, sf_dir, "lineitem")
    ext = li.groupBy("l_returnflag").agg(
        F.min_by("l_partkey", "l_extendedprice").alias("cheapest_part"),
        F.max_by("l_partkey", "l_extendedprice").alias("priciest_part"),
    )
    pct = exact_percentiles_value_counts(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [0.5, 0.25],
        ["__med", "__q25"],
    )
    return ext.join(pct, "l_returnflag").select(
        "l_returnflag",
        "cheapest_part",
        "priciest_part",
        F.round("__med", 4).alias("median_price"),
        F.round("__q25", 4).alias("q25_price"),
    )


ARGMINMAX_SQL = """
SELECT l_returnflag,
       arg_min(l_partkey, l_extendedprice) AS cheapest_part,
       arg_max(l_partkey, l_extendedprice) AS priciest_part,
       round(median(l_extendedprice), 4) AS median_price,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS q25_price
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------- ordered string agg


def _string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LISTAGG: per nation, its suppliers' names joined
    in sorted order — collect_list is order-nondeterministic after a
    shuffle, so the engine-stable form is array_sort before concat
    (↔ string_agg ... ORDER BY)."""
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("s_name"))).alias(
                "suppliers"
            ),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


STRING_AGG_SQL = """
SELECT n_name,
       string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
       CAST(count(*) AS BIGINT) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------- gaps and islands


def _islands_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous runs of order keys among finished
    orders. The classic key − row_number() constant-per-island trick —
    one window + one aggregation, both on the same ordering, so a
    single sort-shuffle."""
    from trackdechets_etl_spark.operators.ranking import global_row_number

    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
        .distinct()
    )
    ranked = global_row_number(o, [F.col("o_orderkey").asc()], "__rn")
    return (
        ranked.select(
            "o_orderkey", (F.col("o_orderkey") - F.col("__rn")).alias("__grp")
        )
        .groupBy("__grp")
        .agg(
            F.min("o_orderkey").alias("island_start"),
            F.max("o_orderkey").alias("island_end"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .drop("__grp")
        .select("island_start", "island_end", "n_keys")
    )


ISLANDS_SQL = """
WITH keys AS (
    SELECT DISTINCT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
grouped AS (
    SELECT o_orderkey,
           o_orderkey - row_number() OVER (ORDER BY o_orderkey) AS grp
    FROM keys)
SELECT min(o_orderkey) AS island_start,
       max(o_orderkey) AS island_end,
       CAST(count(*) AS BIGINT) AS n_keys
FROM grouped GROUP BY grp
"""


# ---------------------------------------------------- running distinct


def _events_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day without any distinct-over-window
    (which Spark cannot do and would be O(n²) anyway): each user counts
    once on their FIRST day (per-user min — map-side combinable), then
    a running sum over the tiny per-day frame."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("first_day"))
    per_day = first.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("first_day").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("n_cum"),
    )


RUNNING_DISTINCT_SQL = """
WITH first AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id),
per_day AS (
    SELECT first_day, CAST(count(*) AS BIGINT) AS n_new
    FROM first GROUP BY first_day)
SELECT first_day AS day, n_new,
       CAST(sum(n_new) OVER (ORDER BY first_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum
FROM per_day
"""


# ---------------------------------------------------- windowed funnel


def _events_funnel_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with a per-step time horizon: first signup →
    first click within 2h of it → first purchase within 2h of that
    click. Each stage is a conditional-min aggregate joined back (never
    a self-join — hot users would fan out |events|² rows); three
    per-user groupBys, each map-side combinable, then one global
    count."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    h = "INTERVAL 2 HOURS"
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(
            (F.col("ts") >= F.col("s_ts"))
            & (F.col("ts") <= F.col("s_ts") + F.expr(h))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr(h))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_2h")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_2h")))
    )


FUNNEL_HORIZON_SQL = """
WITH s AS (
    SELECT user_id, min(ts) AS s_ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id),
c AS (
    SELECT e.user_id, min(e.ts) AS c_ts
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'click'
      AND e.ts >= s.s_ts AND e.ts <= s.s_ts + INTERVAL 2 HOUR
    GROUP BY e.user_id),
p AS (
    SELECT e.user_id, min(e.ts) AS p_ts
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase'
      AND e.ts >= c.c_ts AND e.ts <= c.c_ts + INTERVAL 2 HOUR
    GROUP BY e.user_id)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_signup,
       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_2h,
       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_2h
"""


# ---------------------------------------------------- ship latency


def _orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority: exact median /
    p90 / max of (l_shipdate − o_orderdate) in days. The orders join is
    the only shuffle (both sides on orderkey); the percentiles run on
    the per-priority day integers."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("double")
        .alias("days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.round(F.median("days"), 1).alias("median_days"),
        F.round(F.percentile("days", 0.9), 1).alias("p90_days"),
        F.max("days").cast("long").alias("max_days"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SHIP_LATENCY_SQL = """
WITH lat AS (
    SELECT o_orderpriority,
           CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS DOUBLE)
               AS days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT o_orderpriority,
       round(median(days), 1) AS median_days,
       round(quantile_cont(days, 0.9), 1) AS p90_days,
       CAST(max(days) AS BIGINT) AS max_days,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lat GROUP BY o_orderpriority
"""


# ---------------------------------------------------- windowed dedup


def _events_windowed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``dropDuplicatesWithinWatermark``: keep ONE event
    per (user, type, 1-hour bucket) — the earliest by (ts, event_id).
    ``min_by`` on a struct gives the deterministic keep without a
    window sort; one shuffle on the dedup key."""
    ev = read_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("bucket")
    # Deterministic tie-break without a window sort: min_by on a
    # lexicographic (epoch_micros, event_id) string key. INTEGER
    # microseconds on both sides (Spark unix_micros ↔ DuckDB epoch_us)
    # — a seconds cast would truncate while DuckDB's epoch() keeps the
    # fraction, so same-second events could pick different keepers.
    key = F.concat(
        F.lpad(
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string"), 16, "0"
        ),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    return ev.groupBy("user_id", "event_type", bucket).agg(
        F.min_by("event_id", key).alias("keep_event_id"),
        F.count(F.lit(1)).alias("n_in_bucket"),
    )


WINDOWED_DEDUP_SQL = """
SELECT user_id, event_type, date_trunc('hour', ts) AS bucket,
       arg_min(event_id,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0')
               || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS keep_event_id,
       CAST(count(*) AS BIGINT) AS n_in_bucket
FROM events
GROUP BY user_id, event_type, date_trunc('hour', ts)
"""


# ---------------------------------------------------- unigram LM score


def _text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: each doc's mean token
    log-probability under the corpus unigram distribution — the classic
    cheap perplexity proxy for quality filtering. The LM itself is the
    token-frequency table; distinct tokens grow with corpus size
    (Heaps' law), so it joins back onto the exploded tokens UNHINTED —
    AQE broadcasts it while it fits and shuffles when it doesn't. One
    explode + two aggregations."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("n_total"))
    lm = vocab.crossJoin(F.broadcast(total)).select(
        "token", (F.log(F.col("tf") / F.col("n_total"))).alias("logp")
    )
    return (
        tok.join(lm, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("mean_logp"),
        )
    )


LM_SCORE_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
vocab AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
lm AS (
    SELECT token, ln(tf / (SELECT CAST(sum(tf) AS DOUBLE) FROM vocab)) AS logp
    FROM vocab)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(logp), 6) AS mean_logp
FROM tok JOIN lm USING (token)
GROUP BY doc_id
"""


# ---------------------------------------------------- power iteration

_PI_ITERS = 3
_PI_DIMS = 64


def _embedding_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud (uncentered) via
    ``_PI_ITERS`` rounds of power iteration — an ML primitive built
    from pure DataFrame ops: per round, one join + two aggregations
    (x·v per vector, then Σ v(v·x) per dimension) and a broadcast
    1-row norm; no UDFs, nothing collected to the driver. The start
    vector is the deterministic uniform unit vector, so the result is
    exactly reproducible and matched by the unrolled-CTE oracle.
    At 100 TB the exploded (vec, dim, val) frame is the input layout;
    each round shuffles it once on vec_id and once on dim."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "val"),
    ).select("vec_id", (F.col("i") + 1).alias("i"), "val")
    # Each round consumes the exploded frame twice; checkpoint it once
    # so iterations don't re-scan and re-explode the parquet (the same
    # lineage-truncation discipline as connected_components/pagerank).
    e = materialize(e)
    x = spark.range(1, _PI_DIMS + 1).select(
        F.col("id").cast("int").alias("i"),
        F.lit(1.0 / _PI_DIMS**0.5).alias("x"),
    )
    for _ in range(_PI_ITERS):
        dots = (
            e.join(F.broadcast(x), "i")
            .groupBy("vec_id")
            .agg(F.sum(F.col("val") * F.col("x")).alias("dot"))
        )
        y = (
            e.join(dots, "vec_id")
            .groupBy("i")
            .agg(F.sum(F.col("val") * F.col("dot")).alias("y"))
        )
        norm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm"))
        x = y.crossJoin(F.broadcast(norm)).select(
            "i", (F.col("y") / F.col("nrm")).alias("x")
        )
    return x.select(
        F.col("i").cast("long").alias("dim"), F.round("x", 5).alias("pc1")
    )


def _pc1_oracle() -> str:
    steps = []
    prev = "x0"
    for k in range(1, _PI_ITERS + 1):
        steps.append(
            f"d{k} AS (SELECT vec_id, sum(val * x) AS dot FROM e "
            f"JOIN {prev} USING (i) GROUP BY vec_id),\n"
            f"y{k} AS (SELECT i, sum(val * dot) AS y FROM e "
            f"JOIN d{k} USING (vec_id) GROUP BY i),\n"
            f"x{k} AS (SELECT i, y / (SELECT sqrt(sum(y * y)) FROM y{k}) AS x "
            f"FROM y{k})"
        )
        prev = f"x{k}"
    chain = ",\n".join(steps)
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (
    SELECT vec_id, CAST(i AS INT) AS i, v[i] AS val
    FROM base, unnest(generate_series(1, {_PI_DIMS})) AS u(i)),
x0 AS (
    SELECT CAST(i AS INT) AS i, 1.0 / sqrt({_PI_DIMS}) AS x
    FROM unnest(generate_series(1, {_PI_DIMS})) AS t(i)),
{chain}
SELECT CAST(i AS BIGINT) AS dim, round(x, 5) AS pc1 FROM x{_PI_ITERS}
"""


PC1_SQL = _pc1_oracle()


# ---------------------------------------------------- markov transitions


def _events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next_type | type), with row counts. One lag window
    per user (high-cardinality partitioning) + one count aggregation;
    the normalizing row totals ride a second tiny aggregation joined
    back broadcast."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            "user_id",
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("__row_total"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("__row_total"), 6).alias("p"),
        )
    )


MARKOV_SQL = """
WITH steps AS (
    SELECT user_id, event_type AS to_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS from_type
    FROM events),
counts AS (
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
    FROM steps WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type),
totals AS (
    SELECT from_type, sum(n) AS row_total FROM counts GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n,
       round(c.n / CAST(t.row_total AS DOUBLE), 6) AS p
FROM counts c JOIN totals t ON c.from_type = t.from_type
"""


# ---------------------------------------------------- pareto 80/20


def _orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto): rank customers by revenue desc,
    emit the decile → cumulative-revenue-share curve. Per-customer
    rollup is one shuffle; rank, decile, AND the running revenue ride
    ONE range-partitioned scan (operators/ranking.py's fused prefix
    sum) — no single-partition window over the customers frame.
    Revenue accumulates in integer cents so the decomposed prefix sum
    is bit-identical to the definitional ordered window (integer
    addition is associative; double addition is not)."""
    from trackdechets_etl_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    o = read_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents")
    )
    n_total = per_cust.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__total")
    )
    ranked = global_row_number(
        per_cust,
        [F.desc("cents"), F.col("o_custkey").asc()],
        "__rk",
        sum_of=("cents", "cum_cents"),
    )
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn("decile", ntile_from_rank(F.col("__rk"), F.col("__n"), 10))
        .groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.max(F.col("cum_cents") / F.col("__total")) * 100.0, 4
            ).alias("cum_rev_pct"),
        )
    )


PARETO_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey),
ranked AS (
    SELECT o_custkey, cents,
           CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cents,
           ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
    FROM per_cust)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(max(cum_cents / (SELECT CAST(sum(cents) AS DOUBLE)
                              FROM per_cust)) * 100.0, 4) AS cum_rev_pct
FROM ranked GROUP BY decile
"""


# ---------------------------------------------------- YoY growth


def _orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year growth: one monthly rollup,
    then a 12-month lag over the (months-sized) aggregate — the
    standard finance reporting shape. Growth is null for the first
    year (no prior-year month)."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.partitionBy("mo").orderBy("yr")
    return monthly.select(
        "yr",
        "mo",
        "revenue",
        F.round(
            (F.col("revenue") / F.lag("revenue").over(w) - 1.0) * 100.0, 4
        ).alias("yoy_pct"),
    )


YOY_SQL = """
WITH monthly AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY 1, 2)
SELECT yr, mo, revenue,
       round((revenue / lag(revenue) OVER (PARTITION BY mo ORDER BY yr) - 1.0)
             * 100.0, 4) AS yoy_pct
FROM monthly
"""


# ---------------------------------------------------- dwell times


def _events_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event dwell time: seconds since the user's previous event,
    summarized per (arriving) event type with exact median/p90 — the
    standard latency/engagement telemetry rollup. One per-user lag
    window + one aggregation with a single shared percentile buffer."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Full-precision epoch seconds (double) on BOTH sides — a long cast
    # would truncate sub-second parts that DuckDB's epoch() keeps.
    epoch = F.col("ts").cast("timestamp").cast("double")
    gaps = (
        ev.select(
            "event_type",
            (epoch - F.lag(epoch).over(w)).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    pcts = F.percentile("gap_s", F.array(F.lit(0.5), F.lit(0.9)))
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_s"), 2).alias("mean_gap_s"),
            pcts.alias("__p"),
        )
        .select(
            "event_type",
            "n_gaps",
            "mean_gap_s",
            F.round(F.element_at("__p", 1), 2).alias("median_gap_s"),
            F.round(F.element_at("__p", 2), 2).alias("p90_gap_s"),
        )
    )


DWELL_SQL = """
WITH gaps AS (
    SELECT event_type,
           CAST(epoch(ts) - epoch(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS DOUBLE) AS gap_s
    FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(avg(gap_s), 2) AS mean_gap_s,
       round(quantile_cont(gap_s, 0.5), 2) AS median_gap_s,
       round(quantile_cont(gap_s, 0.9), 2) AS p90_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "agg_stats_suite": QuerySpec(_agg_stats_suite, STATS_SUITE_SQL),
    "agg_argminmax": QuerySpec(_agg_argminmax, ARGMINMAX_SQL),
    "string_agg_sorted": QuerySpec(_string_agg_sorted, STRING_AGG_SQL),
    "islands_gaps": QuerySpec(_islands_gaps, ISLANDS_SQL),
    "events_running_distinct": QuerySpec(_events_running_distinct, RUNNING_DISTINCT_SQL),
    "events_funnel_horizon": QuerySpec(_events_funnel_horizon, FUNNEL_HORIZON_SQL),
    "orders_ship_latency": QuerySpec(_orders_ship_latency, SHIP_LATENCY_SQL),
    "events_windowed_dedup": QuerySpec(_events_windowed_dedup, WINDOWED_DEDUP_SQL),
    "text_lm_score": QuerySpec(_text_lm_score, LM_SCORE_SQL),
    "embedding_pc1": QuerySpec(_embedding_pc1, PC1_SQL),
    "events_markov_transitions": QuerySpec(_events_markov_transitions, MARKOV_SQL),
    "orders_pareto": QuerySpec(_orders_pareto, PARETO_SQL),
    "orders_yoy_growth": QuerySpec(_orders_yoy_growth, YOY_SQL),
    "events_dwell_times": QuerySpec(_events_dwell_times, DWELL_SQL),
}
