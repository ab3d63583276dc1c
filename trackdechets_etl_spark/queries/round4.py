"""Round-4 operator additions: cohort/retention analytics, market-basket
self-join, SCD2 validity intervals, document chunking, intra-document
repetition stats, RFM segmentation, key-skew profiling,
hierarchy-to-root traversal, lag-gap sessionization, volume-anomaly
z-scores, snapshot diffing, and a declarative data-quality gate.

These widen the engine beyond the reference's ETL surface (the
reference has none of these — designed extensions in the spirit of
SURVEY §7/M6) with shapes a 100 TB training-data or product-analytics
pipeline needs: windowed change detection, self-join co-occurrence,
overlapping text chunking for context-window packing, quantile
bucketing, and incremental-ETL auditing.

Scale notes per query are inline; the common rules: facts are never
broadcast, every self-join is projected to its key columns first, and
window functions partition on high-cardinality keys (user_id, doc_id)
so state per partition stays small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.queries.round61 import _hex8_int_sql
from trackdechets_etl_spark.session import materialize

# ---------------------------------------------------- retention cohorts


def _events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen day
    (cohort), counted per whole-week offset they return in. Two
    aggregations over events: per-user min(date) (map-side combinable),
    then distinct users per (cohort, offset). At scale the per-user min
    is a 1-row-per-user shuffle; the final agg is tiny."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .withColumn(
            "week_offset",
            F.floor(F.datediff(F.col("d"), F.col("cohort_day")) / 7).cast("long"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


RETENTION_SQL = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
first AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id)
SELECT cohort_day,
       CAST(floor((ev.d - first.cohort_day) / 7) AS BIGINT) AS week_offset,
       CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
FROM ev JOIN first ON ev.user_id = first.user_id
GROUP BY cohort_day, week_offset
"""


# ---------------------------------------------------- market basket


def _orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-occurring part pairs across orders — the classic
    market-basket self-join. The fact is projected to DISTINCT
    (orderkey, partkey) BEFORE the self-join (shrinks both sides and
    kills duplicate-line fanout); the join shuffles both sides on
    l_orderkey (same key → one co-partitioning); pairs are oriented
    p1 < p2 so each pair counts once. Deterministic top-k: count desc,
    then pair ids."""
    # Partition by l_orderkey BEFORE the distinct: hashpartitioning(ok)
    # satisfies ClusteredDistribution(ok, pk) for the dedup aggregate AND
    # the self-join's requirement, so each side shuffles once on the
    # order key instead of twice ((ok, pk) for distinct, then ok again).
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2"))
    return (
        # merge hint: at 100 TB neither self-join side is broadcastable;
        # pin the co-partitioned plan so small-SF tests see the plan
        # that would actually run at scale (both sides exchange on the
        # order key once, then sort-merge with the p1<p2 residual).
        a.hint("merge")
        .join(b, (F.col("ok") == F.col("ok2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "p1", "p2")
        .limit(20)
    )


BASKET_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       CAST(count(*) AS BIGINT) AS n_orders
FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
ORDER BY n_orders DESC, p1, p2
LIMIT 20
"""


# ---------------------------------------------------- SCD2 validity


def _events_scd2_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an event log: per
    user, consecutive runs of the same event_type collapse to one
    version row with [valid_from, valid_to) bounds (valid_to null for
    the open current version). Change detection = lag() over
    (user_id, ts, event_id); interval close = lead() on the change
    rows. Both windows partition by user_id — state is one user's
    events, never the whole log. Restricted to user_id < 50 to keep
    the verified output compact."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        (F.row_number().over(w2)).cast("long").alias("version"),
    )


SCD2_SQL = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER w AS prev_type
    FROM events WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
changes AS (
    SELECT user_id, event_type, ts, event_id FROM ordered
    WHERE prev_type IS NULL OR event_type <> prev_type)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       CAST(row_number() OVER w2 AS BIGINT) AS version
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------- text chunking

_CHUNK_SIZE = 500
_CHUNK_STEP = 400


def _text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width character chunks (size 500, stride 400)
    for context-window packing — the chunk table a training pipeline
    feeds the tokenizer. All native expressions: sequence() builds the
    chunk starts, posexplode fans out, substring slices. One narrow
    map stage, no shuffle at all; at 100 TB this runs entirely
    pipelined with the parquet scan. Chunk identity = md5 of the slice
    (dedupable downstream)."""
    docs = read_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length("text") - 1, F.lit(0)),
        F.lit(_CHUNK_STEP),
    )
    return (
        docs.select(
            "doc_id",
            F.posexplode(starts).alias("chunk_id", "start"),
            F.col("text"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.substring(F.col("text"), F.col("start") + 1, _CHUNK_SIZE).alias(
                "chunk"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.length("chunk").cast("long").alias("chunk_len"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )


CHUNK_SQL = f"""
WITH starts AS (
    SELECT doc_id, text,
           unnest(generate_series(0, greatest(length(text) - 1, 0),
                                  {_CHUNK_STEP})) AS start
    FROM documents),
chunks AS (
    SELECT doc_id,
           CAST(start // {_CHUNK_STEP} AS BIGINT) AS chunk_id,
           substring(text, CAST(start + 1 AS INT), {_CHUNK_SIZE}) AS chunk
    FROM starts)
SELECT doc_id, chunk_id,
       CAST(length(chunk) AS BIGINT) AS chunk_len,
       md5(chunk) AS chunk_md5
FROM chunks
"""


# ---------------------------------------------------- repetition stats


def _text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition profile: token count, distinct-token
    count, distinct ratio, and the dominant token's share — the
    standard 'repetitive junk' quality gate in corpus cleaning. One
    explode + two-level aggregation; the per-(doc, token) partial agg
    is map-side combinable, so the shuffle carries one row per distinct
    (doc, token), not one per token occurrence."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    per_token = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_token.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("n"), 4).alias("distinct_ratio"),
        F.round(F.max("n") / F.sum("n"), 4).alias("top_token_share"),
    )


REPETITION_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
per_token AS (
    SELECT doc_id, token, count(*) AS n FROM tok GROUP BY doc_id, token)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(count(*) / CAST(sum(n) AS DOUBLE), 4) AS distinct_ratio,
       round(max(n) / CAST(sum(n) AS DOUBLE), 4) AS top_token_share
FROM per_token
GROUP BY doc_id
"""


# ---------------------------------------------------- RFM segments


def _events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation: recency (days since last event, vs the
    corpus max), frequency (event count), monetary (value sum), each
    quartiled under a deterministic total order (metric, then
    user_id). Quartiles are bit-identical to ntile(4) but computed
    scale-safe: an exact distributed global rank (range repartition +
    per-partition row_number + partition-count-sized offsets,
    operators/ranking.py) fed to the closed-form ntile split — no
    unpartitioned window ever touches the users-scale frame."""
    from trackdechets_etl_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("value"), 2).alias("monetary"),
    )
    anchor = ev.agg(F.max(F.to_date("ts")).alias("anchor_day"))
    # feeds the n_total aggregate plus three rank pipelines
    base = materialize(
        per_user.crossJoin(F.broadcast(anchor)).withColumn(
            "recency_days",
            F.datediff(F.col("anchor_day"), F.col("last_day")).cast("long"),
        ),
        eager=False,
    )
    n_total = base.agg(F.count(F.lit(1)).alias("n_total"))
    orders = {
        "r": [F.col("recency_days").asc(), F.col("user_id").asc()],
        "f": [F.col("frequency").desc(), F.col("user_id").asc()],
        "m": [F.col("monetary").desc(), F.col("user_id").asc()],
    }
    out = base
    for key, order_cols in orders.items():
        ranked = global_row_number(
            base.select("user_id", "recency_days", "frequency", "monetary"),
            order_cols,
            f"{key}_rank",
        ).select("user_id", f"{key}_rank")
        out = out.join(ranked, "user_id")
    return out.crossJoin(F.broadcast(n_total)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        ntile_from_rank(F.col("r_rank"), F.col("n_total"), 4).alias("r_quartile"),
        ntile_from_rank(F.col("f_rank"), F.col("n_total"), 4).alias("f_quartile"),
        ntile_from_rank(F.col("m_rank"), F.col("n_total"), 4).alias("m_quartile"),
    )


RFM_SQL = """
WITH per_user AS (
    SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
           count(*) AS frequency, round(sum(value), 2) AS monetary
    FROM events GROUP BY user_id),
anchor AS (SELECT max(CAST(ts AS DATE)) AS anchor_day FROM events)
SELECT user_id,
       CAST(anchor_day - last_day AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       monetary,
       CAST(ntile(4) OVER (ORDER BY anchor_day - last_day, user_id) AS BIGINT)
           AS r_quartile,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
           AS f_quartile,
       CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
           AS m_quartile
FROM per_user, anchor
"""


# ---------------------------------------------------- key-skew diagnostic


def _diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profiler: the top-10 heaviest join/agg keys with
    their share of total rows — the first thing to run before choosing
    salting factors or AQE skew thresholds on a new dataset. One
    groupBy + a broadcast 1-row total; top-k via TakeOrderedAndProject
    (never a global sort)."""
    li = read_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = per_key.agg(F.sum("n_rows").alias("__total"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total") * 100.0, 4).alias("pct_rows"),
        )
        .orderBy(F.desc("n_rows"), "key")
        .limit(10)
    )


KEY_SKEW_SQL = """
WITH per_key AS (
    SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_suppkey)
SELECT key, n_rows,
       round(n_rows / (SELECT CAST(sum(n_rows) AS DOUBLE) FROM per_key) * 100.0, 4)
           AS pct_rows
FROM per_key
ORDER BY n_rows DESC, key
LIMIT 10
"""


# ---------------------------------------------------- hierarchy climb


def _hierarchy_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal: customers form a 10-ary forest (parent of k
    is k div 10; k < 10 are roots); every node resolved to (root,
    depth) by iterative pointer-chasing — what engines with recursive
    CTEs express as WITH RECURSIVE, re-expressed as bounded-round
    DataFrame iteration (the DuckDB oracle IS the recursive CTE)."""
    from trackdechets_etl_spark.operators.graph import climb_to_root

    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    edges = c.filter(F.col("c_custkey") >= 10).select(
        F.col("c_custkey").alias("child"),
        F.floor(F.col("c_custkey") / 10).cast("long").alias("parent"),
    )
    return climb_to_root(edges, nodes=c)


HIERARCHY_SQL = """
WITH RECURSIVE walk(node, cur, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM customer
    UNION ALL
    SELECT node, cur // 10, depth + 1 FROM walk WHERE cur >= 10)
SELECT node, cur AS root, CAST(depth AS BIGINT) AS depth
FROM walk WHERE cur < 10
"""


# ---------------------------------------------------- lag-gap sessionize

_SESSION_GAP_MIN = 30


def _events_sessionize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with explicit session ids: a session breaks
    after 30 min of per-user inactivity; session_id = running count of
    breaks (lag + cumulative sum over ONE (user_id, ts) window — both
    functions share the partitioning, so one shuffle). The complement
    of the native session_window operator: this form yields stable ids
    usable as join keys."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts may arrive as TIMESTAMP_NTZ; route through TIMESTAMP for epoch
    # seconds (session tz is UTC, matching DuckDB's epoch() on naive ts).
    # DOUBLE epoch, not long: DuckDB's epoch() keeps the microsecond
    # fraction, so a floor-truncated long would classify gaps in the
    # (1799s, 1801s] straddle band differently per engine.
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = F.when(
        (epoch - F.lag(epoch).over(w)) > _SESSION_GAP_MIN * 60,
        1,
    ).otherwise(0)
    with_ids = ev.withColumn(
        "session_id",
        F.sum(gap).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    return with_ids.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SESSIONIZE_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {_SESSION_GAP_MIN * 60}
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ids AS (
    SELECT user_id, ts,
           CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
    FROM flagged)
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM ids
GROUP BY user_id, session_id
"""


# ---------------------------------------------------- anomaly z-score


def _events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against that type's own mean/stddev; emit hours with |z| >= 2.
    Two cheap aggregations (hourly rollup, then per-type moments
    broadcast back) — the streaming twin would maintain the moments as
    running state and score each closing window."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    moments = hourly.groupBy("event_type").agg(
        F.avg("n_events").alias("__mu"),
        F.stddev_pop("n_events").alias("__sigma"),
    )
    z = (F.col("n_events") - F.col("__mu")) / F.col("__sigma")
    return (
        hourly.join(F.broadcast(moments), "event_type")
        .withColumn("z", F.round(z, 4))
        .filter(F.abs(F.col("z")) >= 2.0)
        .select("event_type", "hour", "n_events", "z")
    )


ANOMALY_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2),
moments AS (
    SELECT event_type, avg(n_events) AS mu, stddev_pop(n_events) AS sigma
    FROM hourly GROUP BY event_type)
SELECT h.event_type, h.hour, h.n_events,
       round((h.n_events - m.mu) / m.sigma, 4) AS z
FROM hourly h JOIN moments m ON h.event_type = m.event_type
WHERE abs(round((h.n_events - m.mu) / m.sigma, 4)) >= 2.0
"""


# ---------------------------------------------------- snapshot diff

_DIFF_CUT = "1997-01-01"


def _diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff — the audit step of any incremental ETL:
    full-outer join two snapshots on the key, compare a value
    fingerprint, emit added / removed / changed rows with both values.
    Here the 'old' snapshot is orders before the cutoff and the 'new'
    one is pre-cutoff orders with shifted totals for a deterministic
    slice (keys % 97 == 0) plus post-cutoff orders (the inserts).
    One co-partitioned shuffle; at scale both snapshots bucketed on the
    key make it shuffle-free."""
    o = read_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < F.lit(_DIFF_CUT)).select(
        F.col("o_orderkey").alias("key"),
        F.round("o_totalprice", 2).alias("old_total"),
    )
    new = o.select(
        F.col("o_orderkey").alias("key"),
        F.round(
            F.when(
                (F.col("o_orderdate") < F.lit(_DIFF_CUT))
                & (F.col("o_orderkey") % 97 == 0),
                F.col("o_totalprice") + 10.0,
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("new_total"),
    )
    j = old.join(new, "key", "full_outer")
    status = (
        F.when(F.col("old_total").isNull(), "added")
        .when(F.col("new_total").isNull(), "removed")
        .when(F.col("old_total") != F.col("new_total"), "changed")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("key", "status", "old_total", "new_total")
    )


DIFF_SQL = f"""
WITH old AS (
    SELECT o_orderkey AS key, round(o_totalprice, 2) AS old_total
    FROM orders WHERE o_orderdate < TIMESTAMP '{_DIFF_CUT}'),
new AS (
    SELECT o_orderkey AS key,
           round(CASE WHEN o_orderdate < TIMESTAMP '{_DIFF_CUT}'
                       AND o_orderkey % 97 = 0
                      THEN o_totalprice + 10.0 ELSE o_totalprice END, 2)
               AS new_total
    FROM orders)
SELECT coalesce(old.key, new.key) AS key,
       CASE WHEN old.key IS NULL THEN 'added'
            WHEN new.key IS NULL THEN 'removed'
            WHEN old_total <> new_total THEN 'changed' END AS status,
       old_total, new_total
FROM old FULL OUTER JOIN new ON old.key = new.key
WHERE CASE WHEN old.key IS NULL THEN 'added'
           WHEN new.key IS NULL THEN 'removed'
           WHEN old_total <> new_total THEN 'changed' END IS NOT NULL
"""


# ---------------------------------------------------- DQ rules


def _dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: rules are (name, predicate) DATA,
    evaluated in ONE scan via conditional sums — never one pass per
    rule (at 100 TB the scan dominates, so N rules must cost one scan,
    not N). Covers the four standard rule classes: not-null, range,
    format/regex, and cross-field consistency."""
    li = read_table(spark, sf_dir, "lineitem")
    rules = {
        "quantity_positive": F.col("l_quantity") > 0,
        "discount_in_unit_range": F.col("l_discount").between(0.0, 1.0),
        "shipdate_not_null": F.col("l_shipdate").isNotNull(),
        "returnflag_valid": F.col("l_returnflag").isin("A", "N", "R"),
        "price_consistent": F.col("l_extendedprice") >= F.col("l_quantity"),
    }
    aggs = [
        F.sum(F.when(~cond, 1).otherwise(0)).cast("long").alias(name)
        for name, cond in rules.items()
    ] + [F.count(F.lit(1)).alias("n_rows")]
    wide = li.agg(*aggs)
    stack = ", ".join(f"'{name}', {name}" for name in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stack}) AS (rule, n_violations)", "n_rows"
    )


DQ_SQL = """
WITH wide AS (
    SELECT
      CAST(sum(CASE WHEN NOT (l_quantity > 0) THEN 1 ELSE 0 END) AS BIGINT)
          AS quantity_positive,
      CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 1.0) THEN 1 ELSE 0 END) AS BIGINT)
          AS discount_in_unit_range,
      CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS shipdate_not_null,
      CAST(sum(CASE WHEN NOT (l_returnflag IN ('A', 'N', 'R')) THEN 1 ELSE 0 END) AS BIGINT)
          AS returnflag_valid,
      CAST(sum(CASE WHEN NOT (l_extendedprice >= l_quantity) THEN 1 ELSE 0 END) AS BIGINT)
          AS price_consistent,
      CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem)
SELECT u.rule, u.n_violations, wide.n_rows
FROM wide,
     LATERAL (VALUES
        ('quantity_positive', quantity_positive),
        ('discount_in_unit_range', discount_in_unit_range),
        ('shipdate_not_null', shipdate_not_null),
        ('returnflag_valid', returnflag_valid),
        ('price_consistent', price_consistent)) AS u(rule, n_violations)
"""


# ------------------------------------------- weighted reservoir sample

_WRS_K = 20


def _sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis:
    each doc draws a deterministic uniform u from its md5 (first 8 hex
    chars → integer → (v+0.5)/2^32) and gets key = ln(u)/w with
    w = n_chars; the top-k keys ARE a weighted sample without
    replacement. Fully distributed (per-row key + one top-k, which
    Catalyst executes as per-partition partial top-k) and idempotent
    across retries/engines — no rand(), no reservoir state. The
    standard one-pass answer to 'sample k docs proportional to length'
    at corpus scale."""
    d = read_table(spark, sf_dir, "documents")
    h8 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    u = (F.conv(h8, 16, 10).cast("double") + 0.5) / 4294967296.0
    key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "n_chars", F.round(key, 9).alias("sample_key"))
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(_WRS_K)
    )


WRS_SQL = f"""
WITH keyed AS (
    SELECT doc_id, n_chars,
           round(ln(({_hex8_int_sql("md5(CAST(doc_id AS VARCHAR))")} + 0.5)
                    / 4294967296.0) / n_chars, 9) AS sample_key
    FROM documents)
SELECT doc_id, n_chars, sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT {_WRS_K}
"""


QUERIES: dict[str, QuerySpec] = {
    "events_retention_cohorts": QuerySpec(_events_retention_cohorts, RETENTION_SQL),
    "orders_market_basket": QuerySpec(_orders_market_basket, BASKET_SQL),
    "events_scd2_validity": QuerySpec(_events_scd2_validity, SCD2_SQL),
    "text_chunk_overlap": QuerySpec(_text_chunk_overlap, CHUNK_SQL),
    "text_repetition_stats": QuerySpec(_text_repetition_stats, REPETITION_SQL),
    "events_rfm_segments": QuerySpec(_events_rfm_segments, RFM_SQL),
    "diag_key_skew": QuerySpec(_diag_key_skew, KEY_SKEW_SQL),
    "hierarchy_roots": QuerySpec(_hierarchy_roots, HIERARCHY_SQL),
    "events_sessionize_ids": QuerySpec(_events_sessionize_ids, SESSIONIZE_SQL),
    "events_anomaly_zscore": QuerySpec(_events_anomaly_zscore, ANOMALY_SQL),
    "diff_snapshots": QuerySpec(_diff_snapshots, DIFF_SQL),
    "dq_rule_violations": QuerySpec(_dq_rule_violations, DQ_SQL),
    "sample_weighted_reservoir": QuerySpec(_sample_weighted_reservoir, WRS_SQL),
}
