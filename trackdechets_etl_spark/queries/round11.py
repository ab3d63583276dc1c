"""Round-5 additions, sixth batch: session-interval analytics.

- ``events_concurrency_peak``: peak concurrent sessions per day by
  sweep-line — sessions (30-min-gap rule, end = last event + timeout)
  become +1/−1 boundary points, one ordered running sum is the live
  concurrency, and each day reports its max and the first timestamp
  reaching it. The classic interval-overlap counting shape, with no
  interval join anywhere.
- ``events_bounce_rate``: single-event sessions over total sessions
  per day — the engagement-quality companion to the session window op.
  Integer counts, ratio rounded at 4.

All pure DataFrame algebra with exact DuckDB twins; invariant tests in
tests/test_round11.py. Extensions beyond the reference DAGs, same
oracle discipline as the §2 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

_SESSION_GAP_MIN = 30


def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User sessions under the 30-minute-gap rule (the
    ``events_session_window`` convention): session start = first event,
    end = last event + the timeout (so every session has positive
    length and 'alive until timeout' semantics)."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    marked = ev.withColumn(
        "new_sess",
        F.when(
            gap.isNull() | (gap > _SESSION_GAP_MIN * 60 * 1_000_000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("sess_id", F.sum("new_sess").over(w))
    return marked.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("start_ts"),
        (F.max("ts") + F.expr(f"INTERVAL {_SESSION_GAP_MIN} MINUTES")).alias(
            "end_ts"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


_SESSIONS_SQL = f"""
marked AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts)
                     > {_SESSION_GAP_MIN * 60 * 1_000_000}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
    SELECT user_id,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id,
           ts
    FROM marked),
sessions AS (
    SELECT user_id, sess_id, min(ts) AS start_ts,
           max(ts) + INTERVAL {_SESSION_GAP_MIN} MINUTE AS end_ts,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sess_id)
"""


def _events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day. Sweep-line: +1 at each session
    start, −1 at its (timeout-extended, hence strictly later) end;
    points order by (ts, delta, user) — ends before starts at equal
    ts — and the running sum is the live concurrency. Day peaks and
    their first-reaching timestamp fall out of one grouped aggregation
    over the point frame. The running sum is the distributed prefix
    sum (operators/ranking.py: range repartition + within-partition
    cumsum + partition-count-sized integer offsets) — bit-identical to
    the definitional ordered window with no single-partition stage;
    deltas are integers, so the decomposition is exact."""
    from trackdechets_etl_spark.operators.ranking import global_row_number

    sess = _sessions(spark, sf_dir)
    pts = sess.select(
        F.col("start_ts").alias("ts"),
        F.lit(1).cast("long").alias("delta"),
        "user_id",
    ).unionByName(
        sess.select(
            F.col("end_ts").alias("ts"),
            F.lit(-1).cast("long").alias("delta"),
            "user_id",
        )
    )
    cum = (
        global_row_number(
            pts,
            [F.col("ts").asc(), F.col("delta").asc(), F.col("user_id").asc()],
            "__rn",
            sum_of=("delta", "conc"),
        )
        .drop("__rn")
        .withColumn("day", F.to_date("ts"))
    )
    # Day peak + first-reaching timestamp in ONE aggregation: the
    # argmax-with-min-ts-tiebreak is max(struct(conc, -ts_micros)) —
    # struct comparison is lexicographic, so the max picks the highest
    # conc and, among its ties, the smallest ts. This replaces the
    # day-partitioned window + filter + groupBy (a full exchange+sort
    # of the point frame) with a partial-aggregated groupBy whose
    # exchange carries one row per (day × map partition) — the
    # shuffle-fewer-bytes rule. ts is timestamp_ntz; the micros
    # round-trip goes through the UTC session timezone, which is
    # lossless (r14 A/B: 1.65→1.54 s best, exact-equal at sf0.01).
    negts = (
        F.lit(0).cast("long") - F.unix_micros(F.col("ts").cast("timestamp"))
    ).alias("__negts")
    s = cum.groupBy("day").agg(F.max(F.struct(F.col("conc"), negts)).alias("__s"))
    return (
        s.select(
            "day",
            F.col("__s.conc").cast("int").alias("peak_concurrent"),
            F.timestamp_micros(F.lit(0).cast("long") - F.col("__s.__negts"))
            .cast("timestamp_ntz")
            .alias("first_peak_ts"),
        )
        .orderBy("day")
    )


EVENTS_CONCURRENCY_SQL = f"""
WITH {_SESSIONS_SQL},
pts AS (
    SELECT start_ts AS ts, 1 AS delta, user_id FROM sessions
    UNION ALL
    SELECT end_ts AS ts, -1 AS delta, user_id FROM sessions),
cum AS (
    SELECT ts, CAST(date_trunc('day', ts) AS DATE) AS day,
           sum(delta) OVER (ORDER BY ts, delta, user_id
                            ROWS UNBOUNDED PRECEDING) AS conc
    FROM pts),
peaked AS (
    SELECT *, max(conc) OVER (PARTITION BY day) AS day_peak FROM cum)
SELECT day, CAST(max(conc) AS INTEGER) AS peak_concurrent,
       min(ts) AS first_peak_ts
FROM peaked WHERE conc = day_peak
GROUP BY day
ORDER BY day
"""


def _events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate per day (day of session start): single-event
    sessions over total sessions. Session metadata is tiny relative to
    events, so everything after the sessionization shuffle is
    metadata-sized; the ratio is a division of two exact counts,
    rounded at 4."""
    sess = _sessions(spark, sf_dir)
    return (
        sess.groupBy(F.to_date("start_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .withColumn(
            "bounce_rate",
            F.round(F.col("n_bounces") / F.col("n_sessions"), 4),
        )
        .orderBy("day")
    )


EVENTS_BOUNCE_SQL = f"""
WITH {_SESSIONS_SQL}
SELECT CAST(date_trunc('day', start_ts) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS bounce_rate
FROM sessions
GROUP BY 1
ORDER BY day
"""


QUERIES: dict[str, QuerySpec] = {
    "events_concurrency_peak": QuerySpec(
        _events_concurrency_peak, EVENTS_CONCURRENCY_SQL
    ),
    "events_bounce_rate": QuerySpec(_events_bounce_rate, EVENTS_BOUNCE_SQL),
}
