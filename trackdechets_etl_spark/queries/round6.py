"""Round-5 additions: operator families a reference user (or a 100 TB
training-data pipeline) reaches for that were not yet first-class.

- Sequential / time-series: ``events_gap_ffill`` (spine resample +
  forward-fill), ``events_ewma_daily`` (closed-form EWMA),
  ``events_rolling_median``, ``events_twap`` (integer-microsecond
  hold weighting), ``events_cusum_changepoint``.
- Robust / distribution stats: ``weighted_median_parts``,
  ``events_winsorized_stats`` (p05/p95 clip),
  ``agg_histogram_equidepth`` (ntile twin of the equal-width bins),
  ``dq_benford_digits`` (forensic first-digit audit).
- Sketches: ``sketch_countmin_heavyhitters`` — deterministic
  md5-bucketed CMS, the fully-oracle-checkable member of the
  HLL/GK/CMS trio.
- Spatial: ``join_grid_spatial`` through
  ``operators/spatial.py::grid_join_within_radius`` (grid + 3×3
  neighbor replication; oracle is the naive inequality join).
- Dedup: ``dedup_incremental_batch`` (batch-vs-corpus probe) and the
  BPE merge statistic ``text_bpe_pairs`` (see also
  ``llm/dedup.py::containment_pairs`` → ``dedup_containment_pairs``).

All pure DataFrame algebra with exact DuckDB twins; invariant tests in
tests/test_round6.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------------- gap-fill + forward-fill


def _events_gap_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample per event type with gaps carried forward: build
    the full [min hour, max hour] spine once (one-row bounds aggregate
    → ``sequence`` → explode; spine size is |range| × |types|,
    independent of event count), left-join the hourly aggregate, then
    forward-fill with ``last(ignorenulls=True)`` over the per-type
    hour ordering. The raw events are scanned ONCE (the hourly
    aggregate); the spine bounds and the type set both derive from
    that already-tiny aggregate (``date_trunc`` is monotone, so
    ``min/max(bucket_ts)`` equal the truncated raw extremes) — at
    100 TB the difference between one fact scan and three is the
    query. Hours before a type's first event stay null (nothing to
    carry)."""
    e = read_table(spark, sf_dir, "events")
    # Exact integer cents sum (values carry 2dp) -> the hourly average
    # is one IEEE division of identical integers on both engines, and
    # the 4dp round happens in pre-multiplied integer space — the
    # sf0.1 determinism probe caught avg(value)'s float-sum
    # association order crossing the 4dp boundary between engines.
    cents = F.round(F.col("value") * F.lit(100.0)).cast("long")
    agg = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.round(
            (F.sum(cents) * F.lit(100)).cast("double") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("__avx"),
    )
    agg = materialize(agg, eager=False)  # 3 consumers, one shuffle
    bounds = agg.agg(
        F.min("bucket_ts").alias("h0"), F.max("bucket_ts").alias("h1")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("bucket_ts")
    )
    types = agg.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types)).join(
        agg, ["event_type", "bucket_ts"], "left"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "event_type",
        "bucket_ts",
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_events"),
        (
            F.last("__avx", ignorenulls=True).over(w).cast("double")
            / F.lit(10000.0)
        ).alias("avg_value_ffill"),
    )


EVENTS_GAP_FFILL_SQL = """
WITH b AS (
    SELECT date_trunc('hour', min(ts)) AS h0,
           date_trunc('hour', max(ts)) AS h1 FROM events),
spine AS (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket_ts
    FROM b),
types AS (SELECT DISTINCT event_type FROM events),
agg AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
           count(*) AS n,
           CAST(round(CAST(sum(CAST(round(value * 100.0) AS BIGINT))
                           * 100 AS DOUBLE) / count(*)) AS BIGINT) AS avx
    FROM events GROUP BY 1, 2),
grid AS (
    SELECT t.event_type, s.bucket_ts, a.n, a.avx
    FROM spine s CROSS JOIN types t
    LEFT JOIN agg a
      ON a.event_type = t.event_type AND a.bucket_ts = s.bucket_ts)
SELECT event_type, bucket_ts,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events,
       CAST(last_value(avx IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / 10000.0 AS avg_value_ffill
FROM grid
"""


# --------------------------------------------------------------- EWMA

_EWMA_ALPHA = 0.3


def _events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily EWMA of event value per type, as a CLOSED-FORM window
    expression — the recursion ``s_t = α·x_t + (1-α)·s_{t-1}`` with
    seed ``s_0 = x_0`` expands to::

        s_t = (1-α)^t · ( x_0 + α · Σ_{i=1..t} x_i · (1-α)^(-i) )

    so one cumulative window sum computes every s_t in a single
    partition pass — no iteration, no UDF, no state. Both engines
    evaluate running sums in frame order, so the float association
    order is identical and the oracle hash-matches. The ``(1-α)^(-i)``
    terms stay bounded because the day index is per-type and the event
    range spans ~31 days (0.7^-31 ≈ 6e4; the formulation is restartable
    per window for unbounded series)."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum("value").alias("x"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    a = _EWMA_ALPHA
    t = F.row_number().over(wo) - 1
    u = F.when(t == 0, 0.0).otherwise(
        F.col("x") * F.pow(F.lit(1 - a), -t)
    )
    daily = daily.withColumn("__t", t).withColumn("__u", u)
    ewma = F.pow(F.lit(1 - a), F.col("__t")) * (
        F.first("x").over(wc) + a * F.sum("__u").over(wc)
    )
    return daily.select(
        "event_type",
        "day",
        F.round("x", 2).alias("daily_value"),
        F.round(ewma, 6).alias("ewma"),
    )


EVENTS_EWMA_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
    FROM events GROUP BY 1, 2),
idx AS (
    SELECT *,
           row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
    FROM daily),
terms AS (
    SELECT *,
           CASE WHEN t = 0 THEN 0.0
                ELSE x * pow({1 - _EWMA_ALPHA}, -t) END AS u
    FROM idx)
SELECT event_type, day, round(x, 2) AS daily_value,
       round(pow({1 - _EWMA_ALPHA}, t) * (
           first_value(x) OVER w + {_EWMA_ALPHA} * sum(u) OVER w), 6)
           AS ewma
FROM terms
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ----------------------------------------------------- weighted median


def _weighted_median_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median of part retail price per brand, weighted by
    p_size: the smallest price whose cumulative weight reaches half
    the brand's total. Cumulative + total weights are two frames over
    one (brand, price) ordering — a single shuffle — and the halfway
    test ``2·cum >= total`` stays in integers, so the result is
    engine-exact with no float threshold (the tpch_q11 lesson)."""
    p = read_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    wo = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    cum = F.sum("p_size").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.sum("p_size").over(Window.partitionBy("p_brand"))
    q = p.withColumn("__cum", cum).withColumn("__tot", total)
    return (
        q.filter(2 * F.col("__cum") >= F.col("__tot"))
        .groupBy("p_brand")
        .agg(
            F.round(F.min("p_retailprice"), 2).alias("weighted_median_price"),
            F.min("__tot").cast("long").alias("total_weight"),
        )
    )


WEIGHTED_MEDIAN_SQL = """
WITH q AS (
    SELECT p_brand, p_retailprice,
           sum(p_size) OVER (
               PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(p_size) OVER (PARTITION BY p_brand) AS tot
    FROM part)
SELECT p_brand,
       round(min(p_retailprice), 2) AS weighted_median_price,
       CAST(min(tot) AS BIGINT) AS total_weight
FROM q WHERE 2 * cum >= tot
GROUP BY p_brand
"""


# ------------------------------------------------------- spatial join

_GRID_RADIUS = 60
_GRID_CELL = 64
_COORD_MOD = 1000


def _coords(df: DataFrame, key: str, salt: int) -> DataFrame:
    """Deterministic integer plane coordinates synthesized from an id
    column (the corpus has no geo columns; FIXTURES.md discipline:
    defined identically in Spark and SQL so the oracle sees the same
    points)."""
    k = F.col(key)
    return df.withColumn("x", (k * 7919 + salt) % _COORD_MOD).withColumn(
        "y", (k * 104729 + salt * 3) % _COORD_MOD
    )


def _join_grid_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers within radius 60 of a supplier on the synthetic
    integer plane, via :func:`operators.spatial.grid_join_within_radius`
    — grid cells + 3×3 neighbor replication of the supplier side, then
    the exact integer refine. The oracle is the NAIVE inequality join;
    the hash match proves the bucketing plan is lossless. Output is the
    per-customer neighbor count + closest squared distance."""
    from trackdechets_etl_spark.operators.spatial import grid_join_within_radius

    cust = _coords(
        read_table(spark, sf_dir, "customer").select("c_custkey"),
        "c_custkey",
        0,
    )
    supp = _coords(
        read_table(spark, sf_dir, "supplier").select("s_suppkey"),
        "s_suppkey",
        500,
    ).withColumnRenamed("x", "sx").withColumnRenamed("y", "sy")
    pairs = grid_join_within_radius(
        cust, supp, ("x", "y"), ("sx", "sy"), radius=_GRID_RADIUS, cell=_GRID_CELL
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    return (
        pairs.select("c_custkey", d2.alias("__d2"))
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_near"),
            F.min("__d2").cast("long").alias("min_d2"),
        )
    )


GRID_SPATIAL_SQL = f"""
WITH c AS (
    SELECT c_custkey,
           (c_custkey * 7919) % {_COORD_MOD} AS x,
           (c_custkey * 104729) % {_COORD_MOD} AS y
    FROM customer),
s AS (
    SELECT (s_suppkey * 7919 + 500) % {_COORD_MOD} AS sx,
           (s_suppkey * 104729 + 1500) % {_COORD_MOD} AS sy
    FROM supplier)
SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_near,
       CAST(min((x - sx) * (x - sx) + (y - sy) * (y - sy)) AS BIGINT)
           AS min_d2
FROM c JOIN s
  ON (x - sx) * (x - sx) + (y - sy) * (y - sy)
     <= {_GRID_RADIUS * _GRID_RADIUS}
GROUP BY c_custkey
"""


# ------------------------------------------------------ BPE pair stats

_BPE_TOP = 40


def _text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair frequencies within words — the statistic
    a BPE tokenizer trainer recomputes to pick each merge (word-level
    bigrams are ``text_top_bigrams``; this is the character level).
    Pairs come from ``substr(word, i, 2)`` over an exploded position
    sequence — pure column algebra, distributed hash count, TakeOrdered
    top-k; ties broken by pair text so the cut is deterministic."""
    d = read_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(F.expr("substring(w, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(_BPE_TOP)
    )


TEXT_BPE_PAIRS_SQL = f"""
WITH words AS (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
    FROM documents),
pairs AS (
    SELECT substr(w, CAST(i AS INT), 2) AS pair
    FROM words, unnest(generate_series(1, length(w) - 1)) AS u(i)
    WHERE length(w) >= 2)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY 1
ORDER BY n DESC, pair ASC LIMIT {_BPE_TOP}
"""


# ------------------------------------------------- count-min sketch

_CMS_DEPTH = 4  # independent hash rows
# width = 256 buckets: bucket id is the first two hex nibbles of
# md5(seed:key) — the repo's engine-portable hash (training.py uses the
# same trick for splits), no int conversion needed in either engine.


def _sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for per-user event counts,
    next to the exact counts — the mergeable fixed-memory structure
    that replaces exact per-key counting when the key cardinality
    itself is the problem at 100 TB. The sketch is pure DataFrame
    algebra: the counter table is a groupBy over (hash row, bucket) —
    map-side partial aggregation means the shuffle carries at most
    depth × width = 1024 rows per map partition regardless of event
    count — and the estimate is the min over hash rows of the joined
    counters (broadcast: the counter table is ≤ 1024 rows). Hashes are
    md5-based and deterministic, so unlike the HLL/GK twins this sketch
    is fully DuckDB-oracle-checkable, and the CMS guarantee
    (estimate >= exact, always) is pinned in tests/test_round6.py.

    The raw events are scanned ONCE: counters are built FROM the
    per-user exact counts (sum of per-key partials per bucket — CMS
    counters are sums, so building them from any partial aggregation
    of the keys is identity-preserving), not from a second pass over
    the events."""
    e = read_table(spark, sf_dir, "events").select("user_id")
    seeds = F.array(*[F.lit(d) for d in range(_CMS_DEPTH)])

    def bucket(d, key):  # first two hex nibbles of md5("d:key")
        return F.substring(
            F.md5(F.concat(d.cast("string"), F.lit(":"), key.cast("string"))),
            1,
            2,
        )

    users = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    users = materialize(users, eager=False)  # feeds counters + probe
    hashed = users.select(
        "user_id", "n_exact", F.explode(seeds).alias("d")
    ).withColumn("b", bucket(F.col("d"), F.col("user_id")))
    counters = hashed.groupBy("d", "b").agg(F.sum("n_exact").alias("cnt"))
    est = (
        hashed.select("user_id", "d", "b")
        .join(F.broadcast(counters), ["d", "b"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("n_est"))
    )
    return users.join(est, "user_id").select(
        "user_id",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_est").cast("long").alias("n_est"),
        (F.col("n_est") - F.col("n_exact")).cast("long").alias("overcount"),
    )


SKETCH_CMS_SQL = f"""
WITH seeds AS (
    SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS d),
ev AS (SELECT user_id FROM events),
hashed AS (
    SELECT user_id, d,
           substr(md5(CAST(d AS VARCHAR) || ':' ||
                      CAST(user_id AS VARCHAR)), 1, 2) AS b
    FROM ev CROSS JOIN seeds),
counters AS (SELECT d, b, count(*) AS cnt FROM hashed GROUP BY 1, 2),
users AS (SELECT user_id, count(*) AS n_exact FROM ev GROUP BY 1),
est AS (
    SELECT u.user_id, min(c.cnt) AS n_est
    FROM users u CROSS JOIN seeds s
    JOIN counters c
      ON c.d = s.d
     AND c.b = substr(md5(CAST(s.d AS VARCHAR) || ':' ||
                          CAST(u.user_id AS VARCHAR)), 1, 2)
    GROUP BY 1)
SELECT u.user_id,
       CAST(u.n_exact AS BIGINT) AS n_exact,
       CAST(e.n_est AS BIGINT) AS n_est,
       CAST(e.n_est - u.n_exact AS BIGINT) AS overcount
FROM users u JOIN est e USING (user_id)
"""


# ----------------------------------------------------- rolling median

_ROLL_HOURS = 24


def _events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24-bucket rolling MEDIAN of hourly value totals per
    event type — the robust-smoothing twin of ``events_moving_avg``
    (a mean is one running sum; an exact median must sort the frame,
    which Spark's ``percentile`` window aggregate does per frame —
    fine for fixed 24-row frames, the approx twin pattern applies when
    frames grow). Both engines define linear interpolation
    (``percentile`` ↔ ``quantile_cont``), so results hash-match."""
    e = read_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.sum("value").alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(-(_ROLL_HOURS - 1), Window.currentRow)
    )
    return hourly.select(
        "event_type",
        "bucket_ts",
        F.round("v", 2).alias("hourly_value"),
        F.round(F.expr("percentile(v, 0.5)").over(w), 4).alias(
            "rolling_median"
        ),
    )


EVENTS_ROLLING_MEDIAN_SQL = f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
           sum(value) AS v
    FROM events GROUP BY 1, 2)
SELECT event_type, bucket_ts,
       round(v, 2) AS hourly_value,
       round(quantile_cont(v, 0.5) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN {_ROLL_HOURS - 1} PRECEDING AND CURRENT ROW), 4)
           AS rolling_median
FROM hourly
"""


# -------------------------------------------- incremental corpus dedup

_INCR_MOD = 10  # doc_id % 10 == 0 → the "incoming batch"


def _dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: an incoming batch is checked against
    the EXISTING corpus — exact duplicates by md5 fingerprint
    (left-semi probe, the shuffle carries 32-byte keys) and near-dups
    by n-gram Jaccard where candidates come from the shingle inverted
    index restricted to batch × corpus. The corpus is only ever
    PROBED, never self-joined — per-ingest cost scales with the batch,
    not the corpus, which is what makes continuous dedup affordable at
    100 TB (the full self-join variants are the backfill path). Here
    the batch is ``doc_id % {mod} == 0``.""".format(mod=_INCR_MOD)
    from trackdechets_etl_spark.llm.dedup import (
        _pair_jaccard,
        in_prefix,
        jaccard_candidates,
        shingle_keys,
        shingle_positions,
        shingles,
    )
    from trackdechets_etl_spark.queries.llm import JACCARD_THRESHOLD

    d = read_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % _INCR_MOD == 0
    new = d.filter(is_new)
    corpus = d.filter(~is_new)

    new_fp = new.select("doc_id", F.md5("text").alias("__fp"))
    corpus_fp = corpus.select(F.md5("text").alias("__fp")).distinct()
    exact = (
        new_fp.join(corpus_fp, "__fp", "left_semi")
        .select("doc_id")
        .withColumn("__exact", F.lit(1))
    )

    # The batch×corpus candidate join runs on AllPairs PREFIX shingles
    # with the size-ratio and PPJoin prunes, exactly like
    # ngram_jaccard_pairs: the prefix theorem doesn't care that one
    # side is the batch and the other the corpus, so the result set is
    # provably unchanged while the inverted-index join shrinks ~(1−t)²
    # on both sides. One keyed shingle frame feeds three consumers
    # (prefix window, both verification joins) — eager materialize per
    # the measured many-consumer rule.
    keyed = materialize(shingle_keys(shingles(d, "text", "doc_id", 3), "doc_id"))
    pref = shingle_positions(keyed, "doc_id").filter(in_prefix(JACCARD_THRESHOLD))
    candidates = jaccard_candidates(
        pref.filter(is_new),
        pref.filter(~is_new),
        "doc_id",
        JACCARD_THRESHOLD,
    )
    near = (
        _pair_jaccard(keyed, "doc_id", candidates)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .groupBy("id_a")
        .agg(F.count(F.lit(1)).alias("n_near"))
        .withColumnRenamed("id_a", "doc_id")
    )
    return (
        new.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__exact", F.lit(0)).cast("long").alias("is_exact_dup"),
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near_corpus"),
        )
    )


def _dedup_incremental_sql() -> str:
    from trackdechets_etl_spark.queries.llm import _SHINGLES, JACCARD_THRESHOLD

    return f"""
WITH {_SHINGLES},
new_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % {_INCR_MOD} = 0),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % {_INCR_MOD} <> 0),
exact AS (
    SELECT n.doc_id, 1 AS is_exact
    FROM new_docs n
    WHERE EXISTS (SELECT 1 FROM corpus c WHERE md5(c.text) = md5(n.text))),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE a.doc_id % {_INCR_MOD} = 0 AND b.doc_id % {_INCR_MOD} <> 0),
inter AS (
    SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2),
near AS (
    SELECT id_a AS doc_id, CAST(count(*) AS BIGINT) AS n_near
    FROM inter
    JOIN sizes za ON inter.id_a = za.doc_id
    JOIN sizes zb ON inter.id_b = zb.doc_id
    WHERE round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6)
          >= {JACCARD_THRESHOLD}
    GROUP BY 1)
SELECT n.doc_id,
       CAST(coalesce(e.is_exact, 0) AS BIGINT) AS is_exact_dup,
       CAST(coalesce(r.n_near, 0) AS BIGINT) AS n_near_corpus
FROM new_docs n
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near r USING (doc_id)
"""


# ------------------------------------------------------------ A/B lift


def _events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment readout per event type: users split into
    deterministic cohorts (``user_id % 2`` — in production the
    md5-bucketed split of ``split_train_val_test``), then mean lift
    and the Welch z-statistic from per-cohort (n, mean, var) — all
    mergeable aggregates, one scan, no window. The z formula is the
    same closed form in both engines; rounded at 4."""
    e = read_table(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type", (F.col("user_id") % 2).alias("__cohort")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = g.filter(F.col("__cohort") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = g.filter(F.col("__cohort") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    j = a.join(b, "event_type")
    se = F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b"))
    return j.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("m_b") - F.col("m_a"), 4).alias("lift"),
        F.round((F.col("m_b") - F.col("m_a")) / se, 4).alias("welch_z"),
    )


EVENTS_AB_LIFT_SQL = """
WITH g AS (
    SELECT event_type, user_id % 2 AS cohort,
           count(*) AS n, avg(value) AS m, var_samp(value) AS v
    FROM events GROUP BY 1, 2)
SELECT a.event_type,
       CAST(a.n AS BIGINT) AS n_a,
       CAST(b.n AS BIGINT) AS n_b,
       round(b.m - a.m, 4) AS lift,
       round((b.m - a.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS welch_z
FROM g a JOIN g b
  ON a.event_type = b.event_type AND a.cohort = 0 AND b.cohort = 1
"""


# ---------------------------------------------------------- cohort LTV


def _orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curve by acquisition cohort: customers
    cohorted by first-order year, then CUMULATIVE revenue per customer
    tracked across years-since-acquisition — the classic triangle a
    growth team reads. First-order year is a min-aggregate (no
    window over the fact); the cumulative sum runs over the tiny
    (cohort × age) grid."""
    o = read_table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    j = o.join(first, "o_custkey").select(
        "cohort_year",
        (F.year("o_orderdate") - F.col("cohort_year")).alias("age_years"),
        "o_totalprice",
    )
    cell = j.groupBy("cohort_year", "age_years").agg(
        F.sum("o_totalprice").alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    size = first.groupBy("cohort_year").agg(
        F.count(F.lit(1)).alias("cohort_customers")
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("age_years")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.join(size, "cohort_year")
        .select(
            "cohort_year",
            "age_years",
            F.col("n_orders").cast("long").alias("n_orders"),
            "cohort_customers",
            F.round(
                F.sum("rev").over(w) / F.col("cohort_customers"), 2
            ).alias("cum_ltv_per_customer"),
        )
    )


ORDERS_COHORT_LTV_SQL = """
WITH first AS (
    SELECT o_custkey, min(year(o_orderdate)) AS cohort_year
    FROM orders GROUP BY 1),
j AS (
    SELECT f.cohort_year,
           year(o.o_orderdate) - f.cohort_year AS age_years,
           o.o_totalprice
    FROM orders o JOIN first f USING (o_custkey)),
cell AS (
    SELECT cohort_year, age_years, sum(o_totalprice) AS rev,
           count(*) AS n_orders
    FROM j GROUP BY 1, 2),
size AS (
    SELECT cohort_year, CAST(count(*) AS BIGINT) AS cohort_customers
    FROM first GROUP BY 1)
SELECT c.cohort_year, c.age_years,
       CAST(c.n_orders AS BIGINT) AS n_orders,
       s.cohort_customers,
       round(sum(c.rev) OVER (
           PARTITION BY c.cohort_year ORDER BY c.age_years
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / s.cohort_customers, 2) AS cum_ltv_per_customer
FROM cell c JOIN size s USING (cohort_year)
"""


# ------------------------------------------------------ entropy profile


def _events_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral
    diversity feature (0 = monomaniac, log2(5) ≈ 2.32 = uniform over
    the five types). Two hash aggregates, no window: per-(user, type)
    counts, then ``-Σ p·log2 p`` per user via sum over the group. The
    log terms are computed identically in both engines and summed per
    group in a canonical order via the rounded column, so results
    hash-match."""
    e = read_table(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wtot = Window.partitionBy("user_id")
    p = (F.col("n") / F.sum("n").over(wtot)).alias("p")
    scored = ut.select("user_id", F.col("n"), p)
    return (
        scored.groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(
                -F.sum(F.col("p") * F.log2("p")), 6
            ).alias("entropy_bits"),
        )
    )


EVENTS_ENTROPY_SQL = """
WITH ut AS (
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY 1, 2),
scored AS (
    SELECT user_id, n,
           n / CAST(sum(n) OVER (PARTITION BY user_id) AS DOUBLE) AS p
    FROM ut)
SELECT user_id,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       round(-sum(p * log2(p)), 6) AS entropy_bits
FROM scored GROUP BY user_id
"""


# ----------------------------------------------------------- Zipf fit

_ZIPF_TOP = 200


def _text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope of
    log10(frequency) on log10(rank) over the top-200 tokens (natural
    language sits near −1; synthetic or templated corpora drift, so
    the slope is a cheap corpus-quality fingerprint). Token counts are
    a distributed hash aggregate; ranking happens on the tiny vocab
    frame; ``regr_slope``/``regr_intercept``/``regr_r2`` are the same
    closed forms in both engines."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    top = vocab.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= _ZIPF_TOP
    )
    pts = top.select(
        F.log10("rank").alias("lx"), F.log10("n").alias("ly")
    )
    return pts.agg(
        F.round(F.expr("regr_slope(ly, lx)"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ly, lx)"), 6).alias("zipf_intercept"),
        F.round(F.expr("regr_r2(ly, lx)"), 6).alias("r2"),
        F.count(F.lit(1)).alias("n_points"),
    )


TEXT_ZIPF_SQL = f"""
WITH toks AS (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents),
vocab AS (
    SELECT tok, count(*) AS n FROM toks WHERE tok <> '' GROUP BY 1),
top AS (
    SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank
    FROM vocab QUALIFY rank <= {_ZIPF_TOP}),
pts AS (SELECT log10(rank) AS lx, log10(n) AS ly FROM top)
SELECT round(regr_slope(ly, lx), 6) AS zipf_slope,
       round(regr_intercept(ly, lx), 6) AS zipf_intercept,
       round(regr_r2(ly, lx), 6) AS r2,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts
"""


# ----------------------------------------------- equi-depth histogram

_EQD_BUCKETS = 10


def _agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals: ``ntile`` assigns equal
    row counts per bucket (the twin of ``agg_histogram``'s equal-WIDTH
    bins — equi-depth is what optimizers and drift monitors actually
    keep, since it bounds per-bucket error under skew). One global
    sort-window; ties broken by o_orderkey so the bucket boundaries
    are engine-deterministic. Buckets are bit-identical to ntile but
    computed via the distributed global rank + closed-form split
    (operators/ranking.py) — the global sort is Spark's
    range-partitioned machinery, never a single window task."""
    from trackdechets_etl_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_total = o.agg(F.count(F.lit(1)).alias("__n"))
    b = (
        global_row_number(
            o, [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()], "__rk"
        )
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "bucket", ntile_from_rank(F.col("__rk"), F.col("__n"), _EQD_BUCKETS)
        )
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.avg("o_totalprice"), 4).alias("mean"),
    )


AGG_EQUIDEPTH_SQL = f"""
WITH b AS (
    SELECT o_totalprice,
           ntile({_EQD_BUCKETS}) OVER (
               ORDER BY o_totalprice, o_orderkey) AS bucket
    FROM orders)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       round(avg(o_totalprice), 4) AS mean
FROM b GROUP BY bucket
"""


# --------------------------------------------------- CUSUM changepoint


def _events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection per event type via CUSUM: cumulative sum
    of deviations from the series mean peaks (in absolute value) at
    the most likely level-shift point. Two window passes over one
    (type, day) aggregate — mean via an unbounded frame, running sum
    via the ordered frame — then a deterministic argmax (rank key
    rounded, day-asc tie-break). No iteration, no UDF; the per-type
    series is the only window state."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum("value").alias("x")
    )
    wall = Window.partitionBy("event_type")
    word = wall.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = daily.withColumn("__mean", F.avg("x").over(wall)).withColumn(
        "__cusum", F.sum(F.col("x") - F.col("__mean")).over(word)
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.round(F.abs("__cusum"), 6).desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            F.round(F.abs("__cusum"), 4).alias("max_abs_cusum"),
        )
    )


EVENTS_CUSUM_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
    FROM events GROUP BY 1, 2),
centered AS (
    SELECT event_type, day, x,
           avg(x) OVER (PARTITION BY event_type) AS m
    FROM daily),
scored AS (
    SELECT event_type, day,
           sum(x - m) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
    FROM centered),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY event_type
        ORDER BY round(abs(cusum), 6) DESC, day ASC) AS rn
    FROM scored)
SELECT event_type, day AS changepoint_day,
       round(abs(cusum), 4) AS max_abs_cusum
FROM ranked WHERE rn = 1
"""


# ------------------------------------------------------- containment

_CONTAINMENT_T = 0.9


def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (id_a contained in id_b,
    C = |sh(A)∩sh(B)|/|sh(A)| ≥ 0.9) via
    :func:`llm.dedup.containment_pairs` — the measure that catches a
    document EMBEDDED in a larger host (quotes, excerpts,
    boilerplate-wrapped copies) where symmetric Jaccard dilutes below
    any useful threshold. Prefix filter prunes only the contained
    side; exactness vs the naive join is pinned in tests/test_llm.py
    and the oracle IS the naive join."""
    from trackdechets_etl_spark.llm.dedup import containment_pairs

    d = read_table(spark, sf_dir, "documents")
    return containment_pairs(d, "text", "doc_id", threshold=_CONTAINMENT_T)


def _dedup_containment_sql() -> str:
    from trackdechets_etl_spark.queries.llm import _SHINGLES

    return f"""
WITH {_SHINGLES},
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_inter
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_inter / za.n_sh, 6) AS containment
FROM inter JOIN sizes za ON inter.id_a = za.doc_id
WHERE round(n_inter / za.n_sh, 6) >= {_CONTAINMENT_T}
"""


# ------------------------------------------------------------- TWAP


def _events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type: each observation is
    weighted by how long it was "current" (until the type's next
    event); the last observation of a type carries no weight. The
    hold durations come from ``lead`` over integer MICROSECONDS
    (``unix_micros`` ↔ ``epoch_us`` — both engines difference the same
    integers; float epoch seconds would straddle, the
    events_windowed_dedup lesson), so the only float work is the final
    weighted mean, rounded."""
    e = read_table(spark, sf_dir, "events")
    # ts may arrive as TIMESTAMP_NTZ; route through TIMESTAMP for
    # unix_micros (UTC session tz — same integers as DuckDB epoch_us)
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    wo = Window.partitionBy("event_type").orderBy(t, "event_id")
    held = e.select(
        "event_type",
        "value",
        (F.lead(t, 1).over(wo) - t).alias("__hold_us"),
    ).filter(F.col("__hold_us").isNotNull())
    return held.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("value") * F.col("__hold_us")) / F.sum("__hold_us"), 6
        ).alias("twap"),
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("__hold_us").cast("long").alias("span_us"),
    )


EVENTS_TWAP_SQL = """
WITH held AS (
    SELECT event_type, value,
           lead(epoch_us(ts)) OVER (
               PARTITION BY event_type
               ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS hold_us
    FROM events)
SELECT event_type,
       round(sum(value * hold_us) / sum(hold_us), 6) AS twap,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(hold_us) AS BIGINT) AS span_us
FROM held WHERE hold_us IS NOT NULL
GROUP BY event_type
"""


# ------------------------------------------------------- winsorization


def _events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-stats cleaning block: per event type, clip values at the
    exact p05/p95 (linear-interpolation percentile in both engines)
    and report raw vs winsorized mean/stddev — the standard
    outlier-taming step before a training-data quality gate. The
    percentiles join back as a broadcast (one row per type), so the
    second pass is clip + aggregate, no sort."""
    e = read_table(spark, sf_dir, "events").select("event_type", "value")
    pcts = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("__p05"),
        F.expr("percentile(value, 0.95)").alias("__p95"),
    )
    clipped = e.join(F.broadcast(pcts), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("__p05")), F.col("__p95")).alias(
            "__w"
        ),
    )
    return clipped.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mean_raw"),
        F.round(F.stddev_samp("value"), 6).alias("std_raw"),
        F.round(F.avg("__w"), 6).alias("mean_winsorized"),
        F.round(F.stddev_samp("__w"), 6).alias("std_winsorized"),
    )


EVENTS_WINSORIZED_SQL = """
WITH pcts AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS p05,
           quantile_cont(value, 0.95) AS p95
    FROM events GROUP BY 1),
clipped AS (
    SELECT e.event_type, e.value,
           least(greatest(e.value, p.p05), p.p95) AS w
    FROM events e JOIN pcts p USING (event_type))
SELECT event_type,
       round(avg(value), 6) AS mean_raw,
       round(stddev_samp(value), 6) AS std_raw,
       round(avg(w), 6) AS mean_winsorized,
       round(stddev_samp(w), 6) AS std_winsorized
FROM clipped GROUP BY event_type
"""


# ------------------------------------------------------- Benford audit


def _dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit on order totals — the
    forensic DQ check for fabricated numeric columns: observed digit
    share vs log10(1 + 1/d), one scan + a 9-row aggregate. Exposing it
    as a query (not a pass/fail gate) keeps thresholds a caller
    policy."""
    o = read_table(spark, sf_dir, "orders")
    # first digit of floor(|x|): integer rendering is canonical in both
    # engines (double→string can go scientific above 1e7 and differ)
    d1 = F.substring(
        F.floor(F.abs(F.col("o_totalprice"))).cast("long").cast("string"), 1, 1
    ).cast("int")
    digits = o.select(d1.alias("digit")).filter(F.col("digit").between(1, 9))
    agg = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    return agg.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("observed_share"),
        F.round(
            F.log10((F.col("digit") + 1) / F.col("digit")), 6
        ).alias("benford_share"),
    )


DQ_BENFORD_SQL = """
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders),
agg AS (
    SELECT digit, count(*) AS n FROM digits
    WHERE digit BETWEEN 1 AND 9 GROUP BY 1)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n / sum(n) OVER (), 6) AS observed_share,
       round(log10((digit + 1.0) / digit), 6) AS benford_share
FROM agg
"""


QUERIES: dict[str, QuerySpec] = {
    "events_gap_ffill": QuerySpec(_events_gap_ffill, EVENTS_GAP_FFILL_SQL),
    "events_ewma_daily": QuerySpec(_events_ewma_daily, EVENTS_EWMA_SQL),
    "weighted_median_parts": QuerySpec(
        _weighted_median_parts, WEIGHTED_MEDIAN_SQL
    ),
    "join_grid_spatial": QuerySpec(_join_grid_spatial, GRID_SPATIAL_SQL),
    "text_bpe_pairs": QuerySpec(_text_bpe_pairs, TEXT_BPE_PAIRS_SQL),
    "sketch_countmin_heavyhitters": QuerySpec(_sketch_countmin, SKETCH_CMS_SQL),
    "events_rolling_median": QuerySpec(
        _events_rolling_median, EVENTS_ROLLING_MEDIAN_SQL
    ),
    "dedup_incremental_batch": QuerySpec(
        _dedup_incremental_batch, _dedup_incremental_sql()
    ),
    "dedup_containment_pairs": QuerySpec(
        _dedup_containment, _dedup_containment_sql()
    ),
    "events_ab_lift": QuerySpec(_events_ab_lift, EVENTS_AB_LIFT_SQL),
    "orders_cohort_ltv": QuerySpec(_orders_cohort_ltv, ORDERS_COHORT_LTV_SQL),
    "events_entropy_profile": QuerySpec(
        _events_entropy_profile, EVENTS_ENTROPY_SQL
    ),
    "text_zipf_fit": QuerySpec(_text_zipf_fit, TEXT_ZIPF_SQL),
    "agg_histogram_equidepth": QuerySpec(
        _agg_histogram_equidepth, AGG_EQUIDEPTH_SQL
    ),
    "events_cusum_changepoint": QuerySpec(
        _events_cusum_changepoint, EVENTS_CUSUM_SQL
    ),
    "events_twap": QuerySpec(_events_twap, EVENTS_TWAP_SQL),
    "events_winsorized_stats": QuerySpec(
        _events_winsorized_stats, EVENTS_WINSORIZED_SQL
    ),
    "dq_benford_digits": QuerySpec(_dq_benford_digits, DQ_BENFORD_SQL),
}
