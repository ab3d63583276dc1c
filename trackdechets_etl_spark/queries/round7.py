"""Round-5 additions, second batch: sequence mining, corpus-level
passage dedup and retrieval-index building — the remaining operator families a 100 TB training-data pipeline reaches
for that were not yet first-class.

- Sequence / MATCH_RECOGNIZE-style: ``events_pattern_match`` compiles
  each user's ordered event stream to an initial string and runs a
  regex over it — the classic emulation of SQL MATCH_RECOGNIZE with
  one aggregation and zero joins.
- Time-series: ``events_rolling_corr`` (7-day rolling Pearson r from
  exact integer window sums), ``events_gap_interpolate`` (linear
  interpolation across spine gaps — the bfill/lerp twin of
  ``events_gap_ffill``).
- Corpus dedup (Lee et al. 2022-style): ``text_repeated_ngrams``
  (cross-document repeated 5-gram spans) and ``text_passage_dedup``
  (global passage-level dedup with per-document reconstruction —
  the Dolma/C4 paragraph-dedup shape).
- Retrieval: ``text_posting_lists`` (inverted-index build).
- Feature engineering: ``embedding_standardize`` (per-dimension
  z-score over the exploded feature matrix).
- Distribution stats: ``orders_gini`` (exact Gini coefficient of
  customer revenue concentration), ``events_chisq`` (chi-square
  contingency cells for event_type × user-cohort independence).

All pure DataFrame algebra with exact DuckDB twins. Floating-point
engine divergence is pre-empted the same way as rounds 4-5: every
quantity that feeds a window sum or a rank is first snapped to an
exact integer grid (micro/milli units — ``round(x*1e6)`` is exact on
both engines), so cross-engine float drift cannot reorder ranks or
flip a rounded output digit. Invariant tests live in
tests/test_round7.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------------ sequence pattern match

_SEQ_PATTERN = "v+p"  # one-or-more views immediately followed by a purchase


def _events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE emulation: per user, the event-type initials are
    concatenated in (ts, event_id) order into one string per user —
    ``array_sort`` over collected (ts, event_id, initial) structs keeps
    it a single aggregation with no window pass — then a regex counts
    non-overlapping ``v+p`` runs (views converting to a purchase).
    Greedy leftmost non-overlapping semantics are identical in Java
    regex (Spark) and RE2 (DuckDB) for this pattern class. At 100 TB
    the per-user string is bounded by events-per-user, not corpus
    size, and the shuffle carries one row per user."""
    e = read_table(spark, sf_dir, "events")
    s = F.struct(
        F.col("ts"),
        F.col("event_id"),
        F.substring("event_type", 1, 1).alias("ini"),
    )
    seq = (
        e.select("user_id", s.alias("s"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["ini"]
                ),
                "",
            ).alias("seq")
        )
    )
    n = F.regexp_count(F.col("seq"), F.lit(_SEQ_PATTERN))
    return (
        seq.select(
            "user_id",
            F.length("seq").cast("long").alias("seq_len"),
            n.cast("long").alias("n_view_buy"),
        )
        .filter(F.col("n_view_buy") > 0)
        .orderBy("user_id")
    )


EVENTS_PATTERN_SQL = f"""
WITH s AS (
    SELECT user_id,
           string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
    FROM events GROUP BY user_id)
SELECT user_id,
       CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, '{_SEQ_PATTERN}')) AS BIGINT)
           AS n_view_buy
FROM s
WHERE len(regexp_extract_all(seq, '{_SEQ_PATTERN}')) > 0
ORDER BY user_id
"""


# ------------------------------------------------- rolling correlation


def _events_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between daily event count and
    daily mean value, per event type. The correlation is computed from
    the closed-form sums — not ``corr()`` — because the two engines
    disagree on degenerate windows (Spark NaN vs DuckDB NULL) and on
    sliding-aggregate association order (DuckDB segment trees vs
    Spark's frame scan). Both hazards vanish by snapping the inputs to
    integers first: daily count is integral, daily mean is snapped to
    milli-units, so every window sum is exact int64 arithmetic and the
    final double formula is bit-deterministic. Window frames are ROWS
    (-6..0); only full 7-row frames are emitted."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.round(F.avg("value") * 1000).cast("long").alias("y"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    den = (cnt * sxx - sx * sx).cast("double") * (
        cnt * syy - sy * sy
    ).cast("double")
    r = F.when(
        den > 0, (cnt * sxy - sx * sy).cast("double") / F.sqrt(den)
    )
    return (
        daily.select(
            "event_type",
            "day",
            F.col("x").cast("long").alias("n_events"),
            cnt.alias("__cnt"),
            F.round(r, 6).alias("corr7"),
        )
        .filter(F.col("__cnt") == 7)
        .drop("__cnt")
    )


EVENTS_ROLLING_CORR_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS x,
           CAST(round(avg(value) * 1000, 0) AS BIGINT) AS y
    FROM events GROUP BY 1, 2),
win AS (
    SELECT event_type, day, x,
           sum(x)     OVER w AS sx,
           sum(y)     OVER w AS sy,
           sum(x * x) OVER w AS sxx,
           sum(y * y) OVER w AS syy,
           sum(x * y) OVER w AS sxy,
           count(*)   OVER w AS cnt
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT event_type, day, CAST(x AS BIGINT) AS n_events,
       round(CASE WHEN CAST(cnt * sxx - sx * sx AS DOUBLE)
                       * CAST(cnt * syy - sy * sy AS DOUBLE) > 0
                  THEN CAST(cnt * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(cnt * sxx - sx * sx AS DOUBLE)
                              * CAST(cnt * syy - sy * sy AS DOUBLE))
             END, 6) AS corr7
FROM win WHERE cnt = 7
"""


# --------------------------------------------- linear gap interpolation


def _events_gap_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample per event type with interior gaps LINEARLY
    interpolated (the lerp twin of ``events_gap_ffill``): one fact scan
    builds the hourly mean (snapped to exact milli-units), the
    [min, max] hour spine is derived from that aggregate, and two
    ignore-nulls window passes fetch the bracketing observations —
    ``last`` over the preceding frame, ``first`` over the following —
    plus their integer epoch-hours for the interpolation fraction.
    Hours outside the observed range for a type stay NULL. At 100 TB
    the spine is |hours| × |types| regardless of event count and the
    windows are per-type passes over that spine."""
    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.round(F.avg("value") * 1000).cast("long").alias("__v"))
    agg = materialize(agg, eager=False)
    bounds = agg.agg(
        F.min("bucket_ts").alias("h0"), F.max("bucket_ts").alias("h1")
    )
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias(
            "bucket_ts"
        )
    )
    types = agg.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types)).join(
        agg, ["event_type", "bucket_ts"], "left"
    )
    eh = (F.unix_timestamp("bucket_ts") / 3600).cast("long")
    grid = grid.withColumn("__eh", eh)
    wp = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("__v").isNotNull(), F.col("__eh"))
    pv = F.last("__v", ignorenulls=True).over(wp)
    ph = F.last(obs_h, ignorenulls=True).over(wp)
    nv = F.first("__v", ignorenulls=True).over(wn)
    nh = F.first(obs_h, ignorenulls=True).over(wn)
    lerp = (
        pv.cast("double")
        + (nv - pv).cast("double")
        * (F.col("__eh") - ph).cast("double")
        / (nh - ph).cast("double")
    ) / 1000.0
    interp = F.when(F.col("__v").isNotNull(), F.col("__v") / 1000.0).when(
        pv.isNotNull() & nv.isNotNull(), lerp
    )
    return grid.select(
        "event_type",
        "bucket_ts",
        F.round(interp, 6).alias("value_interp"),
        (F.col("__v").isNull() & interp.isNotNull()).alias("was_gap"),
    )


EVENTS_INTERP_SQL = """
WITH agg AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
           CAST(round(avg(value) * 1000, 0) AS BIGINT) AS v
    FROM events GROUP BY 1, 2),
b AS (SELECT min(bucket_ts) AS h0, max(bucket_ts) AS h1 FROM agg),
spine AS (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket_ts
    FROM b),
types AS (SELECT DISTINCT event_type FROM agg),
grid AS (
    SELECT t.event_type, s.bucket_ts, a.v,
           CAST(floor(epoch(s.bucket_ts) / 3600) AS BIGINT) AS eh
    FROM spine s CROSS JOIN types t
    LEFT JOIN agg a
      ON a.event_type = t.event_type AND a.bucket_ts = s.bucket_ts),
br AS (
    SELECT *,
           last_value(v IGNORE NULLS) OVER wp AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER wp AS ph,
           first_value(v IGNORE NULLS) OVER wn AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER wn AS nh
    FROM grid
    WINDOW wp AS (PARTITION BY event_type ORDER BY bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY event_type ORDER BY bucket_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, bucket_ts,
       round(CASE WHEN v IS NOT NULL THEN v / 1000.0
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                      (CAST(pv AS DOUBLE)
                       + CAST(nv - pv AS DOUBLE)
                         * CAST(eh - ph AS DOUBLE)
                         / CAST(nh - ph AS DOUBLE)) / 1000.0
             END, 6) AS value_interp,
       (v IS NULL AND (pv IS NOT NULL AND nv IS NOT NULL)) AS was_gap
FROM br
"""


# ------------------------------------------- corpus repeated n-grams

_NGRAM_N = 5
_NGRAM_TOPK = 100


def _text_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-gram detection (the unit of the exact
    substring-dedup family, Lee et al. 2022): every 5-token span is
    emitted once per position, grouped corpus-wide, and spans seen in
    ≥2 distinct documents are ranked by total occurrences. The
    ``sequence`` start-index guard keeps short docs from generating a
    DESCENDING sequence (Spark's sequence(1, 0) is [1, 0], not empty).
    At 100 TB the explode is ~tokens-per-corpus rows of small strings
    — hash-partitioned by gram with map-side partial aggregation, and
    the final top-k is TakeOrderedAndProject, not a global sort."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    starts = F.when(
        F.size("t") >= _NGRAM_N,
        F.sequence(F.lit(1), F.size("t") - (_NGRAM_N - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.concat_ws(" ", F.slice("t", i, _NGRAM_N)),
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_occ").desc(), F.col("n_docs").desc(), F.col("gram")
        )
        .limit(_NGRAM_TOPK)
    )


TEXT_REPEATED_NGRAMS_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
    SELECT doc_id,
           array_to_string(t[CAST(i AS BIGINT):CAST(i AS BIGINT) + {_NGRAM_N - 1}], ' ')
               AS gram
    FROM toks, UNNEST(range(1, len(t) - {_NGRAM_N - 2})) AS u(i)
    WHERE len(t) >= {_NGRAM_N})
SELECT gram,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM g GROUP BY gram
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occ DESC, n_docs DESC, gram
LIMIT {_NGRAM_TOPK}
"""


# ------------------------------------------------ passage-level dedup

_PASSAGE_LEN = 20


def _text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global passage-level dedup with document reconstruction (the
    Dolma/C4 paragraph-dedup shape): documents are segmented into
    fixed 20-token passages, each distinct passage string keeps only
    its first occurrence corpus-wide (min (doc_id, chunk_idx) — a
    deterministic window rank, not ``dropDuplicates``), and every
    document is reassembled from its surviving passages in order.
    Documents that lose all passages survive as empty strings — the
    downstream length filter's job, not dedup's. At 100 TB the
    shuffle key is the passage string (hash it to 16 bytes first in a
    real deployment — same plan shape), and reconstruction is one
    aggregation keyed by doc_id."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    n_chunks = F.ceil(F.size("t") / F.lit(float(_PASSAGE_LEN))).cast("int")
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda j: F.struct(
                    j.cast("long").alias("chunk_idx"),
                    F.concat_ws(
                        " ", F.slice("t", j * _PASSAGE_LEN + 1, _PASSAGE_LEN)
                    ).alias("passage"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_idx", "c.passage")
    w = Window.partitionBy("passage").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("__rn", F.row_number().over(w))
    kept = F.when(
        F.col("__rn") == 1,
        F.struct(F.col("chunk_idx"), F.col("passage")),
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)),
                    lambda x: x["passage"],
                ),
                " ",
            ).alias("clean_text"),
            F.sum((F.col("__rn") > 1).cast("long")).alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


TEXT_PASSAGE_DEDUP_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ch AS (
    SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
           array_to_string(
               t[CAST(j * {_PASSAGE_LEN} + 1 AS BIGINT)
                 :CAST(j * {_PASSAGE_LEN} + {_PASSAGE_LEN} AS BIGINT)], ' ')
               AS passage
    FROM toks,
         UNNEST(range(0, CAST(ceil(len(t) / {_PASSAGE_LEN}.0) AS BIGINT)))
             AS u(j)),
k AS (
    SELECT doc_id, chunk_idx, passage,
           row_number() OVER (PARTITION BY passage
                              ORDER BY doc_id, chunk_idx) AS rn
    FROM ch)
SELECT doc_id,
       coalesce(string_agg(passage, ' ' ORDER BY chunk_idx)
                    FILTER (rn = 1), '') AS clean_text,
       CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_dropped
FROM k GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------- inverted index build

_POSTING_HEAD = 20


def _text_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: distinct (token, doc) postings, document
    frequency per token, and the first 20 doc ids of the sorted
    posting list serialized as CSV (real indexes shard the tail; the
    head is what a broadcastable dictionary carries). The distinct is
    a map-side-combinable aggregation keyed by (token, doc_id); the
    list head keeps the reduced row bounded regardless of df. At
    100 TB this is the build side of ``text_tfidf_topk``'s DF table."""
    d = read_table(spark, sf_dir, "documents")
    postings = d.select(
        F.explode(F.split("text", " ")).alias("token"), "doc_id"
    ).distinct()
    head = F.slice(F.sort_array(F.collect_list("doc_id")), 1, _POSTING_HEAD)
    return (
        postings.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(head, lambda x: x.cast("string")), ","
            ).alias("posting_head"),
        )
        .orderBy("token")
    )


TEXT_POSTING_LISTS_SQL = f"""
WITH p AS (
    SELECT DISTINCT doc_id, token
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)),
agg AS (
    SELECT token, count(*) AS df, list_sort(list(doc_id)) AS ids
    FROM p GROUP BY token)
SELECT token, CAST(df AS BIGINT) AS df,
       array_to_string(
           list_transform(ids[1:{_POSTING_HEAD}], x -> CAST(x AS VARCHAR)),
           ',') AS posting_head
FROM agg ORDER BY token
"""


# --------------------------------------- per-dimension standardization


def _embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score over the exploded feature matrix: each
    embedding component is snapped to exact micro-units (|v| < 1 so
    round(v·1e6) is exact int64 on both engines), per-dimension
    moments come from integer sums, and the standardized vector is
    reassembled in dimension order. The 64-row stats side broadcasts;
    the explode is rows × dims but carries only (id, int, int) — the
    standard feature-scaling pass of an ML data pipeline, shuffle
    volume ~16 bytes per cell. Zero-variance dimensions map to 0.0."""
    e = read_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("i", "v"),
    ).select(
        "vec_id",
        "i",
        F.round(F.col("v").cast("double") * 1000000).cast("long").alias("u"),
    )
    stats = ex.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").alias("s"),
        F.sum(F.col("u") * F.col("u")).alias("ss"),
    )
    joined = ex.join(F.broadcast(stats), "i")
    var_n2 = (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast(
        "double"
    )
    z = F.when(var_n2 > 0,
        (F.col("n") * F.col("u") - F.col("s")).cast("double")
        / F.sqrt(var_n2),
    ).otherwise(F.lit(0.0))
    # Flat output contract (driver canonicalizes through pandas): the
    # standardized vector is serialized as ','-joined micro-unit ints —
    # round(z·1e6) is exact int64 on both engines, like
    # llm.embedding_normalize's unit_micro column.
    zm = F.round(z * 1000000).cast("long")
    return (
        joined.select("vec_id", "i", zm.alias("zm"))
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("i"), F.col("zm")))
                    ),
                    lambda x: x["zm"].cast("string"),
                ),
                ",",
            ).alias("z_micro")
        )
        .orderBy("vec_id")
    )


EMBEDDING_STANDARDIZE_SQL = """
WITH ex AS (
    SELECT vec_id, CAST(i AS INTEGER) AS i,
           CAST(round(CAST(embedding[CAST(i + 1 AS BIGINT)] AS DOUBLE)
                      * 1000000, 0) AS BIGINT) AS u
    FROM embeddings, UNNEST(range(0, len(embedding))) AS t(i)),
stats AS (
    SELECT i, count(*) AS n, sum(u) AS s, sum(u * u) AS ss
    FROM ex GROUP BY i)
SELECT vec_id,
       string_agg(
           CAST(CAST(round(
               CASE WHEN CAST(n * ss - s * s AS DOUBLE) > 0
                    THEN CAST(n * u - s AS DOUBLE)
                         / sqrt(CAST(n * ss - s * s AS DOUBLE))
                    ELSE 0.0 END * 1000000, 0) AS BIGINT) AS VARCHAR),
           ',' ORDER BY ex.i) AS z_micro
FROM ex JOIN stats USING (i)
GROUP BY vec_id ORDER BY vec_id
"""


# ------------------------------------------------------ Gini coefficient


def _orders_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue concentration via
    the rank formula G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending
    per-customer revenue (snapped to exact cents; rank ties broken by
    custkey — equal x makes the tie-break Gini-neutral). One narrow
    aggregation, one global rank, one scalar: the whole statistic is
    two shuffles of (custkey, int64) pairs. Companion to
    ``orders_pareto``'s concentration curve."""
    from trackdechets_etl_spark.operators.ranking import global_row_number

    o = read_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents")
    )
    # rank via the range-partitioned distributed row_number — the
    # customers frame never collapses to a single window task.
    ranked = global_row_number(
        per, [F.col("cents").asc(), F.col("o_custkey").asc()], "i"
    ).select("cents", "i")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("cents") / 100.0, 2).alias("total_revenue"),
        F.round(
            2.0
            # rank-weighted sum accumulates in decimal(38,0): at large
            # SFs it grows ~n_customers^2 * avg_cents and would wrap
            # int64 silently where DuckDB promotes to HUGEINT (the
            # round28 burstiness sum-of-squares convention).
            * F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).cast("double")
            / (F.count(F.lit(1)).cast("decimal(38,0)") * F.sum("cents")).cast(
                "double"
            )
            - (F.count(F.lit(1)) + 1).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("gini"),
    )


ORDERS_GINI_SQL = """
WITH per AS (
    SELECT o_custkey,
           CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey),
ranked AS (
    SELECT cents,
           row_number() OVER (ORDER BY cents, o_custkey) AS i
    FROM per)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(cents) / 100.0, 2) AS total_revenue,
       round(2.0 * CAST(sum(i * cents) AS DOUBLE)
                 / CAST(count(*) * sum(cents) AS DOUBLE)
             - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE),
             6) AS gini
FROM ranked
"""


# ------------------------------------------------ chi-square contingency

_CHISQ_BUCKETS = 3


def _events_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for event_type × user cohort
    (user_id mod 3): observed counts, expected counts under
    independence (row·col/grand from exact integer marginals), and
    per-cell contribution (o−e)²/e. The cell table is |types|×|cohorts|
    so the marginal windows run over a frame that fits in one task at
    any scale; the only fact-sized work is the first aggregation.
    Complements ``events_ab_lift`` with the test statistic's cells."""
    e = read_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (F.col("user_id") % _CHISQ_BUCKETS).cast("long").alias("cohort"),
    ).agg(F.count(F.lit(1)).alias("observed"))
    row_t = F.sum("observed").over(Window.partitionBy("event_type"))
    col_t = F.sum("observed").over(Window.partitionBy("cohort"))
    grand = F.sum("observed").over(
        Window.partitionBy()
    )
    withm = cells.select(
        "event_type",
        "cohort",
        F.col("observed").cast("long").alias("observed"),
        (row_t * col_t).cast("double").alias("__rc"),
        grand.cast("double").alias("__g"),
    )
    expected = F.col("__rc") / F.col("__g")
    contrib = (F.col("observed") - expected) * (
        F.col("observed") - expected
    ) / expected
    return withm.select(
        "event_type",
        "cohort",
        "observed",
        F.round(expected, 6).alias("expected"),
        F.round(contrib, 6).alias("chisq_contrib"),
    ).orderBy("event_type", "cohort")


EVENTS_CHISQ_SQL = f"""
WITH cells AS (
    SELECT event_type,
           CAST(user_id % {_CHISQ_BUCKETS} AS BIGINT) AS cohort,
           count(*) AS observed
    FROM events GROUP BY 1, 2),
m AS (
    SELECT event_type, cohort, observed,
           CAST(sum(observed) OVER (PARTITION BY event_type)
                * sum(observed) OVER (PARTITION BY cohort) AS DOUBLE) AS rc,
           CAST(sum(observed) OVER () AS DOUBLE) AS g
    FROM cells)
SELECT event_type, cohort, CAST(observed AS BIGINT) AS observed,
       round(rc / g, 6) AS expected,
       round((observed - rc / g) * (observed - rc / g) / (rc / g), 6)
           AS chisq_contrib
FROM m ORDER BY event_type, cohort
"""


QUERIES: dict[str, QuerySpec] = {
    "events_pattern_match": QuerySpec(
        _events_pattern_match, EVENTS_PATTERN_SQL
    ),
    "events_rolling_corr": QuerySpec(
        _events_rolling_corr, EVENTS_ROLLING_CORR_SQL
    ),
    "events_gap_interpolate": QuerySpec(
        _events_gap_interpolate, EVENTS_INTERP_SQL
    ),
    "text_repeated_ngrams": QuerySpec(
        _text_repeated_ngrams, TEXT_REPEATED_NGRAMS_SQL
    ),
    "text_passage_dedup": QuerySpec(
        _text_passage_dedup, TEXT_PASSAGE_DEDUP_SQL
    ),
    "text_posting_lists": QuerySpec(
        _text_posting_lists, TEXT_POSTING_LISTS_SQL
    ),
    "embedding_standardize": QuerySpec(
        _embedding_standardize, EMBEDDING_STANDARDIZE_SQL
    ),
    "orders_gini": QuerySpec(_orders_gini, ORDERS_GINI_SQL),
    "events_chisq": QuerySpec(_events_chisq, EVENTS_CHISQ_SQL),
}
