"""Advanced relational extensions beyond the reference's §2 surface:
temporal joins (as-of, range), explicit semi/anti split, exact
quantiles, CUBE grouping, deterministic hash sampling, histogram
binning, and n-gram frequency ranking.

The reference (MTES-MCT/trackdechets-etl) has none of these — its joins
are single-key equi-joins (``dags/icpe-siretisation.py:175,243,285,311``)
and its only aggregation shapes are counts/dedups (SURVEY §2.3–2.5).
These are the operators a 100 TB training-data pipeline needs on top,
each with a DuckDB oracle so the driver's hash gate covers them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import norm_sql
from trackdechets_etl_spark.operators.percentiles import (
    exact_percentiles_value_counts,
)
from trackdechets_etl_spark.operators.temporal import (
    asof_join,
    range_join_bucketed,
    semi_anti_split,
)
from trackdechets_etl_spark.queries import QuerySpec

# --------------------------------------------------------------- as-of join


def _join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the user's latest view event at or
    before it (the classic attribution as-of). Union-trick: one shuffle
    on user_id, no key+range fanout."""
    events = read_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        purchases,
        views,
        left_key="user_id",
        right_key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["value", "event_id"],
        tie_col="event_id",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("asof_ts").alias("view_ts"),
        F.col("asof_value").alias("view_value"),
        F.col("asof_event_id").alias("view_id"),
    )


JOIN_ASOF_SQL = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'view'),
j AS (
    SELECT p.event_id AS purchase_id, v.ts, v.value, v.event_id AS view_id,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY v.ts DESC, v.event_id DESC) AS rn
    FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts)
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       j.ts AS view_ts, j.value AS view_value, j.view_id
FROM p LEFT JOIN j ON j.purchase_id = p.event_id AND j.rn = 1
"""


# --------------------------------------------------------------- range join

RANGE_HOURS = 1
BUCKET_SECONDS = RANGE_HOURS * 3600


def _join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Follow-on activity window: for each signup event, count the same
    user's events within [signup_ts, signup_ts + 1h). Time-bucketed
    equi-join on (key, bucket) + exact residual filter — per-row join
    work bounded by interval/bucket_width, not by key cardinality."""
    events = read_table(spark, sf_dir, "events")
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    acts = events.select("user_id", "ts", "value", "event_id")
    joined = range_join_bucketed(
        signups,
        acts,
        left_key="s_user",
        right_key="user_id",
        left_start=F.col("signup_ts"),
        left_end=F.col("signup_ts") + F.expr(f"INTERVAL {RANGE_HOURS} HOURS"),
        right_ts="ts",
        bucket_seconds=BUCKET_SECONDS,
    ).filter(F.col("event_id") != F.col("signup_id"))
    return joined.groupBy("signup_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


JOIN_RANGE_SQL = f"""
WITH s AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts
           FROM events WHERE event_type = 'signup')
SELECT s.signup_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM s JOIN events e ON e.user_id = s.user_id
  AND e.ts >= s.signup_ts
  AND e.ts < s.signup_ts + INTERVAL '{RANGE_HOURS} hours'
  AND e.event_id <> s.signup_id
GROUP BY 1
"""


# ---------------------------------------------------------- semi/anti split


def _join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers split into with-orders / without-orders via left-semi
    and left-anti joins (generalizes J5's existence flag)."""
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi, anti = semi_anti_split(customer, orders, "c_custkey")
    return semi.unionByName(anti)


JOIN_SEMI_ANTI_SQL = """
SELECT c_custkey, c_name, 'present' AS membership FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, c_name, 'absent' AS membership FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


# ------------------------------------------------------------ exact quantiles

QUANTILES = (0.25, 0.5, 0.75, 0.95)


def _agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of extended price per return flag
    (bit-identical to Spark ``percentile`` / DuckDB ``quantile_cont``),
    computed on the distributed value-counts path: the built-in
    aggregate funnels each group's full value map through one reducer
    (3 flags → 3 tasks — the registry's worst decade ratio at 7.5×),
    whereas the value-counts form shuffles distinct (flag, price) pairs
    map-side-combined and only serializes the per-group DISTINCT-value
    cumsum. See operators/percentiles.py."""
    li = read_table(spark, sf_dir, "lineitem")
    pct = exact_percentiles_value_counts(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        list(QUANTILES),
        [f"__r{int(q * 100)}" for q in QUANTILES],
    )
    return pct.select(
        "l_returnflag",
        *[
            F.round(F.col(f"__r{int(q * 100)}"), 4).alias(f"p{int(q * 100)}")
            for q in QUANTILES
        ],
    )


AGG_QUANTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
FROM lineitem GROUP BY 1
"""


# -------------------------------------------------------------------- cube


def _agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping sets in one
    pass (Spark expands to a union of partial aggregates map-side;
    one shuffle). Null grouping keys are disambiguated to 'ALL'."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n_rows",
            "sum_qty",
        )
    )


AGG_CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS flag,
       coalesce(l_linestatus, 'ALL') AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ------------------------------------------------- deterministic hash sample


def _sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1/8 sample: keep rows whose md5(orderkey_linenumber)
    starts with hex 0 or 1, then aggregate per return flag. Unlike
    ``df.sample()``, the predicate is engine-independent (same rows in
    any engine, any partitioning) — the right way to carve reproducible
    subsets of a 100 TB corpus. The filter is a pure projection-side
    expression: fully codegen'd, no shuffle before the aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    h = F.md5(
        F.concat_ws(
            "_",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    )
    return (
        li.filter(F.substring(h, 1, 1).isin("0", "1"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


SAMPLE_HASH_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
WHERE substr(md5(concat(CAST(l_orderkey AS VARCHAR), '_',
                        CAST(l_linenumber AS VARCHAR))), 1, 1) IN ('0', '1')
GROUP BY 1
"""


# --------------------------------------------------------------- histogram

HIST_BIN_WIDTH = 50000.0


def _agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bin id via floor division
    (identical arithmetic in any engine), count + bounds per bin."""
    o = read_table(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH)
    return o.groupBy(b.alias("bin")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


AGG_HISTOGRAM_SQL = f"""
SELECT CAST(floor(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY 1
"""


# ----------------------------------------------------------- top bigrams

TOP_NGRAMS = 20


def _text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams. The count is a distributed
    hash aggregate; the final top-k is a TakeOrdered over the (small)
    vocabulary — no global sort of the corpus."""
    d = read_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(TOP_NGRAMS)
    )


TEXT_TOP_BIGRAMS_SQL = f"""
WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
bg AS (
    SELECT array_to_string(w[i:i+1], ' ') AS bigram
    FROM toks, unnest(generate_series(1, len(w) - 1)) AS u(i)
    WHERE len(w) >= 2)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM bg GROUP BY 1
ORDER BY n DESC, bigram ASC LIMIT {TOP_NGRAMS}
"""


# -------------------------------------------------------- dedup clustering


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → one canonical doc per
    cluster. The step that turns pair output into an actual dedup."""
    from trackdechets_etl_spark.llm.dedup import ngram_jaccard_pairs
    from trackdechets_etl_spark.operators.graph import dedup_clusters
    from trackdechets_etl_spark.queries.llm import JACCARD_THRESHOLD

    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", threshold=JACCARD_THRESHOLD)
    return dedup_clusters(d, pairs, "doc_id")


def _dedup_clusters_sql() -> str:
    from trackdechets_etl_spark.queries.llm import _SHINGLES, JACCARD_THRESHOLD

    return f"""
WITH RECURSIVE {_SHINGLES},
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
pairs AS (
    SELECT id_a, id_b FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_THRESHOLD}),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(u, v) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
    UNION SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
allc AS (
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)),
szs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM allc GROUP BY 1)
SELECT doc_id, cluster_id, cluster_size,
       doc_id = cluster_id AS is_canonical
FROM allc JOIN szs USING (cluster_id)
"""


# ----------------------------------------------------------------- unpivot


def _unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long melt of three lineitem measures (``DataFrame.unpivot``
    — codegen'd Expand node, no shuffle at all)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )


UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
"""


# ------------------------------------------------------------ null-safe join


def _join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>``): flag summaries joined so the
    NULL group (flag 'N' nulled out via nullif) matches itself — plain
    equality would drop it. Spark ``eqNullSafe`` ↔ ANSI
    ``IS NOT DISTINCT FROM``."""
    li = read_table(spark, sf_dir, "lineitem")
    flag = F.nullif(F.col("l_returnflag"), F.lit("N"))
    left = li.groupBy(flag.alias("flag")).agg(F.count("*").alias("n_all"))
    right = (
        li.filter(F.col("l_quantity") > 25)
        .groupBy(flag.alias("flag2"))
        .agg(F.count("*").alias("n_high"))
    )
    return left.join(
        right, left["flag"].eqNullSafe(right["flag2"]), "left"
    ).select("flag", "n_all", "n_high")


JOIN_NULL_SAFE_SQL = """
WITH l AS (
    SELECT nullif(l_returnflag, 'N') AS flag, CAST(count(*) AS BIGINT) AS n_all
    FROM lineitem GROUP BY 1),
r AS (
    SELECT nullif(l_returnflag, 'N') AS flag2, CAST(count(*) AS BIGINT) AS n_high
    FROM lineitem WHERE l_quantity > 25 GROUP BY 1)
SELECT flag, n_all, n_high
FROM l LEFT JOIN r ON flag IS NOT DISTINCT FROM flag2
"""


# -------------------------------------------------------- conditional aggs


def _agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation (SQL FILTER clause ↔ sum(CASE WHEN)):
    conditional counts/sums computed in the same single-pass aggregate
    as the unconditional ones — no extra scan per condition."""
    li = read_table(spark, sf_dir, "lineitem")
    high_qty = F.when(F.col("l_quantity") > 25, 1).otherwise(0)
    disc_price = F.when(
        F.col("l_discount") > 0.05, F.col("l_extendedprice")
    ).otherwise(F.lit(0.0))
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_all"),
        F.sum(high_qty).cast("long").alias("n_high_qty"),
        F.round(F.sum(disc_price), 2).alias("sum_discounted_price"),
    )


AGG_CONDITIONAL_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_all,
       CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_high_qty,
       round(coalesce(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 0),
             2) AS sum_discounted_price
FROM lineitem GROUP BY 1
"""


# ------------------------------------------------------- sorted array agg


def _agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: per market segment, the sorted
    distinct list of order priorities. ``collect_set`` arrival order is
    nondeterministic after a shuffle — ``array_sort`` makes the result
    engine-stable (same discipline as A1's explicit window ordering).
    Surfaced as one '|'-joined string: the driver's canonicalizer
    cannot hash array cells (see test_oracle's schema guard)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(
                "|", F.array_sort(F.collect_set("o_orderpriority"))
            ).alias("priorities"),
            F.count("*").alias("n_orders"),
        )
    )


AGG_COLLECT_SORTED_SQL = """
SELECT c_mktsegment,
       array_to_string(list(DISTINCT o_orderpriority ORDER BY o_orderpriority), '|')
           AS priorities,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


# ----------------------------------------------------------- merge upsert


def _merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 merge: late orders (1998+) overwrite/extend the pre-1998
    snapshot, with changed rows marked by a 10% price uplift so the
    merge visibly wins over the base."""
    from trackdechets_etl_spark.operators.merge import merge_upsert

    o = read_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderdate") < F.lit("1998-01-01")).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    changes = (
        o.filter(F.col("o_orderdate") >= F.lit("1997-01-01"))
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
    )
    return merge_upsert(base, changes, "o_orderkey", ["o_totalprice", "o_orderstatus"])


MERGE_UPSERT_SQL = """
WITH base AS (
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-01-01'),
changes AS (
    SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
           'U' AS o_orderstatus
    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
       coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice,
       coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus
FROM base b FULL OUTER JOIN changes c USING (o_orderkey)
"""


# ------------------------------------------------------------- gap filling


def _events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid per event type with zero-filled empty buckets."""
    from trackdechets_etl_spark.operators.merge import gap_fill_grid

    e = read_table(spark, sf_dir, "events")
    return gap_fill_grid(e, "ts", "event_type", "value", "1 hour")


EVENTS_GAP_FILL_SQL = """
WITH b AS (SELECT date_trunc('hour', ts) AS bucket_ts, event_type, value
           FROM events),
bounds AS (SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM b),
grid_times AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket_ts
    FROM bounds),
groups AS (SELECT DISTINCT event_type FROM b),
grid AS (SELECT bucket_ts, event_type FROM grid_times, groups),
obs AS (
    SELECT bucket_ts, event_type, CAST(count(*) AS BIGINT) AS n,
           sum(value) AS s
    FROM b GROUP BY 1, 2)
SELECT g.bucket_ts, g.event_type,
       coalesce(o.n, 0) AS n_events,
       round(coalesce(o.s, 0.0), 2) AS sum_value
FROM grid g LEFT JOIN obs o USING (bucket_ts, event_type)
"""


# ---------------------------------------------- training-data pipeline


def _pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation flagship composing the verified stages:
    quality filter → exact-dedup canonical → near-dup CLUSTER canonical
    (connected components keeps one doc per duplicate group, instead of
    corpus-clean's drop-all-pair-partners) → stratified exact-N per
    language. The output is the balanced training subset a 100 TB
    corpus pipeline ships."""
    from pyspark.sql.window import Window

    from trackdechets_etl_spark.llm import text as TX
    from trackdechets_etl_spark.llm.dedup import ngram_jaccard_pairs
    from trackdechets_etl_spark.llm.tfidf import stratified_top_n
    from trackdechets_etl_spark.operators.graph import connected_components
    from trackdechets_etl_spark.queries.llm import JACCARD_THRESHOLD, QUALITY_KEEP

    d = read_table(spark, sf_dir, "documents")
    score = TX.quality_features(F.col("text"))["quality_score"]
    kept_q = d.select("doc_id", "lang", score.alias("quality_score")).filter(
        F.col("quality_score") >= QUALITY_KEEP
    )
    # Dedup via ANTI-joins against the NON-canonical id sets: a doc is
    # canonical iff it does not LOSE a dedup tie, and the loser sets
    # are dup-count-sized (tiny relative to the corpus) while the
    # canonical sets are corpus-sized. Joining the small complement
    # turns two corpus×corpus equi-joins into probes AQE broadcasts at
    # any realistic dup rate — the shape that survives 100 TB.
    wfp = Window.partitionBy("__fp")
    non_canon_exact = (
        d.select(F.md5(F.col("text")).alias("__fp"), "doc_id")
        .withColumn("__keep", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") != F.col("__keep"))
        .select("doc_id")
    )
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", threshold=JACCARD_THRESHOLD)
    # Docs in no near-dup pair are singleton clusters (canonical) — the
    # component labeling only needs the pair participants.
    non_canon_near = (
        connected_components(pairs, "id_a", "id_b")
        .filter(F.col("node") != F.col("label"))
        .select(F.col("node").alias("doc_id"))
    )
    survivors = kept_q.join(non_canon_exact, "doc_id", "left_anti").join(
        non_canon_near, "doc_id", "left_anti"
    )
    return stratified_top_n(survivors, "lang", "doc_id", STRATA_N)


def _pipeline_training_data_sql() -> str:
    from trackdechets_etl_spark.queries.llm import (
        _SHINGLES,
        _STOP_LIST,
        JACCARD_THRESHOLD,
        QUALITY_KEEP,
    )

    return f"""
WITH RECURSIVE t AS (
    SELECT doc_id, text,
           len(list_filter(string_split(text, ' '),
                           x -> list_contains({_STOP_LIST}, x))) AS n_stop,
           len(string_split(text, ' ')) AS n_words
    FROM documents),
scored AS (
    SELECT doc_id, text,
           round(least(n_words / 100.0, 1.0) * 0.5
                 + (1.0 - n_stop / n_words) * 0.5, 4) AS quality_score
    FROM t),
canon AS (
    SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keep_id
        FROM documents) WHERE doc_id = keep_id),
{_SHINGLES.strip().lstrip()},
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
pairs AS (
    SELECT id_a, id_b FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_THRESHOLD}),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(u, v) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges) seed
    UNION SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
surv AS (
    SELECT s.doc_id, d.lang, s.quality_score
    FROM scored s
    JOIN canon USING (doc_id)
    JOIN documents d USING (doc_id)
    LEFT JOIN comp c USING (doc_id)
    WHERE s.quality_score >= {QUALITY_KEEP}
      AND coalesce(c.cluster_id, s.doc_id) = s.doc_id),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY lang
        ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
    FROM surv)
SELECT doc_id, lang, quality_score FROM r WHERE rn <= {STRATA_N}
"""


# ------------------------------------------------------------------ TF-IDF

TFIDF_TOP_K = 3


def _text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.tfidf import tfidf

    d = read_table(spark, sf_dir, "documents")
    return tfidf(d, "text", "doc_id", top_k=TFIDF_TOP_K)


TEXT_TFIDF_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tc AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE term <> '' GROUP BY 1, 2),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
dfs AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
scored AS (
    SELECT tc.doc_id, tc.term, tc.tf,
           round(tc.tf * ln(nd.n / dfs.df), 6) AS tfidf
    FROM tc JOIN dfs USING (term) CROSS JOIN nd),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY round(tfidf, 9) DESC, term ASC) AS rank
    FROM scored)
SELECT doc_id, term, tf, tfidf, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {TFIDF_TOP_K}
"""


# ------------------------------------------------- stratified exact-N sample

STRATA_N = 20


def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.tfidf import stratified_top_n

    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return stratified_top_n(d, "lang", "doc_id", STRATA_N)


SAMPLE_STRATIFIED_SQL = f"""
WITH r AS (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
    FROM documents)
SELECT doc_id, lang, n_chars FROM r WHERE rn <= {STRATA_N}
"""


# ------------------------------------------------- incremental aggregation

INCR_CUTOFF = "1998-01-01"


def _incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a historical per-status
    revenue snapshot (orders before the cutoff) is combined with the
    fresh delta (orders at/after it) by SUMMING PARTIAL AGGREGATES —
    history is never rescanned. The mergeability property that makes
    100 TB rollups affordable; count and sum merge, avg re-derives."""
    o = read_table(spark, sf_dir, "orders")
    hist = (
        o.filter(F.col("o_orderdate") < F.lit(INCR_CUTOFF))
        .groupBy("o_orderstatus")
        .agg(F.sum("o_totalprice").alias("rev"), F.count("*").alias("n"))
    )
    delta = (
        o.filter(F.col("o_orderdate") >= F.lit(INCR_CUTOFF))
        .groupBy("o_orderstatus")
        .agg(F.sum("o_totalprice").alias("rev"), F.count("*").alias("n"))
    )
    return (
        hist.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("rev").alias("rev"), F.sum("n").alias("n"))
        .select(
            "o_orderstatus",
            F.round("rev", 2).alias("total_revenue"),
            F.col("n").cast("long").alias("n_orders"),
            F.round(F.col("rev") / F.col("n"), 4).alias("avg_price"),
        )
    )


INCREMENTAL_AGG_SQL = f"""
WITH hist AS (
    SELECT o_orderstatus, sum(o_totalprice) AS rev, count(*) AS n
    FROM orders WHERE o_orderdate < TIMESTAMP '{INCR_CUTOFF}' GROUP BY 1),
delta AS (
    SELECT o_orderstatus, sum(o_totalprice) AS rev, count(*) AS n
    FROM orders WHERE o_orderdate >= TIMESTAMP '{INCR_CUTOFF}' GROUP BY 1),
u AS (SELECT * FROM hist UNION ALL SELECT * FROM delta)
SELECT o_orderstatus,
       round(sum(rev), 2) AS total_revenue,
       CAST(sum(n) AS BIGINT) AS n_orders,
       round(sum(rev) / sum(n), 4) AS avg_price
FROM u GROUP BY 1
"""


# ----------------------------------------------------- multimodal decode


def _multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched ``mapInPandas`` decode path, oracle-checked:
    the deterministic fake decoder reads raw payload bytes (length,
    first, middle, last), which SQL reproduces exactly because the
    corpus text is pure ASCII (byte i == char i). Proves the Python
    escape hatch is held to the same correctness gate as the JVM ops."""
    from trackdechets_etl_spark.llm.multimodal import decode_features, with_payload

    d = read_table(spark, sf_dir, "documents")
    out = decode_features(with_payload(d, "text", "doc_id"), fake=True)
    # The fake decoder's features are integer-valued (byte counts/codes);
    # flatten to one csv string — array cells break the driver's
    # canonicalizer, and integer→string casts are engine-stable.
    flat = F.transform("features", lambda x: x.cast("long").cast("string"))
    return out.select(
        "doc_id",
        "mm_kind",
        "n_bytes",
        F.concat_ws(",", flat).alias("features_csv"),
    )


MULTIMODAL_DECODE_SQL = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS mm_kind,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CASE WHEN length(text) = 0
            THEN '0,0,0,0'
            ELSE array_to_string(
                [CAST(length(text) AS BIGINT),
                 CAST(ascii(substring(text, 1, 1)) AS BIGINT),
                 CAST(ascii(substring(text, length(text) // 2 + 1, 1)) AS BIGINT),
                 CAST(ascii(substring(text, length(text), 1)) AS BIGINT)], ',')
       END AS features_csv
FROM documents
"""


# -------------------------------------------------------- array statistics


def _embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector statistics via higher-order functions (transform/
    aggregate/array_min/array_max) — all JVM expressions inside
    whole-stage codegen, zero Python in the loop."""
    from trackdechets_etl_spark.llm.similarity import as_double, norm

    e = read_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    total = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.round(norm(F.col("embedding")), 6).alias("l2_norm"),
        F.round(total / F.size("embedding"), 6).alias("mean_val"),
        F.round(F.array_min(v), 6).alias("min_val"),
        F.round(F.array_max(v), 6).alias("max_val"),
    )


EMBEDDING_ARRAY_STATS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id,
       CAST(len(v) AS BIGINT) AS n_dims,
       round({norm_sql('v')}, 6) AS l2_norm,
       round(list_aggregate(v, 'sum') / len(v), 6) AS mean_val,
       round(list_aggregate(v, 'min'), 6) AS min_val,
       round(list_aggregate(v, 'max'), 6) AS max_val
FROM e
"""




# ----------------------------------------------------- salted skew join


def _join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment via the explicit salted join — the
    up-front skew remedy for hot keys AQE can't split (e.g. under a
    window). Salting is correctness-neutral: the oracle is the plain
    join, and results must hash-match exactly."""
    from trackdechets_etl_spark.operators.joins import salted_join

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    return (
        salted_join(o, c, "custkey", salt=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


JOIN_SALTED_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ------------------------------------------------- dict decode via join


def _dict_decode_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast-join variant of the SURVEY 2.7 dictionary decode —
    the scale path for dictionaries too large for a CASE literal. Same
    unknown->'' / null->null contract as the map-expression form."""
    from trackdechets_etl_spark.functions.decode import FAMILLE_IC_LABELS, decode_via_join
    from trackdechets_etl_spark.plans import fixtures as FX

    etab = FX.etablissements(spark, sf_dir)
    mapping = spark.createDataFrame(
        [(k, v) for k, v in FAMILLE_IC_LABELS.items()], "code string, label string"
    )
    out = decode_via_join(etab, "famille_ic", mapping, "famille_label")
    return out.select("code_s3ic", "famille_ic", "famille_label")


def _dict_decode_join_sql() -> str:
    from trackdechets_etl_spark.functions.decode import FAMILLE_IC_LABELS, decode_case_sql
    from trackdechets_etl_spark.plans import fixtures as FX

    return f"""
WITH etab AS ({FX.ETAB_SQL})
SELECT code_s3ic, famille_ic,
       {decode_case_sql('famille_ic', FAMILLE_IC_LABELS)} AS famille_label
FROM etab
"""


# ------------------------------------------------- multimodal resize


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas resize path, oracle-checked on sizes: the
    deterministic stand-in keeps every 4th byte, so the resized length
    is exactly ceil(n/4) and SQL can verify it without the bytes."""
    from trackdechets_etl_spark.llm.multimodal import resize_payloads, with_payload

    d = read_table(spark, sf_dir, "documents")
    out = resize_payloads(with_payload(d, "text", "doc_id"), scale_den=4)
    return out.select(
        "doc_id", "mm_kind", "n_bytes", F.col("scale_den").cast("long").alias("scale_den")
    )


MULTIMODAL_RESIZE_SQL = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS mm_kind,
       CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS n_bytes,
       CAST(4 AS BIGINT) AS scale_den
FROM documents
"""


QUERIES: dict[str, QuerySpec] = {
    "join_salted_skew": QuerySpec(_join_salted_skew, JOIN_SALTED_SQL),
    "scalar_dict_decode_join": QuerySpec(_dict_decode_join, _dict_decode_join_sql()),
    "multimodal_resize": QuerySpec(_multimodal_resize, MULTIMODAL_RESIZE_SQL),
    "dedup_clusters": QuerySpec(_dedup_clusters, _dedup_clusters_sql()),
    "embedding_array_stats": QuerySpec(
        _embedding_array_stats, EMBEDDING_ARRAY_STATS_SQL
    ),
    "multimodal_decode": QuerySpec(_multimodal_decode, MULTIMODAL_DECODE_SQL),
    "incremental_agg": QuerySpec(_incremental_agg, INCREMENTAL_AGG_SQL),
    "merge_upsert": QuerySpec(_merge_upsert, MERGE_UPSERT_SQL),
    "events_gap_fill": QuerySpec(_events_gap_fill, EVENTS_GAP_FILL_SQL),
    "pipeline_training_data": QuerySpec(
        _pipeline_training_data, _pipeline_training_data_sql()
    ),
    "text_tfidf_topk": QuerySpec(_text_tfidf, TEXT_TFIDF_SQL),
    "sample_stratified_per_group": QuerySpec(
        _sample_stratified, SAMPLE_STRATIFIED_SQL
    ),
    "unpivot_measures": QuerySpec(_unpivot_measures, UNPIVOT_SQL),
    "join_null_safe": QuerySpec(_join_null_safe, JOIN_NULL_SAFE_SQL),
    "agg_conditional": QuerySpec(_agg_conditional, AGG_CONDITIONAL_SQL),
    "agg_collect_sorted": QuerySpec(_agg_collect_sorted, AGG_COLLECT_SORTED_SQL),
    "join_asof_events": QuerySpec(_join_asof, JOIN_ASOF_SQL),
    "join_range_events": QuerySpec(_join_range, JOIN_RANGE_SQL),
    "join_semi_anti": QuerySpec(_join_semi_anti, JOIN_SEMI_ANTI_SQL),
    "agg_quantiles": QuerySpec(_agg_quantiles, AGG_QUANTILES_SQL),
    "agg_cube": QuerySpec(_agg_cube, AGG_CUBE_SQL),
    "sample_hash_deterministic": QuerySpec(_sample_hash, SAMPLE_HASH_SQL),
    "agg_histogram": QuerySpec(_agg_histogram, AGG_HISTOGRAM_SQL),
    "text_top_bigrams": QuerySpec(_text_top_bigrams, TEXT_TOP_BIGRAMS_SQL),
}
