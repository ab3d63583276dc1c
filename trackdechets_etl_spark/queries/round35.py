"""Round-6 additions, fifth batch: storage-encoding advisor, embedding
drift, and sampled join-cardinality estimation.

- ``lineitem_encoding_advisor``: per-column encodability readout —
  distinct ratio (dictionary-encoding signal) and within-order run
  structure (RLE signal) for three lineitem columns, unpivoted into
  one frame. The physical-layout analytics an engine runs before
  choosing parquet encodings/sort keys; run detection is partitioned
  by order (scale-safe: no global sort), deterministic via the
  (linenumber, value) tie-break.
- ``embedding_centroid_drift``: per-label cosine drift between the
  centroids of two deterministic halves of the corpus (vec_id
  parity) — the embedding-space twin of the PSI profile-drift check:
  1 means stable, lower means the halves disagree. Centroids round at
  4 (the established distributed-sum convention), cosines at 6.
- ``orders_join_size_estimate``: join-cardinality estimation by key
  sampling — restrict both sides to the 1/16 md5-sampled partkey
  stratum, count the join there, scale by 16; emitted next to the
  exact count and the relative error. Deterministic sampling makes
  even the ESTIMATOR oracle-checkable; at 100 TB this is the
  optimizer-style pre-join sizing pass that costs a fraction of the
  real join.

Invariant tests in tests/test_round35.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import cosine_sql
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------------ encoding advisor

_ENC_COLS = ["l_returnflag", "l_linestatus", "l_quantity"]


def _lineitem_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan; per column: distinct count, change-point count inside
    each order's (linenumber, value)-ordered sequence (n_runs), and
    the derived average run length. All integer counts until the final
    ratios."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", *_ENC_COLS
    )
    parts = []
    n_rows = F.count(F.lit(1))
    for c in _ENC_COLS:
        # order and compare on the RAW column value (ADVICE r6): the
        # tie-break is load-bearing (synthetic lineitem repeats
        # (l_orderkey, l_linenumber) pairs) and double-to-string
        # rendering is not engine-stable, while numeric/varchar
        # comparison of identical values is exact on both engines.
        w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", c)
        runs = li.select(
            "l_orderkey",
            F.when(
                F.lag(F.col(c)).over(w).isNull()
                | (F.col(c) != F.lag(F.col(c)).over(w)),
                1,
            )
            .otherwise(0)
            .alias("__new_run"),
            F.col(c).alias("__v"),
        )
        parts.append(
            runs.agg(
                F.lit(c).alias("column"),
                n_rows.cast("long").alias("n_values"),
                F.countDistinct("__v").cast("long").alias("n_distinct"),
                F.sum("__new_run").cast("long").alias("n_runs"),
                F.round(n_rows / F.sum("__new_run"), 6).alias("avg_run_len"),
                F.round(F.countDistinct("__v") / n_rows, 6).alias(
                    "distinct_ratio"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column")


def _enc_sql_one(c: str) -> str:
    return f"""
SELECT '{c}' AS "column",
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
       CAST(sum(new_run) AS BIGINT) AS n_runs,
       round(count(*) / sum(new_run), 6) AS avg_run_len,
       round(count(DISTINCT v) / count(*), 6) AS distinct_ratio
FROM (
    SELECT {c} AS v,
           CASE WHEN lag({c}) OVER (
                    PARTITION BY l_orderkey
                    ORDER BY l_linenumber, {c}) IS NULL
                  OR {c} != lag({c}) OVER (
                    PARTITION BY l_orderkey
                    ORDER BY l_linenumber, {c})
                THEN 1 ELSE 0 END AS new_run
    FROM lineitem)"""


ENCODING_ADVISOR_SQL = (
    "SELECT * FROM ("
    + " UNION ALL ".join(f"({_enc_sql_one(c)})" for c in _ENC_COLS)
    + ') ORDER BY "column"'
)


# ------------------------------------------------ centroid drift


def _embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic halves by vec_id parity; per (label, half) a
    4dp-rounded centroid; per label the cosine between halves. The
    exploded frame shuffles once on (label, half, pos); output is
    labels-sized."""
    from trackdechets_etl_spark.llm.similarity import (
        as_double,
        cosine_from_norms,
        norm,
    )

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("v").alias("pos", "x"),
    )
    cent = (
        ex.groupBy("label", "half", "pos")
        .agg(F.round(F.avg("x"), 4).alias("a"))
        .groupBy("label", "half")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "a"))),
                lambda st: st["a"],
            ).alias("c")
        )
    )
    cent = cent.withColumn("n", norm(F.col("c")))
    a = cent.filter(F.col("half") == 0).select(
        "label", F.col("c").alias("ca"), F.col("n").alias("na")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    counts = e.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    return (
        a.join(b, "label")
        .join(counts, "label")
        .select(
            F.col("label").cast("long").alias("label"),
            "n_a",
            "n_b",
            F.round(
                cosine_from_norms(F.col("ca"), F.col("cb"), F.col("na"), F.col("nb")),
                6,
            ).alias("cos_halves"),
        )
        .orderBy("label")
    )


CENTROID_DRIFT_SQL = f"""
WITH e AS (
    SELECT vec_id, label, vec_id % 2 AS half, embedding::DOUBLE[] AS v
    FROM embeddings),
ex AS (
    SELECT label, half, i AS pos, v[CAST(i AS INT)] AS x
    FROM e, (SELECT unnest(generate_series(1, 64)) AS i)),
cent AS (
    SELECT label, half, pos, round(avg(x), 4) AS a
    FROM ex GROUP BY label, half, pos),
vecs AS (
    SELECT label, half, list(a ORDER BY pos) AS c
    FROM cent GROUP BY label, half),
counts AS (
    SELECT label,
           CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
    FROM e GROUP BY label)
SELECT CAST(a.label AS BIGINT) AS label, counts.n_a, counts.n_b,
       round({cosine_sql('a.c', 'b.c')}, 6) AS cos_halves
FROM vecs a
JOIN vecs b ON a.label = b.label AND a.half = 0 AND b.half = 1
JOIN counts ON counts.label = a.label
ORDER BY a.label
"""


# ------------------------------------------------ join size estimate

_JSE_MOD = 16


def _orders_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-stratum sampling: partkeys whose md5-derived bucket is 0
    form a deterministic 1/16 stratum; the lineitem-part join counted
    on the stratum and scaled by 16 estimates the full join
    cardinality (unbiased over key strata: |join| = sum over keys of
    a_k*b_k). Both the estimate and the exact count are emitted with
    the relative error."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey")
    pt = read_table(spark, sf_dir, "part").select("p_partkey")

    def bucket(col):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % _JSE_MOD
        )

    li_s = li.filter(bucket(F.col("l_partkey")) == 0)
    pt_s = pt.filter(bucket(F.col("p_partkey")) == 0)
    est = li_s.join(pt_s, li_s.l_partkey == pt_s.p_partkey).agg(
        (F.count(F.lit(1)) * _JSE_MOD).cast("long").alias("est_pairs")
    )
    exact = li.join(pt, li.l_partkey == pt.p_partkey).agg(
        F.count(F.lit(1)).cast("long").alias("exact_pairs")
    )
    return est.crossJoin(exact).select(
        "est_pairs",
        "exact_pairs",
        F.round(
            F.abs(F.col("est_pairs") - F.col("exact_pairs"))
            / F.col("exact_pairs"),
            6,
        ).alias("rel_error"),
    )


JOIN_SIZE_ESTIMATE_SQL = f"""
WITH li_s AS (
    SELECT l_partkey FROM lineitem
    WHERE ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT
          % {_JSE_MOD} = 0),
pt_s AS (
    SELECT p_partkey FROM part
    WHERE ('0x' || substring(md5(CAST(p_partkey AS VARCHAR)), 1, 8))::BIGINT
          % {_JSE_MOD} = 0),
est AS (
    SELECT CAST(count(*) * {_JSE_MOD} AS BIGINT) AS est_pairs
    FROM li_s JOIN pt_s ON l_partkey = p_partkey),
ex AS (
    SELECT CAST(count(*) AS BIGINT) AS exact_pairs
    FROM lineitem JOIN part ON l_partkey = p_partkey)
SELECT est_pairs, exact_pairs,
       round(abs(est_pairs - exact_pairs) / exact_pairs, 6) AS rel_error
FROM est, ex
"""


QUERIES: dict[str, QuerySpec] = {
    "lineitem_encoding_advisor": QuerySpec(
        _lineitem_encoding_advisor, ENCODING_ADVISOR_SQL
    ),
    "embedding_centroid_drift": QuerySpec(
        _embedding_centroid_drift, CENTROID_DRIFT_SQL
    ),
    "orders_join_size_estimate": QuerySpec(
        _orders_join_size_estimate, JOIN_SIZE_ESTIMATE_SQL
    ),
}
