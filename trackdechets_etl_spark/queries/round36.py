"""Round-6 additions, sixth batch: rank-based feature normalization
and sketch-estimator calibration.

- ``embedding_quantile_normalize``: per-dimension quantile (rank)
  normalization of the embedding matrix — every dimension's values
  map to their empirical CDF position (rank-1)/(n-1), the
  outlier-proof normalization feature pipelines use when z-scores
  are too heavy-tailed. Emitted per (vec_id, dim) so the driver
  hashes the ENTIRE normalized matrix. Ranks are tie-broken by
  vec_id, making the transform exactly deterministic on both
  engines.
- ``dedup_minhash_calibration``: calibration of the MinHash Jaccard
  ESTIMATOR (matching signatures / 8) against exact Jaccard on the
  banding candidates, bucketed by exact-Jaccard quintile: per bucket
  the pair count, mean estimate (an exact dyadic rational — integer
  match counts over 8), mean exact value, and the bias. The recall
  eval (round18) grades the CANDIDATE stage; this grades the
  estimates themselves — together they are the full trust audit of
  the sketch before anyone turns off exact verification at 100 TB.

Invariant tests in tests/test_round36.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------- quantile normalization


def _embedding_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One explode, one per-dimension window (dimensions partition the
    work — 64-way parallel, no global sort), qn = (rn-1)/(n-1) with
    row_number so ties are vec_id-deterministic."""
    from trackdechets_etl_spark.llm.similarity import as_double

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    ex = e.select("vec_id", F.posexplode("v").alias("pos", "x"))
    w = Window.partitionBy("pos").orderBy("x", "vec_id")
    n = F.count(F.lit(1)).over(Window.partitionBy("pos"))
    return (
        ex.withColumn("rn", F.row_number().over(w))
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("dim"),
            F.round(
                (F.col("rn") - 1) / (n - 1).cast("double"), 6
            ).alias("qn"),
        )
        .orderBy("vec_id", "dim")
    )


QUANTILE_NORMALIZE_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (
    SELECT vec_id, i - 1 AS pos, v[CAST(i AS INT)] AS x
    FROM e, (SELECT unnest(generate_series(1, 64)) AS i)),
r AS (
    SELECT vec_id, pos,
           row_number() OVER (PARTITION BY pos ORDER BY x, vec_id) AS rn,
           count(*) OVER (PARTITION BY pos) AS n
    FROM ex)
SELECT vec_id, CAST(pos AS BIGINT) AS dim,
       round((rn - 1) / CAST(n - 1 AS DOUBLE), 6) AS qn
FROM r ORDER BY vec_id, dim
"""


# ------------------------------------------- minhash calibration

_CAL_BUCKETS = 5


def _dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates from the banding stage; per pair the signature-match
    estimate (integer matches / 8) and exact Jaccard; rolled up by
    exact-Jaccard quintile. The estimate mean is computed from integer
    match sums (exactly representable), the exact mean from 6dp-
    rounded Jaccards."""
    from trackdechets_etl_spark.llm.dedup import (
        N_MINHASH,
        _pair_jaccard,
        minhash_candidates,
        minhash_signatures,
        shingle_keys,
        shingles,
    )

    d = read_table(spark, sf_dir, "documents")
    sh = materialize(shingles(d, "text", "doc_id", 3))
    cand = minhash_candidates(sh, "doc_id")
    sig = minhash_signatures(sh, "doc_id")
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", matches.alias("n_match"))
    )
    exact = _pair_jaccard(shingle_keys(sh, "doc_id"), "doc_id", cand).select(
        "id_a", "id_b", "jaccard"
    )
    pairs = est.join(exact, ["id_a", "id_b"], "left").select(
        "n_match",
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jac"),
    )
    bucket = F.least(F.floor(F.col("jac") * _CAL_BUCKETS), F.lit(_CAL_BUCKETS - 1))
    return (
        pairs.groupBy(bucket.cast("long").alias("j_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum("n_match") / (F.lit(8.0) * F.count(F.lit(1))), 6
            ).alias("mean_est"),
            F.round(F.avg("jac"), 6).alias("mean_exact"),
        )
        .select(
            "j_bucket",
            "n_pairs",
            "mean_est",
            "mean_exact",
            F.round(F.col("mean_est") - F.col("mean_exact"), 6).alias("bias"),
        )
        .orderBy("j_bucket")
    )


def _calibration_oracle() -> str:
    from trackdechets_etl_spark.llm.dedup import N_MINHASH
    from trackdechets_etl_spark.queries.llm import _BANDED, _MH_COLS, _SHINGLES

    match_sql = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    return f"""
WITH {_SHINGLES},
mh AS (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
banded AS ({_BANDED}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id),
est AS (
    SELECT c.id_a, c.id_b, {match_sql} AS n_match
    FROM cand c
    JOIN mh a ON a.doc_id = c.id_a
    JOIN mh b ON b.doc_id = c.id_b),
inter AS (
    SELECT s1.doc_id AS id_a, s2.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_inter
    FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle
                          AND s1.doc_id < s2.doc_id
    GROUP BY 1, 2),
exact AS (
    SELECT id_a, id_b,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jac
    FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id),
pairs AS (
    SELECT e.n_match, coalesce(x.jac, 0.0) AS jac
    FROM est e LEFT JOIN exact x USING (id_a, id_b)),
b AS (
    SELECT n_match, jac,
           least(CAST(floor(jac * {_CAL_BUCKETS}) AS BIGINT),
                 {_CAL_BUCKETS - 1}) AS j_bucket
    FROM pairs)
SELECT j_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum(n_match) / (8.0 * count(*)), 6) AS mean_est,
       round(avg(jac), 6) AS mean_exact,
       round(round(sum(n_match) / (8.0 * count(*)), 6)
             - round(avg(jac), 6), 6) AS bias
FROM b GROUP BY j_bucket ORDER BY j_bucket
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_quantile_normalize": QuerySpec(
        _embedding_quantile_normalize, QUANTILE_NORMALIZE_SQL
    ),
    "dedup_minhash_calibration": QuerySpec(
        _dedup_minhash_calibration, _calibration_oracle()
    ),
}
