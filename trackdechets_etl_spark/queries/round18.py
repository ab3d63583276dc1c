"""Round-5 additions, thirteenth batch: dedup-stack recall evaluation.

- ``dedup_minhash_recall``: measures the MinHash banding scheme
  (8 signatures × 4 bands) against the EXACT Jaccard pair set at the
  engine's dedup threshold — candidate recall (what fraction of true
  near-dup pairs collide in ≥1 band) and candidate precision (what
  fraction of collisions are true pairs). The dedup twin of
  ``sim_lsh_recall``: the number that tells an operator whether the
  LSH parameters are safe to trust at 100 TB, where only candidates
  are ever verified.

Invariant tests in tests/test_round18.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize


def _dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairs come from the prefix-filtered inverted index
    (``ngram_jaccard_pairs`` — itself oracle-proven against the naive
    join); candidates from the banding stage alone
    (``minhash_candidates``). One row: counts plus recall/precision
    rounded at 6. The expected recall for a J≥0.8 pair under 4 bands
    of 2 rows is 1−(1−J²)⁴ ≈ 0.98 — pinned loosely in tests."""
    from trackdechets_etl_spark.llm.dedup import (
        minhash_candidates,
        ngram_jaccard_pairs,
        shingles,
    )
    from trackdechets_etl_spark.queries.llm import JACCARD_THRESHOLD

    d = read_table(spark, sf_dir, "documents")
    exact = (
        ngram_jaccard_pairs(d, "text", "doc_id", threshold=JACCARD_THRESHOLD)
        .select("id_a", "id_b")
        .withColumn("in_true", F.lit(1))
    )
    sh = materialize(shingles(d, "text", "doc_id"), eager=False)
    cand = minhash_candidates(sh, "doc_id").withColumn("in_cand", F.lit(1))
    # one distributed plan, no driver-side counts: full-outer the two
    # pair sets and reduce to a single row of mergeable sums
    j = exact.join(cand, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce("in_true", F.lit(0))).cast("long").alias("n_true"),
        F.sum(F.coalesce("in_cand", F.lit(0)))
        .cast("long")
        .alias("n_candidates"),
        F.sum(
            F.when(
                F.col("in_true").isNotNull() & F.col("in_cand").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_hits"),
    )
    return agg.select(
        "n_true",
        "n_candidates",
        "n_hits",
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("n_hits") / F.col("n_true").cast("double"), 6),
        ).alias("recall"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                F.col("n_hits") / F.col("n_candidates").cast("double"), 6
            ),
        ).alias("precision"),
    )


def _minhash_recall_oracle() -> str:
    from trackdechets_etl_spark.queries.llm import (
        _BANDED,
        _MH_COLS,
        _SHINGLES,
        JACCARD_THRESHOLD,
    )

    return f"""
WITH {_SHINGLES},
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
exact AS (
    SELECT id_a, id_b FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6)
          >= {JACCARD_THRESHOLD}),
mh AS (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
banded AS ({_BANDED}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id),
hits AS (SELECT * FROM exact INTERSECT SELECT * FROM cand),
counts AS (
    SELECT (SELECT count(*) FROM exact) AS n_true,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM hits) AS n_hits)
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       CASE WHEN n_true > 0
            THEN round(n_hits / CAST(n_true AS DOUBLE), 6) END AS recall,
       CASE WHEN n_candidates > 0
            THEN round(n_hits / CAST(n_candidates AS DOUBLE), 6)
       END AS precision
FROM counts
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_minhash_recall": QuerySpec(
        _dedup_minhash_recall, _minhash_recall_oracle()
    ),
}
