"""Round-8 additions, first batch: the exact/LSH label-noise recall
twin.

- ``embedding_label_noise_recall``: the exact kNN label-noise audit
  kept alive as the evaluation twin of the (now LSH-bucketed)
  ``embedding_label_noise_knn`` — the dedup_minhash_recall pattern.
  A SMALL deterministic md5 probe sample (~1/32) is audited twice:
  exact 5-NN over the whole corpus (probe side broadcast — the only
  broadcast, and it is the bounded side) and bucketed 5-NN through the
  same hyperplane-LSH cut the production query uses. Emits one row of
  integer agreement counts: how many probes the bucketed audit covers,
  how many noisy flags each form raises, and how often they agree.
  This is the query you run to CHOOSE n_planes: recall too low →
  fewer planes / multi-probe; runtime too high → more planes.

Scale: the exact side is |probe| x |corpus| with the probe broadcast —
linear in the corpus, and the probe fraction is a constant you shrink
as the corpus grows (it is an eval, not the production path). The LSH
side is the production plan itself. Reference parity: extends the
reference's audit-style coverage stats (dags/icpe-siretisation.py:316)
to embedding-space quality control.

Invariant tests in tests/test_round54.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.queries.round41 import _NOISE_K, _knn_majority

_REC_PROBE_HEX = "08"  # md5(vec_id) first byte < 0x08 -> ~1/32 of vectors
_EMB_DIMS = 64


def _embedding_label_noise_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.similarity import (
        bucket_expr,
        cosine_from_norms,
        norm,
    )

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        bucket_expr(F.col("embedding"), _EMB_DIMS).alias("bucket"),
        norm(F.col("embedding")).alias("n"),
    )
    probe = e.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2)
        < _REC_PROBE_HEX
    ).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("embedding").alias("pv"),
        F.col("n").alias("pn"),
        "bucket",
    )
    corpus = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("nv"),
        F.col("n").alias("nn"),
        "bucket",
    )

    def score(j: DataFrame) -> DataFrame:
        return j.filter(F.col("pid") != F.col("nid")).select(
            "pid",
            "plabel",
            "nid",
            "nlabel",
            cosine_from_norms(
                F.col("pv"), F.col("nv"), F.col("pn"), F.col("nn")
            ).alias("cos"),
        )

    # exact: broadcast the BOUNDED probe side only; corpus scanned once
    exact = _knn_majority(
        score(F.broadcast(probe.drop("bucket")).crossJoin(corpus.drop("bucket")))
    ).select("pid", "plabel", F.col("nlabel").alias("maj_exact"))
    # bucketed: the production plan — equi-join on the LSH bucket
    lsh = _knn_majority(score(probe.join(corpus, "bucket"))).select(
        "pid", F.col("nlabel").alias("maj_lsh")
    )
    j = exact.join(lsh, "pid", "left")
    noisy_exact = F.col("maj_exact") != F.col("plabel")
    noisy_lsh = F.col("maj_lsh").isNotNull() & (
        F.col("maj_lsh") != F.col("plabel")
    )

    def n(cond: Column, name: str) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        n(noisy_exact, "n_noisy_exact"),
        n(F.col("maj_lsh").isNotNull(), "n_covered_lsh"),
        n(noisy_lsh, "n_noisy_lsh"),
        n(noisy_exact & noisy_lsh, "n_both_noisy"),
        n(F.col("maj_lsh") == F.col("maj_exact"), "n_majority_agree"),
    )


def _recall_oracle() -> str:
    from trackdechets_etl_spark.llm.similarity import bucket_sql, cosine_sql

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
bk AS (SELECT vec_id, v, label,
              {bucket_sql('v', _EMB_DIMS)} AS bucket FROM e),
p AS (SELECT * FROM bk
      WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '{_REC_PROBE_HEX}'),
ex_scored AS (
    SELECT a.vec_id AS pid, a.label AS plabel,
           b.vec_id AS nid, b.label AS nlabel,
           {cosine_sql('a.v', 'b.v')} AS cos
    FROM p a, bk b WHERE a.vec_id <> b.vec_id),
ls_scored AS (
    SELECT a.vec_id AS pid, a.label AS plabel,
           b.vec_id AS nid, b.label AS nlabel,
           {cosine_sql('a.v', 'b.v')} AS cos
    FROM p a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
ex_knn AS (
    SELECT * FROM (
        SELECT pid, plabel, nlabel,
               row_number() OVER (PARTITION BY pid
                   ORDER BY round(cos, 9) DESC, nid ASC) AS rnk
        FROM ex_scored) WHERE rnk <= {_NOISE_K}),
ls_knn AS (
    SELECT * FROM (
        SELECT pid, plabel, nlabel,
               row_number() OVER (PARTITION BY pid
                   ORDER BY round(cos, 9) DESC, nid ASC) AS rnk
        FROM ls_scored) WHERE rnk <= {_NOISE_K}),
ex_m AS (
    SELECT pid, plabel, nlabel AS maj_exact FROM (
        SELECT pid, plabel, nlabel,
               row_number() OVER (PARTITION BY pid
                   ORDER BY count(*) DESC, nlabel ASC) AS mr
        FROM ex_knn GROUP BY pid, plabel, nlabel) WHERE mr = 1),
ls_m AS (
    SELECT pid, nlabel AS maj_lsh FROM (
        SELECT pid, nlabel,
               row_number() OVER (PARTITION BY pid
                   ORDER BY count(*) DESC, nlabel ASC) AS mr
        FROM ls_knn GROUP BY pid, plabel, nlabel) WHERE mr = 1),
j AS (SELECT ex_m.*, ls_m.maj_lsh FROM ex_m LEFT JOIN ls_m USING (pid))
SELECT CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN maj_exact <> plabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_noisy_exact,
       CAST(sum(CASE WHEN maj_lsh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered_lsh,
       CAST(sum(CASE WHEN maj_lsh IS NOT NULL AND maj_lsh <> plabel
                THEN 1 ELSE 0 END) AS BIGINT) AS n_noisy_lsh,
       CAST(sum(CASE WHEN maj_exact <> plabel AND maj_lsh IS NOT NULL
                     AND maj_lsh <> plabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both_noisy,
       CAST(sum(CASE WHEN maj_lsh = maj_exact THEN 1 ELSE 0 END) AS BIGINT)
           AS n_majority_agree
FROM j
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_label_noise_recall": QuerySpec(
        _embedding_label_noise_recall, _recall_oracle()
    ),
}
