"""Round-5 additions, fifteenth batch: pure-DataFrame k-means.

- ``ml_kmeans_lite``: two fixed Lloyd iterations of k-means over the
  embedding table with deterministic seeds (the first k vectors),
  entirely in JVM column expressions — assignment is an argmin over a
  broadcast centroid table, the update is a per-dimension average —
  no UDF, no collect, no MLlib. The oracle unrolls the identical two
  rounds as CTEs. Distances use the expanded form
  ``|v|² − 2·v·c + |c|²`` so both engines run the same sequential
  fold, rounded at 6 before every argmin; centroid averages round at
  4 (the ``embedding_label_centroids`` convention), so the iteration
  is engine-exact end-to-end.

Invariant tests in tests/test_round20.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import dot
from trackdechets_etl_spark.queries import QuerySpec

_K = 8
_ROUNDS = 2
_DIMS = 64


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast the k-row centroid
    table, compute the expanded squared distance, argmin via a
    min-struct with the centroid id as tiebreak."""
    d2 = F.round(
        dot(F.col("v"), F.col("v"))
        - 2 * dot(F.col("v"), F.col("c"))
        + dot(F.col("c"), F.col("c")),
        6,
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", F.col("cid"), d2.alias("d2")
    )
    return scored.groupBy("vec_id").agg(
        F.min(F.struct("d2", "cid")).alias("best"),
        F.first("v", ignorenulls=True).alias("v"),
    ).select(
        "vec_id",
        "v",
        F.col("best.cid").alias("cluster"),
        F.col("best.d2").alias("d2"),
    )


def _update(assigned: DataFrame, prev: DataFrame) -> DataFrame:
    """New centroid = per-dim mean (rounded 4) of the assigned
    vectors; empty clusters keep their previous centroid."""
    ex = assigned.select(
        F.col("cluster").alias("cid"), F.posexplode("v").alias("pos", "x")
    )
    new = (
        ex.groupBy("cid", "pos")
        .agg(F.round(F.avg("x"), 4).alias("a"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "a"))),
                lambda st: st["a"],
            ).alias("c_new")
        )
    )
    return prev.join(new, "cid", "left").select(
        "cid", F.coalesce("c_new", "c").alias("c")
    )


def _ml_kmeans_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 seeded on vec_id 0..7, two Lloyd rounds, then the final
    assignment (vec_id, cluster, squared distance). Each round is one
    broadcast join + one vector-keyed reduce + one (k×dims)-sized
    aggregation — at 100 TB the centroid table stays broadcast-sized
    no matter the corpus, which is exactly why Lloyd iterations
    parallelize."""
    from trackdechets_etl_spark.llm.similarity import as_double

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cents = e.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    for _ in range(_ROUNDS):
        assigned = _assign(e, cents)
        cents = _update(assigned, cents)
    final = _assign(e, cents)
    return final.select("vec_id", "cluster", F.col("d2").alias("dist2")).orderBy(
        "vec_id"
    )


def _kmeans_oracle() -> str:
    def assign(cent_cte: str, out: str) -> str:
        return f"""
{out}_sc AS (
    SELECT vec_id, v, cid,
           round(list_dot_product(v, v) - 2 * list_dot_product(v, c)
                 + list_dot_product(c, c), 6) AS d2
    FROM e CROSS JOIN {cent_cte}),
{out} AS (
    SELECT vec_id, v, cid AS cluster, d2
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cid) AS rn
          FROM {out}_sc) r
    WHERE rn = 1)"""

    def update(assigned: str, prev: str, out: str) -> str:
        return f"""
{out}_pd AS (
    SELECT cluster AS cid, i, round(avg(v[i]), 4) AS a
    FROM {assigned}, unnest(generate_series(1, {_DIMS})) AS u(i)
    GROUP BY 1, 2),
{out}_new AS (
    SELECT cid, list(a ORDER BY i) AS c_new FROM {out}_pd GROUP BY cid),
{out} AS (
    SELECT p.cid, coalesce(n.c_new, p.c) AS c
    FROM {prev} p LEFT JOIN {out}_new n USING (cid))"""

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {_K}),
{assign('c0', 'a0')},
{update('a0', 'c0', 'c1')},
{assign('c1', 'a1')},
{update('a1', 'c1', 'c2')},
{assign('c2', 'a2')}
SELECT vec_id, cluster, d2 AS dist2 FROM a2 ORDER BY vec_id
"""


QUERIES: dict[str, QuerySpec] = {
    "ml_kmeans_lite": QuerySpec(_ml_kmeans_lite, _kmeans_oracle()),
}
