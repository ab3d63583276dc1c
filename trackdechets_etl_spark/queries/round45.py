"""Round-7 additions, seventh batch: MMR diverse retrieval and event
path mining.

- ``embedding_mmr_select``: Maximal Marginal Relevance — the
  RAG-retrieval re-ranker that trades query relevance against
  redundancy among already-selected results: pick_k = argmax of
  λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s). Five picks unrolled
  LAZILY: the candidate pool is the query's cosine top-20 (existing
  ANN machinery shape), pairwise candidate sims are a 20×20 frame, and
  each pick is a 1-row TakeOrdered frame broadcast into the next
  step's penalty join — the BPE-chain discipline, no driver loop
  state. All ranking keys round at 9dp (the engine-stable ordering
  convention).
- ``events_path_mining_top3``: most common 3-step event-type paths —
  per user the ordered (lag2, lag1, current) type triples under a
  user-partitioned window, global counts, top-10 paths. The sequence
  n-gram the Markov pair matrix can't see; output joins the triple
  into one string (flat-output registry rule).

Invariant tests in tests/test_round45.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.operators.ranking import score_order
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------------ MMR selection

_MMR_Q = 0  # query vector id
_MMR_POOL = 20
_MMR_K = 5
_MMR_LAMBDA = 0.7


def _embedding_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.similarity import cosine_from_norms, norm

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("n")
    )
    q = e.filter(F.col("vec_id") == _MMR_Q).select(
        F.col("embedding").alias("qv"), F.col("n").alias("qn")
    )
    scored = (
        e.filter(F.col("vec_id") != _MMR_Q)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "n",
            F.col("qv"),
            cosine_from_norms(
                F.col("embedding"), F.col("qv"), F.col("n"), F.col("qn")
            ).alias("sim_q"),
        )
    )
    # top-k via orderBy+limit -> TakeOrderedAndProject (per-partition
    # heaps, k rows cross the wire) — never a corpus-scale window.
    cand = materialize(
        scored.orderBy(*score_order("sim_q", "vec_id"))
        .limit(_MMR_POOL)
        .select("vec_id", "embedding", "n", "sim_q"),
        eager=False,
    )
    pair = materialize(
        cand.alias("a")
        .crossJoin(
            F.broadcast(
                cand.select(
                    F.col("vec_id").alias("bid"),
                    F.col("embedding").alias("bv"),
                    F.col("n").alias("bn"),
                )
            )
        )
        .filter(F.col("a.vec_id") != F.col("bid"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            "bid",
            cosine_from_norms(
                F.col("a.embedding"), F.col("bv"), F.col("a.n"), F.col("bn")
            ).alias("sim_cc"),
        ),
        eager=False,
    )
    picks = []
    selected = None
    for k in range(1, _MMR_K + 1):
        pool = cand.select("vec_id", "sim_q")
        if selected is not None:
            pool = pool.join(
                F.broadcast(selected.select(F.col("pick_id"))),
                pool.vec_id == F.col("pick_id"),
                "left_anti",
            )
            pen = (
                pair.join(
                    F.broadcast(selected.select(F.col("pick_id").alias("bid"))),
                    "bid",
                )
                .groupBy("vec_id")
                .agg(F.max("sim_cc").alias("penalty"))
            )
            pool = pool.join(pen, "vec_id").select(
                "vec_id",
                "sim_q",
                (
                    _MMR_LAMBDA * F.col("sim_q")
                    - (1.0 - _MMR_LAMBDA) * F.col("penalty")
                ).alias("mmr"),
            )
        else:
            pool = pool.select(
                "vec_id", "sim_q", (_MMR_LAMBDA * F.col("sim_q")).alias("mmr")
            )
        pick = materialize(
            pool.orderBy(*score_order("mmr", "vec_id"))
            .limit(1)
            .select(
                F.lit(k).cast("long").alias("pick_rank"),
                F.col("vec_id").alias("pick_id"),
                F.round("sim_q", 6).alias("sim_q"),
                F.round("mmr", 6).alias("mmr_score"),
            ),
            eager=False,
        )
        picks.append(pick)
        selected = (
            pick if selected is None else selected.unionByName(pick)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        "pick_rank", F.col("pick_id").cast("long").alias("vec_id"), "sim_q", "mmr_score"
    ).orderBy("pick_rank")


def _mmr_oracle() -> str:
    from trackdechets_etl_spark.llm.similarity import cosine_sql

    lam = _MMR_LAMBDA
    parts = [
        f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {_MMR_Q}),
scored AS (
    SELECT e.vec_id, e.v, {cosine_sql('e.v', 'q.qv')} AS sim_q
    FROM e CROSS JOIN q WHERE e.vec_id <> {_MMR_Q}),
cand AS (
    SELECT vec_id, v, sim_q FROM (
        SELECT *, row_number() OVER (
            ORDER BY round(sim_q, 9) DESC, vec_id ASC) AS rnk
        FROM scored) WHERE rnk <= {_MMR_POOL}),
pair AS (
    SELECT a.vec_id, b.vec_id AS bid, {cosine_sql('a.v', 'b.v')} AS sim_cc
    FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
s1 AS (
    SELECT 1 AS pick_rank, vec_id AS pick_id, sim_q,
           {lam} * sim_q AS mmr
    FROM cand
    ORDER BY round({lam} * sim_q, 9) DESC, vec_id ASC LIMIT 1)"""
    ]
    for k in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT pick_id FROM s{j}" for j in range(1, k)
        )
        parts.append(
            f"""
sel{k} AS ({prev}),
pool{k} AS (
    SELECT c.vec_id, c.sim_q,
           {lam} * c.sim_q - {1.0 - lam} * (
               SELECT max(p.sim_cc) FROM pair p
               WHERE p.vec_id = c.vec_id
                 AND p.bid IN (SELECT pick_id FROM sel{k})) AS mmr
    FROM cand c
    WHERE c.vec_id NOT IN (SELECT pick_id FROM sel{k})),
s{k} AS (
    SELECT {k} AS pick_rank, vec_id AS pick_id, sim_q, mmr
    FROM pool{k}
    ORDER BY round(mmr, 9) DESC, vec_id ASC LIMIT 1)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST(pick_rank AS BIGINT) AS pick_rank, "
        f"CAST(pick_id AS BIGINT) AS vec_id, round(sim_q, 6) AS sim_q, "
        f"round(mmr, 6) AS mmr_score FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return (
        "WITH " + ",".join(parts) + f" SELECT * FROM ({selects}) ORDER BY pick_rank"
    )


# ------------------------------------------------ path mining

_PATH_TOP = 10


def _events_path_mining_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    tri = ev.select(
        F.lag("event_type", 2).over(w).alias("t0"),
        F.lag("event_type", 1).over(w).alias("t1"),
        F.col("event_type").alias("t2"),
    ).filter(F.col("t0").isNotNull())
    return (
        tri.groupBy(
            F.concat_ws(">", "t0", "t1", "t2").alias("path")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(_PATH_TOP)
    )


PATH_MINING_SQL = f"""
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
tri AS (
    SELECT lag(event_type, 2) OVER w AS t0,
           lag(event_type, 1) OVER w AS t1,
           event_type AS t2
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
SELECT t0 || '>' || t1 || '>' || t2 AS path,
       CAST(count(*) AS BIGINT) AS n
FROM tri WHERE t0 IS NOT NULL
GROUP BY path ORDER BY n DESC, path LIMIT {_PATH_TOP}
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_mmr_select": QuerySpec(_embedding_mmr_select, _mmr_oracle()),
    "events_path_mining_top3": QuerySpec(
        _events_path_mining_top3, PATH_MINING_SQL
    ),
}
