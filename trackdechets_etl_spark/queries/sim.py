"""Vector-retrieval queries over the ``embeddings`` table: the searches
(exact, LSH-bucket, IVF, IVF-PQ and late-interaction MaxSim), the
evaluations that measure an approximate top-k against the exact one,
and the end tasks built on a top-k (kNN vote, hybrid fusion, query
expansion). Each search is written once per engine in ``llm/similarity``
and ``llm/pq`` (the Spark operator and its DuckDB twin); the
evaluations here compose them.

Queries whose function carries no docstring, or whose docstring covers
only the implementation, are described here:

- ``sim_ndcg_eval``: NDCG@5 of the hyperplane-LSH ANN ranking against
  exact cosine ranking, per probe query — the ranking-quality metric
  recall@k misses (recall treats rank 1 and rank 5 alike). Graded
  relevance = 6 - exact_rank; discount factors 1/log2(i+1) are
  PRECOMPUTED literals embedded in both engines, so no libm log enters
  the comparison.
- ``sim_mrr_eval``: mean reciprocal rank of the exact nearest
  neighbour inside the LSH-bucket ranking for the 10 probe queries —
  the retrieval-eval companion to ``sim_ndcg_eval`` (NDCG grades the
  whole list; MRR grades where the one right answer lands).
  Reciprocal ranks snapped to exact integer micro-units
  (1000000 div rank), so the mean is integer math until the last
  division.
- ``sim_map_eval``: precision@5 and MAP@5 of the LSH-bucket ANN
  ranking against the exact brute-force top-5 (the relevant set) —
  the retrieval-eval pair NDCG/MRR leave out. AP@5 is computed in
  exact integer units: ap_scaled = Σ_j rel_j·cum_j·(60/j) ∈ [0, 300]
  (60 = lcm(1..5)·... chosen so every term is integral), summed
  exactly across queries; two final divisions produce MAP and P@5.
- ``sim_recall_curve_nplanes``: the LSH calibration CURVE in ONE
  pass — where ``sim_lsh_recall`` evaluates the one production
  config, this sweeps recall@10 of the hyperplane-LSH bucket retrieval
  vs the exact top-10 for n_planes in {2, 4, 6, 8} simultaneously.
  Buckets are nested by construction (plane p is bit p, so the P-plane
  bucket is ``bucket8 % 2^P``), so one 8-plane bucket computation
  serves every config; probes and corpus explode onto the 4 configs
  and meet in a (n_planes, bucket) equi-join. Integer outputs (hit
  counts, per-mille recall). This is the query that CHOOSES n_planes
  for the production ANN/kNN paths.
- ``sim_ivf_recall_curve``: recall@5 of IVF retrieval as a function of
  nprobe ∈ {1, 2, 4} — queries route to their top-nprobe centroids
  (the ``sim_recall_curve_nplanes`` pattern, IVF edition), candidates
  come only from those lists, recall measured against the exact
  brute-force top-5 under the identical rank key. THE tuning curve an
  ANN deployment reads before picking nprobe: it prices recall in
  scanned-list units.
- ``sim_silhouette_lsh``: simplified silhouette of the hyperplane-LSH
  partitioning (a = distance to own-bucket centroid, b = nearest
  other-bucket centroid, s = (b−a)/max(a,b)) — the cluster-quality
  gate for the ANN stack (sim_lsh_bucket_topk / IVF routing): low
  mean silhouette on a bucket means its candidates are no better
  than random and n_planes needs raising.
- ``sim_rrf_hybrid``: reciprocal-rank-fusion hybrid retrieval — the
  RAG-stack fusion step: BM25 top-50 (sparse, one fixed query) ⊎
  cosine-to-query top-50 (dense, query = vector 0), RRF score
  Σ 1/(60+rank), final top-20. Ranks are computed by bounded self-join
  count (lists are LIMIT-bounded) — no global window anywhere.
- ``sim_query_expansion_prf``: pseudo-relevance feedback (Rocchio
  lite) — BM25 top-10 for the same fixed query, expand with the top-5
  TF-IDF terms of those pseudo-relevant docs (query terms excluded),
  re-run BM25 with the expanded term set, report the new top-10 with a
  newly_retrieved flag. The classic recall-boosting IR loop, fully
  deterministic.

SQL written here rather than by a twin, because a twin runs one search
cut at one k: the uncut LSH ranking of ``sim_mrr_eval`` (the exact
neighbour may sit at any rank), the nested-bucket candidates of every
``n_planes`` config in ``sim_recall_curve_nplanes`` (ranked through
``top_k_per_group_sql``), and the top-nprobe routing and per-nprobe
ranking of ``sim_ivf_recall_curve``.

All pure DataFrame algebra with exact DuckDB twins, except the
``applyInPandas`` centroids of the IVF searches. Invariant tests:
tests/test_sim.py (the NDCG, MRR and MAP evaluations) and, not yet
moved, the tests/test_roundNN.py files of the modules these queries
came from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.pq import (
    CODES_SQL,
    adc_cut_sql,
    adc_topk,
    explode_subspaces,
    ivfpq_topk,
    pq_encode,
    query_tables_sql,
    train_codebook,
)
from trackdechets_etl_spark.llm.similarity import (
    _side,
    bucket_expr,
    bucket_sql,
    cosine_from_norms,
    cosine_sql,
    ivf_route_sql,
    ivf_topk,
    ivf_topk_sql,
    label_centroids_sql,
    lsh_bucket_topk,
    lsh_bucket_topk_sql,
    norm,
    topk_bruteforce,
    topk_bruteforce_sql,
)
from trackdechets_etl_spark.operators.ranking import (
    score_order,
    top_k_per_group,
    top_k_per_group_sql,
)
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

EMB_DIMS = 64
TOPK_QUERY_IDS = 10
# The embedding column as the DOUBLE[] the vector SQL twins read.
_VEC = "embedding::DOUBLE[]"


# ------------------------------------------------------ exact and LSH top-k


def _sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings")
    out = topk_bruteforce(e, "vec_id", "embedding", TOPK_QUERY_IDS, k=5)
    return out.select("q_id", "c_id", F.col("rank").cast("long").alias("rank"), "cos_sim")


SIM_TOPK_SQL = f"""
SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ({topk_bruteforce_sql('embeddings', 'vec_id', _VEC, TOPK_QUERY_IDS)})
"""


def _sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(e, "vec_id", "embedding", EMB_DIMS, TOPK_QUERY_IDS, k=5)
    return out.select("q_id", "c_id", F.col("rank").cast("long").alias("rank"), "cos_sim")


SIM_LSH_TOPK_SQL = f"""
SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ({lsh_bucket_topk_sql('embeddings', 'vec_id', _VEC, EMB_DIMS, TOPK_QUERY_IDS)})
"""


# ------------------------------------------------------------- IVF search

IVF_QUERY_IDS = 10


def _sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings")
    out = ivf_topk(e, "vec_id", "embedding", "label", IVF_QUERY_IDS, k=5)
    return out.select(
        "q_id", "c_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
    )


SIM_IVF_SQL = f"""
SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ({ivf_topk_sql('embeddings', 'vec_id', _VEC, 'label', EMB_DIMS, IVF_QUERY_IDS)})
"""


# ------------------------------------------- late-interaction MaxSim

_MAXSIM_NSUB = 8
_MAXSIM_SUBD = 8
_MAXSIM_NQ = 5
_MAXSIM_K = 3


def _sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: each 64-dim embedding
    is decomposed into 8 contiguous 8-dim subvectors standing in for
    per-token vectors; MaxSim(q, d) = Σ over query subvectors of the
    max dot product against any document subvector. The query side
    (ids < 5) broadcasts; per (query, doc, q-sub) maxes then per-pair
    sums are plain aggregations; top-3 per query by the stable
    (round(score, 9) desc, doc id) rank key shared with the other
    sim_* queries. At 100 TB the corpus subvector frame is the thing
    IVF/PQ routing would prune first — this operator is the exact
    scoring kernel those variants re-rank with."""
    e = read_table(spark, sf_dir, "embeddings")
    sub = e.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_MAXSIM_NSUB - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("s"),
                    F.transform(
                        F.slice(
                            "embedding", s * _MAXSIM_SUBD + 1, _MAXSIM_SUBD
                        ),
                        lambda x: x.cast("double"),
                    ).alias("sub"),
                ),
            )
        ).alias("x"),
    ).select("vec_id", "x.s", "x.sub")
    q = sub.filter(F.col("vec_id") < _MAXSIM_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("s").alias("qs"),
        F.col("sub").alias("qsub"),
    )
    c = sub.select(
        F.col("vec_id").alias("did"), F.col("sub").alias("csub")
    )
    dot = F.aggregate(
        F.zip_with("qsub", "csub", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("did"))
        .select("qid", "did", "qs", dot.alias("d"))
    )
    per_qsub = pairs.groupBy("qid", "did", "qs").agg(F.max("d").alias("mx"))
    scores = per_qsub.groupBy("qid", "did").agg(F.sum("mx").alias("score"))
    return top_k_per_group(scores, "qid", "score", "did", _MAXSIM_K).select(
        "qid",
        "did",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("maxsim"),
    )


SIM_MAXSIM_SQL = f"""
WITH sub AS (
    -- DOUBLE[] cast matters: list_dot_product on FLOAT[] accumulates
    -- in float32 and diverges from Spark's double math at ~1e-6.
    SELECT vec_id, CAST(s AS INTEGER) AS s,
           CAST(embedding[CAST(s * {_MAXSIM_SUBD} + 1 AS BIGINT)
                     :CAST(s * {_MAXSIM_SUBD} + {_MAXSIM_SUBD} AS BIGINT)]
               AS DOUBLE[]) AS sub
    FROM embeddings, UNNEST(range(0, {_MAXSIM_NSUB})) AS t(s)),
q AS (SELECT vec_id AS qid, s AS qs, sub AS qsub
      FROM sub WHERE vec_id < {_MAXSIM_NQ}),
c AS (SELECT vec_id AS did, sub AS csub FROM sub),
m AS (
    SELECT qid, did, qs, max(list_dot_product(qsub, csub)) AS mx
    FROM q, c WHERE qid != did GROUP BY qid, did, qs),
sc AS (SELECT qid, did, sum(mx) AS score FROM m GROUP BY qid, did),
r AS (
    SELECT qid, did, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY round(score, 9) DESC, did) AS rn
    FROM sc)
SELECT qid, did, CAST(rn AS BIGINT) AS rank, round(score, 6) AS maxsim
FROM r WHERE rn <= {_MAXSIM_K}
"""


# ------------------------------------------------------------- recall@5


def _recall_at_5(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per query, the share of its exact top-5 (``q_id``, ``exact_c``)
    that an approximate top-5 (``q_id``, ``approx_c``) also returns."""
    hits = exact.join(
        approx,
        (exact.q_id == approx.q_id) & (exact.exact_c == approx.approx_c),
    ).groupBy(exact.q_id).agg(F.count("*").alias("n_hits"))
    return (
        exact.groupBy("q_id")
        .agg(F.count("*").alias("k"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k"), 4
            ).alias("recall_at_5"),
        )
    )


# The oracle twin of _recall_at_5, over the CTEs exact_r and approx_r.
_RECALL_AT_5_SQL = """hits AS (
    SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM exact_r e JOIN approx_r a ON e.q_id = a.q_id AND e.c_id = a.c_id
    GROUP BY 1),
ks AS (SELECT q_id, CAST(count(*) AS BIGINT) AS k FROM exact_r GROUP BY 1)
SELECT ks.q_id, round(coalesce(hits.n_hits, 0) / ks.k, 4) AS recall_at_5
FROM ks LEFT JOIN hits USING (q_id)"""


def _sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation harness: recall@5 of the LSH-bucketed top-k
    against the exact brute force, per query — the metric that decides
    whether an approximate index is shippable. Both sides are
    deterministic, so even the EVALUATION is oracle-checked."""
    e = read_table(spark, sf_dir, "embeddings")
    exact = topk_bruteforce(e, "vec_id", "embedding", TOPK_QUERY_IDS, k=5).select(
        "q_id", F.col("c_id").alias("exact_c")
    )
    approx = lsh_bucket_topk(
        e, "vec_id", "embedding", EMB_DIMS, TOPK_QUERY_IDS, k=5
    ).select("q_id", F.col("c_id").alias("approx_c"))
    return _recall_at_5(exact, approx)


def _sim_lsh_recall_sql() -> str:
    return f"""
WITH exact_r AS ({topk_bruteforce_sql('embeddings', 'vec_id', _VEC, TOPK_QUERY_IDS)}),
approx_r AS ({lsh_bucket_topk_sql('embeddings', 'vec_id', _VEC, EMB_DIMS, TOPK_QUERY_IDS)}),
{_RECALL_AT_5_SQL}
"""


# ---------------------------------------------------- PQ recall eval


def _sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of product-quantization ADC top-k against the exact
    brute-force baseline, per query — the shippability metric for the
    compressed-ANN path (mirrors sim_lsh_recall for the LSH index).
    The whole pipeline — codebook training (one deterministic Lloyd
    step), encoding, ADC scoring, and the evaluation itself — is
    DataFrame algebra, so even this is oracle-checked."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = explode_subspaces(emb, "vec_id", "embedding")
    # Codebook + codes each feed two consumers — truncate the lineage
    # once (same discipline as embedding_pc1's exploded frame).
    e = materialize(e)
    cents = train_codebook(e)
    codes = pq_encode(e, cents)
    approx = adc_topk(e, codes, cents, TOPK_QUERY_IDS, k=5).select(
        "q_id", F.col("c_id").alias("approx_c")
    )
    exact = topk_bruteforce(emb, "vec_id", "embedding", TOPK_QUERY_IDS, k=5).select(
        "q_id", F.col("c_id").alias("exact_c")
    )
    return _recall_at_5(exact, approx)


def _sim_pq_recall_sql() -> str:
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{CODES_SQL},
{query_tables_sql(TOPK_QUERY_IDS)},
adc AS (
    SELECT partial.q_id, codes.vid AS c_id, sum(pdot) AS adot
    FROM codes JOIN partial ON codes.m = partial.m AND codes.code = partial.code
    GROUP BY 1, 2),
approx_r AS (SELECT q_id, c_id FROM ({adc_cut_sql('adc', 5)})),
exact_r AS ({topk_bruteforce_sql('base', 'vec_id', 'v', TOPK_QUERY_IDS)}),
{_RECALL_AT_5_SQL}
"""


# ---------------------------------------------------- IVF-ADC top-k


def _sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVF-ADC: coarse-route each query to its nearest list
    centroid, then ADC-score only that list's candidates from their PQ
    codes — the index shape that serves billion-vector corpora. Both
    the routing and the compressed scoring are DataFrame algebra;
    hash-matched by the composed DuckDB oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk(emb, "vec_id", "embedding", "label", _IVFPQ_QUERY_IDS, k=5)
    return out.select(
        "q_id", "c_id", F.col("rank").cast("long").alias("rank"), "cos_approx"
    )


_IVFPQ_QUERY_IDS = 10


def _sim_ivfpq_sql() -> str:
    q = f"(SELECT vec_id AS q_id, v AS q_vec FROM base WHERE vec_id < {_IVFPQ_QUERY_IDS})"
    return f"""
WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
{CODES_SQL},
assigned AS ({ivf_route_sql('base', 'v', 'label', EMB_DIMS, q)}),
{query_tables_sql(_IVFPQ_QUERY_IDS)},
cand AS (
    SELECT codes.vid, codes.m, codes.code, b.label
    FROM codes JOIN base b ON codes.vid = b.vec_id),
adc AS (
    SELECT a.q_id, cand.vid AS c_id, sum(p.pdot) AS adot
    FROM assigned a
    JOIN cand ON cand.label = a.__list
    JOIN partial p ON p.q_id = a.q_id AND p.m = cand.m AND p.code = cand.code
    GROUP BY 1, 2)
SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, cos_approx
FROM ({adc_cut_sql('adc', 5)})
"""


# ------------------------------------------------ Matryoshka recall

_MRL_DIMS = 16
_MRL_K = 5


def _sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 on the 16-dim prefix vs top-5 on the full vector, per
    query; recall = |intersection| / 5. The truncated pass reads 4x
    fewer floats per candidate — the cost model MRL sells — and the
    broadcast-query scan shape is unchanged."""
    e = read_table(spark, sf_dir, "embeddings")
    full = topk_bruteforce(e, "vec_id", "embedding", TOPK_QUERY_IDS, k=_MRL_K)
    trunc = topk_bruteforce(
        e.select("vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")),
        "vec_id",
        "embedding",
        TOPK_QUERY_IDS,
        k=_MRL_K,
    )
    hits = (
        full.select("q_id", "c_id")
        .join(trunc.select("q_id", "c_id"), ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        full.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(_MRL_K)), 6
            ).alias("recall"),
        )
        .orderBy("q_id")
    )


def _build_matryoshka_sql() -> str:
    full = topk_bruteforce_sql("e", "vec_id", "v", TOPK_QUERY_IDS, _MRL_K)
    trunc = topk_bruteforce_sql(
        "e", "vec_id", f"v[1:{_MRL_DIMS}]", TOPK_QUERY_IDS, _MRL_K
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
full_k AS ({full}),
trunc_k AS ({trunc}),
hits AS (
    SELECT f.q_id, count(*) AS n_hits
    FROM full_k f JOIN trunc_k t ON f.q_id = t.q_id AND f.c_id = t.c_id
    GROUP BY f.q_id)
SELECT q.q_id, round(coalesce(h.n_hits, 0) / {_MRL_K}.0, 6) AS recall
FROM (SELECT DISTINCT q_id FROM full_k) q
LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
"""


# ------------------------------------------------ NDCG eval

_NDCG_K = 5
_NDCG_QUERIES = 10
# 1/log2(i+1) for i = 1..5, precomputed so neither engine's libm log
# participates in the hash-checked math.
_DISCOUNTS = [1.0, 0.630929754, 0.5, 0.430676558, 0.386852807]
_IDEAL_DCG = sum((_NDCG_K + 1 - (i + 1)) * d for i, d in enumerate(_DISCOUNTS))


def _sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings")
    exact = topk_bruteforce(e, "vec_id", "embedding", _NDCG_QUERIES, k=_NDCG_K)
    approx = lsh_bucket_topk(
        e, "vec_id", "embedding", EMB_DIMS, _NDCG_QUERIES, k=_NDCG_K
    )
    # graded relevance of each exact neighbor: 6 - exact_rank
    rel = exact.select(
        "q_id", "c_id", (F.lit(_NDCG_K + 1) - F.col("rank")).alias("rel")
    )
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _DISCOUNTS]), F.col("rank").cast("int")
    )
    scored = (
        approx.select("q_id", "c_id", "rank")
        .join(rel, ["q_id", "c_id"], "left")
        .select(
            "q_id",
            (F.coalesce(F.col("rel"), F.lit(0)) * disc).alias("gain"),
        )
    )
    return (
        scored.groupBy("q_id")
        .agg(F.round(F.sum("gain") / F.lit(_IDEAL_DCG), 6).alias("ndcg_at_5"))
        .select(F.col("q_id").cast("long").alias("q_id"), "ndcg_at_5")
        .orderBy("q_id")
    )


def _ndcg_oracle() -> str:
    discounts = ", ".join(str(d) for d in _DISCOUNTS)
    exact = topk_bruteforce_sql("e", "vec_id", "v", _NDCG_QUERIES, _NDCG_K)
    approx = lsh_bucket_topk_sql("e", "vec_id", "v", EMB_DIMS, _NDCG_QUERIES, _NDCG_K)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
rel AS (SELECT q_id, c_id, {_NDCG_K + 1} - rank AS rel FROM ({exact})),
ap AS (SELECT q_id, c_id, rank FROM ({approx})),
disc(i, d) AS (SELECT i, ([{discounts}])[CAST(i AS INT)]
               FROM unnest(generate_series(1, {_NDCG_K})) AS u(i)),
gains AS (
    SELECT ap.q_id, coalesce(rel.rel, 0) * disc.d AS gain
    FROM ap JOIN disc ON ap.rank = disc.i
    LEFT JOIN rel ON ap.q_id = rel.q_id AND ap.c_id = rel.c_id)
SELECT CAST(q_id AS BIGINT) AS q_id,
       round(sum(gain) / {_IDEAL_DCG!r}, 6) AS ndcg_at_5
FROM gains GROUP BY q_id ORDER BY q_id
"""


# ------------------------------------------- MRR retrieval eval

_MRR_Q = 10  # probe queries: vec_id < 10, the TOPK_QUERY_IDS contract


def _sim_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings")
    exact_nn = topk_bruteforce(e, "vec_id", "embedding", _MRR_Q, k=1).select(
        "q_id", F.col("c_id").alias("nn_id")
    )
    bucketed = e.select(
        "vec_id",
        "embedding",
        bucket_expr(F.col("embedding"), 64).alias("bucket"),
        norm(F.col("embedding")).alias("__n"),
    )
    q = _side(
        bucketed.filter(F.col("vec_id") < _MRR_Q),
        "vec_id",
        "embedding",
        "q",
        "bucket",
        norm_col="__n",
    )
    c = _side(bucketed, "vec_id", "embedding", "c", "bucket", norm_col="__n")
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("__qn"), F.col("__cn")
            ).alias("cos"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(*score_order("cos", "c_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(wr))
    hit = exact_nn.join(
        ranked.select("q_id", F.col("c_id").alias("nn_id"), "rnk"),
        ["q_id", "nn_id"],
        "left",
    )
    # reciprocal rank in exact integer micro-units: 1000000 div rank
    rr = F.when(
        F.col("rnk").isNotNull(), F.floor(F.lit(1000000) / F.col("rnk"))
    ).otherwise(F.lit(0))
    return hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.col("rnk").isNotNull().cast("long")).cast("long").alias(
            "n_found"
        ),
        F.sum(rr).cast("long").alias("sum_rr_micro"),
        F.round(
            F.sum(rr).cast("double") / 1000000.0 / F.count(F.lit(1)), 6
        ).alias("mrr"),
    )


def _mrr_oracle() -> str:
    # The LSH ranking stays uncut (the exact neighbour may sit at any
    # rank), so it is ranked here rather than by lsh_bucket_topk_sql.
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
exact_nn AS (
    SELECT q_id, c_id AS nn_id
    FROM ({topk_bruteforce_sql('e', 'vec_id', 'v', _MRR_Q, 1)})),
bk AS (SELECT vec_id, v, {bucket_sql('v', EMB_DIMS)} AS bucket FROM e),
qb AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bk
       WHERE vec_id < {_MRR_Q}),
ls_scored AS (
    SELECT q_id, b.vec_id AS c_id,
           {cosine_sql('qv', 'b.v')} AS cos
    FROM qb JOIN bk b ON qb.bucket = b.bucket AND b.vec_id <> q_id),
ranked AS (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
        ORDER BY round(cos, 9) DESC, c_id ASC) AS rnk
    FROM ls_scored),
hit AS (
    SELECT exact_nn.q_id,
           (SELECT rnk FROM ranked r
            WHERE r.q_id = exact_nn.q_id AND r.c_id = exact_nn.nn_id) AS rnk
    FROM exact_nn)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN rnk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_found,
       CAST(sum(CASE WHEN rnk IS NOT NULL
                THEN 1000000 // rnk ELSE 0 END) AS BIGINT) AS sum_rr_micro,
       round(CAST(sum(CASE WHEN rnk IS NOT NULL
                      THEN 1000000 // rnk ELSE 0 END) AS DOUBLE)
             / 1000000.0 / count(*), 6) AS mrr
FROM hit
"""


# ------------------------------------------------ MAP@5 / P@5 eval

_MAP_Q = 10
_MAP_K = 5
# per-rank integer weight 60/j so every AP term rel_j·cum_j·(60/j) is
# integral; the per-query maximum is 300 (= all five relevant)
_MAP_W = {j: 60 // j for j in range(1, _MAP_K + 1)}


def _sim_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings")
    rel = topk_bruteforce(
        e, "vec_id", "embedding", _MAP_Q, k=_MAP_K
    ).select("q_id", "c_id", F.lit(1).alias("is_rel"))
    ranked = (
        lsh_bucket_topk(e, "vec_id", "embedding", 64, _MAP_Q, k=_MAP_K)
        .join(rel, ["q_id", "c_id"], "left")
        .withColumn("r", F.coalesce("is_rel", F.lit(0)))
    )
    per_q = ranked.groupBy("q_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("rank") == j, F.col("r"))), F.lit(0)
            ).alias(f"r{j}")
            for j in range(1, _MAP_K + 1)
        ]
    )
    cums = {
        j: sum(F.col(f"r{i}") for i in range(1, j + 1))
        for j in range(1, _MAP_K + 1)
    }
    ap_scaled = sum(
        F.col(f"r{j}") * cums[j] * F.lit(_MAP_W[j])
        for j in range(1, _MAP_K + 1)
    )
    # every probe query must contribute, including those whose LSH
    # bucket produced no candidates at all
    qs = e.filter(F.col("vec_id") < _MAP_Q).select(
        F.col("vec_id").alias("q_id")
    )
    scored = qs.join(
        per_q.select(
            "q_id",
            ap_scaled.cast("long").alias("ap_s"),
            cums[_MAP_K].cast("long").alias("h5"),
        ),
        "q_id",
        "left",
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.coalesce("ap_s", F.lit(0))).cast("long").alias(
            "sum_ap_scaled"
        ),
        F.sum(F.coalesce("h5", F.lit(0))).cast("long").alias(
            "sum_hits_at_5"
        ),
        F.round(
            F.sum(F.coalesce("ap_s", F.lit(0))).cast("double")
            / (300.0 * F.count(F.lit(1)).cast("double")),
            6,
        ).alias("map_at_5"),
        F.round(
            F.sum(F.coalesce("h5", F.lit(0))).cast("double")
            / (5.0 * F.count(F.lit(1)).cast("double")),
            6,
        ).alias("p_at_5"),
    )


def _map_oracle() -> str:
    rel_cols = ",\n           ".join(
        f"COALESCE(max(CASE WHEN rnk = {j} THEN r END), 0) AS r{j}"
        for j in range(1, _MAP_K + 1)
    )
    cum = {
        j: "(" + " + ".join(f"r{i}" for i in range(1, j + 1)) + ")"
        for j in range(1, _MAP_K + 1)
    }
    ap = " + ".join(
        f"r{j} * {cum[j]} * {_MAP_W[j]}" for j in range(1, _MAP_K + 1)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id FROM e WHERE vec_id < {_MAP_Q}),
rel AS (
    SELECT q_id, c_id
    FROM ({topk_bruteforce_sql('e', 'vec_id', 'v', _MAP_Q, _MAP_K)})),
ranked AS (
    SELECT q_id, c_id, rank AS rnk
    FROM ({lsh_bucket_topk_sql('e', 'vec_id', 'v', EMB_DIMS, _MAP_Q, _MAP_K)})),
flags AS (
    SELECT ranked.q_id, ranked.rnk,
           CASE WHEN rel.c_id IS NOT NULL THEN 1 ELSE 0 END AS r
    FROM ranked
    LEFT JOIN rel ON rel.q_id = ranked.q_id AND rel.c_id = ranked.c_id),
per_q AS (
    SELECT q_id,
           {rel_cols}
    FROM flags GROUP BY q_id),
scored AS (
    SELECT q.q_id,
           COALESCE({ap}, 0) AS ap_s,
           COALESCE({cum[_MAP_K]}, 0) AS h5
    FROM q LEFT JOIN per_q ON per_q.q_id = q.q_id)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(ap_s) AS BIGINT) AS sum_ap_scaled,
       CAST(sum(h5) AS BIGINT) AS sum_hits_at_5,
       round(CAST(sum(ap_s) AS DOUBLE)
             / (300.0 * CAST(count(*) AS DOUBLE)), 6) AS map_at_5,
       round(CAST(sum(h5) AS DOUBLE)
             / (5.0 * CAST(count(*) AS DOUBLE)), 6) AS p_at_5
FROM scored
"""


# --------------------------------- LSH recall curve over n_planes

_RC_PLANES = [2, 4, 6, 8]
_RC_MAX_PLANES = 8
_RC_QUERIES = 10
_RC_K = 10


def _sim_recall_curve_nplanes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "embedding",
        bucket_expr(F.col("embedding"), EMB_DIMS, _RC_MAX_PLANES).alias("b8"),
        norm(F.col("embedding")).alias("n"),
    )
    probe = e.filter(F.col("vec_id") < _RC_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("b8").alias("q_b8"),
        F.col("n").alias("q_n"),
    )
    corpus = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("b8").alias("c_b8"),
        F.col("n").alias("c_n"),
    )
    exact = topk_bruteforce(emb, "vec_id", "embedding", _RC_QUERIES, k=_RC_K).select(
        "q_id", "c_id"
    )
    # nested buckets: the P-plane bucket is b8 % 2^P (plane p = bit p),
    # so ONE bucket computation serves every swept config.
    planes = spark.createDataFrame(
        [(p,) for p in _RC_PLANES], "n_planes int"
    )
    p_exp = probe.crossJoin(F.broadcast(planes)).select(
        "n_planes",
        "q_id",
        "q_vec",
        "q_n",
        F.expr("q_b8 % shiftleft(1, n_planes)").alias("bk"),
    )
    c_exp = corpus.crossJoin(F.broadcast(planes)).select(
        "n_planes",
        "c_id",
        "c_vec",
        "c_n",
        F.expr("c_b8 % shiftleft(1, n_planes)").alias("bk"),
    )
    cand = p_exp.join(c_exp, ["n_planes", "bk"]).filter(
        F.col("q_id") != F.col("c_id")
    )
    lsh = top_k_per_group(
        cand.select(
            "n_planes",
            "q_id",
            "c_id",
            cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_n"), F.col("c_n")
            ).alias("cos"),
        ),
        ["n_planes", "q_id"],
        "cos",
        "c_id",
        _RC_K,
        "rnk",
    )
    hits = lsh.join(exact, ["q_id", "c_id"])
    n_cand = cand.groupBy("n_planes").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    agg = hits.groupBy("n_planes").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    denom = _RC_QUERIES * _RC_K
    return (
        n_cand.join(agg, "n_planes", "left")
        .select(
            F.col("n_planes").cast("long").alias("n_planes"),
            "n_candidates",
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) * 1000 / F.lit(denom))
            .cast("long")
            .alias("recall_permille"),
        )
        .orderBy("n_planes")
    )


def _recall_curve_oracle() -> str:
    # The nested-bucket candidates of every n_planes config are
    # generated here; the twins generate one config's.
    planes_rows = ", ".join(f"({p})" for p in _RC_PLANES)
    scored = f"(SELECT n_planes, q_id, c_id, {cosine_sql('q_vec', 'c_vec')} AS cos FROM cand)"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bk AS (SELECT vec_id, v,
              {bucket_sql('v', EMB_DIMS, _RC_MAX_PLANES)} AS b8 FROM e),
p AS (SELECT * FROM bk WHERE vec_id < {_RC_QUERIES}),
exact AS (
    SELECT q_id, c_id
    FROM ({topk_bruteforce_sql('e', 'vec_id', 'v', _RC_QUERIES, _RC_K)})),
planes(n_planes) AS (VALUES {planes_rows}),
p_exp AS (
    SELECT n_planes, vec_id AS q_id, v AS q_vec,
           b8 % (1 << n_planes) AS bk
    FROM p, planes),
c_exp AS (
    SELECT n_planes, vec_id AS c_id, v AS c_vec,
           b8 % (1 << n_planes) AS bk
    FROM bk, planes),
cand AS (
    SELECT a.n_planes, a.q_id, b.c_id, a.q_vec, b.c_vec
    FROM p_exp a JOIN c_exp b
      ON a.n_planes = b.n_planes AND a.bk = b.bk AND a.q_id <> b.c_id),
lsh AS (
    SELECT n_planes, q_id, c_id
    FROM ({top_k_per_group_sql(scored, 'n_planes, q_id', 'cos', 'c_id', _RC_K, 'rnk')})),
nc AS (SELECT n_planes, CAST(count(*) AS BIGINT) AS n_candidates
       FROM cand GROUP BY n_planes),
h AS (SELECT n_planes, CAST(count(*) AS BIGINT) AS n_hits
      FROM lsh JOIN exact USING (q_id, c_id) GROUP BY n_planes)
SELECT CAST(nc.n_planes AS BIGINT) AS n_planes, nc.n_candidates,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000 // {_RC_QUERIES * _RC_K} AS BIGINT)
           AS recall_permille
FROM nc LEFT JOIN h USING (n_planes)
ORDER BY n_planes
"""


# --------------------------------------------- IVF recall curve

_IVF_RC_QUERIES = 10
_IVF_RC_K = 5
_IVF_RC_NPROBES = [1, 2, 4]


def _sim_ivf_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # centroids via the established per-dim avg rounded at 4dp
    # (the sim_ivf_topk oracle idiom)
    ex = e.select("label", F.posexplode("v").alias("pos", "x"))
    per_dim = ex.groupBy("label", "pos").agg(
        F.round(F.avg("x"), 4).alias("a")
    )
    cent = per_dim.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "a"))
        ).alias("pa")
    ).select(
        F.col("label").alias("clist"),
        F.transform("pa", lambda s: s.getField("a")).alias("cvec"),
    ).withColumn("cvn", norm(F.col("cvec")))
    # coalesce the tiny frames: a crossJoin of two 32-partition
    # inputs schedules 1024 near-empty tasks (~10 s of pure overhead
    # measured at sf0.001)
    q = (
        e.filter(F.col("vec_id") < _IVF_RC_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            norm(F.col("v")).alias("qn"),
        )
        .coalesce(1)
    )
    routed = F.broadcast(q).crossJoin(
        F.broadcast(cent.coalesce(1))
    ).select(
        "q_id",
        "qv",
        "qn",
        "clist",
        F.round(
            cosine_from_norms(F.col("qv"), F.col("cvec"), F.col("qn"), F.col("cvn")),
            9,
        ).alias("rcos"),
    )
    wr = Window.partitionBy("q_id").orderBy(
        F.desc("rcos"), F.asc("clist")
    )
    assigned = routed.withColumn(
        "crank", F.row_number().over(wr)
    ).filter(F.col("crank") <= max(_IVF_RC_NPROBES)).select(
        "q_id", "qv", "qn", "clist", "crank"
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        norm(F.col("v")).alias("cn"),
        F.col("label").alias("clist"),
    )
    cands = materialize(
        F.broadcast(assigned)
        .join(c, "clist")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            "crank",
            F.round(
                cosine_from_norms(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                9,
            ).alias("ckey"),
        )
    )
    # literal nprobe grid via explode (a Python-created broadcast
    # frame costs ~4.4 s of spin-up — profiled in round70)
    per_np = cands.select(
        "*",
        F.explode(
            F.array(*[F.lit(np) for np in _IVF_RC_NPROBES])
        ).alias("nprobe"),
    ).filter(F.col("crank") <= F.col("nprobe"))
    nps = spark.range(len(_IVF_RC_NPROBES)).select(
        F.element_at(
            F.array(*[F.lit(np) for np in _IVF_RC_NPROBES]),
            (F.col("id") + 1).cast("int"),
        ).alias("nprobe")
    )
    wk = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("ckey"), F.asc("c_id")
    )
    approx = per_np.withColumn(
        "rk", F.row_number().over(wk)
    ).filter(F.col("rk") <= _IVF_RC_K).select(
        "nprobe", "q_id", "c_id"
    )
    # exact ground truth under the identical rank key
    exact = topk_bruteforce(e, "vec_id", "v", _IVF_RC_QUERIES, k=_IVF_RC_K).select(
        "q_id", "c_id"
    )
    hits = approx.join(exact, ["q_id", "c_id"]).groupBy(
        "nprobe"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("nq"))
    return (
        nps.join(hits, "nprobe", "left")
        .na.fill(0, ["n_hits"])
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            F.col("nq").alias("n_queries"),
            "n_hits",
            F.round(
                F.col("n_hits") / (F.col("nq") * _IVF_RC_K), 6
            ).alias("recall_at_5"),
        )
        .orderBy("nprobe")
    )


IVF_RC_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
cent AS (
    SELECT label AS clist, centroid AS cvec
    FROM ({label_centroids_sql('e', 'v', 'label', EMB_DIMS)})),
q AS (SELECT vec_id AS q_id, v AS qv FROM e
      WHERE vec_id < {_IVF_RC_QUERIES}),
routed AS (
    SELECT q_id, qv, clist,
           round({cosine_sql("qv", "cvec")}, 9) AS rcos
    FROM q, cent),
assigned AS (
    SELECT q_id, qv, clist, crank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY rcos DESC, clist) AS crank
        FROM routed)
    WHERE crank <= {max(_IVF_RC_NPROBES)}),
cands AS (
    SELECT a.q_id, c.vec_id AS c_id, a.crank,
           round({cosine_sql("a.qv", "c.v")}, 9) AS ckey
    FROM assigned a JOIN e c ON c.label = a.clist
    WHERE c.vec_id <> a.q_id),
nps(nprobe) AS (VALUES {", ".join(f"({np})" for np in _IVF_RC_NPROBES)}),
approx AS (
    SELECT nprobe, q_id, c_id FROM (
        SELECT nprobe, q_id, c_id, row_number() OVER (
            PARTITION BY nprobe, q_id
            ORDER BY ckey DESC, c_id) AS rk
        FROM nps JOIN cands ON crank <= nprobe)
    WHERE rk <= {_IVF_RC_K}),
exact AS (
    SELECT q_id, c_id
    FROM ({topk_bruteforce_sql('e', 'vec_id', 'v', _IVF_RC_QUERIES, _IVF_RC_K)})),
hits AS (
    SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
    FROM approx JOIN exact USING (q_id, c_id) GROUP BY nprobe),
nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM q)
SELECT CAST(nps.nprobe AS BIGINT) AS nprobe,
       nq AS n_queries,
       coalesce(n_hits, 0) AS n_hits,
       round(coalesce(n_hits, 0) * 1.0 / (nq * {_IVF_RC_K}), 6)
           AS recall_at_5
FROM nps LEFT JOIN hits ON nps.nprobe = hits.nprobe, nq
ORDER BY nps.nprobe
"""


# ------------------------------------------------- LSH silhouette


def _sim_silhouette_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        bucket_expr(F.col("embedding"), EMB_DIMS).alias("bucket"),
    )
    ex = e.select(
        "vec_id", "bucket", F.posexplode("v").alias("pos", "x")
    )
    # per-bucket per-dim centroid rounded at 6dp (the semantic-prune
    # determinism contract); 2^planes × dims rows → always broadcast.
    cent = ex.groupBy(F.col("bucket").alias("cb"), "pos").agg(
        F.round(F.avg("x"), 6).alias("c")
    )
    d2 = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "bucket", "cb")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            .alias("d2")
        )
    )
    ab = d2.groupBy("vec_id", "bucket").agg(
        F.sqrt(
            F.sum(F.when(F.col("cb") == F.col("bucket"), F.col("d2")))
        ).alias("a"),
        F.sqrt(
            F.min(F.when(F.col("cb") != F.col("bucket"), F.col("d2")))
        ).alias("b"),
    )
    sil = ab.select(
        "bucket",
        F.when(F.greatest("a", "b") == 0, F.lit(0.0))
        .otherwise(
            (F.col("b") - F.col("a")) / F.greatest("a", "b")
        )
        .alias("s"),
    )
    return (
        sil.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_vecs",
            "mean_silhouette",
        )
        .orderBy("bucket")
    )


SILHOUETTE_SQL = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           {bucket_sql('v', EMB_DIMS)} AS bucket
    FROM embeddings),
ex AS (
    SELECT vec_id, bucket, i AS pos, v[i] AS x
    FROM e, unnest(generate_series(1, {EMB_DIMS})) AS u(i)),
cent AS (
    SELECT bucket AS cb, pos, round(avg(x), 6) AS c
    FROM ex GROUP BY bucket, pos),
d2 AS (
    SELECT ex.vec_id, ex.bucket, cent.cb,
           sum((x - c) * (x - c)) AS d2
    FROM ex JOIN cent ON ex.pos = cent.pos
    GROUP BY ex.vec_id, ex.bucket, cent.cb),
ab AS (
    SELECT vec_id, bucket,
           sqrt(sum(CASE WHEN cb = bucket THEN d2 END)) AS a,
           sqrt(min(CASE WHEN cb <> bucket THEN d2 END)) AS b
    FROM d2 GROUP BY vec_id, bucket),
sil AS (
    SELECT bucket,
           CASE WHEN greatest(a, b) = 0 THEN 0.0
                ELSE (b - a) / greatest(a, b) END AS s
    FROM ab)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(s), 6) AS mean_silhouette
FROM sil GROUP BY bucket
ORDER BY bucket
"""

# --------------------------------------------------- kNN classification

_KNN_QUERY_IDS = 50
_KNN_K = 5


def _sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN stack driven to an end task: 5-NN majority-vote label
    prediction for the first {q} vectors (exact cosine neighbors —
    the IVF/LSH/PQ variants swap in transparently since they share the
    top-k contract). Vote tie-break is (count desc, label asc) so the
    prediction is engine-deterministic. Output is per-query:
    prediction, truth, hit flag. (On THIS corpus the synthetic labels
    are independent of embedding geometry, so accuracy sits at chance;
    the oracle-checked contract is the voting pipeline itself.)""".format(q=_KNN_QUERY_IDS)
    emb = read_table(spark, sf_dir, "embeddings")
    nn = topk_bruteforce(
        emb, "vec_id", "embedding", _KNN_QUERY_IDS, k=_KNN_K
    )
    labels = emb.select("vec_id", "label")
    votes = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("c_id"), F.col("label").alias("c_label")
            ),
            "c_id",
        )
        .groupBy("q_id", "c_label")
        .agg(F.count(F.lit(1)).alias("__votes"))
    )
    wv = Window.partitionBy("q_id").orderBy(
        F.col("__votes").desc(), F.col("c_label").asc()
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(wv))
        .filter(F.col("__rn") == 1)
        .select("q_id", F.col("c_label").alias("pred_label"))
    )
    return (
        pred.join(
            labels.select(
                F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
            ),
            "q_id",
        )
        .select(
            "q_id",
            F.col("pred_label").cast("long").alias("pred_label"),
            F.col("true_label").cast("long").alias("true_label"),
            (F.col("pred_label") == F.col("true_label"))
            .cast("long")
            .alias("is_correct"),
        )
    )


def _sim_knn_sql() -> str:
    nn = topk_bruteforce_sql("embeddings", "vec_id", _VEC, _KNN_QUERY_IDS, _KNN_K)
    return f"""
WITH nn AS (SELECT q_id, c_id FROM ({nn})),
votes AS (
    SELECT nn.q_id, emb.label AS c_label, count(*) AS n_votes
    FROM nn JOIN embeddings emb ON nn.c_id = emb.vec_id
    GROUP BY 1, 2),
pred AS (
    SELECT q_id, c_label AS pred_label FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY n_votes DESC, c_label ASC) AS rn
        FROM votes) WHERE rn = 1)
SELECT p.q_id,
       CAST(p.pred_label AS BIGINT) AS pred_label,
       CAST(t.label AS BIGINT) AS true_label,
       CAST(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END AS BIGINT)
           AS is_correct
FROM pred p JOIN embeddings t ON p.q_id = t.vec_id
"""


# ----------------------------------------------- BM25 (RRF and PRF)

_BM25_QUERY = ["join", "hash", "scan"]  # round38's q_exec
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_corpus(spark: SparkSession, sf_dir: str):
    """What BM25 scores a term set against: the per-(doc, term) counts
    ``tc`` (materialized: every score and the expansion read them), the
    document lengths ``dl``, the document count ``nd``, the mean length
    ``ad``, and the fixed query's terms ``q``."""
    d = read_table(spark, sf_dir, "documents")
    tc = materialize(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tc.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    ad = dl.agg(F.avg("dl").alias("avgdl"))
    # JVM-side literal frame: broadcasting a Python-created frame
    # costs ~4 s of serialization/exchange spin-up (round70 profile)
    q = spark.range(len(_BM25_QUERY)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _BM25_QUERY]),
            (F.col("id") + 1).cast("int"),
        ).alias("term")
    )
    return tc, dl, nd, ad, q


def _bm25_scores(tc, dl, nd, ad, terms_df) -> DataFrame:
    dfreq = (
        tc.join(F.broadcast(terms_df), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = dfreq.crossJoin(F.broadcast(nd)).select(
        "term",
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    return (
        tc.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(ad))
        .select(
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                * (1.0 + _BM25_K1)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 9).alias("skey"))
    )


# The oracle twin of _bm25_corpus: the CTEs tc, dl, nd, ad and q.
_BM25_CORPUS_SQL = f"""tc AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
    WHERE term != '' GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tc GROUP BY doc_id),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
q(term) AS (VALUES {", ".join(f"('{t}')" for t in _BM25_QUERY)})"""


def _bm25_sql_block(qcte: str, out: str) -> str:
    """The oracle twin of _bm25_scores for the terms of CTE ``qcte``:
    the CTE ``out`` (doc_id, skey) and its helpers."""
    return f"""{out}_df AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df
    FROM tc WHERE term IN (SELECT term FROM {qcte}) GROUP BY term),
{out}_idf AS (
    SELECT term,
           ln(1.0 + (nd.n_docs - df + 0.5) / (df + 0.5)) AS idf
    FROM {out}_df, nd),
{out} AS (
    SELECT doc_id, round(sum({out}_idf.idf * tc.tf * (1.0 + {_BM25_K1})
               / (tc.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / ad.avgdl))), 9) AS skey
    FROM tc
    JOIN {out}_idf ON tc.term = {out}_idf.term
    JOIN dl USING (doc_id)
    CROSS JOIN ad
    GROUP BY doc_id)"""


# ---------------------------------------------------- RRF hybrid

_RRF_QUERY_VEC_ID = 0
_RRF_LIST_K = 50
_RRF_OUT_K = 20
_RRF_C = 60


def _rank_by_self_join(lst: DataFrame, id_col: str) -> DataFrame:
    """Competition rank on a LIMIT-bounded list via broadcast self-join
    count of strictly-better rows — no window, total order
    (score desc, id asc) so ranks are dense and unique."""
    a, b = lst.alias("a"), lst.alias("b")
    better = (F.col("b.skey") > F.col("a.skey")) | (
        (F.col("b.skey") == F.col("a.skey"))
        & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
    )
    return (
        a.join(F.broadcast(b), better, "left")
        .groupBy(F.col(f"a.{id_col}").alias(id_col))
        .agg(
            (F.count(F.col(f"b.{id_col}")) + 1)
            .cast("long")
            .alias("rank")
        )
    )


def _sim_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    tc, dl, nd, ad, q = _bm25_corpus(spark, sf_dir)
    sparse = materialize(
        _bm25_scores(tc, dl, nd, ad, q)
        .orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(_RRF_LIST_K)
    )
    e = read_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == _RRF_QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"), norm(F.col("embedding")).alias("qn")
    )
    dense = materialize(
        e.select("vec_id", "embedding", norm(F.col("embedding")).alias("n"))
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_from_norms(
                    F.col("embedding"), F.col("qvec"), F.col("n"), F.col("qn")
                ),
                9,
            ).alias("skey"),
        )
        .orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(_RRF_LIST_K)
    )
    rs = _rank_by_self_join(sparse, "doc_id").withColumnRenamed(
        "rank", "rank_sparse"
    )
    rd = _rank_by_self_join(dense, "doc_id").withColumnRenamed(
        "rank", "rank_dense"
    )
    fused = rs.join(rd, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("rank_sparse", F.lit(0)).alias("rank_sparse"),
        F.coalesce("rank_dense", F.lit(0)).alias("rank_dense"),
        (
            F.coalesce(
                1.0 / (_RRF_C + F.col("rank_sparse")), F.lit(0.0)
            )
            + F.coalesce(
                1.0 / (_RRF_C + F.col("rank_dense")), F.lit(0.0)
            )
        ).alias("rrf_raw"),
    )
    return (
        fused.orderBy(*score_order("rrf_raw", "doc_id"))
        .limit(_RRF_OUT_K)
        .select(
            "doc_id",
            "rank_sparse",
            "rank_dense",
            F.round("rrf_raw", 6).alias("rrf_score"),
        )
    )


RRF_SQL = f"""
WITH {_BM25_CORPUS_SQL},
{_bm25_sql_block("q", "bm25")},
sparse AS (
    SELECT doc_id, skey FROM bm25
    ORDER BY skey DESC, doc_id LIMIT {_RRF_LIST_K}),
qv AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
       WHERE vec_id = {_RRF_QUERY_VEC_ID}),
dense AS (
    SELECT vec_id AS doc_id,
           round({cosine_sql('embedding::DOUBLE[]', 'qvec')}, 9) AS skey
    FROM embeddings, qv
    ORDER BY skey DESC, doc_id LIMIT {_RRF_LIST_K}),
rs AS (
    SELECT doc_id, CAST(row_number() OVER (
        ORDER BY skey DESC, doc_id) AS BIGINT) AS rank_sparse
    FROM sparse),
rd AS (
    SELECT doc_id, CAST(row_number() OVER (
        ORDER BY skey DESC, doc_id) AS BIGINT) AS rank_dense
    FROM dense),
fused AS (
    SELECT coalesce(rs.doc_id, rd.doc_id) AS doc_id,
           coalesce(rank_sparse, 0) AS rank_sparse,
           coalesce(rank_dense, 0) AS rank_dense,
           coalesce(1.0 / ({_RRF_C} + rank_sparse), 0.0)
           + coalesce(1.0 / ({_RRF_C} + rank_dense), 0.0) AS rrf_raw
    FROM rs FULL OUTER JOIN rd ON rs.doc_id = rd.doc_id)
SELECT doc_id, rank_sparse, rank_dense,
       round(rrf_raw, 6) AS rrf_score
FROM fused
ORDER BY round(rrf_raw, 9) DESC, doc_id LIMIT {_RRF_OUT_K}
"""

# ------------------------------------------------ PRF expansion

_PRF_FEEDBACK_DOCS = 10
_PRF_EXPANSION = 5
_PRF_OUT_K = 10


def _sim_query_expansion_prf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tc, dl, nd, ad, q0 = _bm25_corpus(spark, sf_dir)
    base = _bm25_scores(tc, dl, nd, ad, q0)
    fb = materialize(
        base.orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(_PRF_FEEDBACK_DOCS)
    )
    # expansion: top TF-IDF terms inside the pseudo-relevant docs,
    # excluding the original query terms
    alldf = tc.groupBy("term").agg(
        F.count(F.lit(1)).alias("dfa")
    )
    exp_terms = (
        tc.join(F.broadcast(fb.select("doc_id")), "doc_id")
        .groupBy("term")
        .agg(F.sum("tf").alias("fbtf"))
        .join(alldf, "term")
        .crossJoin(F.broadcast(nd))
        .filter(~F.col("term").isin(_BM25_QUERY))
        .select(
            "term",
            F.round(
                F.col("fbtf")
                * F.log(
                    1.0
                    + (F.col("n_docs") - F.col("dfa") + 0.5)
                    / (F.col("dfa") + 0.5)
                ),
                9,
            ).alias("tkey"),
        )
        .orderBy(F.desc("tkey"), F.asc("term"))
        .limit(_PRF_EXPANSION)
        .select("term")
    )
    q1 = q0.unionByName(exp_terms)
    final = _bm25_scores(tc, dl, nd, ad, q1)
    top = materialize(
        final.orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(_PRF_OUT_K)
    )
    # rank via bounded self-join (window-free, the round63 pattern)
    b = top.select(
        F.col("doc_id").alias("bd"), F.col("skey").alias("bk")
    )
    better = (F.col("bk") > F.col("skey")) | (
        (F.col("bk") == F.col("skey")) & (F.col("bd") < F.col("doc_id"))
    )
    ranked = (
        top.join(F.broadcast(b), better, "left")
        .groupBy("doc_id", "skey")
        .agg((F.count("bd") + 1).cast("long").alias("rank"))
    )
    return (
        ranked.join(
            fb.select("doc_id").withColumn("in_fb", F.lit(1)),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "rank",
            F.round("skey", 6).alias("score"),
            F.when(F.col("in_fb").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("newly_retrieved"),
        )
        .orderBy("rank")
    )


PRF_SQL = f"""
WITH {_BM25_CORPUS_SQL},
{_bm25_sql_block("q", "base")},
fb AS (SELECT doc_id FROM base
       ORDER BY skey DESC, doc_id LIMIT {_PRF_FEEDBACK_DOCS}),
alldf AS (SELECT term, count(*) AS dfa FROM tc GROUP BY term),
exp_terms AS (
    SELECT tc.term
    FROM tc JOIN fb USING (doc_id)
    JOIN alldf ON tc.term = alldf.term
    CROSS JOIN nd
    WHERE tc.term NOT IN (SELECT term FROM q)
    GROUP BY tc.term, dfa, n_docs
    ORDER BY round(sum(tf) * ln(1.0 + (n_docs - dfa + 0.5)
                                / (dfa + 0.5)), 9) DESC, tc.term
    LIMIT {_PRF_EXPANSION}),
q1(term) AS (SELECT term FROM q UNION ALL SELECT term FROM exp_terms),
{_bm25_sql_block("q1", "final")},
top AS (SELECT doc_id, skey FROM final
        ORDER BY skey DESC, doc_id LIMIT {_PRF_OUT_K}),
ranked AS (
    SELECT a.doc_id, a.skey, 1 + count(b.doc_id) AS rank
    FROM top a LEFT JOIN top b
      ON b.skey > a.skey OR (b.skey = a.skey AND b.doc_id < a.doc_id)
    GROUP BY a.doc_id, a.skey)
SELECT ranked.doc_id, CAST(rank AS BIGINT) AS rank,
       round(skey, 6) AS score,
       CAST(CASE WHEN fb.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
           AS newly_retrieved
FROM ranked LEFT JOIN fb ON ranked.doc_id = fb.doc_id
ORDER BY rank
"""


QUERIES: dict[str, QuerySpec] = {
    "sim_topk_bruteforce": QuerySpec(_sim_topk, SIM_TOPK_SQL),
    "sim_lsh_bucket_topk": QuerySpec(_sim_lsh_topk, SIM_LSH_TOPK_SQL),
    "sim_ivf_topk": QuerySpec(_sim_ivf, SIM_IVF_SQL),
    "sim_maxsim": QuerySpec(_sim_maxsim, SIM_MAXSIM_SQL),
    "sim_lsh_recall": QuerySpec(_sim_lsh_recall, _sim_lsh_recall_sql()),
    "sim_pq_recall": QuerySpec(_sim_pq_recall, _sim_pq_recall_sql()),
    "sim_ivfpq_topk": QuerySpec(_sim_ivfpq_topk, _sim_ivfpq_sql()),
    "sim_matryoshka_recall": QuerySpec(
        _sim_matryoshka_recall, _build_matryoshka_sql()
    ),
    "sim_ndcg_eval": QuerySpec(_sim_ndcg_eval, _ndcg_oracle()),
    "sim_mrr_eval": QuerySpec(_sim_mrr_eval, _mrr_oracle()),
    "sim_map_eval": QuerySpec(_sim_map_eval, _map_oracle()),
    "sim_recall_curve_nplanes": QuerySpec(
        _sim_recall_curve_nplanes, _recall_curve_oracle()
    ),
    "sim_ivf_recall_curve": QuerySpec(_sim_ivf_recall_curve, IVF_RC_SQL),
    "sim_silhouette_lsh": QuerySpec(_sim_silhouette_lsh, SILHOUETTE_SQL),
    "sim_knn_classify": QuerySpec(_sim_knn_classify, _sim_knn_sql()),
    "sim_rrf_hybrid": QuerySpec(_sim_rrf_hybrid, RRF_SQL),
    "sim_query_expansion_prf": QuerySpec(_sim_query_expansion_prf, PRF_SQL),
}
