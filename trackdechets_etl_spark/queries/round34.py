"""Round-6 additions, fourth batch: Matryoshka truncation eval and a
dataset datasheet.

- ``sim_matryoshka_recall``: recall@5 of cosine top-k computed on the
  TRUNCATED leading 16 dims against the full 64-dim exact baseline —
  the Matryoshka-representation (MRL) evaluation: modern embedding
  models front-load information so ANN can run on a prefix at a
  fraction of the cost; this query measures exactly how much ranking
  survives truncation. Both sides are deterministic rank algebra, so
  the EVALUATION itself is oracle-checked (the sim_pq_recall /
  sim_lsh_recall convention).
- ``dataset_card_stats``: the per-language corpus datasheet — docs,
  whitespace tokens, exact-duplicate share, char-length extremes —
  the summary table a dataset card ships. One fingerprint aggregation
  + one rollup.

Invariant tests in tests/test_round34.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import cosine_sql
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------------ Matryoshka recall

_MRL_DIMS = 16
_MRL_K = 5


def _sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 on the 16-dim prefix vs top-5 on the full vector, per
    query; recall = |intersection| / 5. The truncated pass reads 4x
    fewer floats per candidate — the cost model MRL sells — and the
    broadcast-query scan shape is unchanged."""
    from trackdechets_etl_spark.llm.similarity import topk_bruteforce
    from trackdechets_etl_spark.queries.llm import TOPK_QUERY_IDS

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


def _mrl_topk_cte(vec_expr: str, alias: str) -> str:
    cos = cosine_sql(f"q.{vec_expr}", f"c.{vec_expr}")
    return f"""
{alias}_scored AS (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id, {cos} AS cos
    FROM e q, e c
    WHERE q.vec_id < {{qmax}} AND c.vec_id <> q.vec_id),
{alias} AS (
    SELECT q_id, c_id FROM (
        SELECT q_id, c_id, row_number() OVER (
            PARTITION BY q_id ORDER BY round(cos, 9) DESC, c_id ASC) AS rank
        FROM {alias}_scored)
    WHERE rank <= {_MRL_K})"""


MATRYOSHKA_SQL: str  # assembled below after TOPK_QUERY_IDS import


def _build_matryoshka_sql() -> str:
    from trackdechets_etl_spark.queries.llm import TOPK_QUERY_IDS

    full = _mrl_topk_cte("v", "full_k").format(qmax=TOPK_QUERY_IDS)
    trunc = _mrl_topk_cte("tv", "trunc_k").format(qmax=TOPK_QUERY_IDS)
    return f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           (embedding::DOUBLE[])[1:{_MRL_DIMS}] AS tv
    FROM embeddings),{full},{trunc},
hits AS (
    SELECT f.q_id, count(*) AS n_hits
    FROM full_k f JOIN trunc_k t ON f.q_id = t.q_id AND f.c_id = t.c_id
    GROUP BY f.q_id)
SELECT q.q_id, round(coalesce(h.n_hits, 0) / {_MRL_K}.0, 6) AS recall
FROM (SELECT DISTINCT q_id FROM full_k) q
LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
"""


# ------------------------------------------------ dataset card


def _dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language datasheet row: docs, whitespace tokens, exact-dup
    docs (md5-fingerprint groups beyond their first member), dup
    share, char extremes. The fingerprint dedup shuffles 32-byte
    keys; everything else is one rollup of per-doc integers."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5("text").alias("__fp"),
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "n_tok"
        ),
        F.length("text").alias("n_chars"),
    )
    w = Window.partitionBy("__fp")
    d = d.withColumn(
        "__is_dup", (F.col("doc_id") != F.min("doc_id").over(w)).cast("long")
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("__is_dup").cast("long").alias("n_dup_docs"),
            F.round(F.sum("__is_dup") / F.count(F.lit(1)), 6).alias("dup_share"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("lang")
    )


DATASET_CARD_SQL = """
WITH d AS (
    SELECT doc_id, lang, md5(text) AS fp,
           len(list_filter(string_split(text, ' '), t -> t != '')) AS n_tok,
           length(text) AS n_chars
    FROM documents),
m AS (
    SELECT *, CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY fp)
                   THEN 1 ELSE 0 END AS is_dup
    FROM d)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       round(sum(is_dup) / count(*), 6) AS dup_share,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM m GROUP BY lang ORDER BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "sim_matryoshka_recall": QuerySpec(
        _sim_matryoshka_recall, _build_matryoshka_sql()
    ),
    "dataset_card_stats": QuerySpec(_dataset_card_stats, DATASET_CARD_SQL),
}
