"""Round-7 additions, fourth batch: positional phrase search, NDCG
ranking quality, GDPR erasure propagation, referential-integrity audit.

- ``text_phrase_search``: exact phrase matching via POSITIONAL posting
  lists — the IR operator BM25/TF-IDF can't express (bag-of-words
  loses adjacency). Each query phrase's first term anchors a posting
  scan; subsequent terms join on (doc, position+offset). Only the
  query terms' postings are touched (the inverted-index contract);
  phrase hit counts per document, ranked.
- ``sim_ndcg_eval``: NDCG@5 of the hyperplane-LSH ANN ranking against
  exact cosine ranking, per probe query — the ranking-quality metric
  recall@k misses (recall treats rank 1 and rank 5 alike). Graded
  relevance = 6 - exact_rank; discount factors 1/log2(i+1) are
  PRECOMPUTED literals embedded in both engines, so no libm log enters
  the comparison.
- ``pipeline_gdpr_erasure``: right-to-be-forgotten sweep — a
  deterministic md5-sampled user erasure set, anti-join survival
  counts and purged-row counts per affected table, one audit row per
  table. The anti-join fan-out pattern every privacy pipeline runs.
- ``dq_referential_integrity``: orphan audit of every foreign-key
  edge in the TPC-H-ish catalog (lineitem→orders/part/supplier,
  orders→customer, customer→nation, supplier→nation, nation→region)
  via LEFT ANTI probes against distinct parent keys; one row per
  edge with parent/child/orphan counts.

Invariant tests in tests/test_round42.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------------ phrase search

_PHRASES = ["table scan", "hash join", "sort merge"]


def _text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    post = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term") != "")
    outs = []
    for phrase in _PHRASES:
        terms = phrase.split(" ")
        cur = (
            post.filter(F.col("term") == terms[0])
            .select("doc_id", F.col("pos").alias("p0"))
        )
        for off, t in enumerate(terms[1:], start=1):
            nxt = post.filter(F.col("term") == t).select(
                "doc_id", (F.col("pos") - off).alias("p0")
            )
            cur = cur.join(nxt, ["doc_id", "p0"])
        outs.append(
            cur.groupBy("doc_id").agg(
                F.lit(phrase).alias("phrase"),
                F.count(F.lit(1)).cast("long").alias("n_hits"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("phrase", "doc_id", "n_hits").orderBy(
        "phrase", "doc_id"
    )


def _phrase_oracle() -> str:
    blocks = []
    for phrase in _PHRASES:
        terms = phrase.split(" ")
        joins = []
        for off, t in enumerate(terms):
            joins.append(
                f"(SELECT doc_id, pos - {off} AS p0 FROM post "
                f"WHERE term = '{t}') t{off}"
            )
        join_sql = joins[0]
        for i in range(1, len(joins)):
            join_sql += (
                f" JOIN {joins[i]} USING (doc_id, p0)"
            )
        blocks.append(
            f"SELECT '{phrase}' AS phrase, doc_id, "
            f"CAST(count(*) AS BIGINT) AS n_hits "
            f"FROM ({join_sql}) GROUP BY doc_id"
        )
    body = " UNION ALL ".join(blocks)
    return f"""
WITH post AS (
    SELECT doc_id, i - 1 AS pos, w[i] AS term
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         unnest(generate_series(1, len(w))) AS u(i)
    WHERE w[i] != '')
SELECT phrase, doc_id, n_hits FROM ({body}) ORDER BY phrase, doc_id
"""


# ------------------------------------------------ NDCG eval

_NDCG_K = 5
_NDCG_QUERIES = 10
# 1/log2(i+1) for i = 1..5, precomputed so neither engine's libm log
# participates in the hash-checked math.
_DISCOUNTS = [1.0, 0.630929754, 0.5, 0.430676558, 0.386852807]
_IDEAL_DCG = sum((_NDCG_K + 1 - (i + 1)) * d for i, d in enumerate(_DISCOUNTS))


def _sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.similarity import (
        lsh_bucket_topk,
        topk_bruteforce,
    )
    from trackdechets_etl_spark.queries.llm import EMB_DIMS

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
    from trackdechets_etl_spark.llm.similarity import bucket_sql, cosine_sql

    discounts = ", ".join(str(d) for d in _DISCOUNTS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket_sql('v', 64)} AS bkt FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, bkt FROM b WHERE vec_id < {_NDCG_QUERIES}),
exact_scored AS (
    SELECT q.q_id, c.vec_id AS c_id, {cosine_sql('q.qv', 'c.v')} AS cos
    FROM q JOIN e c ON c.vec_id <> q.q_id),
exact_r AS (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY round(cos, 9) DESC, c_id ASC) AS rank
    FROM exact_scored),
rel AS (SELECT q_id, c_id, {_NDCG_K + 1} - rank AS rel
        FROM exact_r WHERE rank <= {_NDCG_K}),
approx_scored AS (
    SELECT q.q_id, c.vec_id AS c_id, {cosine_sql('q.qv', 'c.v')} AS cos
    FROM q JOIN b c ON c.bkt = q.bkt AND c.vec_id <> q.q_id),
approx_r AS (
    SELECT q_id, c_id, row_number() OVER (
        PARTITION BY q_id ORDER BY round(cos, 9) DESC, c_id ASC) AS rank
    FROM approx_scored),
ap AS (SELECT q_id, c_id, rank FROM approx_r WHERE rank <= {_NDCG_K}),
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


# ------------------------------------------------ GDPR erasure

_ERASE_HEX = "20"  # md5(user_id) first byte < 0x20 -> ~12.5% of users


def _pipeline_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    erase = (
        ev.select("user_id")
        .distinct()
        .filter(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2) < _ERASE_HEX)
    )
    kept = ev.join(erase, "user_id", "left_anti")
    stats = [
        ev.agg(
            F.lit("events").alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        ),
        kept.agg(
            F.lit("events_after_erasure").alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        ),
        erase.agg(
            F.lit("erased_users").alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        ),
    ]
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("table_name")


GDPR_ERASURE_SQL = f"""
WITH erase AS (
    SELECT DISTINCT user_id FROM events
    WHERE substring(md5(CAST(user_id AS VARCHAR)), 1, 2) < '{_ERASE_HEX}'),
kept AS (
    SELECT e.* FROM events e
    WHERE e.user_id NOT IN (SELECT user_id FROM erase))
SELECT 'erased_users' AS table_name,
       CAST((SELECT count(*) FROM erase) AS BIGINT) AS n_rows
UNION ALL
SELECT 'events', CAST((SELECT count(*) FROM events) AS BIGINT)
UNION ALL
SELECT 'events_after_erasure', CAST((SELECT count(*) FROM kept) AS BIGINT)
ORDER BY table_name
"""


# ------------------------------------------------ referential integrity

_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for child, fk, parent, pk in _FK_EDGES:
        c = read_table(spark, sf_dir, child).select(F.col(fk).alias("k"))
        p = (
            read_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"))
            .distinct()
        )
        orphans = c.join(p, "k", "left_anti")
        outs.append(
            c.agg(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("fk_edge"),
                F.count(F.lit(1)).cast("long").alias("n_child_rows"),
            ).crossJoin(
                F.broadcast(
                    orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
                )
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "is_clean", (F.col("n_orphans") == 0).cast("int")
    ).orderBy("fk_edge")


def _ref_integrity_oracle() -> str:
    blocks = []
    for child, fk, parent, pk in _FK_EDGES:
        blocks.append(
            f"""SELECT '{child}.{fk}->{parent}.{pk}' AS fk_edge,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child_rows,
       CAST((SELECT count(*) FROM {child}
             WHERE {fk} NOT IN (SELECT {pk} FROM {parent})) AS BIGINT)
           AS n_orphans"""
        )
    body = " UNION ALL ".join(blocks)
    return f"""
SELECT fk_edge, n_child_rows, n_orphans,
       CAST(n_orphans = 0 AS INT) AS is_clean
FROM ({body}) ORDER BY fk_edge
"""


QUERIES: dict[str, QuerySpec] = {
    "text_phrase_search": QuerySpec(_text_phrase_search, _phrase_oracle()),
    "sim_ndcg_eval": QuerySpec(_sim_ndcg_eval, _ndcg_oracle()),
    "pipeline_gdpr_erasure": QuerySpec(_pipeline_gdpr_erasure, GDPR_ERASURE_SQL),
    "dq_referential_integrity": QuerySpec(
        _dq_referential_integrity, _ref_integrity_oracle()
    ),
}
