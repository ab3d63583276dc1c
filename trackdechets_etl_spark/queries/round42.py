"""Round-7 additions, fourth batch: positional phrase search, GDPR
erasure propagation, referential-integrity audit.

- ``text_phrase_search``: exact phrase matching via POSITIONAL posting
  lists — the IR operator BM25/TF-IDF can't express (bag-of-words
  loses adjacency). Each query phrase's first term anchors a posting
  scan; subsequent terms join on (doc, position+offset). Only the
  query terms' postings are touched (the inverted-index contract);
  phrase hit counts per document, ranked.
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

from pyspark.sql import DataFrame, SparkSession
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
    "pipeline_gdpr_erasure": QuerySpec(_pipeline_gdpr_erasure, GDPR_ERASURE_SQL),
    "dq_referential_integrity": QuerySpec(
        _dq_referential_integrity, _ref_integrity_oracle()
    ),
}
