"""Round-6 additions, eighth batch: BM25 ranking and burst profiling.

- ``text_bm25_topk``: Okapi BM25 (k1=1.2, b=0.75) top-10 documents
  for a fixed set of term queries — the IR ranking primitive the
  TF-IDF family was missing (tfidf weights terms per doc; BM25 ranks
  docs per query with document-length normalization). Per-term
  statistics ride the same (doc, term, tf) frame as tfidf; only the
  query terms' posting lists are scored, which is the inverted-index
  contract that holds at 100 TB.
- ``events_burst_profile``: per (user, event-type) burst structure —
  the peak trailing-24h event count (a RANGE window over integer
  epoch seconds, value-framed so same-second ties are
  order-independent) and how many events sit inside a ≥5-in-24h
  burst. The rate-limiter / abuse-detection readout; windows
  partition by (user, type) so no global sort exists at any scale.

Invariant tests in tests/test_round38.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.operators.ranking import top_k_per_group
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------------------------- BM25

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 10
_BM25_QUERIES = {
    "q_exec": ["join", "hash", "scan"],
    "q_stream": ["stream", "window", "batch"],
    "q_store": ["column", "table", "vector"],
}


def _text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One (doc, term, tf) aggregation feeds everything: document
    lengths (sum of tf per doc), document frequencies for the QUERY
    terms only, then the BM25 sum over matched terms and a per-query
    top-10 window. IDF uses the Robertson-Sparck-Jones form
    ln(1 + (N-df+0.5)/(df+0.5)); every float rounds at 6 only in the
    emitted score, ranking uses the 9dp-rounded key (the engine-stable
    ordering convention)."""
    d = read_table(spark, sf_dir, "documents")
    tc = materialize(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tc.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # scalar corpus stats stay LAZY: 1-row aggregates broadcast-cross-
    # joined in (repo convention, round4.py RFM anchor) instead of
    # count()/collect(), so no eager job runs before the returned
    # frame's own action.
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    ad = dl.agg(F.avg("dl").alias("avgdl"))

    qrows = [
        (qname, term) for qname, terms in _BM25_QUERIES.items() for term in terms
    ]
    q = spark.createDataFrame(qrows, "query string, term string")
    qterms = q.select("term").distinct()
    dfreq = (
        tc.join(F.broadcast(qterms), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = dfreq.crossJoin(F.broadcast(nd)).select(
        "term",
        F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    scored = (
        tc.join(F.broadcast(q), "term")
        .join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(ad))
        .select(
            "query",
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                * (1.0 + _BM25_K1)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (
                        1.0
                        - _BM25_B
                        + _BM25_B * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("s"),
        )
        .groupBy("query", "doc_id")
        .agg(F.sum("s").alias("score"))
    )
    return (
        top_k_per_group(scored, "query", "score", "doc_id", _BM25_K)
        .select(
            "query",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("query", "rank")
    )


def _bm25_oracle() -> str:
    qvals = ", ".join(
        f"('{qn}', '{t}')" for qn, ts in _BM25_QUERIES.items() for t in ts
    )
    return f"""
WITH tc AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
    WHERE term != '' GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tc GROUP BY doc_id),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
q(query, term) AS (VALUES {qvals}),
dfreq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df
    FROM tc WHERE term IN (SELECT term FROM q) GROUP BY term),
idf AS (
    SELECT term, ln(1.0 + (nd.n - df + 0.5) / (df + 0.5)) AS idf
    FROM dfreq, nd),
scored AS (
    SELECT q.query, tc.doc_id,
           sum(idf.idf * tc.tf * (1.0 + {_BM25_K1})
               / (tc.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / ad.avgdl))) AS score
    FROM tc
    JOIN q ON tc.term = q.term
    JOIN idf ON tc.term = idf.term
    JOIN dl ON tc.doc_id = dl.doc_id
    CROSS JOIN ad
    GROUP BY q.query, tc.doc_id),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY query ORDER BY round(score, 9) DESC, doc_id ASC) AS rank
    FROM scored)
SELECT query, doc_id, CAST(rank AS BIGINT) AS rank,
       round(score, 6) AS score
FROM r WHERE rank <= {_BM25_K} ORDER BY query, rank
"""


# ------------------------------------------- burst profile

_BURST_WINDOW_S = 86_400
_BURST_N = 5


def _events_burst_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h count via a RANGE window on integer epoch seconds
    (value-based framing → identical counts on both engines even for
    same-second ties), then one rollup per (user, type)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("s"),
    )
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("s")
        .rangeBetween(-_BURST_WINDOW_S, 0)
    )
    t = ev.withColumn("c1d", F.count(F.lit(1)).over(w))
    return (
        t.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("c1d").cast("long").alias("peak_24h"),
            F.sum(F.when(F.col("c1d") >= _BURST_N, 1).otherwise(0))
            .cast("long")
            .alias("n_burst_rows"),
        )
        .orderBy("user_id", "event_type")
    )


BURST_PROFILE_SQL = f"""
WITH e AS (
    SELECT user_id, event_type, epoch_us(ts) // 1000000 AS s FROM events),
t AS (
    SELECT user_id, event_type,
           count(*) OVER (PARTITION BY user_id, event_type ORDER BY s
                          RANGE BETWEEN {_BURST_WINDOW_S} PRECEDING
                          AND CURRENT ROW) AS c1d
    FROM e)
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(c1d) AS BIGINT) AS peak_24h,
       CAST(sum(CASE WHEN c1d >= {_BURST_N} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_burst_rows
FROM t GROUP BY user_id, event_type ORDER BY user_id, event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "text_bm25_topk": QuerySpec(_text_bm25_topk, _bm25_oracle()),
    "events_burst_profile": QuerySpec(_events_burst_profile, BURST_PROFILE_SQL),
}
