"""Round-7 additions, sixth batch: RAKE keywords and exact p95
activity cutoff.

- ``text_rake_keywords``: RAKE keyword scoring — documents split into
  candidate phrases at stopword boundaries (the phrase segmentation is
  a per-doc cumulative stopword count, doc-partitioned window); each
  word scores degree/frequency where degree sums the lengths of the
  phrases its occurrences sit in. The classic unsupervised keyword
  extractor, all integer counts until the final division.
- ``events_p95_activity_cutoff``: EXACT 95th percentile of per-user
  event counts without a row-scale sort: per-user counts reduce to the
  DISTINCT-count-value frame (|distinct activity levels| ≪ users),
  cumulative user counts over that bounded frame locate the smallest
  value covering ≥95% of users, and one more aggregate counts the
  power users at or above it. The round33 distinct-value discipline
  applied to percentiles.

Invariant tests in tests/test_round44.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------------ RAKE keywords

_RAKE_STOPS = ["a", "the", "and", "of", "is"]
_RAKE_TOP = 20


def _text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term") != "")
    stops = F.array(*[F.lit(s) for s in _RAKE_STOPS])
    marked = tok.withColumn(
        "is_stop", F.array_contains(stops, F.col("term")).cast("int")
    )
    wseg = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = marked.withColumn("seg", F.sum("is_stop").over(wseg)).filter(
        F.col("is_stop") == 0
    )
    phrase_len = seg.groupBy("doc_id", "seg").agg(
        F.count(F.lit(1)).alias("plen")
    )
    occ = seg.join(phrase_len, ["doc_id", "seg"])
    return (
        occ.groupBy(F.col("term").alias("word"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
        .withColumn("score", F.round(F.col("degree") / F.col("freq"), 6))
        .orderBy(F.desc("score"), "word")
        .limit(_RAKE_TOP)
    )


def _rake_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    return f"""
WITH tok AS (
    SELECT doc_id, i AS pos, w[i] AS term
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         unnest(generate_series(1, len(w))) AS u(i)
    WHERE w[i] != ''),
marked AS (
    SELECT doc_id, pos, term,
           CASE WHEN term IN ({stops}) THEN 1 ELSE 0 END AS is_stop
    FROM tok),
seg AS (
    SELECT doc_id, term, seg FROM (
        SELECT doc_id, term, is_stop,
               sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        FROM marked) WHERE is_stop = 0),
plen AS (
    SELECT doc_id, seg, count(*) AS plen FROM seg GROUP BY doc_id, seg),
occ AS (
    SELECT s.term, p.plen FROM seg s JOIN plen p USING (doc_id, seg))
SELECT term AS word,
       CAST(count(*) AS BIGINT) AS freq,
       CAST(sum(plen) AS BIGINT) AS degree,
       round(sum(plen) / CAST(count(*) AS DOUBLE), 6) AS score
FROM occ GROUP BY term
ORDER BY score DESC, word LIMIT {_RAKE_TOP}
"""


# ------------------------------------------------ exact p95 cutoff

_PCT = 95


def _events_p95_activity_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    vals = per_user.groupBy("n").agg(F.count(F.lit(1)).alias("c"))
    # cumulative over the DISTINCT-activity-level frame only
    wv = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.withColumn("cum", F.sum("c").over(wv))
    n_total = per_user.agg(F.count(F.lit(1)).alias("n_users"))
    cutoff = (
        cum.crossJoin(F.broadcast(n_total))
        .filter(F.col("cum") * 100 >= F.col("n_users") * _PCT)
        .agg(F.min("n").alias("p95_cutoff"))
    )
    return (
        per_user.crossJoin(F.broadcast(cutoff))
        .crossJoin(F.broadcast(n_total))
        .agg(
            F.first("n_users").alias("n_users"),
            F.first("p95_cutoff").alias("p95_cutoff"),
            F.sum(
                (F.col("n") >= F.col("p95_cutoff")).cast("long")
            ).alias("n_power_users"),
        )
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            F.col("p95_cutoff").cast("long").alias("p95_cutoff"),
            F.col("n_power_users").cast("long").alias("n_power_users"),
        )
    )


P95_CUTOFF_SQL = f"""
WITH per_user AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY user_id),
vals AS (SELECT n, count(*) AS c FROM per_user GROUP BY n),
cum AS (
    SELECT n, sum(c) OVER (ORDER BY n
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM vals),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM per_user),
cutoff AS (
    SELECT min(n) AS p95_cutoff FROM cum CROSS JOIN tot
    WHERE cum * 100 >= n_users * {_PCT})
SELECT tot.n_users AS n_users,
       CAST(cutoff.p95_cutoff AS BIGINT) AS p95_cutoff,
       CAST((SELECT count(*) FROM per_user, cutoff
             WHERE n >= p95_cutoff) AS BIGINT) AS n_power_users
FROM tot CROSS JOIN cutoff
"""


QUERIES: dict[str, QuerySpec] = {
    "text_rake_keywords": QuerySpec(_text_rake_keywords, _rake_oracle()),
    "events_p95_activity_cutoff": QuerySpec(
        _events_p95_activity_cutoff, P95_CUTOFF_SQL
    ),
}
