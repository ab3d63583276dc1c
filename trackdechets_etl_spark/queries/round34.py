"""Round-6 additions, fourth batch: a dataset datasheet.

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
from trackdechets_etl_spark.queries import QuerySpec

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
    "dataset_card_stats": QuerySpec(_dataset_card_stats, DATASET_CARD_SQL),
}
