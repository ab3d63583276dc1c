"""Round-5 additions, twenty-third batch: corpus novelty and
behavioral burstiness.

- ``text_ngram_novelty``: per-document novelty — the fraction of a
  doc's distinct shingles whose FIRST corpus occurrence (by doc_id
  order) is that doc. The corpus-growth diagnostic that shows when a
  crawl stops contributing new content; one shingle aggregation and
  one ratio, integer-exact until the final division.
- ``events_inter_arrival_burstiness``: per-user burstiness
  ``B = (σ−μ)/(σ+μ)`` of inter-event gaps (Goh & Barabási): B→−1 for
  a regular pulse, ≈0 for Poisson, →1 for extreme bursts. Gaps are
  exact integer microseconds; σ and μ come from n/Σ/Σ² in closed
  form, floats only at the last step (rounded 6).

Invariant tests in tests/test_round28.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

# ---------------------------------------------------------- novelty


def _text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence doc per shingle is one min-aggregation of the
    (doc, shingle) frame; novelty joins it back on the shingle key —
    both sides shuffle on the 8-byte shingle key, never the text.
    Output per doc: distinct shingles, novel count, ratio."""
    from trackdechets_etl_spark.llm.dedup import shingle_keys, shingles

    d = read_table(spark, sf_dir, "documents")
    sh = shingle_keys(shingles(d, "text", "doc_id"), "doc_id")
    first = sh.groupBy("k").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "k")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel") / F.col("n_shingles").cast("double"), 6
        ).alias("novelty"),
    ).orderBy("doc_id")


def _novelty_oracle() -> str:
    from trackdechets_etl_spark.queries.llm import _SHINGLES

    return f"""
WITH {_SHINGLES},
first_occ AS (
    SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
per_doc AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM sh JOIN first_occ USING (shingle)
    GROUP BY doc_id)
SELECT doc_id, n_shingles, n_novel,
       round(n_novel / CAST(n_shingles AS DOUBLE), 6) AS novelty
FROM per_doc
ORDER BY doc_id
"""


TEXT_NOVELTY_SQL = _novelty_oracle()


# ------------------------------------------------------- burstiness

_BURST_MIN_GAPS = 3


def _events_inter_arrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Integer-microsecond gaps from a per-user lag window; then n, Σ,
    Σ² per user and the closed-form B = (σ−μ)/(σ+μ) with sample σ.
    Users need ≥3 gaps. Fact work is the one user-keyed window; the
    burstiness frame is |users|-sized."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # millisecond gaps: day-scale gaps squared overflow int64 at
    # microsecond resolution; Σgap² accumulates in DECIMAL(38,0)
    # (exact, like DuckDB's HUGEINT sum) and converts to double once
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        # divide AFTER the subtraction: floor(Δµs/1000), matching the
        # oracle's date_diff('microsecond', …) // 1000
        ev.withColumn("gap", (us - F.lag(us).over(w)))
        .withColumn("gap", F.expr("gap div 1000"))
        .filter(F.col("gap").isNotNull())
        .select("user_id", "gap")
    )
    g19 = F.col("gap").cast("decimal(19,0)")
    st = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap").alias("s"),
        F.sum(g19 * g19).cast("double").alias("q"),
    )
    mu = F.col("s") / F.col("n").cast("double")
    var = (F.col("q") - F.col("s") * F.col("s") / F.col("n").cast("double")) / (
        F.col("n") - 1
    ).cast("double")
    sigma = F.sqrt(var)
    return (
        st.filter(F.col("n") >= _BURST_MIN_GAPS)
        .select(
            "user_id",
            F.col("n").alias("n_gaps"),
            F.round(mu / 1_000, 6).alias("mean_gap_s"),
            F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
        )
        .orderBy("user_id")
    )


EVENTS_BURSTINESS_SQL = f"""
WITH gaps AS (
    SELECT user_id,
           date_diff('microsecond',
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id), ts) // 1000 AS gap
    FROM events),
st AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(gap) AS BIGINT) AS s,
           CAST(sum(gap * gap) AS DOUBLE) AS q
    FROM gaps WHERE gap IS NOT NULL GROUP BY user_id)
SELECT user_id, n AS n_gaps,
       round(s / CAST(n AS DOUBLE) / 1000, 6) AS mean_gap_s,
       round((sqrt((q - s * s / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
              - s / CAST(n AS DOUBLE))
             / (sqrt((q - s * s / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
                + s / CAST(n AS DOUBLE)), 6) AS burstiness
FROM st WHERE n >= {_BURST_MIN_GAPS}
ORDER BY user_id
"""


QUERIES: dict[str, QuerySpec] = {
    "text_ngram_novelty": QuerySpec(_text_ngram_novelty, TEXT_NOVELTY_SQL),
    "events_inter_arrival_burstiness": QuerySpec(
        _events_inter_arrival_burstiness, EVENTS_BURSTINESS_SQL
    ),
}
