"""Round-12 additions, third batch: machine-translation-style n-gram
overlap scoring applied to the dedup pipeline (grep-verified: bleu /
rouge had zero hits in the registry).

- ``text_bleu_dup_pairs``: BLEU-2 between every SimHash-bucket
  near-dup candidate pair — clipped modified n-gram precisions (the
  clip is Σ min(count_cand, count_ref) per gram, the standard
  Papineni definition), brevity penalty, and the 2-gram geometric mean
  written as ``sqrt(p1·p2)`` (NOT exp/ln — sqrt is correctly rounded
  in both engines, exp(½(ln+ln)) is not). The dedup-QA metric: a
  near-dup pair whose BLEU is low is a bucket false positive, so this
  doubles as the SimHash precision audit. Candidates come from the
  linear bucket join (never all pairs); the per-pair work is a
  (pair, gram)-keyed join — production-shaped at any corpus size.

Reference provenance: none of this exists in the reference's 539-line
pandas surface. Tests in tests/test_round75.py; queued at the
round-13 verification-window front (see queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.functions.scalar import hash_key
from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.dedup import simhash_pairs
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize


def _gram_counts(d: DataFrame) -> DataFrame:
    """(doc_id, n, g, c): token 1-gram and 2-gram multiset counts.

    ``g`` is the 8-byte ``hash_key(n, gram)`` key, not the gram string
    (r15; guide §2.3 "narrower types"): the gram text itself is never
    emitted — it only ever serves as a grouping/join key in the clip
    and count frames — so the count aggregation and the (pair, gram)
    clip join shuffle a fixed 8-byte key instead of variable-length
    bigram strings. Same contract as the containment/dice shingle
    keys: a 64-bit collision (≈2⁻⁴⁰ on fixture vocabularies; would
    merge two grams' counts) is surfaced by the 3-SF oracle gate,
    which compares against DuckDB joining raw gram strings.
    Interleaved A/B at sf0.1 (8 rounds, all faster):
    BLEU best 3.46 → 2.87 s, ROUGE best 3.49 → 2.73 s."""
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    uni = d.select(
        "doc_id", F.lit(1).alias("n"), F.explode(ws).alias("g")
    )
    # Guard: Spark sequence(1, n) with n < 1 yields a DESCENDING
    # sequence (step −1) that includes index 0, and element_at(ws, 0)
    # throws — a sub-2-token doc must produce zero bigrams, as the
    # DuckDB oracle's generate_series(1, 0) does natively.
    arr2 = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = d.select(
        "doc_id", F.lit(2).alias("n"), F.explode(arr2).alias("g")
    )
    return (
        uni.unionByName(bi)
        .select("doc_id", "n", hash_key("n", "g").alias("g"))
        .groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _text_bleu_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    # pairs has THREE consumers (ids semi-join, clip join, precision
    # join) — eager materialize per the measured many-consumer
    # rule, so the SimHash fingerprint aggregate + bucket self-join
    # run once instead of three times (r14 interleaved best-of-4 at
    # sf0.1: 7.97 → 6.44 s, identical output).
    pairs = materialize(
        simhash_pairs(d, "text", "doc_id")
        .select("id_a", "id_b")
    )
    # Gram counts only for docs that occur in a candidate pair — a
    # no-op on results (counts are only ever joined to pairs) but the
    # shape that survives 100 TB, where bucketed near-dup candidates
    # are a small fraction of the corpus. On the synthetic data the
    # buckets cover ~every doc, so the prune measures a ~+0.5 s local
    # cost (interleaved A/B 4.4-4.8 vs 4.9-5.4 s at sf0.1) — accepted
    # deliberately, the tpch_q3-unhint class of trade: zero-selectivity
    # local inputs must not dictate the scale shape.
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    counts = materialize(_gram_counts(d.join(ids, "doc_id", "left_semi")))
    totals = counts.groupBy("doc_id", "n").agg(
        F.sum("c").cast("long").alias("tot")
    )
    # clipped matches: per pair and n, Σ_g min(c_a, c_b)
    ca = counts.select(
        F.col("doc_id").alias("id_a"), "n", "g", F.col("c").alias("c_a")
    )
    cb = counts.select(
        F.col("doc_id").alias("id_b"), "n", "g", F.col("c").alias("c_b")
    )
    clip = (
        pairs.join(ca, "id_a")
        .join(cb, ["id_b", "n", "g"])
        .groupBy("id_a", "id_b", "n")
        .agg(F.sum(F.least("c_a", "c_b")).cast("long").alias("clip"))
    )
    ta = totals.select(
        F.col("doc_id").alias("id_a"),
        "n",
        F.col("tot").alias("tot_a"),
    )
    # r13 plan shrink: ride the doc lengths (= the n=1 totals) through
    # the per-n precision rows and recover them in the same wide
    # aggregation, instead of two dedicated length-lens joins after it
    # — two exchanges fewer, identical rows: len_a is non-null exactly
    # when id_a has unigrams (the old INNER la join) and likewise
    # len_b, so the filter below reproduces the old inner-join row set.
    tb = totals.select(
        F.col("doc_id").alias("id_b"),
        "n",
        F.col("tot").alias("tot_b"),
    )
    prec = (
        pairs.join(ta, "id_a")
        .join(tb, ["id_b", "n"], "left")
        .join(clip, ["id_a", "id_b", "n"], "left")
        .select(
            "id_a",
            "id_b",
            "n",
            (
                F.coalesce("clip", F.lit(0)).cast("double")
                / F.col("tot_a")
            ).alias("p"),
            "tot_a",
            "tot_b",
        )
    )
    wide = (
        prec.groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("n") == 1, F.col("p"))).alias("p1"),
            F.max(F.when(F.col("n") == 2, F.col("p"))).alias("p2"),
            F.max(F.when(F.col("n") == 1, F.col("tot_a"))).alias("len_a"),
            F.max(F.when(F.col("n") == 1, F.col("tot_b"))).alias("len_b"),
        )
        .filter(F.col("len_a").isNotNull() & F.col("len_b").isNotNull())
    )
    bp = F.when(F.col("len_a") >= F.col("len_b"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("len_b").cast("double") / F.col("len_a"))
    )
    bleu = F.when(
        (F.col("p1") > 0) & (F.col("p2") > 0),
        F.col("__bp") * F.sqrt(F.col("p1") * F.col("p2")),
    ).otherwise(0.0)
    return (
        wide.withColumn("__bp", bp)
        .select(
            "id_a",
            "id_b",
            F.round("p1", 6).alias("p1"),
            F.round("p2", 6).alias("p2"),
            F.round("__bp", 6).alias("brevity_penalty"),
            F.round(bleu, 6).alias("bleu2"),
        )
        .orderBy("id_a", "id_b")
    )


def _bleu_sql() -> str:
    from trackdechets_etl_spark.queries.llm import _SIM_FP, _SIM_SUMS

    return f"""
WITH tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
th AS (SELECT doc_id, md5(w) AS h FROM tok0),
sums AS (SELECT doc_id, {_SIM_SUMS} FROM th GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SIM_FP} AS BIGINT) AS simhash FROM sums),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM fp a JOIN fp b ON a.simhash = b.simhash
    WHERE a.doc_id < b.doc_id),
toks AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '')
               AS ws
    FROM documents),
uni AS (
    SELECT doc_id, 1 AS n, unnest(ws) AS g FROM toks),
bi AS (
    SELECT doc_id, 2 AS n, ws[i] || ' ' || ws[i + 1] AS g
    FROM toks, unnest(generate_series(1, len(ws) - 1)) u(i)),
counts AS (
    SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    GROUP BY doc_id, n, g),
totals AS (
    SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot
    FROM counts GROUP BY doc_id, n),
clip AS (
    SELECT p.id_a, p.id_b, a.n,
           CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip
    FROM pairs p
    JOIN counts a ON a.doc_id = p.id_a
    JOIN counts b ON b.doc_id = p.id_b AND b.n = a.n AND b.g = a.g
    GROUP BY p.id_a, p.id_b, a.n),
prec AS (
    SELECT p.id_a, p.id_b, t.n,
           coalesce(clip, 0) * 1.0 / t.tot AS pr
    FROM pairs p
    JOIN totals t ON t.doc_id = p.id_a
    LEFT JOIN clip ON clip.id_a = p.id_a AND clip.id_b = p.id_b
                  AND clip.n = t.n),
wide AS (
    SELECT id_a, id_b,
           max(CASE WHEN n = 1 THEN pr END) AS p1,
           max(CASE WHEN n = 2 THEN pr END) AS p2
    FROM prec GROUP BY id_a, id_b),
lens AS (SELECT doc_id, tot FROM totals WHERE n = 1),
fin AS (
    SELECT w.id_a, w.id_b, p1, p2,
           CASE WHEN la.tot >= lb.tot THEN 1.0
                ELSE exp(1.0 - lb.tot * 1.0 / la.tot) END AS bp
    FROM wide w
    JOIN lens la ON la.doc_id = w.id_a
    JOIN lens lb ON lb.doc_id = w.id_b)
SELECT id_a, id_b,
       round(p1, 6) AS p1,
       round(p2, 6) AS p2,
       round(bp, 6) AS brevity_penalty,
       round(CASE WHEN p1 > 0 AND p2 > 0
                  THEN bp * sqrt(p1 * p2) ELSE 0.0 END, 6) AS bleu2
FROM fin
ORDER BY id_a, id_b
"""


QUERIES: dict[str, QuerySpec] = {
    "text_bleu_dup_pairs": QuerySpec(_text_bleu_dup_pairs, _bleu_sql()),
}
