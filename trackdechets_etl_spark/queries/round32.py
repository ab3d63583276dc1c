"""Round-6 additions, second batch: perceptual-hash image dedup,
customer reorder cadence, and hashing-trick feature buckets.

- ``multimodal_image_phash``: near-duplicate image detection via
  average-hash (aHash) + banded bucket join — the image leg of the
  dedup family. The 64-"pixel" hash is computed by the Arrow-batched
  ``mapInPandas`` kernel (llm/multimodal.py::image_phash_bits, the
  image twin of the audio/video kernels), candidate pairs come from a
  4-band substring join (pigeonhole: any pair with hamming ≤ 3 shares
  a full band; ≤ _HAM_T survivors are then verified exactly), and the
  hamming verification is a JVM-side fold. Never all-pairs.
- ``orders_reorder_rate``: per-customer consecutive-order gaps (lag
  window) rolled up by order month: how many orders had a previous
  order, how many arrived within 30 days, the reorder rate — the
  retention-cadence readout, all integer date math.
- ``text_hashing_trick``: feature-hashing (hashing trick) of document
  tokens into 2^10 buckets via the md5-prefix convention — the
  fixed-width featurization that replaces a vocabulary at 100 TB.
  Emits the most-loaded buckets with token counts, distinct-term
  counts (collision visibility), and doc frequency.

Invariant tests in tests/test_round32.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------------- image phash dedup

_N_PX = 64
_N_BANDS = 4
_BAND_W = _N_PX // _N_BANDS
_HAM_T = 8
# Hot-bucket cap: ASCII-derived aHashes concentrate in a few mostly-1
# band values (measured at sf0.1: one 16-bit band bucket holds 115 of
# 1627 images -> 65k candidate pairs, quadratic in the hot bucket). A
# band bucket larger than this is non-discriminative and is skipped
# for candidate generation — the standard LSH degenerate-bucket guard;
# mirrored exactly in the oracle, so the pruning is hash-checked too.
_MAX_BUCKET = 50


def _multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-kind docs → aHash bits (mapInPandas kernel) → 4-band
    bucket join for candidates → exact hamming ≤ threshold. Band
    buckets bound the candidate count (near-identical images collide;
    random ones almost never), so the pair stage is linear-ish in
    docs, not quadratic; the hash frame shuffles 64-char strings, the
    payloads never move."""
    from trackdechets_etl_spark.llm.multimodal import image_phash_bits, with_payload

    d = read_table(spark, sf_dir, "documents")
    mm = with_payload(d, "text", "doc_id").filter(
        (F.col("mm_kind") == "image") & (F.col("n_bytes") >= _N_PX)
    )
    bits = materialize(image_phash_bits(mm, n_px=_N_PX))
    bands_all = bits.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.substring("bits", i * _BAND_W + 1, _BAND_W).alias("bv"),
                    )
                    for i in range(_N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.bi", "band.bv")
    bucket_sizes = bands_all.groupBy("bi", "bv").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    bands = bands_all.join(
        F.broadcast(bucket_sizes.filter(F.col("__bn") <= _MAX_BUCKET)),
        ["bi", "bv"],
    ).drop("__bn")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # hamming via per-band integer XOR popcount: each 16-bit band
    # parses once per IMAGE (conv base-2), then every candidate PAIR
    # costs 4 xor+bit_count ops instead of a 64-step substring fold —
    # same result, and the per-pair work is pure integer codegen.
    words = bits.select(
        "doc_id",
        *[
            F.conv(F.substring("bits", i * _BAND_W + 1, _BAND_W), 2, 10)
            .cast("long")
            .alias(f"w{i}")
            for i in range(_N_BANDS)
        ],
    )
    ba = words.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"w{i}").alias(f"wa{i}") for i in range(_N_BANDS)],
    )
    bb = words.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"w{i}").alias(f"wb{i}") for i in range(_N_BANDS)],
    )
    hamming = sum(
        F.bit_count(F.col(f"wa{i}").bitwiseXOR(F.col(f"wb{i}")))
        for i in range(_N_BANDS)
    )
    return (
        cand.join(ba, "id_a")
        .join(bb, "id_b")
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= _HAM_T)
        .orderBy("id_a", "id_b")
    )


IMAGE_PHASH_SQL = f"""
WITH img AS (
    -- byte-based, NOT char-based: the Spark kernel reads the first
    -- {_N_PX} raw UTF-8 BYTES, so the oracle extracts byte i as the
    -- i-th hex pair of hex(encode(text)) — identical on non-ASCII
    -- text where ascii(char-substring) would diverge (ADVICE r6).
    SELECT doc_id, hex(encode(text)) AS hx
    FROM documents
    WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= {_N_PX}),
pos AS (
    SELECT doc_id, hx, unnest(generate_series(1, {_N_PX})) AS i FROM img),
pxv AS (
    SELECT doc_id, i,
           ('0x' || substring(hx, CAST(2 * i - 1 AS INT), 2))::INT AS b
    FROM pos),
tot AS (SELECT doc_id, sum(b) AS s FROM pxv GROUP BY doc_id),
bits AS (
    SELECT p.doc_id,
           string_agg(CASE WHEN {_N_PX} * b > s THEN '1' ELSE '0' END,
                      '' ORDER BY i) AS bits
    FROM pxv p JOIN tot t ON p.doc_id = t.doc_id
    GROUP BY p.doc_id),
bands AS (
    SELECT doc_id, bi,
           substring(bits, CAST(bi * {_BAND_W} + 1 AS INT), {_BAND_W}) AS bv
    FROM bits, (SELECT unnest(generate_series(0, {_N_BANDS - 1})) AS bi)),
bsz AS (
    SELECT bi, bv, count(*) AS bn FROM bands GROUP BY bi, bv),
kept AS (
    SELECT bands.doc_id, bands.bi, bands.bv
    FROM bands JOIN bsz ON bands.bi = bsz.bi AND bands.bv = bsz.bv
    WHERE bsz.bn <= {_MAX_BUCKET}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM kept a JOIN kept b
      ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
hp AS (
    SELECT id_a, id_b, unnest(generate_series(1, {_N_PX})) AS i FROM cand),
hd AS (
    SELECT h.id_a, h.id_b,
           CASE WHEN substring(x.bits, CAST(i AS INT), 1)
                     != substring(y.bits, CAST(i AS INT), 1)
                THEN 1 ELSE 0 END AS d
    FROM hp h
    JOIN bits x ON x.doc_id = h.id_a
    JOIN bits y ON y.doc_id = h.id_b)
SELECT id_a, id_b, CAST(sum(d) AS BIGINT) AS hamming
FROM hd GROUP BY id_a, id_b
HAVING sum(d) <= {_HAM_T}
ORDER BY id_a, id_b
"""


# ------------------------------------------------- reorder cadence

_REORDER_DAYS = 30


def _orders_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order sequence (one window shuffle on custkey),
    gap to the previous order in integer days, monthly rollup of
    repeat behavior. The per-month frame is months-sized — nothing
    downstream of the window exceeds it."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od")
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_custkey")
    g = o.withColumn("gap", F.datediff("od", F.lag("od").over(w)))
    return (
        g.groupBy(F.date_format("od", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count("gap").cast("long").alias("n_repeat"),
            F.sum(
                F.when(F.col("gap") <= _REORDER_DAYS, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_fast_reorder"),
            F.round(
                F.sum(F.when(F.col("gap") <= _REORDER_DAYS, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("fast_reorder_rate"),
        )
        .orderBy("month")
    )


REORDER_RATE_SQL = f"""
WITH g AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
           date_diff('day',
                     lag(CAST(o_orderdate AS DATE)) OVER (
                         PARTITION BY o_custkey
                         ORDER BY CAST(o_orderdate AS DATE), o_custkey),
                     CAST(o_orderdate AS DATE)) AS gap
    FROM orders)
SELECT strftime(od, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(gap) AS BIGINT) AS n_repeat,
       CAST(sum(CASE WHEN gap <= {_REORDER_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_fast_reorder,
       round(sum(CASE WHEN gap <= {_REORDER_DAYS} THEN 1 ELSE 0 END)
             / count(*), 6) AS fast_reorder_rate
FROM g GROUP BY month ORDER BY month
"""


# ------------------------------------------------- hashing trick

_HASH_DIM = 1 << 10
_TOP_BUCKETS = 50


def _text_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing: every whitespace token maps to bucket
    conv(md5-prefix) % 2^10 (the repo's engine-portable hash
    convention). One explode + one aggregation; the bucket space is
    FIXED — at 100 TB the feature matrix width never grows, which is
    the entire point of the trick. Top buckets by token count, ties
    broken by bucket id."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    bucketed = tok.withColumn(
        "bucket",
        (
            F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
            % _HASH_DIM
        ).cast("long"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("term").cast("long").alias("n_terms"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_tokens"), "bucket")
        .limit(_TOP_BUCKETS)
    )


HASHING_TRICK_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
b AS (
    SELECT doc_id, term,
           ('0x' || substring(md5(term), 1, 8))::BIGINT % {_HASH_DIM} AS bucket
    FROM tok WHERE term != '')
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM b GROUP BY bucket
ORDER BY n_tokens DESC, bucket LIMIT {_TOP_BUCKETS}
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_image_phash": QuerySpec(_multimodal_image_phash, IMAGE_PHASH_SQL),
    "orders_reorder_rate": QuerySpec(_orders_reorder_rate, REORDER_RATE_SQL),
    "text_hashing_trick": QuerySpec(_text_hashing_trick, HASHING_TRICK_SQL),
}
