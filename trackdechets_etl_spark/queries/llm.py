"""LLM-pipeline queries (dedup / embeddings / text / multimodal) with
DuckDB oracles; the vector searches are in ``queries/sim.py``. Every
fuzzy operator (MinHash, SimHash, LSH) is built from deterministic
md5-derived hashing so the oracle can implement the exact same
algorithm in SQL — the checks are exact, not statistical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm import text as TX
from trackdechets_etl_spark.llm.dedup import (
    exact_canonical_ids,
    N_BANDS,
    N_MINHASH,
    SIMHASH_BITS,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_pairs,
)
from trackdechets_etl_spark.llm.multimodal import frame_sample_offsets, with_payload
from trackdechets_etl_spark.llm.similarity import (
    as_double,
    bucket_sql,
    cosine_sql,
    near_dup_pairs,
    near_dup_pairs_bucketed,
    norm,
    norm_sql,
)
from trackdechets_etl_spark.queries import QuerySpec

EMB_DIMS = 64
NEAR_DUP_THRESHOLD = 0.4
NEAR_DUP_SAMPLE_MOD = 50
JACCARD_THRESHOLD = 0.8

# Shared SQL building blocks ------------------------------------------------

_SHINGLES = """
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
    SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
    FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS u(i)
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id)
"""

_EMB = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


# ------------------------------------------------------------------ text ops


def _text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.n_tokens_ws(t).cast("long").alias("n_tokens_ws"),
        TX.n_tokens_bpeish(t).cast("long").alias("n_tokens_bpeish"),
    )


TEXT_TOKENS_SQL = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
           AS n_tokens_bpeish
FROM documents
"""


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].cast("long").alias("n_chars"),
        feats["n_words"].cast("long").alias("n_words"),
        feats["avg_word_len"].alias("avg_word_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


_STOP_LIST = "['" + "', '".join(TX.STOPWORDS) + "']"

TEXT_QUALITY_SQL = f"""
WITH t AS (
    SELECT doc_id, text, string_split(text, ' ') AS w,
           len(list_filter(string_split(text, ' '),
                           x -> list_contains({_STOP_LIST}, x))) AS n_stop
    FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(w) AS BIGINT) AS n_words,
       round(length(replace(text, ' ', '')) / len(w), 4) AS avg_word_len,
       round(n_stop / len(w), 4) AS stopword_ratio,
       round(least(len(w) / 100.0, 1.0) * 0.5 + (1.0 - n_stop / len(w)) * 0.5, 4)
           AS quality_score
FROM t
"""


def _text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.lang_id(F.col("text")).alias("pred_lang"),
    )


def _markers_sql(lang: str) -> str:
    lst = "['" + "', '".join(TX.LANG_MARKERS[lang]) + "']"
    return (
        f"len(list_filter(string_split(text, ' '), "
        f"x -> list_contains({lst}, x)))"
    )


_LANG_CASE = " ".join(
    f"WHEN c_{lang} = g THEN '{lang}'" for lang in TX.LANG_MARKERS
)

TEXT_LANGID_SQL = f"""
WITH c AS (
    SELECT doc_id, lang AS labeled_lang,
           {', '.join(f'{_markers_sql(lang)} AS c_{lang}' for lang in TX.LANG_MARKERS)}
    FROM documents),
g AS (SELECT *, greatest({', '.join('c_' + lang for lang in TX.LANG_MARKERS)}) AS g FROM c)
SELECT doc_id, labeled_lang,
       CASE WHEN g = 0 THEN 'und' {_LANG_CASE} ELSE 'und' END AS pred_lang
FROM g
"""


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.fingerprint_rolling(F.col("text")).cast("long").alias("fp_rolling"),
        TX.fingerprint_md5(F.col("text")).alias("fp_md5"),
    )


TEXT_FINGERPRINT_SQL = f"""
WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
r AS (
    SELECT doc_id,
           CAST(sum(CAST(i AS BIGINT) * (length(w[i]) * 31 + ascii(w[i])))
                % {TX.FINGERPRINT_MOD} AS BIGINT) AS fp_rolling
    FROM toks, unnest(generate_series(1, len(w))) AS u(i)
    GROUP BY doc_id)
SELECT r.doc_id, fp_rolling,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_md5
FROM r JOIN documents USING (doc_id)
"""


# ----------------------------------------------------------------- dedup ops


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


def _dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the md5 content fingerprint instead of the
    raw text — the 100 TB shape: the shuffle key is 32 bytes, not a
    whole document."""
    d = read_table(spark, sf_dir, "documents")
    keyed = d.select("doc_id", TX.fingerprint_md5(F.col("text")).alias("fp"))
    grouped = keyed.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return grouped.select("fp", "keep_id", "n_docs")


DEDUP_EXACT_SQL = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY text) AS keep_id,
       doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_dup
FROM documents
"""


def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "text", "doc_id", threshold=JACCARD_THRESHOLD)


DEDUP_NGRAM_SQL = f"""
WITH {_SHINGLES},
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.doc_id
JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_THRESHOLD}
"""


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "text", "doc_id", threshold=JACCARD_THRESHOLD)


_MH_COLS = ", ".join(
    f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(N_MINHASH)
)
_ROWS_PER_BAND = N_MINHASH // N_BANDS
_BANDED = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    f"md5(h{b * _ROWS_PER_BAND} || '|' || h{b * _ROWS_PER_BAND + 1}) AS bucket FROM mh"
    for b in range(N_BANDS)
)

DEDUP_MINHASH_SQL = f"""
WITH {_SHINGLES},
mh AS (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
banded AS ({_BANDED}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
inter AS (
    SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
    GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.doc_id
JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_THRESHOLD}
"""


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return simhash_fingerprints(d, "text", "doc_id")


_SIM_SUMS = ", ".join(
    f"CAST(sum(CASE WHEN ('0x' || substring(h, {b + 1}, 1))::INT > 7 "
    f"THEN 1 ELSE -1 END) AS BIGINT) AS s{b}"
    for b in range(SIMHASH_BITS)
)
_SIM_FP = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(SIMHASH_BITS)
)

DEDUP_SIMHASH_SQL = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
th AS (SELECT doc_id, md5(w) AS h FROM tok),
sums AS (SELECT doc_id, {_SIM_SUMS} FROM th GROUP BY doc_id)
SELECT doc_id, CAST({_SIM_FP} AS BIGINT) AS simhash FROM sums
"""


def _dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "text", "doc_id")


DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
th AS (SELECT doc_id, md5(w) AS h FROM tok),
sums AS (SELECT doc_id, {_SIM_SUMS} FROM th GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SIM_FP} AS BIGINT) AS simhash FROM sums)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash
FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
"""


def _dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup shape: LSH-bucket, then exact-cosine
    verify within buckets (llm/similarity.py::near_dup_pairs_bucketed).
    The sampled all-pairs exact form lives on as the recall-eval twin
    ``dedup_embedding_cosine_exact``."""
    e = read_table(spark, sf_dir, "embeddings")
    return near_dup_pairs_bucketed(
        e,
        "vec_id",
        "embedding",
        dims=EMB_DIMS,
        threshold=NEAR_DUP_THRESHOLD,
    )


DEDUP_EMB_COSINE_SQL = f"""
WITH {_EMB},
bk AS (SELECT vec_id, v, {bucket_sql('v', EMB_DIMS)} AS bucket FROM e),
p AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({cosine_sql('a.v', 'b.v')}, 6) AS cos_sim
    FROM bk a JOIN bk b USING (bucket)
    WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
"""


def _dedup_embedding_cosine_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall-eval twin: exact all-pairs cosine with the left side
    sampled (ids ≡ 0 mod {mod}) to bound the cross join — exists to
    measure what the bucketed production form misses, never to run on
    a full corpus."""
    e = read_table(spark, sf_dir, "embeddings")
    return near_dup_pairs(
        e,
        "vec_id",
        "embedding",
        threshold=NEAR_DUP_THRESHOLD,
        sample_mod=NEAR_DUP_SAMPLE_MOD,
    )


DEDUP_EMB_COSINE_EXACT_SQL = f"""
WITH {_EMB},
a AS (SELECT vec_id AS id_a, v AS va FROM e WHERE vec_id % {NEAR_DUP_SAMPLE_MOD} = 0),
b AS (SELECT vec_id AS id_b, v AS vb FROM e),
p AS (
    SELECT id_a, id_b, round({cosine_sql('va', 'vb')}, 6) AS cos_sim
    FROM a, b WHERE id_a < id_b)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
"""


# -------------------------------------------------------------- embedding ops


def _emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings (the standard pre-step before cosine ops
    can become plain dot products). JVM-side transform/aggregate."""
    e = read_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    l2 = norm(F.col("embedding"))
    # The driver's pandas-based canonicalizer cannot hash list-valued
    # cells, so the registry query surfaces the unit vector as integer
    # micro-units joined into one string (round(x*1e6) is exact on both
    # engines; double->string casts are NOT engine-stable, longs are).
    unit_micro = F.transform(v, lambda x: F.round(x / l2 * 1000000).cast("long"))
    return e.select(
        "vec_id",
        F.round(l2, 6).alias("l2_norm"),
        F.concat_ws(",", unit_micro.cast("array<string>")).alias("unit_vec_micro"),
    )


EMB_NORMALIZE_SQL = f"""
WITH {_EMB},
n AS (SELECT vec_id, v, {norm_sql('v')} AS norm FROM e)
SELECT vec_id,
       round(norm, 6) AS l2_norm,
       array_to_string(
           list_transform(v, x -> CAST(round(x / norm * 1000000, 0) AS BIGINT)),
           ',') AS unit_vec_micro
FROM n
"""

QUALITY_KEEP = 0.7


def _corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-cleaning pipeline: quality filter → exact-dedup
    (keep canonical min-id) → near-dup removal (drop the higher id of
    every Jaccard≥0.8 pair). The end-to-end flagship of the LLM ops —
    each stage is one of the registry's verified operators."""
    d = read_table(spark, sf_dir, "documents")
    score = TX.quality_features(F.col("text"))["quality_score"]
    scored = d.select("doc_id", "text", score.alias("quality_score"))
    kept_q = scored.filter(F.col("quality_score") >= QUALITY_KEEP)

    canon = exact_canonical_ids(d, "text", "doc_id")
    kept = kept_q.join(canon, "doc_id")

    near = ngram_jaccard_pairs(d, "text", "doc_id", threshold=JACCARD_THRESHOLD)
    drop_ids = near.select(F.col("id_b").alias("doc_id")).distinct()
    # No broadcast hint on the drop list: near-dup rates on web-scale
    # corpora run 30%+, so the anti-join side scales with the corpus.
    # AQE broadcasts it while small and sort-merges when it isn't.
    return kept.join(drop_ids, "doc_id", "left_anti").select(
        "doc_id", "quality_score"
    )


CORPUS_CLEAN_SQL = f"""
WITH t AS (
    SELECT doc_id, text,
           len(list_filter(string_split(text, ' '),
                           x -> list_contains({_STOP_LIST}, x))) AS n_stop,
           len(string_split(text, ' ')) AS n_words
    FROM documents),
scored AS (
    SELECT doc_id, text,
           round(least(n_words / 100.0, 1.0) * 0.5
                 + (1.0 - n_stop / n_words) * 0.5, 4) AS quality_score
    FROM t),
canon AS (
    SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keep_id
        FROM documents) WHERE doc_id = keep_id),
{_SHINGLES.strip().lstrip()},
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
near AS (
    SELECT DISTINCT id_b FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_THRESHOLD})
SELECT s.doc_id, s.quality_score
FROM scored s
JOIN canon USING (doc_id)
WHERE s.quality_score >= {QUALITY_KEEP}
  AND s.doc_id NOT IN (SELECT id_b FROM near)
"""


def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer build: per-label centroid via applyInPandas
    (the engine's grouped-map Python path — see llm/similarity.py)."""
    from trackdechets_etl_spark.llm.similarity import label_centroids

    e = read_table(spark, sf_dir, "embeddings")
    out = label_centroids(e, "vec_id", "embedding", "label")
    # List cells break the driver's canonicalizer — emit the centroid as
    # one comma-joined string of 1e4-scaled integers (centroid values are
    # already rounded to 4 decimals, so *1e4 is exact).
    micro = F.transform("centroid", lambda x: F.round(x * 10000).cast("long"))
    return out.select(
        "label",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.concat_ws(",", micro.cast("array<string>")).alias("centroid_e4"),
    )


LABEL_CENTROIDS_SQL = """
WITH x AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
per_dim AS (
    SELECT label, i, CAST(round(round(avg(v[i]), 4) * 10000, 0) AS BIGINT) AS a
    FROM x, unnest(generate_series(1, 64)) AS u(i)
    GROUP BY label, i),
counts AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vectors FROM x GROUP BY label)
SELECT label, n_vectors,
       array_to_string(list(a ORDER BY i), ',') AS centroid_e4
FROM per_dim JOIN counts USING (label)
GROUP BY label, n_vectors
"""


# -------------------------------------------------------------- multimodal


def _mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    mm = with_payload(d, "text", "doc_id")
    mm = frame_sample_offsets(mm, n_frames=4)
    # frame_offsets is array<long>; join to a csv string so the driver's
    # pandas canonicalizer can hash the cell (integers cast stably).
    return mm.select(
        "doc_id",
        "mm_kind",
        "n_bytes",
        F.concat_ws(",", F.col("frame_offsets").cast("array<string>")).alias(
            "frame_offsets_csv"
        ),
    )


MM_META_SQL = """
WITH mm AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS mm_kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents)
SELECT doc_id, mm_kind, n_bytes,
       array_to_string(
           list_slice(generate_series(0, n_bytes - 1, greatest(n_bytes // 4, 1)), 1, 4),
           ',') AS frame_offsets_csv
FROM mm
"""


QUERIES: dict[str, QuerySpec] = {
    "text_token_counts": QuerySpec(_text_tokens, TEXT_TOKENS_SQL),
    "text_quality_score": QuerySpec(_text_quality, TEXT_QUALITY_SQL),
    "text_lang_id": QuerySpec(_text_langid, TEXT_LANGID_SQL),
    "text_fingerprint": QuerySpec(_text_fingerprint, TEXT_FINGERPRINT_SQL),
    "dedup_exact": QuerySpec(_dedup_exact, DEDUP_EXACT_SQL),
    "dedup_exact_fingerprint": QuerySpec(
        _dedup_exact_fingerprint,
        r"""
        SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
               min(doc_id) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
        """,
    ),
    "dedup_ngram_jaccard": QuerySpec(_dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_minhash_lsh": QuerySpec(_dedup_minhash_lsh, DEDUP_MINHASH_SQL),
    "dedup_simhash": QuerySpec(_dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_simhash_pairs": QuerySpec(_dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL),
    "dedup_embedding_cosine": QuerySpec(_dedup_embedding_cosine, DEDUP_EMB_COSINE_SQL),
    "dedup_embedding_cosine_exact": QuerySpec(
        _dedup_embedding_cosine_exact, DEDUP_EMB_COSINE_EXACT_SQL
    ),
    "multimodal_meta": QuerySpec(_mm_meta, MM_META_SQL),
    "embedding_normalize": QuerySpec(_emb_normalize, EMB_NORMALIZE_SQL),
    "embedding_label_centroids": QuerySpec(_label_centroids, LABEL_CENTROIDS_SQL),
    "pipeline_corpus_clean": QuerySpec(_corpus_clean, CORPUS_CLEAN_SQL),
}
