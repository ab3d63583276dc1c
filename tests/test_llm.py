"""Unit tests for the LLM-pipeline operators on tiny literal frames
with known answers (planted duplicates, identical vectors)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trackdechets_etl_spark.llm.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_pairs,
)
from trackdechets_etl_spark.llm.multimodal import (
    decode_features,
    decode_payload,
    frame_sample_offsets,
    with_payload,
)
from trackdechets_etl_spark.llm.similarity import (
    near_dup_pairs,
    topk_bruteforce,
)
from trackdechets_etl_spark.llm.text import (
    lang_id,
    pii_count,
    quality_features,
    scrub_pii,
)

DOC = "the quick brown fox jumps over the lazy dog again and again ok"
NEAR = "the quick brown fox jumps over the lazy dog again and again no"


def _docs(spark):
    return spark.createDataFrame(
        [(1, DOC), (2, DOC), (3, NEAR), (4, "totally different words here now")],
        ["doc_id", "text"],
    )


def test_exact_dedup_groups(spark):
    out = {r.doc_id: (r.keep_id, r.is_dup) for r in exact_dedup(_docs(spark), "text", "doc_id").collect()}
    assert out[1] == (1, False)
    assert out[2] == (1, True)
    assert out[3] == (3, False)


def test_ngram_jaccard_pairs(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), "text", "doc_id", threshold=0.5).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert got[(1, 2)] == 1.0          # identical docs
    assert 0.5 <= got[(1, 3)] < 1.0    # near-dup
    assert (1, 4) not in got


def test_minhash_lsh_finds_planted_pairs(spark):
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(_docs(spark), "text", "doc_id", threshold=0.5).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_max_shingle_df_guard(spark):
    """The skew guard drops ubiquitous shingles; identical docs still
    pair via their rarer shingles."""
    pairs = ngram_jaccard_pairs(
        _docs(spark), "text", "doc_id", threshold=0.9, max_shingle_df=3
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_simhash_identical_and_pairs(spark):
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(_docs(spark), "text", "doc_id").collect()}
    assert fp[1] == fp[2]
    assert 0 <= fp[1] < 2**16
    pairs = {(r.id_a, r.id_b) for r in simhash_pairs(_docs(spark), "text", "doc_id").collect()}
    assert (1, 2) in pairs


def test_cosine_identity_and_topk(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),   # identical to 0
            (2, [0.0, 1.0, 0.0]),   # orthogonal
            (3, [-1.0, 0.0, 0.0]),  # opposite
        ],
        ["vec_id", "embedding"],
    )
    out = topk_bruteforce(emb, "vec_id", "embedding", query_ids_max=1, k=3).collect()
    ranked = [(r.rank, r.c_id, r.cos_sim) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0][1] == 1 and ranked[0][2] == 1.0
    assert ranked[1][2] == 0.0
    assert ranked[2][1] == 3 and ranked[2][2] == -1.0


def test_near_dup_pairs_threshold(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    pairs = {(r.id_a, r.id_b) for r in near_dup_pairs(emb, "vec_id", "embedding", 0.99).collect()}
    assert pairs == {(0, 1)}


def test_near_dup_bucketed_subset_of_exact(spark):
    """The bucketed production form may only MISS pairs (bucket
    disagreement), never invent them, and identical vectors always
    share a bucket so exact duplicates are always found."""
    import random

    from trackdechets_etl_spark.llm.similarity import (
        near_dup_pairs_bucketed,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    rows.append((100, list(rows[0][1])))  # exact duplicate of vec 0
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs(emb, "vec_id", "embedding", 0.9).collect()
    }
    bucketed = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs_bucketed(
            emb, "vec_id", "embedding", dims=8, threshold=0.9
        ).collect()
    }
    assert bucketed <= exact
    assert (0, 100) in bucketed


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is here"), (2, "le chat et la mer"), (3, "xyz qqq")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.lang for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "fr", 3: "und"}


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "the a of and is")], ["doc_id", "text"])
    feats = quality_features(F.col("text"))
    row = df.select(*[v.alias(k) for k, v in feats.items()]).collect()[0]
    assert row.n_words == 5
    # STOPWORDS = a,the,and,of,is -> all 5 words are stopwords
    assert row.stopword_ratio == 1.0
    assert row.quality_score == pytest.approx(0.05 * 0.5, abs=1e-6)


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([(0, "hello world"), (1, "x"), (2, "abc")], ["doc_id", "text"])
    mm = with_payload(df, "text", "doc_id")
    rows = {r.doc_id: r for r in mm.collect()}
    assert rows[0].mm_kind == "image" and rows[1].mm_kind == "audio" and rows[2].mm_kind == "video"
    assert rows[0].n_bytes == 11 and bytes(rows[0].payload) == b"hello world"

    decoded = {r.doc_id: r for r in decode_features(mm, fake=True).collect()}
    # middle byte of "hello world" (index 5) is the space
    assert decoded[0].features == [11.0, float(b"h"[0]), 32.0, float(b"d"[0])]

    offsets = {r.doc_id: r.frame_offsets for r in frame_sample_offsets(mm).collect()}
    assert len(offsets[0]) == 4 and offsets[0][0] == 0
    assert offsets[1] == [0]  # 1-byte payload -> single frame


def test_multimodal_kind_metadata(spark):
    from trackdechets_etl_spark.llm.multimodal import with_kind_metadata

    df = spark.createDataFrame([(0, "hello world"), (1, "x")], ["doc_id", "text"])
    mm = with_kind_metadata(with_payload(df, "text", "doc_id"))
    rows = {r.doc_id: r for r in mm.collect()}
    assert rows[0].meta.width == 11 and rows[0].meta.height == 11  # image
    assert rows[0].meta.duration_ms is None
    assert rows[1].meta.duration_ms == 10  # audio, n_bytes=1
    assert rows[1].meta.width is None


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_payload(b"xx", "image", fake=False)


def test_resize_payloads_subsamples_bytes(spark):
    from trackdechets_etl_spark.llm.multimodal import resize_payloads, with_payload
    from trackdechets_etl_spark.io.readers import read_table
    from tests.conftest import SF_DIR

    d = read_table(spark, SF_DIR, "documents").limit(20)
    src = with_payload(d, "text", "doc_id")
    out = {r["doc_id"]: r for r in resize_payloads(src, scale_den=4).collect()}
    for r in src.collect():
        got = out[r["doc_id"]]
        want = bytes(r["payload"])[::4]
        assert bytes(got["payload"]) == want
        assert got["n_bytes"] == len(want)
        assert got["scale_den"] == 4


def test_scrub_pii_redacts_emails_and_numbers(spark):
    rows = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@sub.example.org thanks"),
            (2, "call 0612345678 or 123456 but not 12345"),
            (3, "clean text with no pii at all"),
            (4, "two mails a@b.io c@d.fr and acct 99887766"),
        ],
        ["id", "text"],
    )
    out = {
        r["id"]: (r["s"], r["n"])
        for r in rows.select(
            "id",
            scrub_pii(F.col("text")).alias("s"),
            pii_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert out[1] == ("mail me at <EMAIL> thanks", 1)
    assert out[2] == ("call <NUM> or <NUM> but not 12345", 2)
    assert out[3] == ("clean text with no pii at all", 0)
    assert out[4] == ("two mails <EMAIL> <EMAIL> and acct <NUM>", 3)


def test_prefix_filter_jaccard_equals_naive(spark):
    """AllPairs prefix filtering must be lossless: identical pair set
    and jaccard values as the full inverted-index self-join."""
    from trackdechets_etl_spark.io.readers import read_table
    from trackdechets_etl_spark.llm.dedup import ngram_jaccard_pairs
    from tests.conftest import SF_DIR

    d = read_table(spark, SF_DIR, "documents")
    fast = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(d, "text", "doc_id", 0.8, prefix_filter=True).collect()
    }
    naive = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(d, "text", "doc_id", 0.8, prefix_filter=False).collect()
    }
    assert fast == naive and len(naive) > 0


def test_containment_fast_equals_naive(spark):
    """The asymmetric prefix filter (contained side pruned, host side
    fully indexed, |B| >= t|A| size bound) must be lossless."""
    from tests.conftest import SF_DIR
    from trackdechets_etl_spark.io.readers import read_table
    from trackdechets_etl_spark.llm.dedup import containment_pairs

    d = read_table(spark, SF_DIR, "documents")
    fast = sorted(
        map(tuple, containment_pairs(d, "text", "doc_id", 0.9).collect())
    )
    naive = sorted(
        map(
            tuple,
            containment_pairs(
                d, "text", "doc_id", 0.9, prefix_filter=False
            ).collect(),
        )
    )
    assert fast == naive
    assert fast, "degenerate corpus: no containment pairs at t=0.9"


def test_containment_is_asymmetric_and_bounded(spark):
    from tests.conftest import SF_DIR
    from trackdechets_etl_spark.io.readers import read_table
    from trackdechets_etl_spark.llm.dedup import containment_pairs

    d = read_table(spark, SF_DIR, "documents")
    rows = containment_pairs(d, "text", "doc_id", 0.9).collect()
    for r in rows:
        assert 0.9 <= r.containment <= 1.0
        assert r.id_a != r.id_b



# Hand-built corpora where t·|d| is an integer, so the 1e-9 slack in the
# AllPairs prefix bound decides its length. 0.8×5 and 0.9×10 are exact in
# binary; 0.56×25 evaluates to 14.000000000000002, which ceil would round
# up to 15 without the slack.
_BOUNDARY_CASES = [(0.8, 5), (0.9, 10), (0.56, 25)]


def _boundary_corpus(spark, t, n_sh):
    """Three docs: ``A`` (id 1) with ``n_sh`` shingles; ``S`` (id 2),
    whose shingles are the first ``t·n_sh`` of A's, so Jaccard(A, S) =
    C(A, S) = t; and ``B`` (id 3), the last ``t·n_sh``
    of A's shingles in key order kept apart by separator words, so
    C(A, B) = t and the pair's first common key sits at the last
    position of A's prefix."""
    from fractions import Fraction

    from trackdechets_etl_spark.functions.scalar import hash_key
    from trackdechets_etl_spark.llm.dedup import shingles

    need = int(Fraction(str(t)) * n_sh)
    words = [f"w{i}" for i in range(n_sh + 2)]
    a = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    by_key = [
        r.shingle for r in shingles(a, "text", "doc_id").orderBy(hash_key("shingle")).collect()
    ]
    b = " ".join(f"{s} s{i}" for i, s in enumerate(by_key[-need:]))
    return spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[: need + 2])), (3, b)],
        ["doc_id", "text"],
    )


@pytest.mark.parametrize("t, n_sh", _BOUNDARY_CASES)
def test_prefix_filters_are_lossless_at_an_exact_boundary(spark, t, n_sh):
    from trackdechets_etl_spark.llm.dedup import containment_pairs

    d = _boundary_corpus(spark, t, n_sh)
    fast_j = sorted(map(tuple, ngram_jaccard_pairs(d, "text", "doc_id", t).collect()))
    naive_j = sorted(
        map(tuple, ngram_jaccard_pairs(d, "text", "doc_id", t, prefix_filter=False).collect())
    )
    assert naive_j == [(1, 2, t)]
    assert fast_j == naive_j
    fast_c = sorted(map(tuple, containment_pairs(d, "text", "doc_id", t).collect()))
    naive_c = sorted(
        map(tuple, containment_pairs(d, "text", "doc_id", t, prefix_filter=False).collect())
    )
    assert {(1, 2, t), (1, 3, t), (2, 1, 1.0)} <= set(naive_c)
    assert fast_c == naive_c


@pytest.mark.parametrize("t, n_sh", _BOUNDARY_CASES)
def test_prefix_keeps_the_allpairs_length(spark, t, n_sh):
    """The shared prefix step keeps |d| − ceil(t·|d|) + 1 positions of
    every doc, with ceil taken on the exact decimal t."""
    import math
    from fractions import Fraction

    from trackdechets_etl_spark.llm.dedup import (
        in_prefix,
        shingle_keys,
        shingle_positions,
        shingles,
    )

    keyed = shingle_keys(shingles(_boundary_corpus(spark, t, n_sh), "text", "doc_id"), "doc_id")
    sizes = {r.doc_id: r["count"] for r in keyed.groupBy("doc_id").count().collect()}
    kept = {
        r.doc_id: r["count"]
        for r in shingle_positions(keyed, "doc_id").filter(in_prefix(t)).groupBy("doc_id").count().collect()
    }
    assert sizes[1] == n_sh
    assert kept == {
        doc: n - math.ceil(Fraction(str(t)) * n) + 1 for doc, n in sizes.items()
    }
