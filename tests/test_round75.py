"""Invariant tests for text_bleu_dup_pairs on hand-checkable docs."""

from __future__ import annotations

import tempfile

from trackdechets_etl_spark.queries import all_queries
from tests.conftest import write_corpus_table


def _run_on_docs(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "documents")
        return (
            all_queries()["text_bleu_dup_pairs"].fn(spark, td).collect()
        )


def test_identical_docs_score_one(spark):
    """Identical texts share a SimHash bucket and BLEU-2 = 1."""
    rows = _run_on_docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "a"),
            (2, "the quick brown fox jumps over the lazy dog", "a"),
        ],
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.p1 == 1.0 and r.p2 == 1.0
    assert r.brevity_penalty == 1.0 and r.bleu2 == 1.0


def test_bleu_bounded_and_bp_at_most_one(spark):
    rows = all_queries()["text_bleu_dup_pairs"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.p1 <= 1.0
        assert 0.0 <= r.p2 <= 1.0
        assert 0.0 < r.brevity_penalty <= 1.0
        assert 0.0 <= r.bleu2 <= 1.0
        # geometric mean with bp<=1 can never exceed unigram precision
        assert r.bleu2 <= r.p1 + 1e-9 or r.p2 > r.p1


def test_single_token_docs_do_not_crash(spark):
    """Regression (round-12 advice): a sub-2-token doc in a candidate
    pair used to hit Spark's sequence(1, 0) descending quirk and throw
    ELEMENT_AT_BY_INDEX_ZERO. Identical 1-token texts always share a
    SimHash bucket, so this exercises the guard directly."""
    rows = _run_on_docs(
        spark,
        [
            (1, "hello", "a"),
            (2, "hello", "a"),
            (3, "", "a"),
            (4, "", "a"),
        ],
    )
    by_pair = {(r.id_a, r.id_b): r for r in rows}
    r = by_pair[(1, 2)]
    assert r.p1 == 1.0
    assert r.p2 is None  # no bigrams exist on either side
    assert r.bleu2 == 0.0
