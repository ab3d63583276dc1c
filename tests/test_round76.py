"""Winnowing invariants from the Schleimer/Wilkerson/Aiken paper on
hand-built documents."""

from __future__ import annotations

import pytest

import tempfile

from trackdechets_etl_spark.queries import all_queries
from tests.conftest import write_corpus_table
from trackdechets_etl_spark.queries.round76 import (
    _WIN_K,
    _WIN_MIN_SHARED,
    _WIN_W,
)

# r15: slow shard — excluded from the default pytest run (see
# pytest.ini); run the full suite with -m "slow or not slow".
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def _run(spark, name, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "documents")
        return all_queries()[name].fn(spark, td).collect()


def test_density_near_expected(spark):
    """Random-ish long docs: density ≈ 2/(w+1) (the paper's expected
    value); always within (0, 1]."""
    rows = all_queries()["text_winnow_fingerprints"].fn(spark, SF).collect()
    assert rows
    long_docs = [r for r in rows if r.n_grams >= 8 * _WIN_W]
    assert long_docs
    avg = sum(r.density for r in long_docs) / len(long_docs)
    expected = 2.0 / (_WIN_W + 1)
    assert 0.5 * expected <= avg <= 1.5 * expected
    for r in rows:
        if r.n_grams >= _WIN_W:
            assert 0 < r.n_selected <= r.n_grams


def test_shared_long_substring_yields_shared_fingerprint(spark):
    """The winnowing guarantee: a shared token run of at least
    w + k - 1 tokens forces at least one shared selected hash."""
    shared = " ".join(f"s{i}" for i in range(_WIN_W + _WIN_K - 1 + 20))
    doc_a = "alpha beta gamma " + shared + " delta"
    doc_b = "one two three four five " + shared + " six seven"
    pairs = _run(
        spark,
        "dedup_winnow_pairs",
        [(1, doc_a, "x"), (2, doc_b, "x"), (3, "totally different words entirely here now", "x")],
    )
    assert any(
        (p.id_a, p.id_b) == (1, 2) and p.n_shared >= _WIN_MIN_SHARED
        for p in pairs
    )
    assert not any(3 in (p.id_a, p.id_b) for p in pairs)


def test_sub_k_token_doc_yields_no_grams(spark):
    rows = _run(
        spark,
        "text_winnow_fingerprints",
        [(1, "only two", "x"), (2, " ".join(f"w{i}" for i in range(30)), "x")],
    )
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].n_selected == 0
    assert by_id[2].n_selected > 0
