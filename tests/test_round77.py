"""Invariant tests for the round-13 additions (round77.py): ROUGE
pair scoring, Mood's median, Cochran's Q, McNemar."""

from __future__ import annotations

import pytest

import tempfile

from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR, write_corpus_table


# r15: slow shard — excluded from the default pytest run (see
# pytest.ini); run the full suite with -m "slow or not slow".
pytestmark = pytest.mark.slow

def _q(name):
    return all_queries()[name].fn


# --------------------------------------------------------- ROUGE


def _rouge_on_docs(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "documents")
        return _q("text_rouge_dup_pairs")(spark, td).collect()


def test_rouge_identical_docs_score_one(spark):
    rows = _rouge_on_docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "a"),
            (2, "the quick brown fox jumps over the lazy dog", "a"),
        ],
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.rouge1_p == 1.0 and r.rouge1_r == 1.0
    assert r.rouge1_f == 1.0 and r.rouge2_f == 1.0


def test_rouge_single_token_docs_no_crash_and_zero_bigram_f(spark):
    """Sub-2-token docs exercise the round75 sequence guard through
    the shared _gram_counts; ROUGE-2 F1 must be 0.0, not an error."""
    rows = _rouge_on_docs(spark, [(1, "hello", "a"), (2, "hello", "a")])
    r = {(x.id_a, x.id_b): x for x in rows}[(1, 2)]
    assert r.rouge1_f == 1.0
    assert r.rouge2_f == 0.0


def test_rouge_bounded_and_f1_between_p_r(spark):
    rows = _q("text_rouge_dup_pairs")(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.rouge1_p <= 1.0
        assert 0.0 <= r.rouge1_r <= 1.0
        assert 0.0 <= r.rouge1_f <= 1.0
        assert 0.0 <= r.rouge2_f <= 1.0
        # harmonic mean lies between its arguments (rounding slack)
        if r.rouge1_f > 0:
            lo = min(r.rouge1_p, r.rouge1_r)
            hi = max(r.rouge1_p, r.rouge1_r)
            assert lo - 1e-6 <= r.rouge1_f <= hi + 1e-6


# --------------------------------------------------- Mood's median


def test_mood_median_contingency_adds_up(spark):
    r = _q("events_mood_median")(spark, SF_DIR).collect()[0]
    types = ["click", "error", "purchase", "signup", "view"]
    n_sum = sum(getattr(r, f"n_{t}") for t in types)
    assert n_sum == r.n_events
    for t in types:
        assert 0 <= getattr(r, f"above_{t}") <= getattr(r, f"n_{t}")
    assert r.chi2 >= 0.0
    # pooled lower median: at least half the events sit at or below it
    ev = read_table(spark, SF_DIR, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    below_eq = ev.filter(F.col("cents") <= r.median_cents).count()
    above = ev.filter(F.col("cents") > r.median_cents).count()
    assert 2 * below_eq >= r.n_events + 1
    total_above = sum(getattr(r, f"above_{t}") for t in types)
    assert total_above == above


# --------------------------------------------------- Cochran's Q


def test_cochran_q_matches_bruteforce(spark):
    r = _q("events_cochran_q")(spark, SF_DIR).collect()[0]
    pres = (
        read_table(spark, SF_DIR, "events")
        .filter(F.col("value") > 90.0)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    from collections import Counter

    rows = Counter(p.user_id for p in pres)
    cols = Counter(p.event_type for p in pres)
    k = 5
    T = sum(rows.values())
    num = k * sum(c * c for c in cols.values()) - T * T
    den = k * T - sum(v * v for v in rows.values())
    assert r.n_users == len(rows)
    assert r.grand_total == T
    assert den > 0, "fixture degenerate — high-value cut lost its bite"
    assert abs(r.q_stat - (k - 1) * num / den) < 1e-5


# --------------------------------------------------- McNemar


def test_mcnemar_matches_bruteforce(spark):
    r = _q("events_mcnemar")(spark, SF_DIR).collect()[0]
    ev = (
        read_table(spark, SF_DIR, "events")
        .filter(F.col("event_type").isin(["click", "purchase"]))
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    users = {}
    for p in ev:
        users.setdefault(p.user_id, set()).add(p.event_type)
    b = sum(1 for s in users.values() if s == {"click"})
    c = sum(1 for s in users.values() if s == {"purchase"})
    assert r.n_users == len(users)
    assert (r.b_discordant, r.c_discordant) == (b, c)
    if b + c:
        assert abs(r.chi2 - (b - c) ** 2 / (b + c)) < 1e-5
        assert abs(r.chi2_cc - (abs(b - c) - 1) ** 2 / (b + c)) < 1e-5
