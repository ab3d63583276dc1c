"""Invariant tests for ``queries/sim.py``: the retrieval evaluations
that measure the LSH-bucket top-k against the exact one (NDCG, MRR,
MAP)."""

from __future__ import annotations

import tempfile

import pytest

from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR, write_corpus_table


def _q(name):
    return all_queries()[name].fn


def test_ndcg_bounded_and_perfect_when_bucket_exact(spark):
    rows = _q("sim_ndcg_eval")(spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert 0.0 <= r.ndcg_at_5 <= 1.0 + 1e-9
    # LSH can only lose or reorder relative to exact: if every probe
    # had NDCG 0 the bucket join would be broken
    assert any(r.ndcg_at_5 > 0 for r in rows)


def test_mrr_eval_bounds(spark):
    r = _q("sim_mrr_eval")(spark, SF_DIR).collect()[0]
    assert r.n_queries == 10
    assert 0 <= r.n_found <= r.n_queries
    assert 0.0 <= r.mrr <= 1.0
    # found neighbors contribute at most 1.0 and at least ~0 each
    assert r.sum_rr_micro <= r.n_found * 1_000_000


@pytest.mark.slow
def test_map_eval_consistency(spark):
    row = _q("sim_map_eval")(spark, SF_DIR).collect()[0]
    assert row.n_queries == 10
    assert 0 <= row.sum_hits_at_5 <= 5 * row.n_queries
    assert 0 <= row.sum_ap_scaled <= 300 * row.n_queries
    assert abs(row.map_at_5 - row.sum_ap_scaled / 3000.0) < 1e-6
    assert abs(row.p_at_5 - row.sum_hits_at_5 / 50.0) < 1e-6
    # AP@5 ≤ P@5 can fail (AP front-weights), but both are ≤ 1 and
    # MAP = 1 ⇔ every ranked prefix is all-relevant
    assert row.map_at_5 <= 1.0 and row.p_at_5 <= 1.0


@pytest.mark.slow
def test_map_perfect_when_lsh_equals_exact(spark):
    """MAP@5 must be 1.0 when the LSH ranking's top-5 IS the exact
    top-5 — run both on a tiny corpus where every vector lands in one
    bucket (identical vectors direction-wise ⇒ same hyperplane side
    signs)."""
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    rows = []
    for i in range(12):
        # same direction + tiny parallel scaling: one shared bucket,
        # stable exact ranking by id tiebreak (all cosines equal 1)
        rows.append((i, [x * (1.0 + 0.01 * i) for x in base], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "embeddings")
        row = _q("sim_map_eval")(spark, td).collect()[0]
    assert row.n_queries == 10
    assert row.map_at_5 == 1.0 and row.p_at_5 == 1.0
