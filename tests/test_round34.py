"""Invariant tests for round34 (Matryoshka recall, dataset card,
degree histogram)."""

from __future__ import annotations

from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR


def _q(name):
    return all_queries()[name].fn


def test_matryoshka_recall_bounds_and_self_consistency(spark):
    """Recall lives in [0,1] per query; truncating to the FULL width
    must give recall exactly 1 (the eval harness's identity check)."""
    rows = _q("sim_matryoshka_recall")(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(0.0 <= r.recall <= 1.0 for r in rows)

    from trackdechets_etl_spark.llm.similarity import topk_bruteforce
    from trackdechets_etl_spark.queries.sim import TOPK_QUERY_IDS

    e = read_table(spark, SF_DIR, "embeddings")
    full = topk_bruteforce(e, "vec_id", "embedding", TOPK_QUERY_IDS, k=5)
    same = topk_bruteforce(
        e.select("vec_id", F.slice("embedding", 1, 64).alias("embedding")),
        "vec_id",
        "embedding",
        TOPK_QUERY_IDS,
        k=5,
    )
    a = {(r.q_id, r.c_id) for r in full.collect()}
    b = {(r.q_id, r.c_id) for r in same.collect()}
    assert a == b


def test_dataset_card_reconciles_with_corpus(spark):
    """Doc counts re-sum to the corpus; dup counts equal the global
    exact-dup count; token counts match a direct recount."""
    rows = _q("dataset_card_stats")(spark, SF_DIR).collect()
    d = read_table(spark, SF_DIR, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    n_dup_global = d.count() - d.select(F.md5("text")).distinct().count()
    assert sum(r.n_dup_docs for r in rows) >= n_dup_global  # per-lang split
    tok_direct = d.select(
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert sum(r.n_tokens for r in rows) == tok_direct
    for r in rows:
        assert 0 <= r.n_dup_docs < r.n_docs
        assert r.min_chars <= r.max_chars


def test_degree_histogram_covers_all_nodes(spark):
    """Bucketed node counts re-sum to the distinct node counts on each
    side of the bipartite graph."""
    rows = _q("graph_degree_histogram")(spark, SF_DIR).collect()
    li = read_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    n_cust = edges.select("cust").distinct().count()
    n_supp = edges.select("supp").distinct().count()
    got_c = sum(r.n_nodes for r in rows if r.side == "customer")
    got_s = sum(r.n_nodes for r in rows if r.side == "supplier")
    assert (got_c, got_s) == (n_cust, n_supp)
    assert all(r.log2_bucket >= 0 for r in rows)
