"""Invariant tests for round46: elasticity, embedding outliers,
k-core peeling."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR, write_corpus_table


def _q(name):
    return all_queries()[name].fn


def test_elasticity_matches_numpy_lstsq(spark):
    row = _q("lineitem_discount_elasticity")(spark, SF_DIR).collect()[0]
    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select("l_discount", "l_quantity")
        .collect()
    )
    x = np.array([round(r.l_discount * 100) for r in li], dtype=np.float64)
    y = np.array([r.l_quantity for r in li], dtype=np.float64)
    slope, intercept = np.polyfit(x, y, 1)
    assert row.n_rows == len(li)
    assert abs(row.qty_per_discount_pct - slope) < 1e-4
    assert abs(row.base_qty - intercept) < 1e-4


def test_embedding_outliers_are_global_top(spark):
    rows = _q("embedding_outlier_topk")(spark, SF_DIR).collect()
    assert len(rows) == 20
    d2s = [r.mahalanobis_d2 for r in rows]
    assert d2s == sorted(d2s, reverse=True)
    # replay: diagonal Mahalanobis with population moments
    data = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    mat = np.array([r.embedding for r in data], dtype=np.float64)
    mu = mat.mean(axis=0)
    var = mat.var(axis=0)
    t = np.round(((mat - mu) ** 2 / var) * 1e6)
    d2 = t.sum(axis=1) / 1e6
    order = sorted(
        range(len(data)), key=lambda j: (-d2[j], data[j].vec_id)
    )[:20]
    want = [data[j].vec_id for j in order]
    assert [r.vec_id for r in rows] == want


def test_kcore_trajectory_monotone_and_valid(spark):
    rows = _q("graph_kcore_peel")(spark, SF_DIR).collect()
    assert [r.round for r in rows] == [1, 2, 3, 4, 5]
    for a, b in zip(rows, rows[1:]):
        assert b.n_nodes <= a.n_nodes and b.n_edges <= a.n_edges
    for r in rows:
        # every surviving edge has both endpoints surviving -> edges
        # bounded by a complete graph on the nodes
        assert r.n_edges <= r.n_nodes * (r.n_nodes - 1)
    # converged by the last round on this fixture
    assert rows[-1].n_nodes == rows[-2].n_nodes
    assert rows[-1].n_edges == rows[-2].n_edges


def test_kcore_emits_every_round_after_the_graph_empties(spark, tmp_path):
    """Customer 1 buys from suppliers 1..12; each supplier also sells to
    11 customers of its own. Round 1 keeps customer 1 and the 12
    suppliers (degree 12 each) and their 24 directed edges; round 2
    keeps customer 1 alone and no edge; rounds 3-5 peel nothing left.
    A round whose graph is empty still has its row, all zeros."""
    import duckdb

    from trackdechets_etl_spark.queries.round46 import _KCORE_K, _KCORE_ROUNDS

    pairs = [(1, s) for s in range(1, _KCORE_K + 1)] + [
        (100 + 20 * s + j, s)
        for s in range(1, _KCORE_K + 1)
        for j in range(1, _KCORE_K)
    ]
    # One order per (customer, supplier) pair, one line per order.
    orders = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(pairs)], "o_orderkey long, o_custkey long"
    )
    lines = spark.createDataFrame(
        [(i, s) for i, (_, s) in enumerate(pairs)], "l_orderkey long, l_suppkey long"
    )
    write_corpus_table(orders.coalesce(1), tmp_path, "orders")
    write_corpus_table(lines.coalesce(1), tmp_path, "lineitem")

    spec = all_queries()["graph_kcore_peel"]
    rows = [tuple(r) for r in spec.fn(spark, str(tmp_path)).collect()]
    want = [(1, 13, 24), (2, 1, 0)] + [(r, 0, 0) for r in range(3, _KCORE_ROUNDS + 1)]
    assert rows == want

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet/*.parquet'")
    assert [tuple(r) for r in con.execute(spec.oracle).fetchall()] == want
    con.close()
