"""Connected-components correctness on hand-built graphs: multi-hop
chains (forcing several propagation rounds), multiple components,
singletons, and the canonical-flag contract of dedup_clusters.
"""

from __future__ import annotations

import pytest

from trackdechets_etl_spark.operators.graph import connected_components, dedup_clusters


@pytest.mark.parametrize("small_gate", [100_000, 0])
def test_cc_chain_needs_multiple_rounds(spark, small_gate):
    # 5-node path 10-11-12-13-14: min label must travel 4 hops.
    # Pinned on BOTH paths: driver union-find (gate high) and the
    # distributed loop (gate 0) must produce the identical labeling.
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (20, 21)], "id_a long, id_b long"
    )
    labels = {
        r["node"]: r["label"]
        for r in connected_components(
            pairs, "id_a", "id_b", small_graph_edges=small_gate
        ).collect()
    }
    assert labels == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 20: 20, 21: 20}


def test_cc_loop_broadcasts_labels_by_edge_count(spark, monkeypatch):
    """The distributed loop broadcasts the labels, bounded by the edge
    count, although their plan statistics say otherwise: ``pairs``
    here is a materialized self-join of 3,000 ids, so the frames built
    from it carry the join's 9M-row estimate. Each round's join is a
    broadcast in the initial plan (no sort-merge join and its two
    shuffles), and the labels equal the union-find path's."""
    from pyspark.sql import functions as F

    from trackdechets_etl_spark.operators import graph

    ids = spark.range(3000)
    # Components {4k, .., 4k+3}: paths of 3 hops, so several rounds.
    pairs = (
        ids.join(ids.withColumnRenamed("id", "nxt"), F.col("nxt") == F.col("id") + 1)
        .filter(F.col("id") % 4 != 3)
        .select(F.col("id").alias("id_a"), F.col("nxt").alias("id_b"))
        .localCheckpoint()
    )
    plans = []
    real = graph.materialize

    def spy(df, eager=True):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, eager)

    monkeypatch.setattr(graph, "materialize", spy)
    looped = connected_components(pairs, "id_a", "id_b", small_graph_edges=0)
    joins = [p for p in plans if "Join" in p]
    monkeypatch.setattr(graph, "materialize", real)
    assert len(joins) >= 3, f"{len(joins)} rounds"
    for plan in joins:
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    found = connected_components(pairs, "id_a", "id_b")
    assert sorted(looped.collect()) == sorted(found.collect())
    assert {r["label"] for r in looped.collect()} == set(range(0, 3000, 4))


def test_cc_raises_instead_of_returning_partial_labels(spark):
    # ADVICE r1: diameter > max_iterations must be a loud error, never a
    # silently wrong half-propagated labeling. (Distributed loop only —
    # union-find has no iteration cap to exceed.)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            pairs, "id_a", "id_b", max_iterations=2, small_graph_edges=0
        )


def test_dedup_clusters_singletons_and_canonicals(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    out = {r["doc_id"]: r for r in dedup_clusters(docs, pairs, "doc_id").collect()}
    assert out[0]["cluster_id"] == 0 and out[3]["cluster_id"] == 0
    assert out[5]["cluster_id"] == 0 and out[5]["cluster_size"] == 3
    assert out[1]["cluster_id"] == 1 and out[1]["cluster_size"] == 1
    canonicals = sorted(k for k, r in out.items() if r["is_canonical"])
    assert canonicals == [0, 1, 2, 4]


def test_pagerank_mass_conserved_and_positive(spark):
    """With every node having out-edges, total rank mass stays 1 after
    any number of iterations: sum_new = (1-d) + d * sum_prev. All ranks
    strictly positive; higher-degree nodes (suppliers, offset ids) rank
    above the customer median."""
    from pyspark.sql import functions as F

    from trackdechets_etl_spark.queries import all_queries
    from tests.conftest import SF_DIR

    pr = all_queries()["graph_pagerank"].fn(spark, SF_DIR)
    rows = pr.collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-3
    assert all(r.rank > 0 for r in rows)
    supp = [r.rank for r in rows if r.node >= 1_000_000]
    cust = sorted(r.rank for r in rows if r.node < 1_000_000)
    assert supp and min(supp) > cust[len(cust) // 2]


def test_trade_edges_symmetric_and_disjoint(spark):
    """``trade_edges`` holds each ``trade_pairs`` pair in both
    orientations, so it has twice as many edges, and customer and
    supplier node ids fall in disjoint ranges (max(c_custkey) <
    SUPPLIER_NODE_OFFSET at this scale)."""
    from tests.conftest import SF_DIR
    from trackdechets_etl_spark.plans.fixtures import (
        SUPPLIER_NODE_OFFSET as OFF,
        trade_edges,
        trade_pairs,
    )

    pairs = [(r.cust, r.supp) for r in trade_pairs(spark, SF_DIR).collect()]
    edges = [(r.src, r.dst) for r in trade_edges(spark, SF_DIR).collect()]
    assert pairs and len(set(pairs)) == len(pairs)
    assert len(edges) == 2 * len(pairs)
    assert sorted(edges) == sorted(
        [(c, s + OFF) for c, s in pairs] + [(s + OFF, c) for c, s in pairs]
    )
    customers = {c for c, _ in pairs}
    suppliers = {s + OFF for _, s in pairs}
    assert max(customers) < OFF <= min(suppliers)
