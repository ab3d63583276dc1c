"""Connected-components correctness on hand-built graphs: multi-hop
chains (forcing several propagation rounds), multiple components,
singletons, and the canonical-flag contract of dedup_clusters; and
the graph queries of ``queries/graph.py`` against driver-side replays.
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


def _copurchase_replay(spark) -> set[tuple[int, int]]:
    """Driver-side replay of the co-purchase edges: ``(u, v)`` with
    ``u < v`` for every part pair that co-occurs in at least two orders."""
    from collections import Counter
    from itertools import combinations

    from trackdechets_etl_spark.io.readers import read_table
    from tests.conftest import SF_DIR

    by_order: dict[int, set] = {}
    li = read_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    for r in li.collect():
        by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    support = Counter(
        p for parts in by_order.values() for p in combinations(sorted(parts), 2)
    )
    return {p for p, n in support.items() if n >= 2}


def test_triangles_match_bruteforce(spark):
    """Replay triangle enumeration driver-side from the same edge set."""
    from collections import Counter

    from trackdechets_etl_spark.queries import all_queries
    from tests.conftest import SF_DIR

    edges = _copurchase_replay(spark)
    adj: dict[int, set] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
    tri_count = Counter()
    for a, b in edges:
        for c in adj.get(b, set()):
            if (a, c) in edges:
                tri_count[a] += 1
                tri_count[b] += 1
                tri_count[c] += 1
    want = sorted(tri_count.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.part_id, r.n_triangles)
        for r in all_queries()["graph_triangles"].fn(spark, SF_DIR).collect()
    ]
    assert got == want
    assert got, "degenerate graph: no triangles at support 2"


def test_clustering_coeff_matches_python_replay(spark):
    from trackdechets_etl_spark.queries import all_queries
    from tests.conftest import SF_DIR

    rows = all_queries()["graph_clustering_coefficient"].fn(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    # replay: same support-2 co-purchase edge set, brute-force cc
    adj: dict[int, set[int]] = {}
    for u, v in _copurchase_replay(spark):
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    for r in rows:
        nbrs = adj[r.part_id]
        assert r.degree == len(nbrs)
        tri = sum(
            1
            for x in nbrs
            for y in nbrs
            if x < y and y in adj.get(x, set())
        )
        assert r.n_triangles == tri
        want = 2.0 * tri / (len(nbrs) * (len(nbrs) - 1))
        assert abs(r.clustering_coeff - want) < 1e-6
        assert 0.0 <= r.clustering_coeff <= 1.0
    # descending order, deterministic tie-break
    ccs = [(-r.clustering_coeff, r.part_id) for r in rows]
    assert ccs == sorted(ccs)
