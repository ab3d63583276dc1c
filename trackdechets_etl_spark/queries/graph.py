"""Graph queries over two graphs. The customer↔supplier trade graph
comes from ``plans.fixtures``: ``trade_pairs`` is its bipartite edge
list and ``trade_edges`` its symmetrized form, each with a DuckDB twin.
The part co-purchase graph (parts co-occurring in at least two orders)
and its triangles are built once here, for ``graph_triangles`` and
``graph_clustering_coefficient``.

Queries whose function carries no docstring, or whose docstring covers
only the implementation, are described here:

- ``graph_harmonic_centrality_top``: harmonic centrality of the 20
  highest-degree nodes of the symmetrized customer↔supplier trade
  graph (the ``graph_khop_reach`` edge set), truncated at 3 hops —
  ``H(s) = Σ_d |N_d(s)| / d`` for d = 1..3, emitted as the exact
  integer ``6·H`` (= 6·n1 + 3·n2 + 2·n3). The registry's first
  node-importance measure beyond degree and PageRank: harmonic
  centrality handles disconnected graphs natively (unreached nodes
  contribute 0) and a 3-hop truncation is the standard large-graph
  approximation.
- ``graph_label_propagation``: 3 synchronous label-propagation rounds
  over the symmetrized customer↔supplier trade graph (the pagerank
  edge set) with a deterministic update (most-frequent neighbor label,
  ties to the smallest) — community detection where connected
  components is too coarse (the trade graph is one giant component).
  Fixed-K unrolled; each round's aggregates are keyed by node.
- ``graph_kcore_peel``: 5 rounds of k-core peeling (k=12) on the
  trade graph — each round drops nodes with degree < k and the edges
  they carry; emits the (round, nodes, edges) trajectory, so
  convergence (or not, on adversarial graphs) is IN the output rather
  than assumed. Every join is keyed.
- ``graph_degree_histogram``: log2-bucketed degree distribution of
  the customer↔supplier bipartite trade graph, both sides in one
  frame — the shape readout that decides skew strategy (which keys
  need salting/capping) before any heavy graph job runs.
- ``graph_degree_assortativity``: degree assortativity of the trade
  graph — the Pearson correlation of (source degree, destination
  degree) over directed edges, the one-number answer to "do hubs link
  to hubs". Degrees are one aggregation; the edge-level moment sums
  are int64 (decimal-widened squares), and the only float is the
  final fixed-order r.
- ``graph_modularity_nation``: Newman modularity Q of the nation
  partition on the customer–supplier graph (the
  ``graph_degree_assortativity`` edge set): per-community internal-edge
  and degree sums, Q = Σ(e_c/m − (d_c/2m)²) — exact integers until the final
  division. Quantifies whether nation boundaries are real communities
  in the trade graph (the quality gate before trusting
  label-propagation output).
- ``graph_rich_club``: bipartite rich-club coefficient — density of
  edges among the top-20 customers × top-20 suppliers (by degree)
  against the overall bipartite density. Ratio ≫ 1 means hubs trade
  preferentially with hubs (the structural skew that breaks naive
  partitioning); complements degree assortativity, which averages over
  ALL edges.
- ``graph_degree_powerlaw``: scale-free test of the trade graph —
  log-log OLS of the customer-degree CCDF over distinct degree values
  (micro-unit integer OLS), α = 1 − slope and fit R². The measured
  answer to "do hubs follow a power law" that rich-club and
  assortativity only hint at.
- ``graph_clustering_coefficient``: per-node local clustering
  coefficient on the co-purchase graph (the ``graph_triangles`` edges
  and triangles): cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)) — the
  "how clique-like is this node's neighborhood" companion to the raw
  triangle count. Triangle enumeration is the oriented three-way
  equi-join (each triangle once), degrees one aggregate; the division
  is the only float.

All pure DataFrame algebra with exact DuckDB twins. Invariant tests:
tests/test_graph.py (PageRank and the co-purchase queries) and, not yet
moved, the tests/test_roundNN.py files of the modules these queries
came from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.plans.fixtures import (
    TRADE_EDGES_SQL,
    TRADE_PAIRS_SQL,
    trade_edges,
    trade_pairs,
)
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import broadcast_if_fits, materialize


# ---------------------------------------------------- pagerank

_PR_ITER = 5
_PR_DAMP = 0.85


def _graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized customer↔supplier trade graph
    (``plans.fixtures.trade_edges``). Fixed 5 iterations, damping 0.85 —
    deterministic, matched step-for-step by the unrolled CTE oracle."""
    from trackdechets_etl_spark.operators.graph import pagerank

    ranks = pagerank(
        trade_edges(spark, sf_dir), iterations=_PR_ITER, damping=_PR_DAMP
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _pr_oracle() -> str:
    steps = []
    prev = "r0"
    for k in range(1, _PR_ITER + 1):
        steps.append(
            f"r{k} AS (SELECT e.dst AS node, "
            f"(SELECT {1 - _PR_DAMP} / n FROM nn) + {_PR_DAMP} * "
            f"sum({prev}.rank / deg.d) AS rank "
            f"FROM edges e JOIN {prev} ON e.src = {prev}.node "
            f"JOIN deg ON e.src = deg.src GROUP BY e.dst)"
        )
        prev = f"r{k}"
    chain = ",\n".join(steps)
    return f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
edges AS ({TRADE_EDGES_SQL}),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
{chain}
SELECT node, round(rank, 6) AS rank FROM r{_PR_ITER}
"""


PAGERANK_SQL = _pr_oracle()


# ---------------------------------------------------- k-hop reachability

_KH_K = 3
_KH_SEED_MAX = 5  # seeds: customers with c_custkey < 5


def _graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (0..3) from seed customers over the
    symmetrized customer↔supplier trade graph
    (``plans.fixtures.trade_edges``). Classic frontier BFS:
    each round joins the frontier to the edge list and anti-joins the
    visited set, so a node's label is its FIRST (minimum) hop count.
    The edge frame is checkpointed once and reused by all rounds; at
    100 TB each round is one shuffle keyed by node id and the frontier
    shrinks monotonically — the anti-join keeps re-expansion of
    already-settled nodes off the wire entirely."""
    # one materialization, K join legs
    edges = materialize(trade_edges(spark, sf_dir), eager=False)
    c = read_table(spark, sf_dir, "customer")
    dist = c.filter(F.col("c_custkey") < _KH_SEED_MAX).select(
        F.col("c_custkey").alias("node"), F.lit(0).alias("dist")
    )
    frontier = dist.select("node")
    for k in range(1, _KH_K + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select("dst")
            .distinct()
            .withColumnRenamed("dst", "node")
            .join(dist, "node", "left_anti")
        )
        dist = dist.unionByName(nxt.withColumn("dist", F.lit(k)))
        frontier = nxt
    return dist.orderBy("dist", "node")


def _khop_oracle() -> str:
    rounds = []
    prev_all = "d0"
    for k in range(1, _KH_K + 1):
        rounds.append(
            f"f{k} AS (SELECT DISTINCT e.dst AS node FROM edges e "
            f"JOIN d{k - 1} ON e.src = d{k - 1}.node),\n"
            f"d{k} AS (SELECT node, {k} AS dist FROM f{k} "
            f"WHERE node NOT IN (SELECT node FROM {prev_all}))"
        )
        prev_all = (
            "("
            + " UNION ALL ".join(
                f"SELECT node FROM d{i}" for i in range(k + 1)
            )
            + f") p{k}"
        )
    chain = ",\n".join(rounds)
    union = " UNION ALL ".join(
        f"SELECT * FROM d{i}" for i in range(_KH_K + 1)
    )
    return f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
edges AS ({TRADE_EDGES_SQL}),
d0 AS (SELECT c_custkey AS node, 0 AS dist FROM customer
       WHERE c_custkey < {_KH_SEED_MAX}),
{chain}
SELECT node, dist FROM ({union}) t ORDER BY dist, node
"""


GRAPH_KHOP_SQL = _khop_oracle()


# ------------------------------------- harmonic centrality (top-20)

_HC_TOP = 20


def _graph_harmonic_centrality_top(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source-mask BFS: each of the 20 sources owns one bit; per-node
    state is a single int64 mask "reached by source i within h hops".
    One hop = edges ⨝ broadcast(mask) propagation, then merge via
    UNION + groupBy(node).bit_or — an aggregation with map-side
    partial combine, NOT a join (the round-10 mask prototype merged
    with three full-outer joins and measured a wash; this merge shape
    is 2.3× faster than the (source, node) pair-BFS it replaces:
    interleaved A/B at sf0.1 ~9.2 s → ~3.95 s, bit-identical at
    sf0.001 and sf0.1). Shuffle profile per hop is O(|E|) longs with
    partial bit_or — no per-pair distinct frames, no anti-joins — and
    per-node state is 8 bytes regardless of source count ≤ 64: the
    100 TB-shape for multi-source bounded BFS. Hop-h counts come from
    exploding the ≤ 20 set bits of each cumulative mask (n_hops are
    successive differences), so unreached nodes contribute nothing
    (harmonic semantics on disconnected graphs)."""
    edges = materialize(trade_edges(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    # bit index per source: rank under the same (degree desc, src asc)
    # total order that picks the top-20. The window input is the
    # 20-row limit result — bounded, so the single partition is fine.
    w = Window.orderBy(F.desc("degree"), F.asc("src"))
    sources = materialize(
        deg.orderBy(F.desc("degree"), F.asc("src"))
        .limit(_HC_TOP)
        .withColumn("i", F.row_number().over(w) - 1)
        .select(F.col("src").alias("s"), "degree", "i")
    )
    mask = sources.select(
        F.col("s").alias("node"), F.expr("shiftleft(1L, i)").alias("m")
    )
    reach = []  # cumulative per-source reach at hop h, source excluded
    for _h in range(3):
        # NO broadcast hint on mask: it starts at 20 rows but grows to
        # O(reachable |V|) after a hop or two of high-degree hubs —
        # forcing a broadcast would hit Spark's exchange caps (and the
        # driver) at the 100 TB target. Left unhinted, AQE broadcasts
        # while the mask is small and falls back to a shuffle join on
        # src when it isn't — values are join-strategy-invariant
        # (strategy_invariance probe, r11).
        prop = edges.join(mask, edges.src == mask.node).select(
            F.col("dst").alias("node"), "m"
        )
        mask = materialize(
            mask.unionByName(prop)
            .groupBy("node")
            .agg(F.bit_or("m").alias("m"))
        )
        bits = mask.select(
            "node",
            F.explode(
                F.expr(
                    "filter(sequence(0, %d),"
                    " i -> (shiftright(m, i) & 1) = 1)" % (_HC_TOP - 1)
                )
            ).alias("i"),
        )
        reach.append(
            bits.join(F.broadcast(sources.select("s", "i")), "i")
            .filter(F.col("node") != F.col("s"))
            .groupBy("i")
            .agg(F.count(F.lit(1)).alias(f"r{_h + 1}"))
        )
    counts = (
        sources.join(reach[0], "i", "left")
        .join(reach[1], "i", "left")
        .join(reach[2], "i", "left")
        .na.fill(0, ["r1", "r2", "r3"])
    )
    return counts.select(
        F.col("s").cast("long").alias("node_id"),
        F.col("degree").cast("long").alias("degree"),
        F.col("r1").cast("long").alias("n_hop1"),
        (F.col("r2") - F.col("r1")).cast("long").alias("n_hop2"),
        (F.col("r3") - F.col("r2")).cast("long").alias("n_hop3"),
        (
            6 * F.col("r1")
            + 3 * (F.col("r2") - F.col("r1"))
            + 2 * (F.col("r3") - F.col("r2"))
        )
        .cast("long")
        .alias("harmonic_x6"),
    ).orderBy("node_id")


HARMONIC_SQL = f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
edges AS ({TRADE_EDGES_SQL}),
deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src),
sources AS (
    SELECT src AS s, degree FROM deg
    ORDER BY degree DESC, src ASC LIMIT {_HC_TOP}),
d1 AS (
    SELECT DISTINCT s, e.dst AS v
    FROM sources JOIN edges e ON s = e.src),
d2 AS (
    SELECT s, v FROM (
        SELECT DISTINCT d1.s, e.dst AS v
        FROM d1 JOIN edges e ON d1.v = e.src) x
    WHERE NOT EXISTS (SELECT 1 FROM d1 WHERE d1.s = x.s AND d1.v = x.v)
      AND v <> s),
d3 AS (
    SELECT s, v FROM (
        SELECT DISTINCT d2.s, e.dst AS v
        FROM d2 JOIN edges e ON d2.v = e.src) x
    WHERE NOT EXISTS (SELECT 1 FROM d1 WHERE d1.s = x.s AND d1.v = x.v)
      AND NOT EXISTS (SELECT 1 FROM d2 WHERE d2.s = x.s AND d2.v = x.v)
      AND v <> s),
counts AS (
    SELECT s,
           (SELECT count(*) FROM d1 WHERE d1.s = sources.s) AS n1,
           (SELECT count(*) FROM d2 WHERE d2.s = sources.s) AS n2,
           (SELECT count(*) FROM d3 WHERE d3.s = sources.s) AS n3
    FROM sources)
SELECT CAST(sources.s AS BIGINT) AS node_id,
       CAST(degree AS BIGINT) AS degree,
       CAST(n1 AS BIGINT) AS n_hop1,
       CAST(n2 AS BIGINT) AS n_hop2,
       CAST(n3 AS BIGINT) AS n_hop3,
       CAST(6 * n1 + 3 * n2 + 2 * n3 AS BIGINT) AS harmonic_x6
FROM sources JOIN counts ON sources.s = counts.s
ORDER BY node_id
"""


# ------------------------------------------------ label propagation

_LP_ROUNDS = 3


def _graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Eager: a lazy checkpoint materializes only AFTER the first
    # job finishes, so the single final action would still
    # re-derive the join+distinct edge list once per round.
    edges = materialize(trade_edges(spark, sf_dir))
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LP_ROUNDS):
        neigh = edges.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label")
        # One exchange per round for the big frame: hash(node) from
        # the repartition satisfies BOTH aggregates (subset rule), and
        # argmax-by-(count desc, label asc) is a max over a
        # (c, -label) struct — hash aggregates only, no per-node sort
        # (the former row_number window re-exchanged counts AND sorted
        # every partition).
        counts = (
            neigh.repartition("node")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = counts.groupBy("node").agg(
            (
                -F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                )["nl"]
            ).alias("label")
        )
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("community_size"))
        .select(F.col("label").cast("long").alias("community"), "community_size")
        .orderBy(F.desc("community_size"), "community")
    )


def _lp_oracle() -> str:
    parts = [
        f"""
trade_pairs AS ({TRADE_PAIRS_SQL}),
edges AS ({TRADE_EDGES_SQL}),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    ]
    for step in range(1, _LP_ROUNDS + 1):
        parts.append(
            f"""
n{step} AS (
    SELECT e.src AS node, l.label, count(*) AS c
    FROM edges e JOIN l{step - 1} l ON e.dst = l.node
    GROUP BY e.src, l.label),
l{step} AS (
    SELECT node, label FROM (
        SELECT node, label, row_number() OVER (PARTITION BY node
            ORDER BY c DESC, label ASC) AS rn
        FROM n{step}) WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT CAST(label AS BIGINT) AS community,
       CAST(count(*) AS BIGINT) AS community_size
FROM l{_LP_ROUNDS} GROUP BY label
ORDER BY community_size DESC, community
"""
    )


# ------------------------------------------- k-core peeling

_KCORE_K = 12
_KCORE_ROUNDS = 5


def _graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = materialize(trade_edges(spark, sf_dir), eager=False)
    # One (round, n_nodes, n_edges) row per round from one aggregate:
    # each kept node adds (round, 1, 0), each kept edge (round, 0, 1),
    # and a (round, 0, 0) row per round keeps a round that peeled
    # everything in the output.
    tagged = spark.range(1, _KCORE_ROUNDS + 1).select(
        F.col("id").alias("round"), F.lit(0).alias("node"), F.lit(0).alias("edge")
    )
    # Each kept node is the source of at least _KCORE_K edges, and the
    # edges only shrink, so one edge count before the loop bounds every
    # round's keep: at most n_edges // _KCORE_K rows. A distinct count
    # of the nodes is tighter on this graph (its mean degree is above
    # _KCORE_K) but costs a second shuffle and about twice the time.
    max_keep = edges.count() // _KCORE_K
    for rnd in range(1, _KCORE_ROUNDS + 1):
        keep = materialize(
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node")),
            eager=False,
        )
        # keep, materialized, carries its origin plan's size estimate,
        # so unhinted, AQE plans both semi-joins as sort-merge joins
        # and shuffles edges and keep before it sees keep's size. Gated
        # on max_keep, the two semi-joins read one broadcast of keep (the
        # second is a ReusedExchange): a round is two jobs, the degree
        # shuffle and that broadcast. Past the threshold they stay
        # shuffle joins.
        edges = materialize(
            edges.join(
                broadcast_if_fits(keep.select(F.col("node").alias("src")), max_keep),
                "src",
                "left_semi",
            ).join(
                broadcast_if_fits(keep.select(F.col("node").alias("dst")), max_keep),
                "dst",
                "left_semi",
            ),
            eager=False,
        )
        r = F.lit(rnd).cast("long").alias("round")
        tagged = tagged.unionByName(
            keep.select(r, F.lit(1).alias("node"), F.lit(0).alias("edge"))
        ).unionByName(edges.select(r, F.lit(0).alias("node"), F.lit(1).alias("edge")))
    # _KCORE_ROUNDS rows: sorted in one partition, without the sampling
    # job and range shuffle of a global orderBy.
    return (
        tagged.groupBy("round")
        .agg(F.sum("node").alias("n_nodes"), F.sum("edge").alias("n_edges"))
        .coalesce(1)
        .sortWithinPartitions("round")
    )


def _kcore_oracle() -> str:
    # Every CTE in the peel chain is AS MATERIALIZED: each e{rnd} is
    # referenced by k{rnd+1}, e{rnd+1} AND a final count — left to the
    # inlining heuristic, DuckDB re-evaluates the chain per reference
    # (exponential in rounds; at sf0.1 the un-hinted form spilled >80GB
    # of temp and died on disk, while the materialized form runs in
    # ~3s). The hint changes evaluation only, never results.
    parts = [
        f"""
trade_pairs AS MATERIALIZED ({TRADE_PAIRS_SQL}),
e0 AS MATERIALIZED ({TRADE_EDGES_SQL})"""
    ]
    for rnd in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""
k{rnd} AS MATERIALIZED (
    SELECT src AS node FROM e{rnd - 1}
    GROUP BY src HAVING count(*) >= {_KCORE_K}),
e{rnd} AS MATERIALIZED (
    SELECT e.src, e.dst FROM e{rnd - 1} e
    WHERE e.src IN (SELECT node FROM k{rnd})
      AND e.dst IN (SELECT node FROM k{rnd}))"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {r} AS round, (SELECT count(*) FROM k{r}) AS n_nodes, "
        f"(SELECT count(*) FROM e{r}) AS n_edges"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT CAST(round AS BIGINT) AS round,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges
FROM ({selects}) ORDER BY round
"""
    )


# ---------------------------------------------- neighbour-mode labels


def _graph_neighbor_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label assignment over the bipartite trade graph:
    each supplier takes the modal c_mktsegment of its distinct
    customer neighbours, ties broken by the lexicographically smallest
    segment. Votes are one aggregation over the distinct edge list;
    the winner is a deterministic row_number window over the
    (supplier × segment) vote table — supplier-keyed and
    segment-count-bounded, so the argmax never touches fact-sized
    data. The 1-round core of label propagation; K rounds = repeat
    with the new labels."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    votes = (
        trade_pairs(spark, sf_dir)
        .join(c, F.col("cust") == F.col("c_custkey"))
        .groupBy("supp", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("supp").orderBy(F.desc("votes"), F.col("c_mktsegment"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("supp").alias("s_suppkey"),
            F.col("c_mktsegment").alias("assigned_segment"),
            F.col("votes").alias("votes"),
        )
        .orderBy("s_suppkey")
    )


GRAPH_NEIGHBOR_MODE_SQL = f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
votes AS (
    SELECT supp AS s_suppkey, c_mktsegment, CAST(count(*) AS BIGINT) AS votes
    FROM trade_pairs JOIN customer ON cust = c_custkey
    GROUP BY 1, 2),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY s_suppkey
                                 ORDER BY votes DESC, c_mktsegment) AS rn
    FROM votes)
SELECT s_suppkey, c_mktsegment AS assigned_segment, votes
FROM ranked WHERE rn = 1
ORDER BY s_suppkey
"""


# --------------------------------------- neighborhood Jaccard similarity

_NBR_TOP_K = 3
# Per-customer neighborhood cap: candidate pairs are Σ min(d, CAP)² —
# LINEAR in customers once capped, where the uncapped form is Σd² and
# one hot customer (a marketplace reseller at real scale) contributes
# d²/2 pairs on its own. Same degenerate-hot-key guard the phash LSH
# bands got in round 6. Measured on the synthetic data: 12.5M → ~5M
# candidate pairs at sf0.1 (avg degree 39, max 102).
_NBR_DEG_CAP = 32


def _graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: supplier similarity as
    Jaccard over distinct customer neighborhoods. Shared-customer
    counts come from the inverted index (customer → its suppliers,
    self-joined per customer) so candidate pairs are linear in
    Σ|customer's suppliers|² — never |S|×|S|; degree joins broadcast
    (supplier-sized). Hot customers are degree-capped FIRST to a
    deterministic md5-ordered sample of ``_NBR_DEG_CAP`` suppliers
    (the standard item-CF downsampling guard — DIMSUM-style), so the
    pair stage is bounded per customer at any scale; Jaccard is
    computed self-consistently on the capped bipartite graph and the
    oracle applies the identical cut. Top-3 neighbours per supplier by
    (similarity rounded at 6, neighbour id) — a supplier-keyed window
    over the candidate pair table."""
    # Not plans.fixtures.trade_pairs: this one repartitions by cust first.
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
        )
        # repartition("cust") BEFORE the distinct: hash(cust) satisfies
        # the clustered-by-(cust,supp) requirement (subset rule), so
        # the dedup, the degree-cap window AND the per-customer pair
        # self-join all run off ONE exchange instead of two (the r12
        # shape shuffled by (cust,supp) for distinct, then again by
        # cust for the window). Local wall-clock is a wash within box
        # noise (r13 interleaved A/B), kept for the structural shuffle
        # count — one exchange fewer is what matters at cluster scale.
        .repartition("cust")
        .distinct()
    )
    wc = Window.partitionBy("cust").orderBy(
        F.md5(F.concat_ws(":", "cust", "supp")), "supp"
    )
    # NO checkpoint here: measured same-session A/B (r8) — lazy
    # checkpoints on edges/sim were neutral-to-worse (the pair table
    # materialization costs more than the replayed scans save), same
    # lesson as the r7 jaccard experiment.
    edges = (
        raw.withColumn("srk", F.row_number().over(wc))
        .filter(F.col("srk") <= _NBR_DEG_CAP)
        .drop("srk")
    )
    deg = edges.groupBy("supp").agg(F.count(F.lit(1)).alias("deg"))
    x = edges.select("cust", F.col("supp").alias("s1"))
    y = edges.select(F.col("cust").alias("cust2"), F.col("supp").alias("s2"))
    shared = (
        x.join(y, (F.col("cust") == F.col("cust2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sim = (
        shared.join(
            deg.select(F.col("supp").alias("s1"), F.col("deg").alias("d1")),
            "s1",
        )
        .join(
            deg.select(F.col("supp").alias("s2"), F.col("deg").alias("d2")),
            "s2",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("shared")),
                6,
            ),
        )
    )
    both = sim.select(
        F.col("s1").alias("supp"), F.col("s2").alias("nbr"), "jaccard"
    ).unionByName(
        sim.select(
            F.col("s2").alias("supp"), F.col("s1").alias("nbr"), "jaccard"
        )
    )
    # Top-k stays a row_number window, NOT a collect_list+sort_array
    # agg: r13 interleaved A/B measured the two as a wash within box
    # noise (old best 2.57 vs agg best 2.86 s, then the reverse on a
    # second run), and the window shape is the one that survives
    # scale — WindowGroupLimit (verified present in this plan) bounds
    # per-group state to k rows in a streaming pass, while collect_list
    # materializes a supplier's FULL candidate list (O(|S|) structs on
    # a hot supplier) in one task.
    w = Window.partitionBy("supp").orderBy(F.desc("jaccard"), F.col("nbr"))
    return (
        both.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _NBR_TOP_K)
        .orderBy("supp", "rank")
    )


GRAPH_JACCARD_NBR_SQL = f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
edges AS (
    SELECT cust, supp FROM (
        SELECT cust, supp,
               row_number() OVER (PARTITION BY cust
                   ORDER BY md5(CAST(cust AS VARCHAR) || ':'
                               || CAST(supp AS VARCHAR)), supp) AS srk
        FROM trade_pairs) WHERE srk <= {_NBR_DEG_CAP}),
deg AS (SELECT supp, count(*) AS deg FROM edges GROUP BY supp),
shared AS (
    SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
    FROM edges a JOIN edges b ON a.cust = b.cust AND a.supp < b.supp
    GROUP BY 1, 2),
sim AS (
    SELECT s1, s2,
           round(CAST(shared AS DOUBLE) / (d1.deg + d2.deg - shared), 6)
               AS jaccard
    FROM shared
    JOIN deg d1 ON shared.s1 = d1.supp
    JOIN deg d2 ON shared.s2 = d2.supp),
sym AS (
    SELECT s1 AS supp, s2 AS nbr, jaccard FROM sim
    UNION ALL
    SELECT s2 AS supp, s1 AS nbr, jaccard FROM sim),
ranked AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY supp
                                      ORDER BY jaccard DESC, nbr)
                   AS INTEGER) AS rank
    FROM sym)
SELECT supp, nbr, jaccard, rank
FROM ranked WHERE rank <= {_NBR_TOP_K}
ORDER BY supp, rank
"""


# ------------------------------------------------ degree histogram


def _graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct trade edges once (the one real shuffle), then per-side
    degree counts and a log2 bucket rollup — output is
    sides × log-buckets rows at any scale."""
    edges = materialize(trade_pairs(spark, sf_dir))

    def side_hist(frame, key, label):
        deg = frame.groupBy(key).agg(F.count(F.lit(1)).alias("deg"))
        return deg.select(
            F.lit(label).alias("side"),
            F.floor(F.log2("deg")).cast("long").alias("log2_bucket"),
        ).groupBy("side", "log2_bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        )

    return (
        side_hist(edges, "cust", "customer")
        .unionByName(side_hist(edges, "supp", "supplier"))
        .orderBy("side", "log2_bucket")
    )


DEGREE_HISTOGRAM_SQL = f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
cd AS (SELECT cust, count(*) AS deg FROM trade_pairs GROUP BY cust),
sd AS (SELECT supp, count(*) AS deg FROM trade_pairs GROUP BY supp),
h AS (
    SELECT 'customer' AS side,
           CAST(floor(log2(deg)) AS BIGINT) AS log2_bucket
    FROM cd
    UNION ALL
    SELECT 'supplier' AS side,
           CAST(floor(log2(deg)) AS BIGINT) AS log2_bucket
    FROM sd)
SELECT side, log2_bucket, CAST(count(*) AS BIGINT) AS n_nodes
FROM h GROUP BY side, log2_bucket ORDER BY side, log2_bucket
"""


# ------------------------------------------- degree assortativity


def _graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: the directed-edge frame is the union of both orientations of
    # each undirected (cust, supp) edge, so every moment over it is a
    # symmetric function of the half graph: n = 2m, sx = sy =
    # Σ(dc + ds), sxy = 2·Σ(dc·ds), sxx = syy = Σ(dc² + ds²) — all
    # integer-exact, so the doubles (and the rounded r) are
    # bit-identical to the doubled-frame form. The union + 2m-row
    # degree/join passes are replaced by half-size passes over the raw
    # bipartite edge set (lazy-checkpointed once for its 3 consumers).
    raw = materialize(trade_pairs(spark, sf_dir), eager=False)
    degc = raw.groupBy("cust").agg(F.count(F.lit(1)).alias("dc"))
    degs = raw.groupBy("supp").agg(F.count(F.lit(1)).alias("ds"))
    pairs = raw.join(degc, "cust").join(degs, "supp").select("dc", "ds")
    sums = pairs.agg(
        (F.count(F.lit(1)) * 2).alias("n"),
        F.sum(F.col("dc") + F.col("ds")).alias("sx"),
        (F.sum(F.col("dc") * F.col("ds")) * 2).alias("sxy"),
        F.sum(
            F.col("dc") * F.col("dc") + F.col("ds") * F.col("ds")
        ).alias("sxx"),
    )
    n = F.col("n").cast("double")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sx")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return sums.select(
        F.col("n").cast("long").alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
    )


ASSORTATIVITY_SQL = f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
edges AS ({TRADE_EDGES_SQL}),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
pairs AS (
    SELECT a.deg AS dx, b.deg AS dy
    FROM edges e
    JOIN deg a ON e.src = a.src
    JOIN deg b ON e.dst = b.src),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dx) AS BIGINT) AS sx,
           CAST(sum(dy) AS BIGINT) AS sy,
           CAST(sum(dx * dy) AS BIGINT) AS sxy,
           CAST(sum(dx * dx) AS BIGINT) AS sxx,
           CAST(sum(dy * dy) AS BIGINT) AS syy
    FROM pairs)
SELECT n AS n_edges,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
           AS assortativity
FROM s
"""


# --------------------------------------------- nation modularity


def _graph_modularity_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges = trade_pairs(spark, sf_dir)
    cn = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_nationkey").alias("cnat"),
    )
    sn = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp"),
        F.col("s_nationkey").alias("snat"),
    )
    e = edges.join(cn, "cust").join(sn, "supp")
    m = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    internal = (
        e.filter(F.col("cnat") == F.col("snat"))
        .groupBy(F.col("cnat").alias("nation"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    dsum = (
        e.select(F.col("cnat").alias("nation"))
        .unionByName(e.select(F.col("snat").alias("nation")))
        .groupBy("nation")
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    per = (
        dsum.join(internal, "nation", "left")
        .na.fill(0, ["e_in"])
        .crossJoin(F.broadcast(m))
    )
    qterm = F.col("e_in") / F.col("m") - (
        F.col("d_c") / (2.0 * F.col("m"))
    ) * (F.col("d_c") / (2.0 * F.col("m")))
    per2 = per.select(
        F.col("nation").cast("long").alias("nation"),
        F.col("e_in"),
        "d_c",
        qterm.alias("q_raw"),
    )
    qtot = per2.agg(F.sum("q_raw").alias("q_total"))
    return (
        per2.crossJoin(F.broadcast(qtot))
        .select(
            "nation",
            "e_in",
            "d_c",
            F.round("q_raw", 6).alias("q_term"),
            F.round("q_total", 6).alias("modularity"),
        )
        .orderBy("nation")
    )


MODULARITY_SQL = f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
e AS (
    SELECT cust, supp, c_nationkey AS cnat, s_nationkey AS snat
    FROM trade_pairs
    JOIN customer ON cust = c_custkey
    JOIN supplier ON supp = s_suppkey),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
internal AS (
    SELECT cnat AS nation, CAST(count(*) AS BIGINT) AS e_in
    FROM e WHERE cnat = snat GROUP BY cnat),
dsum AS (
    SELECT nation, CAST(count(*) AS BIGINT) AS d_c
    FROM (SELECT cnat AS nation FROM e
          UNION ALL SELECT snat AS nation FROM e)
    GROUP BY nation),
per AS (
    SELECT dsum.nation, coalesce(e_in, 0) AS e_in, d_c,
           coalesce(e_in, 0) * 1.0 / m
           - (d_c / (2.0 * m)) * (d_c / (2.0 * m)) AS q_raw
    FROM dsum LEFT JOIN internal USING (nation) CROSS JOIN m),
qtot AS (SELECT sum(q_raw) AS q_total FROM per)
SELECT CAST(nation AS BIGINT) AS nation, e_in, d_c,
       round(q_raw, 6) AS q_term,
       round(q_total, 6) AS modularity
FROM per, qtot
ORDER BY nation
"""


# ------------------------------------------------------ rich club

_RC_TOP = 20


def _graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = materialize(trade_pairs(spark, sf_dir))
    topc = (
        e.groupBy("cust")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.desc("dg"), F.asc("cust"))
        .limit(_RC_TOP)
        .select("cust")
    )
    tops = (
        e.groupBy("supp")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.desc("dg"), F.asc("supp"))
        .limit(_RC_TOP)
        .select("supp")
    )
    hub_edges = e.join(F.broadcast(topc), "cust").join(
        F.broadcast(tops), "supp"
    )
    tot = e.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.countDistinct("cust").cast("long").alias("nc"),
        F.countDistinct("supp").cast("long").alias("ns"),
    )
    he = hub_edges.agg(
        F.count(F.lit(1)).cast("long").alias("mh")
    )
    nca = topc.agg(F.count(F.lit(1)).cast("long").alias("kc"))
    nsa = tops.agg(F.count(F.lit(1)).cast("long").alias("ks"))
    j = (
        tot.crossJoin(F.broadcast(he))
        .crossJoin(F.broadcast(nca))
        .crossJoin(F.broadcast(nsa))
    )
    hub_density = F.col("mh") / (F.col("kc") * F.col("ks"))
    overall = F.col("m") / (F.col("nc") * F.col("ns"))
    return j.select(
        "m",
        "mh",
        F.col("kc").alias("n_hub_cust"),
        F.col("ks").alias("n_hub_supp"),
        F.round(hub_density, 6).alias("hub_density"),
        F.round(overall, 6).alias("overall_density"),
        F.round(hub_density / overall, 4).alias("rich_club_ratio"),
    )


RICH_CLUB_SQL = f"""
WITH e AS ({TRADE_PAIRS_SQL}),
topc AS (SELECT cust FROM (SELECT cust, count(*) dg FROM e GROUP BY cust)
         ORDER BY dg DESC, cust LIMIT {_RC_TOP}),
tops AS (SELECT supp FROM (SELECT supp, count(*) dg FROM e GROUP BY supp)
         ORDER BY dg DESC, supp LIMIT {_RC_TOP}),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(count(DISTINCT cust) AS BIGINT) AS nc,
           CAST(count(DISTINCT supp) AS BIGINT) AS ns
    FROM e),
he AS (
    SELECT CAST(count(*) AS BIGINT) AS mh
    FROM e JOIN topc USING (cust) JOIN tops USING (supp)),
kk AS (
    SELECT CAST((SELECT count(*) FROM topc) AS BIGINT) AS kc,
           CAST((SELECT count(*) FROM tops) AS BIGINT) AS ks)
SELECT m, mh, kc AS n_hub_cust, ks AS n_hub_supp,
       round(mh * 1.0 / (kc * ks), 6) AS hub_density,
       round(m * 1.0 / (nc * ns), 6) AS overall_density,
       round((mh * 1.0 / (kc * ks)) / (m * 1.0 / (nc * ns)), 4)
           AS rich_club_ratio
FROM tot, he, kk
"""


# ---------------------------------------------- degree power law

_PL_MICRO = 1_000_000


def _graph_degree_powerlaw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    deg = (
        trade_pairs(spark, sf_dir)
        .groupBy("cust")
        .agg(F.count(F.lit(1)).cast("long").alias("dg"))
    )
    dist = deg.groupBy("dg").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    tot = dist.agg(F.sum("f").cast("long").alias("nt"))
    b = dist.select(
        F.col("dg").alias("d2"), F.col("f").alias("f2")
    )
    ccdf = (
        dist.join(F.broadcast(b), F.col("d2") >= F.col("dg"))
        .groupBy("dg")
        .agg(F.sum("f2").cast("long").alias("ge"))
    )
    xy = ccdf.crossJoin(F.broadcast(tot)).select(
        F.round(F.log(F.col("dg").cast("double")) * _PL_MICRO)
        .cast("long")
        .alias("x"),
        F.round(
            F.log(F.col("ge") / F.col("nt")) * _PL_MICRO
        )
        .cast("long")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (d("k") * d("sxy") - d("sx") * d("sy")) / (
        d("k") * d("sxx") - d("sx") * d("sx")
    )
    r2 = (
        (d("k") * d("sxy") - d("sx") * d("sy"))
        * (d("k") * d("sxy") - d("sx") * d("sy"))
        / (
            (d("k") * d("sxx") - d("sx") * d("sx"))
            * (d("k") * d("syy") - d("sy") * d("sy"))
        )
    )
    return m.select(
        F.col("k").alias("n_degree_values"),
        F.round(slope, 6).alias("ccdf_slope"),
        F.round(1.0 - slope, 6).alias("alpha"),
        F.round(r2, 6).alias("r2"),
    )


POWERLAW_SQL = f"""
WITH trade_pairs AS ({TRADE_PAIRS_SQL}),
deg AS (SELECT cust, CAST(count(*) AS BIGINT) AS dg
        FROM trade_pairs GROUP BY cust),
dist AS (SELECT dg, CAST(count(*) AS BIGINT) AS f
         FROM deg GROUP BY dg),
tot AS (SELECT CAST(sum(f) AS BIGINT) AS nt FROM dist),
ccdf AS (
    SELECT a.dg, CAST(sum(b.f) AS BIGINT) AS ge
    FROM dist a JOIN dist b ON b.dg >= a.dg
    GROUP BY a.dg),
xy AS (
    SELECT CAST(round(ln(CAST(dg AS DOUBLE)) * {_PL_MICRO}, 0)
                AS BIGINT) AS x,
           CAST(round(ln(ge * 1.0 / nt) * {_PL_MICRO}, 0) AS BIGINT)
               AS y
    FROM ccdf, tot),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
    FROM xy),
f AS (
    SELECT k,
           (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
           (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           * (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / ((CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
    FROM m)
SELECT k AS n_degree_values,
       round(slope, 6) AS ccdf_slope,
       round(1.0 - slope, 6) AS alpha,
       round(r2, 6) AS r2
FROM f
"""


# ------------------------------------------------ part co-purchase graph

_COPURCHASE_SUPPORT = 2
_COPURCHASE_TOP = 20


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph: one ``u < v`` edge per part pair
    co-occurring in ``_COPURCHASE_SUPPORT`` or more orders, lazily
    materialized for the join legs that read it. The support threshold
    keeps the edge set sparse as the fact table grows — graph density,
    not corpus size, is what triangle joins scale with."""
    # r14: hash the raw projection on the order key BEFORE the dedup
    # (the orders_market_basket / orders_basket_lift discipline). At
    # sf0.1 the pair join is broadcast either way; the measured win
    # (A/B 2.26 -> 1.78 s) is the narrower raw exchange replacing the
    # (ok, pk)-keyed one with its near-useless partial dedup. At scale,
    # where the deduped side cannot broadcast, the ok-partitioning
    # additionally lets the pair self-join run without re-exchanging
    # either side (subset rule), which the old key could not.
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("__support"))
        .filter(F.col("__support") >= _COPURCHASE_SUPPORT)
        .select("u", "v")
    )
    return materialize(edges, eager=False)


def _triangle_counts(edges: DataFrame) -> DataFrame:
    """``(node, n_triangles)`` for every node of the ``u < v`` edge
    frame ``edges`` on at least one triangle. Each triangle
    ``a < b < c`` is enumerated exactly once by
    ``e(a,b) ⋈ e(b,c) ⋈ e(a,c)``, so no dedup pass is needed; all three
    legs are equi-joins co-partitioned on node keys."""
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# The co-purchase edges, their triangles and the per-node triangle
# count, as the DuckDB twin of _copurchase_edges and _triangle_counts.
_COPURCHASE_TRIANGLES_SQL = f"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {_COPURCHASE_SUPPORT}),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e1.v = e2.u
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
tcnt AS (
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    GROUP BY 1)"""


def _graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top per-node triangle counts of the co-purchase graph — the
    canonical multi-way self-join."""
    counts = _triangle_counts(_copurchase_edges(spark, sf_dir))
    return (
        counts.orderBy(F.col("n_triangles").desc(), F.col("node").asc())
        .limit(_COPURCHASE_TOP)
        .select(
            F.col("node").alias("part_id"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


GRAPH_TRIANGLES_SQL = f"""
WITH {_COPURCHASE_TRIANGLES_SQL}
SELECT node AS part_id, n_triangles
FROM tcnt
ORDER BY n_triangles DESC, part_id ASC LIMIT {_COPURCHASE_TOP}
"""


def _graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)  # degree + three join legs
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tcnt = _triangle_counts(edges)
    scored = (
        deg.join(tcnt, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            F.col("node").alias("part_id"),
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )
    return scored.orderBy(
        F.col("clustering_coeff").desc(), F.col("part_id").asc()
    ).limit(_COPURCHASE_TOP)


CLUSTERING_COEFF_SQL = f"""
WITH {_COPURCHASE_TRIANGLES_SQL},
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
    GROUP BY 1)
SELECT d.node AS part_id, d.degree,
       coalesce(t.n_triangles, 0) AS n_triangles,
       round(2.0 * coalesce(t.n_triangles, 0)
             / (d.degree * (d.degree - 1)), 6) AS clustering_coeff
FROM deg d LEFT JOIN tcnt t ON d.node = t.node
WHERE d.degree >= 2
ORDER BY clustering_coeff DESC, part_id ASC LIMIT {_COPURCHASE_TOP}
"""


QUERIES: dict[str, QuerySpec] = {
    "graph_pagerank": QuerySpec(_graph_pagerank, PAGERANK_SQL),
    "graph_khop_reach": QuerySpec(_graph_khop_reach, GRAPH_KHOP_SQL),
    "graph_harmonic_centrality_top": QuerySpec(
        _graph_harmonic_centrality_top, HARMONIC_SQL
    ),
    "graph_label_propagation": QuerySpec(
        _graph_label_propagation, _lp_oracle()
    ),
    "graph_kcore_peel": QuerySpec(_graph_kcore_peel, _kcore_oracle()),
    "graph_neighbor_mode": QuerySpec(
        _graph_neighbor_mode, GRAPH_NEIGHBOR_MODE_SQL
    ),
    "graph_jaccard_neighbors": QuerySpec(
        _graph_jaccard_neighbors, GRAPH_JACCARD_NBR_SQL
    ),
    "graph_degree_histogram": QuerySpec(
        _graph_degree_histogram, DEGREE_HISTOGRAM_SQL
    ),
    "graph_degree_assortativity": QuerySpec(
        _graph_degree_assortativity, ASSORTATIVITY_SQL
    ),
    "graph_modularity_nation": QuerySpec(
        _graph_modularity_nation, MODULARITY_SQL
    ),
    "graph_rich_club": QuerySpec(_graph_rich_club, RICH_CLUB_SQL),
    "graph_degree_powerlaw": QuerySpec(
        _graph_degree_powerlaw, POWERLAW_SQL
    ),
    "graph_triangles": QuerySpec(_graph_triangles, GRAPH_TRIANGLES_SQL),
    "graph_clustering_coefficient": QuerySpec(
        _graph_clustering_coefficient, CLUSTERING_COEFF_SQL
    ),
}
