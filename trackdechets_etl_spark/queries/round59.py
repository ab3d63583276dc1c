"""Round-9 additions, fourth batch: a first true centrality measure
and a distributional (quantile-level) treatment effect.

- ``graph_harmonic_centrality_top``: harmonic centrality of the 20
  highest-degree nodes of the symmetrized customer↔supplier trade
  graph (the ``graph_khop_reach`` edge set), truncated at 3 hops —
  ``H(s) = Σ_d |N_d(s)| / d`` for d = 1..3, emitted as the exact
  integer ``6·H`` (= 6·n1 + 3·n2 + 2·n3). The registry's first
  node-importance measure beyond degree and PageRank: harmonic
  centrality handles disconnected graphs natively (unreached nodes
  contribute 0) and a 3-hop truncation is the standard large-graph
  approximation. BFS is UNROLLED (three source-tagged frontier
  expansions with per-level distinct and set subtraction), so the
  oracle states the identical three joins declaratively.
- ``events_quantile_treatment_effect``: quantile-level treatment
  effect between the two md5-free user cohorts (user_id parity, the
  ``events_mann_whitney_u`` contract) at p ∈ {25, 50, 75, 90} — the
  distributional companion to mean-difference tests: a treatment can
  leave the mean flat while shifting the tails. Quantiles are picked
  by the integer cross-multiplied rank test (100·cum ≥ p·n) over the
  distinct-cents value frame; the effect is an exact integer cents
  difference per quantile. No floats anywhere.

Scale notes in docs/SCALE.md §round-9 fourth batch; invariant tests
in tests/test_round59.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.plans.fixtures import (
    TRADE_EDGES_SQL,
    TRADE_PAIRS_SQL,
    trade_edges,
)
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

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


# -------------------------------- quantile treatment effect (QTE)

_QTE_PS = [25, 50, 75, 90]


def _events_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    vals = ev.groupBy("cents").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    # distinct-cents value frame (the events_two_sample_ks bound —
    # allowlisted): inclusive cumulative counts per cohort.
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        "cents",
        F.sum("c0").over(wv).alias("cum0"),
        F.sum("c1").over(wv).alias("cum1"),
    )
    tot = vals.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    ps = spark.createDataFrame([(p,) for p in _QTE_PS], "p int")
    j = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ps))
    # lower quantile pick, integer cross-multiplied: the p-quantile is
    # the smallest value whose inclusive cumulative count reaches
    # ceil(p*n/100), i.e. 100*cum >= p*n.
    q = j.groupBy("p").agg(
        F.first("n0").cast("long").alias("n0"),
        F.first("n1").cast("long").alias("n1"),
        F.min(
            F.when(100 * F.col("cum0") >= F.col("p") * F.col("n0"), F.col("cents"))
        ).alias("q0_cents"),
        F.min(
            F.when(100 * F.col("cum1") >= F.col("p") * F.col("n1"), F.col("cents"))
        ).alias("q1_cents"),
    )
    return q.select(
        F.col("p").cast("long").alias("p"),
        "n0",
        "n1",
        F.col("q0_cents").cast("long").alias("q0_cents"),
        F.col("q1_cents").cast("long").alias("q1_cents"),
        (F.col("q1_cents") - F.col("q0_cents")).cast("long").alias("qte_cents"),
    ).orderBy("p")


QTE_SQL = f"""
WITH ev AS (
    SELECT user_id % 2 AS grp,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events),
vals AS (
    SELECT cents,
           sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
           sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
    FROM ev GROUP BY cents),
cum AS (
    SELECT cents,
           sum(c0) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
           sum(c1) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
    FROM vals),
tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
               CAST(sum(c1) AS BIGINT) AS n1 FROM vals),
ps(p) AS (VALUES {", ".join(f"({p})" for p in _QTE_PS)})
SELECT CAST(p AS BIGINT) AS p,
       min(n0) AS n0, min(n1) AS n1,
       CAST(min(CASE WHEN 100 * cum0 >= p * n0 THEN cents END) AS BIGINT)
           AS q0_cents,
       CAST(min(CASE WHEN 100 * cum1 >= p * n1 THEN cents END) AS BIGINT)
           AS q1_cents,
       CAST(min(CASE WHEN 100 * cum1 >= p * n1 THEN cents END)
            - min(CASE WHEN 100 * cum0 >= p * n0 THEN cents END) AS BIGINT)
           AS qte_cents
FROM cum, tot, ps
GROUP BY p ORDER BY p
"""


QUERIES: dict[str, QuerySpec] = {
    "graph_harmonic_centrality_top": QuerySpec(
        _graph_harmonic_centrality_top, HARMONIC_SQL
    ),
    "events_quantile_treatment_effect": QuerySpec(
        _events_quantile_treatment_effect, QTE_SQL
    ),
}
