"""Round-7 additions, eighth batch: discount elasticity, embedding
outliers, k-core peeling.

- ``lineitem_discount_elasticity``: closed-form least-squares slope of
  quantity on discount level — ALL sums are int64 (discount scaled to
  integer percent, quantity integer-valued), so Σx, Σy, Σxy, Σx² are
  association-free and the slope/intercept divisions are the only
  float ops, identical on both engines. The demand-curve readout
  behind promotion planning; the same 5-sum shape fits any
  closed-form simple regression.
- ``embedding_outlier_topk``: top-20 embedding outliers by diagonal
  Mahalanobis distance — per-dimension moments broadcast (64 rows),
  per-term z² snapped to integer micro-units so the 64-term sum is an
  exact int64 (no float association anywhere), TakeOrdered top-k. The
  embedding-space data-quality sweep run before training.
- ``graph_kcore_peel``: 5 rounds of k-core peeling (k=12) on the
  trade graph — each round drops nodes with degree < k and the edges
  they carry; emits the (round, nodes, edges) trajectory, so
  convergence (or not, on adversarial graphs) is IN the output rather
  than assumed. Rounds chain lazily; every join is keyed.

Invariant tests in tests/test_round46.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------- discount elasticity


def _lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    sums = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # n ~ 6e6 per sf, so the cross products n*sxy / sx*sy / n*sxx /
    # sx*sx overflow int64 around sf>=40. Widen the sums to
    # decimal(38,0) (exact, ~23 digits at sf=1000) before the
    # products; divide as double. The oracle mirrors with HUGEINT.
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    den = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    slope = num.cast("double") / den.cast("double")
    return sums.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope, 6).alias("qty_per_discount_pct"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("base_qty"),
    )


DISCOUNT_ELASTICITY_SQL = """
WITH li AS (
    SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS x,
           CAST(l_quantity AS BIGINT) AS y
    FROM lineitem),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM li)
SELECT n AS n_rows,
       round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
           AS qty_per_discount_pct,
       round((sy - CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
              * sx) / n, 6) AS base_qty
FROM s
"""


# ------------------------------------------- embedding outliers

_OUT_TOP = 20


def _embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.similarity import as_double

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    ex = e.select("vec_id", F.posexplode("v").alias("pos", "x"))
    mom = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    # population variance from the raw sums; per-term z^2 snapped to
    # int64 micro-units so the 64-term per-vector sum is exact integer
    # arithmetic (no float association order anywhere).
    z2_micro = F.round(
        (
            (F.col("x") - F.col("s") / F.col("n"))
            * (F.col("x") - F.col("s") / F.col("n"))
            / (F.col("ss") / F.col("n") - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n")))
        )
        * 1000000
    ).cast("long")
    scored = (
        ex.join(F.broadcast(mom), "pos")
        .select("vec_id", z2_micro.alias("t"))
        .groupBy("vec_id")
        .agg(F.sum("t").alias("d2_micro"))
    )
    return (
        scored.select(
            "vec_id", (F.col("d2_micro") / 1000000.0).alias("mahalanobis_d2")
        )
        .orderBy(F.desc("mahalanobis_d2"), "vec_id")
        .limit(_OUT_TOP)
    )


EMB_OUTLIER_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (
    SELECT vec_id, i - 1 AS pos, v[CAST(i AS INT)] AS x
    FROM e, unnest(generate_series(1, len(v))) AS u(i)),
mom AS (
    SELECT pos, count(*) AS n, sum(x) AS s, sum(x * x) AS ss
    FROM ex GROUP BY pos),
terms AS (
    SELECT ex.vec_id,
           CAST(round(((ex.x - mom.s / mom.n) * (ex.x - mom.s / mom.n)
                / (mom.ss / mom.n - (mom.s / mom.n) * (mom.s / mom.n)))
                * 1000000, 0) AS BIGINT) AS t
    FROM ex JOIN mom USING (pos)),
scored AS (
    SELECT vec_id, CAST(sum(t) AS BIGINT) AS d2_micro
    FROM terms GROUP BY vec_id)
SELECT vec_id, d2_micro / 1000000.0 AS mahalanobis_d2
FROM scored ORDER BY mahalanobis_d2 DESC, vec_id LIMIT {_OUT_TOP}
"""


# ------------------------------------------- k-core peeling

_KCORE_K = 12
_KCORE_ROUNDS = 5
_KCORE_OFFSET = 1_000_000


def _graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    edges = materialize(
        raw.select(
            F.col("cust").alias("src"),
            (F.col("supp") + _KCORE_OFFSET).alias("dst"),
        )
        .unionByName(
            raw.select(
                (F.col("supp") + _KCORE_OFFSET).alias("src"),
                F.col("cust").alias("dst"),
            )
        ),
        eager=False,
    )
    # One (round, n_nodes, n_edges) row per round from one aggregate:
    # each kept node adds (round, 1, 0), each kept edge (round, 0, 1),
    # and a (round, 0, 0) row per round keeps a round that peeled
    # everything in the output.
    tagged = spark.range(1, _KCORE_ROUNDS + 1).select(
        F.col("id").alias("round"), F.lit(0).alias("node"), F.lit(0).alias("edge")
    )
    for rnd in range(1, _KCORE_ROUNDS + 1):
        keep = materialize(
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node")),
            eager=False,
        )
        # The two semi-joins read one broadcast of keep (the second is a
        # ReusedExchange): a round is four jobs, the degree shuffle, the
        # edge and keep shuffles AQE plans before it sees keep's size,
        # and that broadcast.
        edges = materialize(
            edges.join(keep.select(F.col("node").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi"),
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
raw AS MATERIALIZED (
    SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
e0 AS MATERIALIZED (
    SELECT cust AS src, supp + {_KCORE_OFFSET} AS dst FROM raw
    UNION ALL
    SELECT supp + {_KCORE_OFFSET} AS src, cust AS dst FROM raw)"""
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


QUERIES: dict[str, QuerySpec] = {
    "lineitem_discount_elasticity": QuerySpec(
        _lineitem_discount_elasticity, DISCOUNT_ELASTICITY_SQL
    ),
    "embedding_outlier_topk": QuerySpec(
        _embedding_outlier_topk, EMB_OUTLIER_SQL
    ),
    "graph_kcore_peel": QuerySpec(_graph_kcore_peel, _kcore_oracle()),
}
