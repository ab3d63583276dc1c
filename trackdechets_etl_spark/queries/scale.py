"""Scale-posture queries: runtime layouts the 100 TB story depends on,
demonstrated as registry entries so the driver oracle-checks them.

- Dynamic partition pruning (DPP): a fact laid out partitioned on its
  join key is pruned AT RUNTIME by a dimension filter — the fact scan
  reads only the partitions the filtered dim selects, a capability the
  reference's pandas engine has no analogue for. The partitioned layout
  is materialized once per sf_dir into a temp directory (write-time
  cost paid once, like any lakehouse table layout).
- Approx-percentile twins: ``percentile_approx`` (GK sketch, bounded
  memory, mergeable) beside the exact-percentile parity queries — the
  form that survives 100 TB where exact percentiles buffer each group.
  Sketch output is engine-specific by construction → rows-only check,
  with a tolerance test against the exact path in tests/test_round5.py.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.llm.similarity import cosine_sql
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ---------------------------------------------------- DPP demonstration


def customer_by_nation_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf_dir) the customer table partitioned by
    c_nationkey — the layout that makes nation-filtered customer scans
    partition-pruned. Guarded by _SUCCESS so repeat callers reuse it."""
    base = (
        Path(tempfile.gettempdir())
        / "td_spark_layouts"
        / Path(sf_dir).name
        / "customer_by_nation"
    )
    if not (base / "_SUCCESS").exists():
        (
            read_table(spark, sf_dir, "customer")
            .write.mode("overwrite")
            .partitionBy("c_nationkey")
            .parquet(str(base))
        )
    return str(base)


def _join_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer rollup where the nation set is decided by a
    DIM filter (region 0): with customer partitioned on c_nationkey,
    Catalyst inserts a dynamicpruningexpression on the customer scan —
    the broadcast of the filtered nation side doubles as the runtime
    partition filter, so the fact scan reads 5 of 25 partitions instead
    of scanning-and-discarding. Plan pinned in
    tests/test_plans.py::test_dpp_prunes_customer_partitions."""
    path = customer_by_nation_layout(spark, sf_dir)
    cust = spark.read.parquet(path)
    nat = read_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


DPP_SQL = """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey = 0
GROUP BY n_name
"""


# ---------------------------------------------------- approx percentiles


def _orders_ship_latency_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_approx`` twin of orders_ship_latency: same shape,
    but the median/p90 come from the Greenwald-Khanna sketch — fixed
    memory per group and MERGEABLE across partitions (map-side partial
    sketches combine), which is what replaces exact percentile's
    buffer-the-group behavior at 100 TB. Sketch results are
    engine-specific → no DuckDB oracle (rows-only check); the tolerance
    bound vs the exact path is pinned in tests/test_round5.py."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("double")
        .alias("days"),
    )
    pcts = F.percentile_approx(
        "days", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10_000)
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(pcts.alias("__p"), F.count(F.lit(1)).alias("n_lines"))
        .select(
            "o_orderpriority",
            F.round(F.element_at("__p", 1), 1).alias("median_days_approx"),
            F.round(F.element_at("__p", 2), 1).alias("p90_days_approx"),
            "n_lines",
        )
    )


# ---------------------------------------------------- PQ recall eval


def _sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of product-quantization ADC top-k against the exact
    brute-force baseline, per query — the shippability metric for the
    compressed-ANN path (mirrors sim_lsh_recall for the LSH index).
    The whole pipeline — codebook training (one deterministic Lloyd
    step), encoding, ADC scoring, and the evaluation itself — is
    DataFrame algebra, so even this is oracle-checked."""
    from trackdechets_etl_spark.llm.pq import (
        adc_topk,
        explode_subspaces,
        pq_encode,
        train_codebook,
    )
    from trackdechets_etl_spark.llm.similarity import topk_bruteforce
    from trackdechets_etl_spark.queries.llm import TOPK_QUERY_IDS

    emb = read_table(spark, sf_dir, "embeddings")
    e = explode_subspaces(emb, "vec_id", "embedding")
    # Codebook + codes each feed two consumers — truncate the lineage
    # once (same discipline as embedding_pc1's exploded frame).
    e = materialize(e)
    cents = train_codebook(e)
    codes = pq_encode(e, cents)
    approx = adc_topk(e, codes, cents, TOPK_QUERY_IDS, k=5).select(
        "q_id", F.col("c_id").alias("approx_c")
    )
    exact = topk_bruteforce(emb, "vec_id", "embedding", TOPK_QUERY_IDS, k=5).select(
        "q_id", F.col("c_id").alias("exact_c")
    )
    hits = (
        exact.join(
            approx,
            (exact.q_id == approx.q_id) & (exact.exact_c == approx.approx_c),
        )
        .groupBy(exact.q_id)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.groupBy("q_id")
        .agg(F.count("*").alias("k"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k"), 4
            ).alias("recall_at_5"),
        )
    )


def _sim_pq_recall_sql() -> str:
    from trackdechets_etl_spark.llm.pq import DSUB, K, M, SEED_STRIDE
    from trackdechets_etl_spark.queries.llm import SIM_TOPK_SQL, TOPK_QUERY_IDS

    dims = M * DSUB
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (
    SELECT vec_id AS vid, CAST(i AS INT) AS i,
           CAST((i - 1) // {DSUB} AS INT) AS m, v[i] AS val
    FROM base, unnest(generate_series(1, {dims})) AS u(i)),
c0 AS (
    SELECT CAST(vid // {SEED_STRIDE} AS INT) AS code, m, i, val AS cval
    FROM e WHERE vid % {SEED_STRIDE} = 0 AND vid < {SEED_STRIDE * K}),
d0 AS (
    SELECT e.vid, e.m, c0.code,
           sum((e.val - c0.cval) * (e.val - c0.cval)) AS dist
    FROM e JOIN c0 ON e.m = c0.m AND e.i = c0.i GROUP BY 1, 2, 3),
a0 AS (
    SELECT vid, m, code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vid, m ORDER BY round(dist, 9), code) AS rn
        FROM d0) WHERE rn = 1),
c1 AS (
    SELECT a0.m, a0.code, e.i, avg(e.val) AS cval
    FROM e JOIN a0 ON e.vid = a0.vid AND e.m = a0.m GROUP BY 1, 2, 3),
d1 AS (
    SELECT e.vid, e.m, c1.code,
           sum((e.val - c1.cval) * (e.val - c1.cval)) AS dist
    FROM e JOIN c1 ON e.m = c1.m AND e.i = c1.i GROUP BY 1, 2, 3),
codes AS (
    SELECT vid, m, code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vid, m ORDER BY round(dist, 9), code) AS rn
        FROM d1) WHERE rn = 1),
qe AS (SELECT vid AS q_id, m, i, val FROM e WHERE vid < {TOPK_QUERY_IDS}),
partial AS (
    SELECT q_id, c1.m, c1.code, sum(qe.val * c1.cval) AS pdot
    FROM qe JOIN c1 ON qe.m = c1.m AND qe.i = c1.i GROUP BY 1, 2, 3),
cn2 AS (SELECT m, code, sum(cval * cval) AS n2 FROM c1 GROUP BY 1, 2),
cnorm AS (
    SELECT codes.vid AS c_id, sqrt(sum(n2)) AS cnorm
    FROM codes JOIN cn2 USING (m, code) GROUP BY 1),
qn AS (SELECT q_id, sqrt(sum(val * val)) AS qnorm FROM qe GROUP BY 1),
adc AS (
    SELECT partial.q_id, codes.vid AS c_id, sum(pdot) AS adot
    FROM codes JOIN partial ON codes.m = partial.m AND codes.code = partial.code
    GROUP BY 1, 2),
pq_scored AS (
    SELECT adc.q_id, adc.c_id, adot / (qnorm * cnorm) AS cos
    FROM adc JOIN cnorm USING (c_id) JOIN qn USING (q_id)
    WHERE c_id <> q_id),
approx_r AS (
    SELECT q_id, c_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY round(cos, 9) DESC, c_id ASC) AS rank
        FROM pq_scored) WHERE rank <= 5),
exact_r AS ({SIM_TOPK_SQL}),
hits AS (
    SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM exact_r e JOIN approx_r a ON e.q_id = a.q_id AND e.c_id = a.c_id
    GROUP BY 1),
ks AS (SELECT q_id, CAST(count(*) AS BIGINT) AS k FROM exact_r GROUP BY 1)
SELECT ks.q_id, round(coalesce(hits.n_hits, 0) / ks.k, 4) AS recall_at_5
FROM ks LEFT JOIN hits USING (q_id)
"""


# ---------------------------------------------------- IVF-ADC top-k


def _sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVF-ADC: coarse-route each query to its nearest list
    centroid, then ADC-score only that list's candidates from their PQ
    codes — the index shape that serves billion-vector corpora. Both
    the routing and the compressed scoring are DataFrame algebra;
    hash-matched by the composed DuckDB oracle."""
    from trackdechets_etl_spark.llm.pq import ivfpq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk(emb, "vec_id", "embedding", "label", _IVFPQ_QUERY_IDS, k=5)
    return out.select(
        "q_id", "c_id", F.col("rank").cast("long").alias("rank"), "cos_approx"
    )


_IVFPQ_QUERY_IDS = 10


def _sim_ivfpq_sql() -> str:
    from trackdechets_etl_spark.llm.pq import DSUB, K, M, SEED_STRIDE

    dims = M * DSUB
    return f"""
WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
e AS (
    SELECT vec_id AS vid, CAST(i AS INT) AS i,
           CAST((i - 1) // {DSUB} AS INT) AS m, v[i] AS val
    FROM base, unnest(generate_series(1, {dims})) AS u(i)),
c0 AS (
    SELECT CAST(vid // {SEED_STRIDE} AS INT) AS code, m, i, val AS cval
    FROM e WHERE vid % {SEED_STRIDE} = 0 AND vid < {SEED_STRIDE * K}),
d0 AS (
    SELECT e.vid, e.m, c0.code,
           sum((e.val - c0.cval) * (e.val - c0.cval)) AS dist
    FROM e JOIN c0 ON e.m = c0.m AND e.i = c0.i GROUP BY 1, 2, 3),
a0 AS (
    SELECT vid, m, code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vid, m ORDER BY round(dist, 9), code) AS rn
        FROM d0) WHERE rn = 1),
c1 AS (
    SELECT a0.m, a0.code, e.i, avg(e.val) AS cval
    FROM e JOIN a0 ON e.vid = a0.vid AND e.m = a0.m GROUP BY 1, 2, 3),
d1 AS (
    SELECT e.vid, e.m, c1.code,
           sum((e.val - c1.cval) * (e.val - c1.cval)) AS dist
    FROM e JOIN c1 ON e.m = c1.m AND e.i = c1.i GROUP BY 1, 2, 3),
codes AS (
    SELECT vid, m, code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vid, m ORDER BY round(dist, 9), code) AS rn
        FROM d1) WHERE rn = 1),
per_dim AS (
    SELECT label, i, round(avg(v[i]), 4) AS a
    FROM base, unnest(generate_series(1, {dims})) AS u(i)
    GROUP BY label, i),
cent AS (SELECT label, list(a ORDER BY i) AS cvec FROM per_dim GROUP BY label),
q AS (SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id < {_IVFPQ_QUERY_IDS}),
routed AS (
    SELECT q_id, label,
           {cosine_sql('qv', 'cvec')} AS rcos
    FROM q, cent),
assigned AS (
    SELECT q_id, label FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY round(rcos, 9) DESC, label ASC) AS rn
        FROM routed) WHERE rn = 1),
qe AS (SELECT vid AS q_id, m, i, val FROM e WHERE vid < {_IVFPQ_QUERY_IDS}),
partial AS (
    SELECT q_id, c1.m, c1.code, sum(qe.val * c1.cval) AS pdot
    FROM qe JOIN c1 ON qe.m = c1.m AND qe.i = c1.i GROUP BY 1, 2, 3),
cn2 AS (SELECT m, code, sum(cval * cval) AS n2 FROM c1 GROUP BY 1, 2),
cnorm AS (
    SELECT codes.vid AS c_id, sqrt(sum(n2)) AS cnorm
    FROM codes JOIN cn2 USING (m, code) GROUP BY 1),
qn AS (SELECT q_id, sqrt(sum(val * val)) AS qnorm FROM qe GROUP BY 1),
cand AS (
    SELECT codes.vid, codes.m, codes.code, b.label
    FROM codes JOIN base b ON codes.vid = b.vec_id),
adc AS (
    SELECT a.q_id, cand.vid AS c_id, sum(p.pdot) AS adot
    FROM assigned a
    JOIN cand ON cand.label = a.label
    JOIN partial p ON p.q_id = a.q_id AND p.m = cand.m AND p.code = cand.code
    GROUP BY 1, 2),
pq_scored AS (
    SELECT adc.q_id, adc.c_id, adot / (qnorm * cnorm) AS cos
    FROM adc JOIN cnorm USING (c_id) JOIN qn USING (q_id)
    WHERE c_id <> q_id),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY round(cos, 9) DESC, c_id ASC) AS rank
    FROM pq_scored)
SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, round(cos, 6) AS cos_approx
FROM r WHERE rank <= 5
"""


QUERIES: dict[str, QuerySpec] = {
    "join_dpp_partition_pruned": QuerySpec(_join_dpp_partition_pruned, DPP_SQL),
    "orders_ship_latency_approx": QuerySpec(_orders_ship_latency_approx, None),
    "sim_pq_recall": QuerySpec(_sim_pq_recall, _sim_pq_recall_sql()),
    "sim_ivfpq_topk": QuerySpec(_sim_ivfpq_topk, _sim_ivfpq_sql()),
}
