"""Round-7 additions, thirteenth batch: periodicity autocorrelation
and degree assortativity.

- ``events_daily_autocorr``: autocorrelation of the daily event-count
  series at lags 1..7 — the periodicity detector behind seasonality
  modeling (a weekly cycle shows as a lag-7 peak). The series reduces
  to the days frame immediately; each lag's r comes from the
  closed-form Pearson over int64 sums of the (day, day+lag) inner
  join — per-lag sample moments, so r is exactly the textbook
  lag-k autocorrelation of the overlapping segments.
- ``graph_degree_assortativity``: degree assortativity of the trade
  graph — the Pearson correlation of (source degree, destination
  degree) over directed edges, the one-number answer to "do hubs link
  to hubs". Degrees are one aggregation; the edge-level moment sums
  are int64 (decimal-widened squares), and the only float is the
  final fixed-order r.

Invariant tests in tests/test_round51.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.plans.fixtures import (
    TRADE_EDGES_SQL,
    TRADE_PAIRS_SQL,
    trade_pairs,
)
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------- daily autocorrelation

_AC_LAGS = 7


def _events_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day")
    )
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("c"))
    outs = []
    for lag in range(1, _AC_LAGS + 1):
        a = daily.select(F.col("day"), F.col("c").alias("x"))
        b = daily.select(
            F.date_sub(F.col("day"), lag).alias("day"), F.col("c").alias("y")
        )
        j = a.join(b, "day")
        sums = j.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        n = F.col("n").cast("double")
        r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy") * F.col("sy"))
        )
        outs.append(
            sums.select(
                F.lit(lag).cast("long").alias("lag_days"),
                F.col("n").cast("long").alias("n_pairs"),
                F.round(r, 6).alias("autocorr"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("lag_days")


def _autocorr_oracle() -> str:
    blocks = []
    for lag in range(1, _AC_LAGS + 1):
        blocks.append(
            f"""
SELECT {lag} AS lag_days, n AS n_pairs,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS autocorr
FROM (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.c) AS BIGINT) AS sx,
           CAST(sum(b.c) AS BIGINT) AS sy,
           CAST(sum(a.c * b.c) AS BIGINT) AS sxy,
           CAST(sum(a.c * a.c) AS BIGINT) AS sxx,
           CAST(sum(b.c * b.c) AS BIGINT) AS syy
    FROM daily a JOIN daily b ON b.day = a.day + {lag})"""
        )
    body = " UNION ALL ".join(blocks)
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY day)
SELECT CAST(lag_days AS BIGINT) AS lag_days, n_pairs, autocorr
FROM ({body}) ORDER BY lag_days
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


QUERIES: dict[str, QuerySpec] = {
    "events_daily_autocorr": QuerySpec(_events_daily_autocorr, _autocorr_oracle()),
    "graph_degree_assortativity": QuerySpec(
        _graph_degree_assortativity, ASSORTATIVITY_SQL
    ),
}
