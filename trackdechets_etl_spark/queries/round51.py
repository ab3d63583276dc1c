"""Round-7 additions, thirteenth batch: periodicity autocorrelation.

- ``events_daily_autocorr``: autocorrelation of the daily event-count
  series at lags 1..7 — the periodicity detector behind seasonality
  modeling (a weekly cycle shows as a lag-7 peak). The series reduces
  to the days frame immediately; each lag's r comes from the
  closed-form Pearson over int64 sums of the (day, day+lag) inner
  join — per-lag sample moments, so r is exactly the textbook
  lag-k autocorrelation of the overlapping segments.

Invariant tests in tests/test_round51.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

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


QUERIES: dict[str, QuerySpec] = {
    "events_daily_autocorr": QuerySpec(_events_daily_autocorr, _autocorr_oracle()),
}
