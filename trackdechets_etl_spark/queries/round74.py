"""Round-12 additions, second batch: the two classical
variance/repeated-measures tests still missing after round73
(grep-verified: bartlett and friedman had zero hits; Mann–Kendall
already ships in round60).

- ``events_bartlett_test``: Bartlett's test for variance homogeneity
  of event values across event types — the parametric complement of
  round73's Brown–Forsythe. Per-group sums in exact integer cents
  (sample variances as exact-rational cross-products), doubles only at
  the log/ratio step. One parallel aggregate; the k-row group frame is
  domain-bounded.
- ``events_friedman_test``: Friedman's rank test for treatment effects
  across blocks — blocks are calendar days, treatments are event
  types, the response is the day×type value sum in cents. Midranks
  within each complete block come from a bounded k×k within-day
  self-join (2·rank stays integer); the tie-corrected Q statistic uses
  exact integer rank sums. Day-bounded frames everywhere after the one
  row-scale aggregate.

Reference provenance: none of these exist in the reference's 539-line
pandas surface. Scale notes in docs/SCALE.md §round-12; tests in
tests/test_round74.py. Queued at the round-13 verification-window
front (see queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# ------------------------------------------------------ bartlett


def _events_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("vc").cast("long").alias("sv"),
        F.sum(dec("vc") * dec("vc")).alias("svv"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # unbiased sample variance in cents² from exact sums
    s2 = (d("ng") * d("svv") - d("sv") * d("sv")) / (
        d("ng") * (d("ng") - 1.0)
    )
    t = g.select(
        "ng",
        s2.alias("s2"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum((d("ng") - 1.0) * F.col("s2")).alias("ssw"),
        F.sum((d("ng") - 1.0) * F.log("s2")).alias("slog"),
        F.sum(1.0 / (d("ng") - 1.0)).alias("sinv"),
    )
    nk = d("n") - d("k")
    tstat = (nk * F.log(F.col("ssw") / nk) - F.col("slog")) / F.col(
        "__c"
    )
    return (
        t.withColumn(
            "__c",
            1.0
            + (F.col("sinv") - 1.0 / nk) / (3.0 * (d("k") - 1.0)),
        )
        .select(
            "k",
            "n",
            F.round(tstat, 6).alias("bartlett_t"),
            F.round("__c", 6).alias("c_factor"),
        )
    )


BARTLETT_SQL = """
WITH ev AS (
    SELECT event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events),
g AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
           CAST(sum(vc) AS BIGINT) AS sv,
           sum(CAST(vc AS HUGEINT) * CAST(vc AS HUGEINT)) AS svv
    FROM ev GROUP BY event_type),
s AS (
    SELECT ng,
           (CAST(ng AS DOUBLE) * CAST(svv AS DOUBLE)
            - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
           / (CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1.0)) AS s2
    FROM g),
t AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(ng) AS BIGINT) AS n,
           sum((CAST(ng AS DOUBLE) - 1.0) * s2) AS ssw,
           sum((CAST(ng AS DOUBLE) - 1.0) * ln(s2)) AS slog,
           sum(1.0 / (CAST(ng AS DOUBLE) - 1.0)) AS sinv
    FROM s)
SELECT k, n,
       round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
              * ln(ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
              - slog)
             / (1.0 + (sinv - 1.0 / (CAST(n AS DOUBLE)
                                     - CAST(k AS DOUBLE)))
                      / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6)
           AS bartlett_t,
       round(1.0 + (sinv - 1.0 / (CAST(n AS DOUBLE)
                                  - CAST(k AS DOUBLE)))
                   / (3.0 * (CAST(k AS DOUBLE) - 1.0)), 6) AS c_factor
FROM t
"""


# ------------------------------------------------------ friedman


def _events_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocks = days with ALL k event types present (complete blocks
    only — the test requires them; the filter is deterministic in both
    engines). Midranks within a block come from the k×k within-day
    self-join (2·r̄ = 2·count(less) + count(equal incl. self) + 1 —
    integer), the tie correction from per-(day, value) counts. The
    only row-scale pass is the day×type sum; everything downstream is
    O(days·k²)."""
    ev = read_table(spark, sf_dir, "events")
    cell = materialize(
        ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("vc")
        )
    )
    ktot = cell.agg(
        F.countDistinct("event_type").cast("long").alias("k")
    )
    complete = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("__nt"))
        .crossJoin(F.broadcast(ktot))
        .filter(F.col("__nt") == F.col("k"))
        .select("day")
    )
    blocks = cell.join(complete, "day")
    a = blocks.select("day", "event_type", "vc")
    b = blocks.select(
        F.col("day").alias("day2"), F.col("vc").alias("vc2")
    )
    r2 = (
        a.join(b, F.col("day") == F.col("day2"))
        .groupBy("day", "event_type", "vc")
        .agg(
            (
                2 * F.sum((F.col("vc2") < F.col("vc")).cast("long"))
                + F.sum((F.col("vc2") == F.col("vc")).cast("long"))
                + 1
            ).alias("two_rbar")
        )
    )
    rsum = r2.groupBy("event_type").agg(
        F.sum("two_rbar").cast("long").alias("r2sum")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = rsum.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(dec("r2sum") * dec("r2sum")).alias("sr2sq"),
    )
    nblocks = complete.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    # tie correction: Σ_blocks Σ_groups (t³ − t)
    ties = (
        blocks.groupBy("day", "vc")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                dec("t") * dec("t") * dec("t") - dec("t")
            ).alias("tsum")
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    j = agg.crossJoin(F.broadcast(nblocks)).crossJoin(F.broadcast(ties))
    q_plain = (
        3.0 * d("sr2sq") / (d("nb") * d("k") * (d("k") + 1.0))
        - 3.0 * d("nb") * (d("k") + 1.0)
    )
    denom = 1.0 - d("tsum") / (
        d("nb") * d("k") * (d("k") * d("k") - 1.0)
    )
    return j.select(
        F.col("nb").alias("n_blocks"),
        "k",
        F.round(q_plain / denom, 6).alias("q_stat"),
    )


FRIEDMAN_SQL = """
WITH cell AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS vc
    FROM events GROUP BY 1, 2),
ktot AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
         FROM cell),
complete AS (
    SELECT day FROM cell, ktot GROUP BY day, k
    HAVING count(*) = min(k)),
blocks AS (SELECT cell.* FROM cell JOIN complete USING (day)),
r2 AS (
    SELECT a.day, a.event_type,
           2 * sum(CASE WHEN b.vc < a.vc THEN 1 ELSE 0 END)
           + sum(CASE WHEN b.vc = a.vc THEN 1 ELSE 0 END) + 1
               AS two_rbar
    FROM blocks a JOIN blocks b ON a.day = b.day
    GROUP BY a.day, a.event_type, a.vc),
rsum AS (
    SELECT event_type, CAST(sum(two_rbar) AS BIGINT) AS r2sum
    FROM r2 GROUP BY event_type),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           sum(CAST(r2sum AS HUGEINT) * CAST(r2sum AS HUGEINT))
               AS sr2sq
    FROM rsum),
nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM complete),
ties AS (
    SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tsum
    FROM (SELECT day, vc, CAST(count(*) AS BIGINT) AS t
          FROM blocks GROUP BY day, vc))
SELECT nb AS n_blocks, k,
       round((3.0 * CAST(sr2sq AS DOUBLE)
              / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE)
                 * (CAST(k AS DOUBLE) + 1.0))
              - 3.0 * CAST(nb AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))
             / (1.0 - CAST(tsum AS DOUBLE)
                      / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE)
                         * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                            - 1.0))), 6) AS q_stat
FROM agg, nb, ties
"""


QUERIES: dict[str, QuerySpec] = {
    "events_bartlett_test": QuerySpec(_events_bartlett_test, BARTLETT_SQL),
    "events_friedman_test": QuerySpec(_events_friedman_test, FRIEDMAN_SQL),
}
