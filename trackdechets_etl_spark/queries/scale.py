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
from trackdechets_etl_spark.queries import QuerySpec

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


QUERIES: dict[str, QuerySpec] = {
    "join_dpp_partition_pruned": QuerySpec(_join_dpp_partition_pruned, DPP_SQL),
    "orders_ship_latency_approx": QuerySpec(_orders_ship_latency_approx, None),
}
