"""operators/ranking.py invariants: the range-partitioned global rank
and closed-form ntile must be bit-identical to the single-partition
``row_number``/``ntile`` windows they replace, across bucket counts,
frame sizes (including N < buckets and N == 1), and partition counts;
and the float-score rank key ties scores equal to 9 dp and breaks the
tie by its tie column.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.operators.ranking import (
    global_row_number,
    ntile_from_rank,
    score_order,
    top_k_per_group,
)


# The score-rank tests run in the default shard; the partition-count
# sweeps below carry the slow mark (excluded from the default pytest
# run, see pytest.ini; run the full suite with -m "slow or not slow").
slow = pytest.mark.slow

# (group, id, score): ids 1 and 2 differ only past the 9th decimal, so
# they tie and rank by id although id 2's raw score is the larger; ids 0
# and 9 differ from them at the 8th decimal and rank by score.
_SCORES = [
    (1, 2, 0.5000000004),
    (1, 1, 0.5000000001),
    (1, 0, 0.49999999),
    (1, 9, 0.50000001),
    (2, 5, 0.25),
]


def test_score_order_ties_at_nine_decimals(spark):
    df = spark.createDataFrame(_SCORES, "g int, id long, score double")
    got = [
        r.id for r in df.filter("g = 1").orderBy(*score_order("score", "id")).collect()
    ]
    assert got == [9, 1, 2, 0]


def test_top_k_per_group_cuts_each_group(spark):
    df = spark.createDataFrame(_SCORES, "g int, id long, score double")
    out = top_k_per_group(df, "g", "score", "id", 3, "rk")
    assert dict(out.dtypes)["rk"] == "int"
    got = sorted((r.g, r.rk, r.id) for r in out.collect())
    assert got == [(1, 1, 9), (1, 2, 1), (1, 3, 2), (2, 1, 5)]

def _frame(spark, n, seed=7):
    rng = random.Random(seed)
    rows = [(i, rng.randint(0, 50)) for i in range(1, n + 1)]
    return spark.createDataFrame(rows, "uid long, v long").localCheckpoint(
        eager=True
    )


@slow
@pytest.mark.parametrize("n", [1, 3, 13, 1000])
def test_global_row_number_matches_window(spark, n):
    df = _frame(spark, n)
    order = [F.desc("v"), F.col("uid").asc()]
    ref = df.withColumn("rn", F.row_number().over(Window.orderBy(*order)))
    got = global_row_number(df, order, "rk", num_partitions=8)
    j = ref.join(got.select("uid", "rk"), "uid")
    assert j.filter(F.col("rn") != F.col("rk")).count() == 0
    # ranks are a permutation of 1..n
    assert got.agg(F.min("rk"), F.max("rk"), F.count("*")).first() == (1, n, n)


@slow
@pytest.mark.parametrize("buckets", [4, 7, 10])
@pytest.mark.parametrize("n", [1, 3, 13, 1000])
def test_ntile_from_rank_matches_ntile(spark, buckets, n):
    df = _frame(spark, n)
    order = [F.desc("v"), F.col("uid").asc()]
    ref = df.withColumn("nt", F.ntile(buckets).over(Window.orderBy(*order)))
    got = global_row_number(df, order, "rk", num_partitions=8).withColumn(
        "nt2", ntile_from_rank(F.col("rk"), F.lit(n), buckets)
    )
    j = ref.join(got.select("uid", "nt2"), "uid")
    assert j.filter(F.col("nt") != F.col("nt2")).count() == 0


@slow
def test_global_row_number_no_single_partition_window(spark):
    """The whole point: the row-scale frame must never hit a
    single-partition window — only the partition-count-sized offset
    frame may."""
    df = _frame(spark, 1000)
    got = global_row_number(df, [F.col("v"), F.col("uid")], "rk")
    plan = got._jdf.queryExecution().sparkPlan()
    hits = []

    def walk(node):
        if node.getClass().getSimpleName() == "WindowExec":
            if "SinglePartition" in node.child().outputPartitioning().toString():
                # the offset window's input is the groupBy(__gr_pid)
                # aggregate — assert that by its grouping output width
                hits.append(str(node.output()))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(plan)
    for out in hits:
        assert "__gr_n" in out or "__gr_off" in out, (
            "row-scale frame reached a single-partition window: " + out
        )


@slow
def test_prefix_sum_matches_window(spark):
    from trackdechets_etl_spark.operators.ranking import global_row_number

    df = _frame(spark, 500)
    order = [F.col("v").asc(), F.col("uid").asc()]
    ref = df.withColumn(
        "cs",
        F.sum("v").over(
            Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    got = global_row_number(
        df, order, "rk", num_partitions=8, sum_of=("v", "cs2")
    )
    j = ref.join(got.select("uid", "cs2"), "uid")
    assert j.filter(F.col("cs") != F.col("cs2")).count() == 0


@slow
def test_prefix_max_exclusive_matches_window(spark):
    from trackdechets_etl_spark.operators.ranking import (
        global_prefix_max_exclusive,
    )

    df = _frame(spark, 500)
    order = [F.col("uid").asc()]
    ref = df.withColumn(
        "pm",
        F.max("v").over(
            Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    got = global_prefix_max_exclusive(df, order, "v", "pm2", num_partitions=8)
    j = ref.join(got.select("uid", "pm2"), "uid")
    # NULL-safe compare: first row is NULL on both sides
    assert j.filter(~F.col("pm").eqNullSafe(F.col("pm2"))).count() == 0
