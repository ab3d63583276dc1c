"""Invariant tests for the round-12 second-batch tests (Bartlett,
Friedman) on hand-checkable synthetic events frames."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from trackdechets_etl_spark.queries import all_queries
from tests.conftest import write_corpus_table

SF = "/root/testdata/sf0.001"


def _write_events(spark, rows, td):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    write_corpus_table(df.coalesce(1), td, "events")


def test_bartlett_zero_for_identical_groups(spark):
    """Two groups with the same value multiset have equal sample
    variances -> T == 0 exactly (the log terms cancel)."""
    rows = []
    eid = 0
    for etype in ("a", "b"):
        for v in (1.0, 2.0, 3.0, 4.0, 9.0):
            eid += 1
            rows.append((eid, "2024-03-01 10:00:00", 1, etype, v, "{}"))
    with tempfile.TemporaryDirectory() as td:
        _write_events(spark, rows, td)
        out = (
            all_queries()["events_bartlett_test"].fn(spark, td).collect()[0]
        )
    assert out.k == 2 and out.n == 10
    assert out.bartlett_t == 0.0
    assert out.c_factor > 1.0


def test_bartlett_real_data_finite(spark):
    out = all_queries()["events_bartlett_test"].fn(spark, SF).collect()[0]
    assert out.k >= 2
    assert out.bartlett_t >= 0.0


def test_friedman_perfect_ordering_q_equals_2n(spark):
    """k=3 treatments ranked identically in every block -> Q = 2N."""
    rows = []
    eid = 0
    n_blocks = 4
    for d in range(1, n_blocks + 1):
        for j, etype in enumerate(("a", "b", "c"), 1):
            eid += 1
            rows.append(
                (eid, f"2024-03-{d:02d} 10:00:00", 1, etype, float(j), "{}")
            )
    with tempfile.TemporaryDirectory() as td:
        _write_events(spark, rows, td)
        out = (
            all_queries()["events_friedman_test"].fn(spark, td).collect()[0]
        )
    assert out.n_blocks == n_blocks and out.k == 3
    assert out.q_stat == 2.0 * n_blocks


def test_friedman_incomplete_blocks_dropped(spark):
    """A day missing one treatment must not count as a block."""
    rows = []
    eid = 0
    for d in range(1, 4):
        for j, etype in enumerate(("a", "b", "c"), 1):
            if d == 3 and etype == "c":
                continue  # incomplete block
            eid += 1
            rows.append(
                (eid, f"2024-04-{d:02d} 10:00:00", 1, etype, float(j), "{}")
            )
    with tempfile.TemporaryDirectory() as td:
        _write_events(spark, rows, td)
        out = (
            all_queries()["events_friedman_test"].fn(spark, td).collect()[0]
        )
    assert out.n_blocks == 2
