"""Invariant tests for the round-12 distribution/test-statistic
queries — synthetic frames with hand-checkable answers, mirroring the
per-round test style (oracle parity itself is covered by
tests/test_oracle.py and the driver window)."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from trackdechets_etl_spark.queries import all_queries
from tests.conftest import write_corpus_table

# r15: slow shard — excluded from the default pytest run (see
# pytest.ini); run the full suite with -m "slow or not slow".
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"


def test_tukey_fences_bracket(spark):
    out = {
        r.l_returnflag: r
        for r in all_queries()["lineitem_tukey_fences"]
        .fn(spark, SF)
        .collect()
    }
    assert out
    for r in out.values():
        assert r.lo_fence <= r.q1 <= r.q3 <= r.hi_fence
        assert abs(r.iqr - round(r.q3 - r.q1, 4)) < 1e-6
        assert r.n_low + r.n_high <= r.n_rows


def test_lorenz_monotone_and_normalized(spark):
    rows = (
        all_queries()["orders_lorenz_deciles"].fn(spark, SF).collect()
    )
    assert [r.decile for r in rows] == list(range(1, len(rows) + 1))
    cum = [r.cum_share for r in rows]
    assert all(b >= a for a, b in zip(cum, cum[1:]))
    assert abs(cum[-1] - 1.0) < 1e-5
    # Lorenz: later deciles (richer customers) hold larger shares
    shares = [r.decile_share for r in rows]
    assert shares[-1] >= shares[0]


def test_wilcoxon_symmetric_is_centered(spark):
    """Perfectly antisymmetric d's -> W+ = half the total rank mass,
    z = 0."""
    q = all_queries()["lineitem_wilcoxon_signed_rank"]
    # build synthetic lineitem-shaped frame: orders with two lines
    # whose odd-even differences are +d and -d mirrored
    rows = []
    ok = 0
    for d in [5, 11, 23, 42]:
        for sign in (1, -1):
            ok += 1
            base = 1000.0
            rows.append((ok, 1, base + (d if sign > 0 else 0) / 100))
            rows.append((ok, 2, base + (0 if sign > 0 else d) / 100))
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_extendedprice double"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "lineitem")
        out = q.fn(spark, td).collect()[0]
    assert out.n_pairs == 8
    assert abs(out.z_stat) < 1e-9
    # W+ = n(n+1)/4 for the symmetric case
    assert abs(out.w_plus - 8 * 9 / 4) < 1e-9


def test_pettitt_detects_level_shift(spark):
    daily = [(f"2024-01-{d:02d}", 10) for d in range(1, 16)] + [
        (f"2024-01-{d:02d}", 100) for d in range(16, 31)
    ]
    rows = []
    eid = 0
    for day, n in daily:
        for _ in range(n):
            eid += 1
            rows.append((eid, f"{day} 12:00:00", 1, "a", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        out = (
            all_queries()["events_pettitt_test"].fn(spark, td).collect()[0]
        )
    assert out.change_day == "2024-01-15"
    assert out.p_approx < 0.01


def test_ses_weights_sum_to_one(spark):
    """SES weights telescope: Σw(t,·) = 1 for every t, so a constant
    series forecasts itself exactly (MAE = RMSE = 0)."""
    rows = []
    eid = 0
    for d in range(1, 21):
        for _ in range(7):
            eid += 1
            rows.append((eid, f"2024-02-{d:02d} 08:00:00", 1, "a", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        out = (
            all_queries()["events_ses_backtest"].fn(spark, td).collect()[0]
        )
    assert out.mae == 0.0 and out.rmse == 0.0
    assert out.last_smooth == 7.0


def test_brown_forsythe_equal_variance_small_f(spark):
    out = (
        all_queries()["events_brown_forsythe"].fn(spark, SF).collect()[0]
    )
    assert out.k >= 2 and out.n > out.k
    assert out.f_stat >= 0.0 and math.isfinite(out.f_stat)


def test_ljung_box_nonnegative(spark):
    out = all_queries()["orders_ljung_box"].fn(spark, SF).collect()[0]
    assert out.q_stat >= 0.0
    assert -1.0 <= out.rho_lag1 <= 1.0


def test_granger_f_nonnegative(spark):
    out = all_queries()["orders_granger_daily"].fn(spark, SF).collect()[0]
    assert out.f_stat >= 0.0
    assert out.rss_ratio >= 1.0


def test_percentile_boundaries_match_lorenz_bins(spark):
    """Every customer lands in exactly one decile and bins partition
    the spend domain."""
    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    n_cust = o.count()
    rows = all_queries()["orders_lorenz_deciles"].fn(spark, SF).collect()
    assert sum(r.n_customers for r in rows) == n_cust
