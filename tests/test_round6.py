"""Invariant tests for the round-5 late additions (queries/round6.py):
the spatial grid join's losslessness is proven IN SPARK against the
naive cross join (the oracle proves it again against DuckDB), EWMA
against its defining recursion, the weighted median against its
cumulative-weight definition, and the forward-fill against a driver-side
replay of the carry."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trackdechets_etl_spark.queries import all_queries

REGISTRY = all_queries()


# ----------------------------------------------------------- grid join


def test_grid_join_equals_naive_cross_join(spark):
    """Bucketing + 3×3 neighbor replication must return EXACTLY the
    pairs the naive quadratic join returns — including radius-boundary
    and cell-boundary points."""
    from trackdechets_etl_spark.operators.spatial import grid_join_within_radius

    pts = [(i, (i * 37) % 200, (i * 83) % 200) for i in range(120)]
    a = spark.createDataFrame(pts, "id_a long, x long, y long")
    b = spark.createDataFrame(
        [(j, (j * 59 + 7) % 200, (j * 17 + 3) % 200) for j in range(80)],
        "id_b long, sx long, sy long",
    )
    r = 25
    fast = {
        (row.id_a, row.id_b)
        for row in grid_join_within_radius(
            a, b, ("x", "y"), ("sx", "sy"), radius=r, cell=32
        ).collect()
    }
    d2 = (F.col("x") - F.col("sx")) ** 2 + (F.col("y") - F.col("sy")) ** 2
    naive = {
        (row.id_a, row.id_b)
        for row in a.crossJoin(b).filter(d2 <= r * r).collect()
    }
    assert fast == naive
    assert len(naive) > 0, "degenerate test: no pairs within radius"


def test_grid_join_rejects_cell_smaller_than_radius(spark):
    from trackdechets_etl_spark.operators.spatial import grid_join_within_radius

    a = spark.createDataFrame([(1, 0, 0)], "id long, x long, y long")
    try:
        grid_join_within_radius(a, a, ("x", "y"), ("x", "y"), radius=10, cell=5)
    except ValueError:
        return
    raise AssertionError("cell < radius must be rejected (lossy bucketing)")


def test_grid_spatial_plan_has_no_cartesian(spark):
    """The registry query must run as an equi-join on the cell key —
    never a cross/nested-loop join (what a naive distance join
    degenerates to)."""
    df = REGISTRY["join_grid_spatial"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------- EWMA


def test_ewma_matches_defining_recursion(spark):
    from trackdechets_etl_spark.queries.round6 import _EWMA_ALPHA

    rows = REGISTRY["events_ewma_daily"].fn(spark, SF_DIR).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert len(by_type) >= 3
    for series in by_type.values():
        series.sort(key=lambda r: r.day)
        s = None
        for r in series:
            x = r.daily_value
            s = x if s is None else _EWMA_ALPHA * x + (1 - _EWMA_ALPHA) * s
            # query rounds daily_value at 2 and ewma at 6; replaying the
            # recursion on the rounded dailies stays within ~1e-5
            assert math.isclose(r.ewma, s, rel_tol=1e-4, abs_tol=1e-4), (
                r.event_type,
                r.day,
                r.ewma,
                s,
            )


# ----------------------------------------------------- weighted median


def test_weighted_median_satisfies_definition(spark):
    med = {
        r.p_brand: (r.weighted_median_price, r.total_weight)
        for r in REGISTRY["weighted_median_parts"].fn(spark, SF_DIR).collect()
    }
    parts = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .select("p_brand", "p_retailprice", "p_size")
        .collect()
    )
    by_brand: dict[str, list] = {}
    for r in parts:
        by_brand.setdefault(r.p_brand, []).append((r.p_retailprice, r.p_size))
    for brand, rows in by_brand.items():
        m, tot = med[brand]
        assert tot == sum(w for _, w in rows)
        below = sum(w for price, w in rows if price < m)
        at_or_below = sum(w for price, w in rows if price <= m)
        # median def: strictly-below mass < half, mass through the
        # median reaches half
        assert 2 * below < tot or math.isclose(2 * below, tot)
        assert 2 * at_or_below >= tot


# ------------------------------------------------------------- ffill


def test_gap_ffill_dense_spine_and_carry(spark):
    rows = REGISTRY["events_gap_ffill"].fn(spark, SF_DIR).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    lengths = {len(v) for v in by_type.values()}
    assert len(lengths) == 1, "every type must get the identical spine"
    n_events_total = sum(r.n_events for r in rows)
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert n_events_total == raw, "gap rows must not invent events"
    for series in by_type.values():
        series.sort(key=lambda r: r.bucket_ts)
        carry = None
        for r in series:
            if r.n_events == 0:
                assert r.avg_value_ffill == carry
            else:
                assert r.avg_value_ffill is not None
            carry = r.avg_value_ffill


# ---------------------------------------------------------- BPE pairs


def test_bpe_pairs_shape(spark):
    rows = REGISTRY["text_bpe_pairs"].fn(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 40
    assert all(len(r.pair) == 2 for r in rows)
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True)


# ------------------------------------------------------ count-min sketch


def test_countmin_never_underestimates(spark):
    """The CMS guarantee: every estimate >= the exact count (collisions
    only ADD), and at least one user estimates exactly (the min row is
    collision-free for somebody at this scale)."""
    rows = REGISTRY["sketch_countmin_heavyhitters"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.n_est == r.n_exact + r.overcount for r in rows)


# ------------------------------------------------------ rolling median


def test_rolling_median_matches_bruteforce(spark):
    import statistics

    rows = REGISTRY["events_rolling_median"].fn(spark, SF_DIR).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.bucket_ts)
        vals = [r.hourly_value for r in series]
        for i, r in enumerate(series):
            frame = vals[max(0, i - 23) : i + 1]
            expect = statistics.median(frame)
            # hourly_value is rounded at 2, the query's median at 4 —
            # replaying on rounded inputs stays within 1e-2 of it
            assert abs(r.rolling_median - expect) < 1e-2, (r, expect)


# --------------------------------------------------- incremental dedup


def test_incremental_dedup_covers_batch_only(spark):
    """Every output row is a batch doc (doc_id % 10 == 0), each batch
    doc appears exactly once, and any exact duplicate of a corpus doc
    must also be an n-gram near-dup of it (identical text ⇒ J = 1)."""
    rows = REGISTRY["dedup_incremental_batch"].fn(spark, SF_DIR).collect()
    assert rows
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))
    assert all(i % 10 == 0 for i in ids)
    for r in rows:
        if r.is_exact_dup:
            assert r.n_near_corpus >= 1, r


# ---------------------------------------------------------------- TWAP


def test_twap_between_min_and_max_value(spark):
    """A time-weighted mean is a convex combination of observed values."""
    twap = {
        r.event_type: r.twap
        for r in REGISTRY["events_twap"].fn(spark, SF_DIR).collect()
    }
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    for t, vals in by_type.items():
        assert min(vals) - 1e-6 <= twap[t] <= max(vals) + 1e-6


# ------------------------------------------------------- winsorization


def test_winsorize_shrinks_std_keeps_mean_close(spark):
    rows = REGISTRY["events_winsorized_stats"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.std_winsorized <= r.std_raw + 1e-9, r
        # clipping 5% tails moves the mean, but not past one raw std
        assert abs(r.mean_winsorized - r.mean_raw) <= r.std_raw, r


# ------------------------------------------------------------ Benford


def test_benford_output_is_distribution(spark):
    rows = REGISTRY["dq_benford_digits"].fn(spark, SF_DIR).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.observed_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 1e-3


# ---------------------------------------------------- equi-depth bins


def test_equidepth_buckets_balanced_and_ordered(spark):
    rows = sorted(
        REGISTRY["agg_histogram_equidepth"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(1, 11))
    counts = [r.n for r in rows]
    assert max(counts) - min(counts) <= 1, "ntile must balance counts"
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo + 1e-9, "bucket ranges must be ordered"


# -------------------------------------------------------------- CUSUM


def test_cusum_matches_bruteforce(spark):
    rows = REGISTRY["events_cusum_changepoint"].fn(spark, SF_DIR).collect()
    daily = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("x"))
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in daily:
        by_type.setdefault(r.event_type, []).append((r.day, r.x))
    got = {r.event_type: (r.changepoint_day, r.max_abs_cusum) for r in rows}
    for t, series in by_type.items():
        series.sort()
        mean = sum(x for _, x in series) / len(series)
        best_day, best_abs, acc = None, -1.0, 0.0
        for day, x in series:
            acc += x - mean
            if round(abs(acc), 6) > round(best_abs, 6):
                best_day, best_abs = day, abs(acc)
        assert got[t][0] == best_day, t
        assert abs(got[t][1] - best_abs) < 1e-3, t


# ------------------------------------------------- kNN classification


def test_knn_classify_shape_and_consistency(spark):
    """One row per query, hit flag consistent with the labels, and the
    prediction is always a label that exists. (The synthetic labels
    are independent of embedding geometry, so ACCURACY here is chance
    — the value of the query is the exact-oracle-checked voting
    plumbing, not this corpus's separability.)"""
    rows = REGISTRY["sim_knn_classify"].fn(spark, SF_DIR).collect()
    assert len(rows) == 50
    labels = {
        r.label
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("label")
        .distinct()
        .collect()
    }
    for r in rows:
        assert r.is_correct == int(r.pred_label == r.true_label)
        assert r.pred_label in labels


# ------------------------------------------------------------ entropy


def test_entropy_bounds(spark):
    import math

    rows = REGISTRY["events_entropy_profile"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        hi = math.log2(r.n_types) if r.n_types > 1 else 0.0
        assert -1e-6 <= r.entropy_bits <= hi + 1e-6, r
        if r.n_types == 1:
            assert abs(r.entropy_bits) < 1e-9


# --------------------------------------------------------------- Zipf


def test_zipf_fit_shape(spark):
    row = REGISTRY["text_zipf_fit"].fn(spark, SF_DIR).collect()[0]
    # the sf0.001 corpus has a tiny synthetic vocabulary — n_points is
    # min(200, |vocab|)
    assert 5 < row.n_points <= 200
    assert row.zipf_slope < 0, "frequency must decay with rank"
    assert 0.0 <= row.r2 <= 1.0


# ------------------------------------------------------------ A/B lift


def test_ab_lift_consistency(spark):
    rows = REGISTRY["events_ab_lift"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5  # one row per event type
    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(r.n_a + r.n_b for r in rows) == total
    for r in rows:
        # z and lift must share a sign (se > 0)
        assert (r.welch_z >= 0) == (r.lift >= 0) or r.lift == 0


# ---------------------------------------------------------- cohort LTV


def test_cohort_ltv_monotone_per_cohort(spark):
    rows = REGISTRY["orders_cohort_ltv"].fn(spark, SF_DIR).collect()
    by_cohort: dict[int, list] = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_year, []).append(r)
    assert by_cohort
    for series in by_cohort.values():
        series.sort(key=lambda r: r.age_years)
        assert series[0].age_years == 0, "every cohort starts at age 0"
        ltv = [r.cum_ltv_per_customer for r in series]
        assert all(b >= a for a, b in zip(ltv, ltv[1:])), "LTV is cumulative"
