"""Invariant tests for the round-14 additions (round78.py): Grubbs'
test, Herfindahl index, Dice/overlap/Tversky pair metrics,
Jonckheere-Terpstra DOW trend, Page's L, Atkinson index,
LMIR-Dirichlet retrieval."""

from __future__ import annotations

import pytest

import math
import tempfile

from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR, write_corpus_table


# r15: slow shard — excluded from the default pytest run (see
# pytest.ini); run the full suite with -m "slow or not slow".
pytestmark = pytest.mark.slow

def _q(name):
    return all_queries()[name].fn


# --------------------------------------------------------- Grubbs


def test_grubbs_matches_builtin_moments(spark):
    """The integer-moment mean/sd must equal Spark's own avg/stddev
    (on cents) to float precision, and G bounds must hold:
    G_max ≤ (n−1)/√n."""
    row = _q("lineitem_grubbs_test")(spark, SF_DIR).collect()[0]
    li = read_table(spark, SF_DIR, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    ref = li.agg(
        F.avg("c").alias("mean"),
        F.stddev_samp("c").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert abs(row.mean_cents - ref.mean) < 1e-3
    assert abs(row.sd_cents - ref.sd) < 1e-3
    bound = (ref.n - 1) / math.sqrt(ref.n)
    assert 0 < row.g_max <= bound
    assert 0 < row.g_min <= bound


# ----------------------------------------------------- Herfindahl


def test_herfindahl_bounds_and_domain(spark):
    rows = _q("orders_herfindahl")(spark, SF_DIR).collect()
    assert len(rows) == 5  # TPC-H market segments
    for r in rows:
        assert 1.0 / r.n_customers <= r.hhi + 1e-9 <= 1.0
        assert -1e-9 <= r.hhi_norm <= 1.0 + 1e-9


def test_herfindahl_monopoly_is_one(spark):
    """A segment with a single customer has HHI = 1 by construction."""
    with tempfile.TemporaryDirectory() as td:
        df = spark.createDataFrame(
            [(1, 10.0), (2, 5.0), (3, 5.0)],
            "o_custkey long, o_totalprice double",
        )
        write_corpus_table(df, td, "orders")
        df = spark.createDataFrame(
            [(1, "MONO"), (2, "DUO"), (3, "DUO")],
            "c_custkey long, c_mktsegment string",
        )
        write_corpus_table(df, td, "customer")
        got = {
            r.c_mktsegment: r
            for r in _q("orders_herfindahl")(spark, td).collect()
        }
    assert got["MONO"].hhi == 1.0 and got["MONO"].hhi_norm == 1.0
    assert got["DUO"].hhi == 0.5 and got["DUO"].hhi_norm == 0.0


# --------------------------------------------- Dice / Tversky


def _dice_on_docs(spark, docs):
    df = spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    )
    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "documents")
        return _q("text_dice_tversky")(spark, td).collect()


def test_dice_identical_docs(spark):
    rows = _dice_on_docs(
        spark,
        [
            (1, "a b c d e f g h", "s"),
            (2, "a b c d e f g h", "s"),
        ],
    )
    assert len(rows) == 1
    r = rows[0]
    assert r.n_inter == r.n_a == r.n_b
    assert r.dice == 1.0 and r.overlap_coef == 1.0 and r.tversky == 1.0


def test_dice_relationships_hold_on_fixture(spark):
    """Overlap ≥ Dice ≥ 0 everywhere; Tversky(0.8, 0.2) lies between
    containment directions — sanity on the real candidate pairs."""
    rows = _q("text_dice_tversky")(spark, SF_DIR).collect()
    assert rows, "no candidate pairs at fixture scale"
    for r in rows:
        assert 0.0 <= r.dice <= r.overlap_coef <= 1.0 + 1e-9
        assert 0.0 <= r.tversky <= 1.0 + 1e-9
        # Dice = 2I/(na+nb) recomputable from the emitted integers
        assert abs(r.dice - 2 * r.n_inter / (r.n_a + r.n_b)) < 1e-6


# -------------------------------------- Jonckheere-Terpstra DOW


def test_jt_counts_and_z_finite(spark):
    row = _q("events_jonckheere_dow")(spark, SF_DIR).collect()[0]
    ns = [getattr(row, f"n_d{i}") for i in range(1, 8)]
    assert row.n_total == sum(ns) and all(n > 0 for n in ns)
    # JT is bounded by the number of cross-group pairs
    max_jt = (
        row.n_total * row.n_total - sum(n * n for n in ns)
    ) / 2.0
    assert 0 <= row.jt_stat <= max_jt
    assert row.z_score == row.z_score  # not NaN


def test_jt_known_small_example(spark):
    """Hand-checked: groups over three weekdays with a strictly
    increasing shift — JT equals the full concordant count (every
    cross-pair ordered), z > 0."""
    import datetime

    # 2024-01-01 Mon(g=2), 01-02 Tue(g=3), 01-03 Wed(g=4)
    data = []
    for day, vals in [
        (1, [1.0, 2.0]),
        (2, [3.0, 4.0]),
        (3, [5.0, 6.0]),
    ]:
        for v in vals:
            data.append(
                (
                    1,
                    "click",
                    datetime.datetime(2024, 1, day, 12, 0, 0),
                    v,
                )
            )
    df = spark.createDataFrame(
        data, "user_id long, event_type string, ts timestamp, value double"
    )
    with tempfile.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        row = _q("events_jonckheere_dow")(spark, td).collect()[0]
    # all 3 group pairs fully concordant: 4 + 4 + 4 = 12
    assert row.jt_stat == 12.0
    assert row.z_score > 0


# ------------------------------------------------ Page's trend


def test_page_trend_bounds(spark):
    row = _q("events_page_trend")(spark, SF_DIR).collect()[0]
    k, b = row.k_treatments, row.n_blocks
    assert k == 5 and b > 0
    # L is bounded by the perfectly-ordered arrangement Σ j²·b and
    # below by the reversed one Σ j·(k+1−j)·b
    lo = b * sum(j * (k + 1 - j) for j in range(1, k + 1))
    hi = b * sum(j * j for j in range(1, k + 1))
    assert lo <= row.page_l <= hi


def test_page_perfect_order_hits_max(spark):
    """Strictly increasing treatment means in alphabetical type order
    across every block drive L to its maximum b·Σj²."""
    import datetime

    types = ["click", "error", "purchase", "signup", "view"]
    data = []
    for day in (1, 2):
        for j, t in enumerate(types, start=1):
            data.append(
                (
                    1,
                    t,
                    datetime.datetime(2024, 1, day, 12, 0, 0),
                    float(j),
                )
            )
    df = spark.createDataFrame(
        data, "user_id long, event_type string, ts timestamp, value double"
    )
    import tempfile as _tf

    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        row = _q("events_page_trend")(spark, td).collect()[0]
    assert row.n_blocks == 2
    assert row.page_l == 2 * sum(j * j for j in range(1, 6))
    assert row.z_score > 0


# --------------------------------------------------- Atkinson


def test_atkinson_bounds_and_equality_case(spark):
    rows = _q("orders_atkinson_index")(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        # 0 ≤ A(0.5) ≤ A(1) < 1 (inequality aversion is monotone in ε)
        assert -1e-9 <= r.atkinson_05 <= r.atkinson_1 + 1e-9 < 1.0


def test_atkinson_zero_on_equal_values(spark):
    import tempfile as _tf

    df = spark.createDataFrame(
        [(i, "1-URGENT", 42.0) for i in range(10)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "orders")
        row = _q("orders_atkinson_index")(spark, td).collect()[0]
    assert row.atkinson_05 == 0.0 and row.atkinson_1 == 0.0


# ------------------------------------------------------- LMIR


def test_lmir_ranks_and_length_penalty(spark):
    rows = _q("text_lmir_topk")(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query, []).append(r)
    assert set(by_q) == {"q_exec", "q_stream", "q_store"}
    for q, rs in by_q.items():
        ranks = [r.rank for r in sorted(rs, key=lambda x: x.rank)]
        assert ranks == list(range(1, len(ranks) + 1))
        scores = [r.score for r in sorted(rs, key=lambda x: x.rank)]
        assert scores == sorted(scores, reverse=True)
        assert all(math.isfinite(r.score) for r in rs)


# ------------------------------------------- Ansari-Bradley


def test_ansari_bradley_fixture_sane(spark):
    row = _q("events_ansari_bradley")(spark, SF_DIR).collect()[0]
    n = row.n0 + row.n1
    # AB is bounded by n0·(N+2)/2 above (all max scores) and n0/2·1
    # below; z finite
    assert 0 < row.ab_stat < row.n0 * (n + 2) / 2
    assert row.z_score == row.z_score


def test_ansari_bradley_known_small(spark):
    """Hand-checked 4-value example, no ties: pooled sorted values get
    AB scores 1,2,2,1; arm 0 holds the two extremes → AB = 2, exact."""
    import tempfile as _tf

    # grp = user_id % 2; arm0 users 2,4 → values 1.0 (rank1) and 4.0
    # (rank4) → scores 1+1 = 2; arm1 users 1,3 → 2.0, 3.0 → 2+2 = 4
    rows = [
        (2, "click", 1.0),
        (1, "click", 2.0),
        (3, "click", 3.0),
        (4, "click", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        row = _q("events_ansari_bradley")(spark, td).collect()[0]
    assert (row.n0, row.n1) == (2, 2)
    assert row.ab_stat == 2.0
    # even-N null mean = n0(N+2)/4 = 3, var = n0 n1 (N+2)(N-2)/(48(N-1))
    import math

    var = 2 * 2 * 6 * 2 / (48 * 3)
    assert abs(row.z_score - (2.0 - 3.0) / math.sqrt(var)) < 1e-6


# --------------------------- degenerate-data guards (r14 self-audit)


def test_grubbs_constant_data_yields_null(spark):
    """Constant values: sd = 0 exactly — both engines must answer NULL
    (unguarded: Spark NULL vs DuckDB inf divergence)."""
    import tempfile as _tf

    df = spark.createDataFrame(
        [(i, 42.0) for i in range(5)],
        "l_orderkey long, l_extendedprice double",
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "lineitem")
        row = _q("lineitem_grubbs_test")(spark, td).collect()[0]
    assert row.mean_cents == 4200.0
    assert row.sd_cents is None and row.g_max is None and row.g_min is None


def test_atkinson_zero_value_yields_null(spark):
    import tempfile as _tf

    df = spark.createDataFrame(
        [(1, "1-URGENT", 0.0), (2, "1-URGENT", 10.0)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "orders")
        row = _q("orders_atkinson_index")(spark, td).collect()[0]
    assert row.atkinson_05 is None and row.atkinson_1 is None


def test_jt_single_group_yields_null_z(spark):
    """All events on one weekday: Var[JT] = 0 exactly — z must be
    NULL, jt_stat 0."""
    import datetime
    import tempfile as _tf

    data = [
        (1, "click", datetime.datetime(2024, 1, 1, 10, 0, 0), float(v))
        for v in range(5)
    ]
    df = spark.createDataFrame(
        data, "user_id long, event_type string, ts timestamp, value double"
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        row = _q("events_jonckheere_dow")(spark, td).collect()[0]
    assert row.jt_stat == 0.0 and row.z_score is None


def test_ansari_one_arm_yields_null(spark):
    import tempfile as _tf

    rows = [(2, "click", float(v)) for v in range(4)]  # all arm 0
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        row = _q("events_ansari_bradley")(spark, td).collect()[0]
    assert row.n1 == 0
    assert row.ab_stat is None and row.z_score is None


# ------------------------------------------------- Cohen's kappa


def test_cohen_kappa_fixture_consistency(spark):
    """Cells partition the user set; kappa equals the textbook
    (p_o − p_e)/(1 − p_e) form to float precision."""
    row = _q("events_cohen_kappa")(spark, SF_DIR).collect()[0]
    assert row.n11 + row.n10 + row.n01 + row.n00 == row.n_users
    assert 0.0 <= row.p_obs <= 1.0 and 0.0 < row.p_exp < 1.0
    assert row.kappa <= 1.0 + 1e-9
    assert abs(
        row.kappa - (row.p_obs - row.p_exp) / (1.0 - row.p_exp)
    ) < 1e-5


def test_cohen_kappa_known_small(spark):
    """Hand-checked 6-user 2×2: n11=2, n10=1, n01=1, n00=2 →
    p_o = 2/3, p_e = 1/2, kappa = 1/3 exactly."""
    import tempfile as _tf

    rows = [
        (1, "click", 95.0), (1, "purchase", 95.0),   # both
        (2, "click", 95.0), (2, "purchase", 95.0),   # both
        (3, "click", 95.0), (3, "purchase", 10.0),   # click only
        (4, "click", 10.0), (4, "purchase", 95.0),   # purchase only
        (5, "view", 95.0),                            # neither
        (6, "view", 95.0),                            # neither
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        row = _q("events_cohen_kappa")(spark, td).collect()[0]
    assert (row.n11, row.n10, row.n01, row.n00, row.n_users) == (
        2, 1, 1, 2, 6
    )
    assert abs(row.p_obs - 2.0 / 3.0) < 1e-6
    assert row.p_exp == 0.5
    assert abs(row.kappa - 1.0 / 3.0) < 1e-6


def test_cohen_kappa_perfect_agreement_is_one(spark):
    import tempfile as _tf

    rows = [
        (1, "click", 95.0), (1, "purchase", 95.0),
        (2, "click", 95.0), (2, "purchase", 95.0),
        (3, "view", 95.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        row = _q("events_cohen_kappa")(spark, td).collect()[0]
    assert (row.n10, row.n01) == (0, 0)
    assert row.kappa == 1.0


def test_cohen_kappa_constant_raters_yields_null(spark):
    """Both raters constant (all-neither): p_e = 1 exactly, the
    denominator n² − pe_num is 0 — both engines must answer NULL
    (the round-14 degenerate-data guard contract)."""
    import tempfile as _tf

    rows = [(u, "view", 95.0) for u in range(1, 5)]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    with _tf.TemporaryDirectory() as td:
        write_corpus_table(df.coalesce(1), td, "events")
        row = _q("events_cohen_kappa")(spark, td).collect()[0]
    assert row.n00 == row.n_users == 4
    assert row.p_obs == 1.0 and row.p_exp == 1.0
    assert row.kappa is None
