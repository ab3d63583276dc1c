"""Invariant tests for round60 (PSI, MI, Cramér's V, Mann–Kendall,
skyline, Poisson bootstrap) — independent Python replays at sf0.001."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from trackdechets_etl_spark.session import get_spark

    return get_spark()


def _q(name):
    return all_queries()[name].fn


def _orders(spark):
    return read_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    ).collect()


def test_psi_matches_replay(spark):
    import datetime

    rows = _orders(spark)
    split = datetime.datetime(1998, 5, 1)
    ca, cb = Counter(), Counter()
    for r in rows:
        cents = int(round(r.o_totalprice * 100))
        b = min(cents // 5_000_000, 9)
        (ca if r.o_orderdate < split else cb)[b] += 1
    ta, tb = sum(ca.values()), sum(cb.values())
    out = {r.bin: r for r in _q("orders_psi_price_drift")(spark, SF_DIR).collect()}
    assert set(out) == set(ca) | set(cb)
    total_psi = 0.0
    for b, r in out.items():
        assert (r.n_a, r.n_b) == (ca.get(b, 0), cb.get(b, 0))
        pa = (r.n_a + 1) / (ta + 10)
        pb = (r.n_b + 1) / (tb + 10)
        exp = (pa - pb) * math.log(pa / pb)
        assert abs(r.psi_term - exp) < 1e-5
        # every Laplace-smoothed PSI term is non-negative by Gibbs
        assert r.psi_term >= 0
        total_psi += r.psi_term
    assert total_psi >= 0


def test_mutual_information_replay_and_nonneg(spark):
    ev = read_table(spark, SF_DIR, "events").select("event_type", "ts").collect()
    joint = Counter((r.event_type, r.ts.hour // 6) for r in ev)
    n = sum(joint.values())
    mx = Counter()
    my = Counter()
    for (x, y), c in joint.items():
        mx[x] += c
        my[y] += c
    out = {r.event_type: r for r in _q("events_mutual_information")(spark, SF_DIR).collect()}
    assert set(out) == set(mx)
    mi_total = 0.0
    for x, r in out.items():
        assert r.n_x == mx[x]
        exp = sum(
            (c / n) * math.log(c * n / (mx[x] * my[y]))
            for (xx, y), c in joint.items()
            if xx == x
        )
        assert abs(r.mi_part - exp) < 1e-5
        mi_total += r.mi_part
    # total MI is non-negative (per-x parts can individually dip < 0)
    assert mi_total >= -1e-9


def test_cramers_v_replay(spark):
    li = read_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).collect()
    joint = Counter((r.l_returnflag, r.l_linestatus) for r in li)
    n = sum(joint.values())
    rt, ct = Counter(), Counter()
    for (a, b), c in joint.items():
        rt[a] += c
        ct[b] += c
    chi2 = sum(
        (c - rt[a] * ct[b] / n) ** 2 / (rt[a] * ct[b] / n)
        for (a, b), c in joint.items()
    )
    r = _q("lineitem_cramers_v")(spark, SF_DIR).collect()[0]
    assert (r.n, r.r, r.c) == (n, len(rt), len(ct))
    assert abs(r.chi2 - chi2) < 1e-3
    v = math.sqrt(chi2 / (n * (min(len(rt), len(ct)) - 1)))
    assert abs(r.cramers_v - v) < 1e-5
    assert 0.0 <= r.cramers_v <= 1.0


def test_mann_kendall_replay(spark):
    ev = read_table(spark, SF_DIR, "events").select("event_type", "ts").collect()
    daily = Counter(r.ts.date() for r in ev if r.event_type == "purchase")
    days = sorted(daily)
    xs = [daily[d] for d in days]
    n = len(xs)
    s = sum(
        (0 if xs[j] == xs[i] else (1 if xs[j] > xs[i] else -1))
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = Counter(xs)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    r = _q("events_mann_kendall_trend")(spark, SF_DIR).collect()[0]
    assert (r.n_days, r.s, r.var_s_x18) == (n, s, var18)
    s_adj = s - 1 if s > 0 else (s + 1 if s < 0 else 0)
    assert abs(r.z - s_adj / math.sqrt(var18 / 18.0)) < 1e-5


def test_skyline_is_exact_pareto_front(spark):
    parts = [
        (r.p_partkey, r.p_size, int(round(r.p_retailprice * 100)))
        for r in read_table(spark, SF_DIR, "part").collect()
    ]

    def dominated(p):
        return any(
            q[1] >= p[1]
            and q[2] <= p[2]
            and (q[1] > p[1] or q[2] < p[2])
            for q in parts
        )

    expect = sorted(
        [p for p in parts if not dominated(p)], key=lambda p: (-p[1], p[0])
    )
    got = [
        (r.p_partkey, r.p_size, r.price_cents)
        for r in _q("part_skyline_2d")(spark, SF_DIR).collect()
    ]
    assert got == expect


def test_skyline_twin_matches_round8_window_sweep(spark):
    # the sort-free bounded-domain form and round8's sorted-window
    # sweep must produce the identical frontier set
    new = {
        (r.p_partkey, r.p_size, r.price_cents)
        for r in _q("part_skyline_2d")(spark, SF_DIR).collect()
    }
    old = {
        (r.p_partkey, r.size, int(round(r.price * 100)))
        for r in _q("parts_skyline_2d")(spark, SF_DIR).collect()
    }
    assert new == old


def test_poisson_bootstrap_replay_and_spread(spark):
    from trackdechets_etl_spark.queries.round60 import _BOOT_B, _BOOT_T

    rows = _orders(spark)
    out = {r.b: r for r in _q("orders_poisson_bootstrap_ci")(spark, SF_DIR).collect()}
    assert set(out) == set(range(_BOOT_B))
    means = []
    for b in range(_BOOT_B):
        n_eff = 0
        tot = 0
        for r in rows:
            hexd = hashlib.md5(f"{r.o_orderkey}:{b // 4}".encode()).hexdigest()
            off = (b % 4) * 8
            h = int(hexd[off : off + 8], 16)
            w = sum(1 for t in _BOOT_T if h >= t)
            n_eff += w
            tot += w * int(round(r.o_totalprice * 100))
        assert out[b].n_eff == n_eff
        assert abs(out[b].mean_price - tot / (100.0 * n_eff)) < 1e-3
        means.append(out[b].mean_price)
    # replicate sizes concentrate around n (Poisson(1) weights sum to ~n)
    n = len(rows)
    assert all(abs(out[b].n_eff - n) < 5 * math.sqrt(n) for b in out)
    # replicate means spread like sd/sqrt(n) around the point estimate
    grand = sum(int(round(r.o_totalprice * 100)) for r in rows) / (100.0 * n)
    sd = math.sqrt(
        sum((r.o_totalprice - grand) ** 2 for r in rows) / n
    )
    se = sd / math.sqrt(n)
    assert all(abs(m - grand) < 6 * se for m in means)
    assert any(abs(m - grand) > se / 10 for m in means)
