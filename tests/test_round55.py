"""Invariant tests for round55 (rank stats, range join, OOV)."""

from __future__ import annotations

import re
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


def test_mann_whitney_matches_scipy_free_replay(spark):
    """Python replay of U with average ranks and tie-corrected z."""
    rows = _q("events_mann_whitney_u")(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    ev = read_table(spark, SF_DIR, "events").select("user_id", "value").collect()
    a = sorted(round(x.value * 100) for x in ev if x.user_id % 2 == 0)
    b = sorted(round(x.value * 100) for x in ev if x.user_id % 2 == 1)
    assert (r.n0, r.n1) == (len(a), len(b))
    combined = sorted(a + b)
    # average rank per value
    first = {}
    cnt = Counter(combined)
    pos = 1
    avg_rank = {}
    for v in sorted(cnt):
        avg_rank[v] = pos + (cnt[v] - 1) / 2
        pos += cnt[v]
    ra = sum(avg_rank[v] for v in a)
    u0 = ra - len(a) * (len(a) + 1) / 2
    assert abs(r.u_stat - u0) < 0.51
    n0, n1, n = len(a), len(b), len(a) + len(b)
    assert abs(r.rank_biserial - (2 * u0 / (n0 * n1) - 1)) < 1e-5
    tt = sum(c**3 - c for c in cnt.values())
    var = n0 * n1 / 12 * ((n + 1) - tt / (n * (n - 1)))
    z = (u0 - n0 * n1 / 2) / var**0.5
    assert abs(r.z_score - z) < 1e-5


def test_kendall_tau_matches_pair_replay(spark):
    rows = _q("lineitem_kendall_tau")(spark, SF_DIR).collect()
    r = rows[0]
    li = read_table(spark, SF_DIR, "lineitem").select(
        "l_discount", "l_quantity"
    ).collect()
    pts = [(round(x.l_discount * 100), int(x.l_quantity)) for x in li]
    cells = Counter(pts)
    items = list(cells.items())
    conc = disc = 0
    for i in range(len(items)):
        (xa, ya), na = items[i]
        for j in range(len(items)):
            (xb, yb), nb = items[j]
            if xa < xb:
                if ya < yb:
                    conc += na * nb
                elif ya > yb:
                    disc += na * nb
    n = len(pts)
    n0 = n * (n - 1) // 2
    assert abs(r.p_concordant - conc / n0) < 1e-5
    assert abs(r.p_discordant - disc / n0) < 1e-5
    from collections import defaultdict

    mx, my = defaultdict(int), defaultdict(int)
    for (x, y), c in cells.items():
        mx[x] += c
        my[y] += c
    tx = sum(v * (v - 1) // 2 for v in mx.values())
    ty = sum(v * (v - 1) // 2 for v in my.values())
    tau = (conc - disc) / ((n0 - tx) ** 0.5 * (n0 - ty) ** 0.5)
    assert abs(r.tau_b - tau) < 1e-5
    assert -1.0 <= r.tau_b <= 1.0


def test_interval_overlap_equals_naive_range_join(spark):
    """The binned equi-join must equal the naive range join computed in
    Python on the collected sessions."""
    rows = {
        r.hstart: (r.n_events_hour, r.n_sessions, r.total_overlap_s)
        for r in _q("events_interval_overlap_join")(spark, SF_DIR).collect()
    }
    assert 0 < len(rows) <= 20
    ev = read_table(spark, SF_DIR, "events").select("user_id", "ts").collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(int(r.ts.timestamp()))
    sessions = []
    for u, ts in by_user.items():
        ts.sort()
        st = en = ts[0]
        for t in ts[1:]:
            if t - en > 1800:
                sessions.append((st, en))
                st = t
            en = t
        sessions.append((st, en))
    hours = Counter((t // 3600) * 3600 for u, ts in by_user.items() for t in ts)
    peak = sorted(hours.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    for hstart, n_ev in peak:
        overl = [
            (st, en)
            for st, en in sessions
            if st < hstart + 3600 and en >= hstart
        ]
        tot = sum(
            min(en, hstart + 3600) - max(st, hstart) for st, en in overl
        )
        assert rows[hstart] == (n_ev, len(overl), tot), hstart


def test_interval_overlap_explode_is_clamped_to_peak_range(spark):
    """r9 clamp pin: the explode sequence is bounded by the broadcast
    peak-hour [min, max] bins (greatest/least), with the empty-clamp
    guard (b0 <= b1) filtering before the Generate — a gap-only
    session spanning the whole dataset cannot fan out bins outside the
    peak-hour range."""
    df = _q("events_interval_overlap_join")(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"sequence\(", plan), plan[:3000]
    assert re.search(r"greatest\(", plan), plan[:3000]
    assert re.search(r"least\(", plan), plan[:3000]
    # empty-sequence guard survives optimization either as a filter on
    # the clamp aliases or pushed into the bounds-join condition
    assert re.search(
        r"b0#\d+L? <= b1#\d+L?|greatest\(.*\) <= least\(.*\)", plan
    ), plan[:3000]


def test_oov_rate_nonzero_and_bounded(spark):
    rows = _q("text_oov_rate_topv")(spark, SF_DIR).collect()
    assert len(rows) == 20
    assert rows[0].oov_rate > 0, "top-V cut selected everything — weak fixture"
    for r in rows:
        assert 0.0 <= r.oov_rate <= 1.0
        assert r.n_oov <= r.n_tokens
    # descending by rate, doc_id tie-break
    rates = [(-r.oov_rate, r.doc_id) for r in rows]
    assert rates == sorted(rates)
