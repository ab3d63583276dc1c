"""Independent-model validation for the REGISTRY's rank-test core
(events_mann_whitney_u, events_kruskal_wallis, events_ansari_bradley):
the oracle gate proves Spark == DuckDB but cannot catch the same wrong
formula implemented twice — these pure-Python references compute
pooled midranks and tie corrections the textbook way on seeded
tie-heavy fixtures (both N parities for the Ansari null moments)."""

from __future__ import annotations

import bisect
import math
import random

import pytest

from tests.conftest import write_corpus_table


# r15: slow shard — excluded from the default pytest run (see
# pytest.ini); run the full suite with -m "slow or not slow".
pytestmark = pytest.mark.slow

def _write_events_uv(spark, tmp_path, pairs):
    df = spark.createDataFrame(pairs, "user_id long, value double").coalesce(1)
    write_corpus_table(df, tmp_path, "events")


def _midrank(v, arr):
    lo = bisect.bisect_left(arr, v)
    hi = bisect.bisect_right(arr, v)
    return (lo + 1 + hi) / 2


def _ties_T(arr):
    from collections import Counter

    return sum(c**3 - c for c in Counter(arr).values())


def _tied_fixture(seed, n, vals=7):
    rng = random.Random(seed)
    return [(u, rng.randrange(vals) * 0.50 + 2.0) for u in range(n)]


@pytest.mark.parametrize("seed,n", [(21, 60), (22, 61), (23, 45)])
def test_mann_whitney_matches_midrank_model(spark, tmp_path, seed, n):
    from trackdechets_etl_spark.queries import all_queries

    pairs = _tied_fixture(seed, n)
    _write_events_uv(spark, tmp_path, pairs)
    row = (
        all_queries()["events_mann_whitney_u"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    x = [round(v * 100) for u, v in pairs if u % 2 == 0]
    y = [round(v * 100) for u, v in pairs if u % 2 == 1]
    n0, n1 = len(x), len(y)
    N = n0 + n1
    pooled = sorted(x + y)
    r0 = sum(_midrank(v, pooled) for v in x)
    u0 = r0 - n0 * (n0 + 1) / 2
    var = (
        n0
        * n1
        / 12.0
        * ((N + 1) - _ties_T(pooled) / (N * (N - 1)))
    )
    z = (u0 - n0 * n1 / 2) / math.sqrt(var)
    assert row["n0"] == n0 and row["n1"] == n1
    assert row["u_stat"] == pytest.approx(u0, abs=1e-9)
    assert row["rank_biserial"] == pytest.approx(
        2 * u0 / (n0 * n1) - 1, abs=2e-6
    )
    assert row["z_score"] == pytest.approx(z, abs=2e-6)


@pytest.mark.parametrize("seed", [31, 32])
def test_kruskal_wallis_matches_midrank_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries
    from trackdechets_etl_spark.queries.round57 import _KW_TYPES

    rng = random.Random(seed)
    rows = []
    for u in range(70):
        t = _KW_TYPES[rng.randrange(len(_KW_TYPES))]
        rows.append((u, t, rng.randrange(6) * 1.25 + 1.0))
    # guarantee every group is non-empty (the registry domain always
    # has all five types; an empty group would be a different entry)
    for i, t in enumerate(_KW_TYPES):
        rows.append((100 + i, t, 2.50))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    ).coalesce(1)
    write_corpus_table(df, tmp_path, "events")
    row = (
        all_queries()["events_kruskal_wallis"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    groups = {t: [] for t in _KW_TYPES}
    for _, t, v in rows:
        groups[t].append(round(v * 100))
    pooled = sorted(c for vs in groups.values() for c in vs)
    N = len(pooled)
    h = (
        12.0
        / (N * (N + 1))
        * sum(
            sum(_midrank(v, pooled) for v in vs) ** 2 / len(vs)
            for vs in groups.values()
        )
        - 3 * (N + 1)
    )
    corr = 1 - _ties_T(pooled) / (N**3 - N)
    assert row["n_events"] == N
    assert row["h_stat"] == pytest.approx(h, abs=2e-6)
    assert row["h_tie_adj"] == pytest.approx(h / corr, abs=2e-6)


@pytest.mark.parametrize("seed,n", [(41, 50), (42, 51)])
def test_ansari_bradley_matches_midrank_model(spark, tmp_path, seed, n):
    from trackdechets_etl_spark.queries import all_queries

    pairs = _tied_fixture(seed, n)
    _write_events_uv(spark, tmp_path, pairs)
    row = (
        all_queries()["events_ansari_bradley"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    x = [round(v * 100) for u, v in pairs if u % 2 == 0]
    y = [round(v * 100) for u, v in pairs if u % 2 == 1]
    n0, n1 = len(x), len(y)
    N = n0 + n1
    pooled = sorted(x + y)
    # the entry's documented score: a(v) = min(r̄(v), N+1−r̄(v)) on
    # pooled MIDRANKS, summed over arm 0
    ab = sum(
        min(_midrank(v, pooled), N + 1 - _midrank(v, pooled)) for v in x
    )
    if N % 2 == 0:
        mean = n0 * (N + 2) / 4.0
        var = n0 * n1 * (N + 2) * (N - 2) / (48.0 * (N - 1))
    else:
        mean = n0 * (N + 1) ** 2 / (4.0 * N)
        var = n0 * n1 * (N + 1) * (3 + N * N) / (48.0 * N * N)
    z = (ab - mean) / math.sqrt(var)
    assert row["n0"] == n0 and row["n1"] == n1
    assert row["ab_stat"] == pytest.approx(ab, abs=1e-9)
    assert row["z_score"] == pytest.approx(z, abs=2e-6)


@pytest.mark.parametrize("seed", [51, 52])
def test_jonckheere_matches_pair_count_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries

    rng = random.Random(seed)
    # 2024-01-07 is a Sunday (Spark dayofweek = 1); one full week
    rows = []
    for i in range(80):
        day = 7 + rng.randrange(7)
        rows.append(
            (
                f"2024-01-{day:02d} 10:00:00",
                "click",
                rng.randrange(6) * 0.75 + 1.0,
            )
        )
    df = spark.createDataFrame(
        rows, "ts string, event_type string, value double"
    ).selectExpr(
        "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value"
    ).coalesce(1)
    write_corpus_table(df, tmp_path, "events")
    row = (
        all_queries()["events_jonckheere_dow"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    import datetime

    groups = {i: [] for i in range(1, 8)}
    for ts, _, v in rows:
        d = datetime.date.fromisoformat(ts[:10])
        g = d.isoweekday() % 7 + 1  # Spark coding: 1=Sun .. 7=Sat
        groups[g].append(round(v * 100))
    jt = 0.0
    for i in range(1, 8):
        for j in range(i + 1, 8):
            for xi in groups[i]:
                for xj in groups[j]:
                    if xi < xj:
                        jt += 1
                    elif xi == xj:
                        jt += 0.5
    ns = [len(groups[i]) for i in range(1, 8)]
    N = sum(ns)
    mean = (N * N - sum(n * n for n in ns)) / 4.0
    var = (
        N * N * (2 * N + 3) - sum(n * n * (2 * n + 3) for n in ns)
    ) / 72.0
    z = (jt - mean) / math.sqrt(var)
    assert row["n_total"] == N
    assert row["jt_stat"] == pytest.approx(jt, abs=1e-9)
    assert row["z_score"] == pytest.approx(z, abs=2e-6)


@pytest.mark.parametrize("seed", [61, 62])
def test_mood_median_matches_contingency_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries
    from trackdechets_etl_spark.queries.round77 import _MOOD_TYPES

    rng = random.Random(seed)
    rows = []
    for u in range(90):
        t = _MOOD_TYPES[rng.randrange(len(_MOOD_TYPES))]
        rows.append((u, t, rng.randrange(8) * 0.80 + 1.0))
    for i, t in enumerate(_MOOD_TYPES):  # every group non-empty
        rows.append((200 + i, t, 3.20))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    ).coalesce(1)
    write_corpus_table(df, tmp_path, "events")
    row = (
        all_queries()["events_mood_median"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    groups = {t: [] for t in _MOOD_TYPES}
    for _, t, v in rows:
        groups[t].append(round(v * 100))
    pooled = sorted(c for vs in groups.values() for c in vs)
    N = len(pooled)
    med = pooled[(N + 1) // 2 - 1]  # lower median
    A = sum(1 for c in pooled if c > med)
    chi = 0.0
    for t in _MOOD_TYPES:
        n_g = len(groups[t])
        a_g = sum(1 for c in groups[t] if c > med)
        if n_g > 0 and 0 < A < N:
            ea = n_g * A / N
            eb = n_g * (N - A) / N
            chi += (a_g - ea) ** 2 / ea + ((n_g - a_g) - eb) ** 2 / eb
    assert row["median_cents"] == med
    assert row["n_events"] == N
    assert row["chi2"] == pytest.approx(chi, abs=2e-6)


@pytest.mark.parametrize("seed", [71, 72])
def test_wilcoxon_signed_rank_matches_midrank_model(
    spark, tmp_path, seed
):
    from trackdechets_etl_spark.queries import all_queries

    rng = random.Random(seed)
    rows = []
    for ok in range(40):
        for ln in range(1, rng.randrange(2, 6)):
            rows.append((ok, ln, rng.randrange(5) * 2.00 + 1.0))
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_extendedprice double"
    ).coalesce(1)
    write_corpus_table(df, tmp_path, "lineitem")
    row = (
        all_queries()["lineitem_wilcoxon_signed_rank"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    from collections import defaultdict

    dsum = defaultdict(int)
    for ok, ln, p in rows:
        c = round(p * 100)
        dsum[ok] += c if ln % 2 == 1 else -c
    ds = [d for d in dsum.values() if d != 0]
    ads = sorted(abs(d) for d in ds)
    n = len(ds)
    w_plus = sum(_midrank(abs(d), ads) for d in ds if d > 0)
    var = n * (n + 1) * (2 * n + 1) / 24.0 - _ties_T(ads) / 48.0
    z = (w_plus - n * (n + 1) / 4.0) / math.sqrt(var)
    assert row["n_pairs"] == n
    assert row["w_plus"] == pytest.approx(w_plus, abs=1e-9)
    assert row["z_stat"] == pytest.approx(z, abs=2e-6)


@pytest.mark.parametrize("seed", [81, 82])
def test_two_sample_ks_matches_edf_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries

    pairs = _tied_fixture(seed, 55)
    _write_events_uv(spark, tmp_path, pairs)
    row = (
        all_queries()["events_two_sample_ks"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    x = sorted(round(v * 100) for u, v in pairs if u % 2 == 0)
    y = sorted(round(v * 100) for u, v in pairs if u % 2 == 1)
    n0, n1 = len(x), len(y)
    best = (-1, None)
    for z_ in sorted(set(x + y)):
        f0 = bisect.bisect_right(x, z_)
        f1 = bisect.bisect_right(y, z_)
        gap = abs(f0 * n1 - f1 * n0)
        # tie-break: max gap, then SMALLEST cents (the entry's orderBy)
        if gap > best[0]:
            best = (gap, z_)
    assert row["n0"] == n0 and row["n1"] == n1
    assert row["ks_at_value"] == pytest.approx(best[1] / 100.0)
    assert row["ks_d"] == pytest.approx(best[0] / (n0 * n1), abs=2e-6)


@pytest.mark.parametrize("seed", [91, 92])
def test_cramer_von_mises_matches_edf_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries

    pairs = _tied_fixture(seed, 48)
    _write_events_uv(spark, tmp_path, pairs)
    row = (
        all_queries()["events_cramer_von_mises"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    x = sorted(round(v * 100) for u, v in pairs if u % 2 == 0)
    y = sorted(round(v * 100) for u, v in pairs if u % 2 == 1)
    n0, n1 = len(x), len(y)
    N = n0 + n1
    s = 0.0
    for z_ in sorted(set(x + y)):
        f0 = bisect.bisect_right(x, z_)
        f1 = bisect.bisect_right(y, z_)
        from collections import Counter

        l = Counter(x)[z_] + Counter(y)[z_]
        g = f0 / n0 - f1 / n1
        s += l * g * g
    cvm = n0 * n1 / N**2 * s
    assert row["cvm_stat"] == pytest.approx(cvm, abs=2e-6)


@pytest.mark.parametrize("seed", [101, 102])
def test_pettitt_matches_sgn_pair_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries

    rng = random.Random(seed)
    rows = []
    # 20 days with a level shift mid-way plus noise ties
    for d in range(1, 21):
        base = 3 if d <= 10 else 6
        cnt = base + rng.randrange(3)
        for i in range(cnt):
            rows.append((i, f"2024-03-{d:02d} 08:00:00", "click", 1.0))
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string, value double"
    ).selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value"
    ).coalesce(1)
    write_corpus_table(df, tmp_path, "events")
    row = (
        all_queries()["events_pettitt_test"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    from collections import Counter

    daily = Counter()
    for _, ts, _, _ in rows:
        daily[ts[:10]] += 1
    days = sorted(daily)
    xs = [daily[d] for d in days]
    n = len(xs)
    best_k, best_t = -1, None
    for t in range(1, n + 1):
        u = sum(
            (1 if xs[i] > xs[j] else -1 if xs[i] < xs[j] else 0)
            for i in range(t)
            for j in range(t, n)
        )
        if abs(u) > best_k:
            best_k, best_t = abs(u), t
    p = 2.0 * math.exp(-6.0 * best_k**2 / (n**3 + n**2))
    assert row["n_days"] == n
    assert row["k_stat"] == best_k
    assert row["change_day"] == days[best_t - 1]
    assert row["p_approx"] == pytest.approx(p, abs=2e-6)


def _write_lineitem_qd(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "l_quantity long, l_discount double"
    ).coalesce(1)
    write_corpus_table(df, tmp_path, "lineitem")


@pytest.mark.parametrize("seed", [111, 112])
def test_kendall_tau_b_matches_pair_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries

    rng = random.Random(seed)
    rows = [
        (rng.randrange(1, 8), rng.randrange(5) * 0.02)
        for _ in range(60)
    ]
    _write_lineitem_qd(spark, tmp_path, rows)
    row = (
        all_queries()["lineitem_kendall_tau"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    pts = [(round(d * 100), q) for q, d in rows]
    n = len(pts)
    conc = disc = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
    n0 = n * (n - 1) // 2
    from collections import Counter

    tx = sum(c * (c - 1) // 2 for c in Counter(p[0] for p in pts).values())
    ty = sum(c * (c - 1) // 2 for c in Counter(p[1] for p in pts).values())
    tau = (conc - disc) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
    assert row["n_rows"] == n
    assert row["p_concordant"] == pytest.approx(conc / n0, abs=2e-6)
    assert row["p_discordant"] == pytest.approx(disc / n0, abs=2e-6)
    assert row["tau_b"] == pytest.approx(tau, abs=2e-6)


@pytest.mark.parametrize("seed", [121, 122])
def test_spearman_matches_midrank_pearson_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries

    rng = random.Random(seed)
    rows = [
        (rng.randrange(1, 8), rng.randrange(5) * 0.02)
        for _ in range(60)
    ]
    _write_lineitem_qd(spark, tmp_path, rows)
    row = (
        all_queries()["lineitem_spearman_corr"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    qs = sorted(q for q, _ in rows)
    ds = sorted(round(d * 100) for _, d in rows)
    rx = [_midrank(q, qs) for q, _ in rows]
    ry = [_midrank(round(d * 100), ds) for _, d in rows]
    n = len(rows)
    mx, my = sum(rx) / n, sum(ry) / n
    sxy = sum((rx[i] - mx) * (ry[i] - my) for i in range(n))
    sxx = sum((r - mx) ** 2 for r in rx)
    syy = sum((r - my) ** 2 for r in ry)
    rho = sxy / math.sqrt(sxx * syy)
    assert row["n_rows"] == n
    assert row["rho_spearman"] == pytest.approx(rho, abs=2e-6)


@pytest.mark.parametrize("seed", [131, 132])
def test_ljung_box_matches_acf_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries

    rng = random.Random(seed)
    rows = []
    for d in range(1, 26):
        for _ in range(rng.randrange(1, 4)):
            rows.append(
                (f"2024-04-{d:02d}", rng.randrange(20, 90) * 1.00)
            )
    df = spark.createDataFrame(
        rows, "o_orderdate string, o_totalprice double"
    ).selectExpr(
        "CAST(o_orderdate AS DATE) AS o_orderdate", "o_totalprice"
    ).coalesce(1)
    write_corpus_table(df, tmp_path, "orders")
    row = (
        all_queries()["orders_ljung_box"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    from collections import defaultdict

    daily = defaultdict(int)
    for day, p in rows:
        daily[day] += round(p * 100)
    xs = [daily[d] for d in sorted(daily)]
    n = len(xs)
    m = sum(xs) / n
    den = sum((x - m) ** 2 for x in xs)
    q = 0.0
    rho1 = None
    for k in range(1, 8):
        num = sum((xs[t] - m) * (xs[t + k] - m) for t in range(n - k))
        rho = num / den
        if k == 1:
            rho1 = rho
        q += rho * rho / (n - k)
    q *= n * (n + 2)
    assert row["n_days"] == n
    assert row["rho_lag1"] == pytest.approx(rho1, abs=2e-6)
    assert row["q_stat"] == pytest.approx(q, abs=2e-5)


@pytest.mark.parametrize("seed", [141, 142])
def test_bartlett_matches_pooled_variance_model(spark, tmp_path, seed):
    from trackdechets_etl_spark.queries import all_queries

    rng = random.Random(seed)
    types = ["click", "error", "purchase", "signup", "view"]
    rows = []
    for u in range(120):
        t = types[rng.randrange(5)]
        rows.append((u, t, rng.randrange(10, 80) * 0.50))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    ).coalesce(1)
    write_corpus_table(df, tmp_path, "events")
    row = (
        all_queries()["events_bartlett_test"]
        .fn(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    groups = {}
    for _, t, v in rows:
        groups.setdefault(t, []).append(round(v * 100))
    k = len(groups)
    N = sum(len(vs) for vs in groups.values())
    ssw = slog = sinv = 0.0
    for vs in groups.values():
        ng = len(vs)
        mg = sum(vs) / ng
        s2 = sum((v - mg) ** 2 for v in vs) / (ng - 1)
        ssw += (ng - 1) * s2
        slog += (ng - 1) * math.log(s2)
        sinv += 1.0 / (ng - 1)
    c = 1.0 + (sinv - 1.0 / (N - k)) / (3.0 * (k - 1))
    t_stat = ((N - k) * math.log(ssw / (N - k)) - slog) / c
    assert row["k"] == k and row["n"] == N
    assert row["c_factor"] == pytest.approx(c, abs=2e-6)
    assert row["bartlett_t"] == pytest.approx(t_stat, abs=2e-5)
