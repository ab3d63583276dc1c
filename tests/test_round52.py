"""Invariant tests for round52: PMI bigrams, Spearman rank
correlation."""

from __future__ import annotations

from collections import Counter

import numpy as np

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR


def _q(name):
    return all_queries()[name].fn


def test_pmi_matches_python_replay(spark):
    rows = _q("text_pmi_bigrams")(spark, SF_DIR).collect()
    assert len(rows) == 20
    docs = read_table(spark, SF_DIR, "documents").select("text").collect()
    uni: Counter = Counter()
    bg: Counter = Counter()
    n_bg = 0
    for d in docs:
        w = d.text.split(" ")
        uni.update(w)
        for i in range(len(w) - 1):
            bg[(w[i], w[i + 1])] += 1
            n_bg += 1
    n_uni = sum(uni.values())
    for r in rows:
        assert r.n_pair >= 5
        w1, w2 = r.bigram.split(" ")
        assert bg[(w1, w2)] == r.n_pair
        want = (
            np.log(r.n_pair)
            + 2 * np.log(n_uni)
            - np.log(n_bg)
            - np.log(uni[w1])
            - np.log(uni[w2])
        )
        assert abs(r.pmi - want) < 1e-5
    # top-20 really is the max-PMI slice of the supported bigrams
    all_pmi = sorted(
        (
            round(
                float(
                    np.log(c)
                    + 2 * np.log(n_uni)
                    - np.log(n_bg)
                    - np.log(uni[a])
                    - np.log(uni[b])
                ),
                6,
            ),
            f"{a} {b}",
        )
        for (a, b), c in bg.items()
        if c >= 5
    )
    want_top = [
        b for (p, b) in sorted(all_pmi, key=lambda t: (-t[0], t[1]))[:20]
    ]
    assert [r.bigram for r in rows] == want_top


def test_spearman_matches_scipy_free_replay(spark):
    row = _q("lineitem_spearman_corr")(spark, SF_DIR).collect()[0]
    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select("l_quantity", "l_discount")
        .collect()
    )
    q = np.array([r.l_quantity for r in li])
    d = np.array([r.l_discount for r in li])
    assert row.n_rows == len(q)

    def avg_ranks(x):
        order = np.argsort(x, kind="stable")
        ranks = np.empty(len(x), dtype=np.float64)
        sx = x[order]
        i = 0
        while i < len(sx):
            j = i
            while j < len(sx) and sx[j] == sx[i]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2.0  # 1-based average rank
            i = j
        return ranks

    rq, rd = avg_ranks(q), avg_ranks(d)
    want = np.corrcoef(rq, rd)[0, 1]
    assert abs(row.rho_spearman - want) < 1e-6
    assert -1.0 <= row.rho_spearman <= 1.0


def test_spearman_perfect_monotone_is_one(spark):
    # ranks of a value against itself: rho must be exactly 1
    from trackdechets_etl_spark.queries.round52 import _rank2_map

    li = read_table(spark, SF_DIR, "lineitem").select("l_quantity")
    m = {r.l_quantity: r.r2 for r in _rank2_map(li, "l_quantity").collect()}
    # 2*avg_rank integers, strictly increasing with the value
    vals = sorted(m)
    r2s = [m[v] for v in vals]
    assert all(a < b for a, b in zip(r2s, r2s[1:]))
    # sum of avg ranks over all rows == n(n+1)/2 (rank axiom)
    counts = (
        li.groupBy("l_quantity").count().collect()
    )
    n = sum(r["count"] for r in counts)
    total2 = sum(m[r.l_quantity] * r["count"] for r in counts)
    assert total2 == n * (n + 1)
