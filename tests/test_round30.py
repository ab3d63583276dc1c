"""Invariant tests for the round-5 twenty-fifth batch (round30.py):
user activity streaks replayed in plain Python.
"""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import SF_DIR
from trackdechets_etl_spark.queries import all_queries

REGISTRY = all_queries()


def test_user_streaks_match_replay(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    days = defaultdict(set)
    for r in ev:
        days[r.user_id].add(r.ts.date())
    maxd = max(d for s in days.values() for d in s)
    out = {
        r.user_id: r
        for r in REGISTRY["events_user_streaks"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(days)
    for uid, ds in days.items():
        ordered = sorted(ds)
        streaks = []
        run = 1
        for a, b in zip(ordered, ordered[1:]):
            if (b - a).days == 1:
                run += 1
            else:
                streaks.append((run, a))
                run = 1
        streaks.append((run, ordered[-1]))
        # (length, last_day) per streak; recompute last days correctly
        streaks = []
        start = ordered[0]
        prev = ordered[0]
        for d in ordered[1:]:
            if (d - prev).days > 1:
                streaks.append(((prev - start).days + 1, prev))
                start = d
            prev = d
        streaks.append(((prev - start).days + 1, prev))
        r = out[uid]
        assert r.n_active_days == len(ds)
        assert r.n_streaks == len(streaks)
        assert r.longest_streak == max(ln for ln, _d in streaks)
        cur = next((ln for ln, last in streaks if last == maxd), 0)
        assert r.current_streak == cur
        # streak lengths partition the active days
        assert sum(ln for ln, _d in streaks) == len(ds)
