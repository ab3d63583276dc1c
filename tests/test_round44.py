"""Invariant tests for round44: RAKE, p95 cutoff, label propagation."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR


def _q(name):
    return all_queries()[name].fn


def test_rake_matches_python_replay(spark):
    got = [(r.word, r.freq, r.degree, r.score) for r in _q("text_rake_keywords")(spark, SF_DIR).collect()]
    docs = read_table(spark, SF_DIR, "documents").select("text").collect()
    stops = {"a", "the", "and", "of", "is"}
    freq: Counter = Counter()
    degree: Counter = Counter()
    for d in docs:
        phrase: list[str] = []
        for t in [x for x in d.text.split(" ") if x] + ["the"]:
            if t in stops:
                for w in phrase:
                    freq[w] += 1
                    degree[w] += len(phrase)
                phrase = []
            else:
                phrase.append(t)
    want = sorted(
        (
            (w, freq[w], degree[w], round(degree[w] / freq[w], 6))
            for w in freq
        ),
        key=lambda t: (-t[3], t[0]),
    )[:20]
    assert got == want
    # stopwords never appear as keywords
    assert not [w for w, *_ in got if w in stops]


def test_p95_cutoff_matches_sorted_counts(spark):
    row = _q("events_p95_activity_cutoff")(spark, SF_DIR).collect()[0]
    per_user = sorted(
        r.n
        for r in read_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n = len(per_user)
    assert row.n_users == n
    import math

    # smallest value covering >= 95% of users
    want_cut = per_user[math.ceil(n * 0.95) - 1]
    assert row.p95_cutoff == want_cut
    assert row.n_power_users == sum(1 for x in per_user if x >= want_cut)


def test_label_propagation_partitions_nodes(spark):
    rows = _q("graph_label_propagation")(spark, SF_DIR).collect()
    sizes = [r.community_size for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    li = read_table(spark, SF_DIR, "lineitem").select("l_suppkey").distinct()
    o = read_table(spark, SF_DIR, "orders")
    # node universe = customers with orders that have lineitems + suppliers
    n_supp = li.count()
    n_cust = (
        read_table(spark, SF_DIR, "lineitem")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(sizes) == n_supp + n_cust
