"""Invariant tests for round43: CDC apply, dual sourcing, systematic
sampling — plus the cdc_apply operator's unit semantics."""

from __future__ import annotations

import math

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.operators.merge import cdc_apply
from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR


def _q(name):
    return all_queries()[name].fn


def test_cdc_apply_unit_semantics(spark):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "U", 1, "b2"),   # update existing
            (3, "D", 1, "x"),    # delete existing
            (4, "I", 1, "d"),    # insert new
            (5, "I", 1, "e1"),   # insert then delete -> absent
            (5, "D", 2, "x"),
            (6, "D", 1, "x"),    # delete then re-insert -> present
            (6, "I", 2, "f2"),
        ],
        "k long, op string, seq long, v string",
    )
    got = {r.k: r.v for r in cdc_apply(base, changes, "k", ["v"]).collect()}
    assert got == {1: "a", 2: "b2", 4: "d", 6: "f2"}


def test_cdc_apply_orders_reconciles(spark):
    rows = {r.o_orderkey: r for r in _q("cdc_apply_orders")(spark, SF_DIR).collect()}
    o = {
        r.o_orderkey: r
        for r in read_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect()
    }
    for k, src in o.items():
        if k % 11 == 0 and k % 55 != 0:
            assert k not in rows, f"{k}: final D must delete"
        elif k % 55 == 0:
            assert rows[k].status == "R" and rows[k].cents == 0, k
        elif k % 5 == 0:
            assert rows[k].cents == math.floor(src.o_totalprice * 110 + 0.5), k
        elif k % 7 == 0:
            assert k not in rows, f"{k}: not in base, no change"
        else:
            assert rows[k].cents == math.floor(src.o_totalprice * 100 + 0.5), k


def test_dual_sourcing_ranking(spark):
    rows = _q("supplier_dual_sourcing")(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r.n_nations <= r.n_suppliers
    keys = [(r.n_nations, r.n_suppliers, -r.revenue) for r in rows]
    assert keys == sorted(keys)


def test_systematic_sample_even_spacing(spark):
    rows = _q("sample_systematic_ordered")(spark, SF_DIR).collect()
    d = read_table(spark, SF_DIR, "documents")
    n = d.count()
    assert len(rows) == (n + 19) // 20
    assert [r.qrank for r in rows] == list(range(1, n + 1, 20))
    # ordered by quality descending along the rank
    for a, b in zip(rows, rows[1:]):
        assert a.quality_score >= b.quality_score
