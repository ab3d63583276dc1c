"""Invariant tests for round50: correlation matrix."""

from __future__ import annotations

import numpy as np

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import all_queries
from tests.conftest import SF_DIR


def test_corr_matrix_matches_numpy(spark):
    rows = {
        (r.var_a, r.var_b): r.pearson_r
        for r in all_queries()["lineitem_pearson_corr_matrix"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert len(rows) == 6
    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice", "l_tax")
        .collect()
    )
    import math

    cols = {
        "qty": np.array([r.l_quantity for r in li]),
        "disc": np.array([math.floor(r.l_discount * 100 + 0.5) for r in li]),
        "price": np.array(
            [math.floor(r.l_extendedprice / 100 + 0.5) for r in li]
        ),
        "tax": np.array([math.floor(r.l_tax * 100 + 0.5) for r in li]),
    }
    for (a, b), got in rows.items():
        want = np.corrcoef(cols[a], cols[b])[0, 1]
        assert abs(got - want) < 1e-4, (a, b)
        assert -1.0 <= got <= 1.0
