"""window_rank_ratios scale escape hatch (r15, VERDICT r14 ask #3).

Locally the query keeps the 5-partition mktsegment window (measured
faster at sf0.1: 0.90 vs 1.39 s, OPTIMIZATION_r14.md negative); above
the scanned size of orders it switches to the distributed
per-segment rank built on operators/ranking.global_row_number. The two
paths must be BIT-identical — same doubles, not just same rounded
values — and the gate itself must be visible in the plan.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from trackdechets_etl_spark.queries import analytics
from tests.conftest import SF_DIR, write_parted


def _collect(df):
    rows = df.collect()
    return sorted(
        (r["o_orderkey"], r["c_mktsegment"], r["pct_rank"], r["cume"])
        for r in rows
    )


def test_two_paths_bit_identical_sf0001(spark, monkeypatch):
    base = _collect(analytics._window_rank_ratios(spark, SF_DIR))
    monkeypatch.setattr(analytics, "_RANK_SEGMENT_WINDOW_MAX_BYTES", 0)
    dist = _collect(analytics._window_rank_ratios(spark, SF_DIR))
    assert base == dist  # exact float equality, not approx


def test_distributed_handles_single_row_segment(spark):
    j = spark.createDataFrame(
        [
            (1, "A", 10.0),
            (2, "A", 20.0),
            (3, "A", 20.0),
            (4, "B", 5.0),  # singleton segment: percent_rank must be 0.0
        ],
        "o_orderkey long, c_mktsegment string, o_totalprice double",
    )
    got = {
        r["o_orderkey"]: (r["pct_rank"], r["cume"])
        for r in analytics._window_rank_ratios_distributed(j).collect()
    }
    assert got[1] == (0.0, pytest.approx(1 / 3))
    assert got[2] == (0.5, pytest.approx(2 / 3))
    assert got[3] == (1.0, 1.0)
    assert got[4] == (0.0, 1.0)


def test_distributed_matches_window_on_ties(spark):
    j = spark.createDataFrame(
        [(k, "S", float(p)) for k, p in enumerate([7, 7, 7, 3, 3, 9])],
        "o_orderkey long, c_mktsegment string, o_totalprice double",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    expect = sorted(
        (r["o_orderkey"], r["p"], r["c"])
        for r in j.select(
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("p"),
            F.round(F.cume_dist().over(w), 6).alias("c"),
        ).collect()
    )
    got = sorted(
        (r["o_orderkey"], r["pct_rank"], r["cume"])
        for r in analytics._window_rank_ratios_distributed(j).collect()
    )
    assert expect == got


def test_gate_visible_in_plan(spark, monkeypatch):
    local = analytics._window_rank_ratios(spark, SF_DIR)
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "percent_rank" in plan
    assert "__gr_pid" not in plan  # no distributed-rank machinery locally

    monkeypatch.setattr(analytics, "_RANK_SEGMENT_WINDOW_MAX_BYTES", 0)
    dist = analytics._window_rank_ratios(spark, SF_DIR)
    dplan = dist._jdf.queryExecution().executedPlan().toString()
    # the mktsegment full-sort window is gone; the plan rides
    # global_row_number's partition-id machinery instead (the range
    # exchange itself sits behind the lazy localCheckpoint, so the
    # executed plan shows its Scan ExistingRDD + __gr_pid columns)
    assert "percent_rank" not in dplan
    assert "__gr_pid" in dplan


def _distributed(df) -> bool:
    return "__gr_pid" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("uri", [False, True], ids=["dir", "file_uri"])
def test_gate_sizes_part_file_directory(spark, tmp_path, monkeypatch, uri):
    """orders stored as a directory of part files (and reached through a
    file:// URI) is sized by its listed bytes: the gate fires once the
    threshold drops one byte below them, though a directory entry is only
    a few KiB and a URI cannot be stat-ed."""
    import shutil

    parts = write_parted("orders", tmp_path)
    shutil.copy(f"{SF_DIR}/customer.parquet", tmp_path)
    sf_dir = f"file://{tmp_path}" if uri else str(tmp_path)
    assert (tmp_path / "orders.parquet").stat().st_size < parts - 1

    monkeypatch.setattr(analytics, "_RANK_SEGMENT_WINDOW_MAX_BYTES", parts)
    assert not _distributed(analytics._window_rank_ratios(spark, sf_dir))
    monkeypatch.setattr(analytics, "_RANK_SEGMENT_WINDOW_MAX_BYTES", parts - 1)
    dist = analytics._window_rank_ratios(spark, sf_dir)
    assert _distributed(dist)
    assert _collect(dist) == _collect(analytics._window_rank_ratios(spark, SF_DIR))
