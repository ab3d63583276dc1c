"""Workload definitions, sinks and the output check against the oracle.

A workload is an ordered list of ``(query name, sink)`` pairs. Each query
is built with its registry ``QuerySpec.fn`` and forced through its sink,
the call a user of the engine makes to get the result out.
"""

from __future__ import annotations

import io
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame

from trackdechets_etl_spark.canon import canon
from trackdechets_etl_spark.io.readers import ALL_TABLES
from trackdechets_etl_spark.io.writers import write_parquet
from trackdechets_etl_spark.plans.publish_open_data import to_csv_payload

# The 22 names of bench.py's HEADLINE list, frozen here so that an edit to
# bench.py cannot silently change what this benchmark measures.
HEADLINE = [
    "flagship_revenue_by_nation",
    "join_inner_rubriques",
    "agg_coverage_stats",
    "agg_keep_last_by_year",
    "pipeline_siretisation_enriched",
    "pipeline_siretisation_stats",
    "pipeline_open_data",
    "events_tumbling_hourly",
    "events_session_window",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "sim_lsh_bucket_topk",
    "text_quality_score",
    "text_fingerprint",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "window_suite",
    "join_asof_events",
    "sim_ivf_topk",
]

WORKLOADS: dict[str, list[tuple[str, str]]] = {
    # The two reference pipelines, source to sink: the daily job, and the
    # only workload that writes (parquet and the open-data CSV payload).
    "etl_pipelines": [
        ("pipeline_siretisation_stats_pre", "collect"),
        ("pipeline_siretisation_stats", "collect"),
        ("pipeline_siretisation_enriched", "parquet"),
        ("pipeline_rubriques_chain", "parquet"),
        ("pipeline_open_data", "csv"),
    ],
    # Short queries dominated by fixed per-query overhead and schema
    # inference reads.
    "headline": [(name, "noop") for name in HEADLINE],
    # Queries whose work runs in eager checkpoint jobs inside the builder
    # call; reads are a negligible share. sim_ivfpq_topk and
    # text_dice_tversky belong here too, but on 4 cores they add about 12 s
    # and 4-15 s to the cold pass and 7 s and 4 s to each warm pass, which
    # pushes a run of this workload past a minute.
    "iterative": [
        ("graph_pagerank", "noop"),
        ("graph_kcore_peel", "noop"),
    ],
}

# Typical warm-pass seconds of each workload on a 4-core box, which turns
# ``--seconds`` into a fixed number of warm passes (see ``warm_passes``).
PASS_SECONDS = {"etl_pipelines": 6.0, "headline": 20.0, "iterative": 7.0}
MIN_WARM_PASSES = 2
# Traced passes of a traced run; the layer metrics are their medians.
TRACED_PASSES = 2


def warm_passes(workload: str, seconds: float) -> int:
    """How many warm passes fill about ``seconds``: a function of the
    arguments alone, never of how fast this run's passes happen to be."""
    return max(MIN_WARM_PASSES, round(seconds / PASS_SECONDS[workload]))


def run_sink(sink: str, df: DataFrame, out_dir: Path):
    """Force ``df`` through ``sink`` and return what the check needs.

    ``noop`` computes every column and keeps nothing; ``collect`` returns
    the rows; ``parquet`` writes with ``io.writers.write_parquet`` and
    returns the directory; ``csv`` returns the open-data CSV payload.
    """
    if sink == "noop":
        df.write.format("noop").mode("overwrite").save()
        return None
    if sink == "collect":
        return df.collect()
    if sink == "parquet":
        write_parquet(df, str(out_dir))
        return out_dir
    if sink == "csv":
        return to_csv_payload(df)
    raise ValueError(f"unknown sink {sink!r}")


class OracleCheck:
    """Compares query results with their registry oracle run by DuckDB on
    the same parquet files, order-insensitively and exactly (``canon``)."""

    def __init__(self, data_dir: Path):
        import duckdb

        self._con = duckdb.connect()
        for t in ALL_TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'"
            )

    def close(self) -> None:
        self._con.close()

    def mismatch(self, spark, oracle: str | None, sink: str, df, result):
        """Return None when ``result``, what ``run_sink(sink, df, ...)``
        returned, matches the oracle, else a reason. A noop sink keeps
        nothing, so the rows of ``df`` are collected instead."""
        if oracle is None:
            return "query has no oracle"
        res = self._con.execute(oracle)
        if sink == "csv":
            cols, got = _csv_rows(result)
            want_cols, want = _csv_rows(res.fetchdf().to_csv(index=False))
        else:
            want_cols = [d[0] for d in res.description]
            want = res.fetchall()
            if sink == "parquet":
                df = spark.read.parquet(str(result))
            cols = df.columns
            got = result if sink == "collect" else df.collect()
        if sorted(cols) != sorted(want_cols):
            return f"columns {sorted(cols)} != oracle {sorted(want_cols)}"
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        if canon(got, cols) != canon(want, want_cols):
            return "values differ from oracle"
        return None


def _csv_rows(payload: str):
    frame = pd.read_csv(io.StringIO(payload), dtype=str, keep_default_na=False)
    return list(frame.columns), list(frame.itertuples(index=False, name=None))
