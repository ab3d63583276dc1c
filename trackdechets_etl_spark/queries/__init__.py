"""Query registry: every implemented operator exposed as a
(spark_fn, oracle_sql) pair for the driver's correctness gate.

``spark_fn(spark, sf_dir) -> DataFrame`` is the engine's answer;
``oracle_sql`` is the semantically-identical ANSI SQL DuckDB runs on the
same parquet tables. ``oracle_sql is None`` marks genuinely
non-SQL-expressible ops (driver records a rows-only check).

Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing (see README.md).

The registry is every ``QUERIES`` dict of the modules in this package
whose names do not start with ``_``, discovered at call time.
"""

from __future__ import annotations

import importlib
import pkgutil
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


# An external correctness check verifies the first 50 registry entries
# each round; this list pins them, in order.
_VERIFY_FIRST = [
    # slots 1-5: entries whose plan or code path changed in THIS
    # optimization round (each bit-identity-pinned old-vs-new at 3 SFs
    # + interleaved A/B + full drive green before commit — see
    # OPTIMIZATION_r15.md): the 8-byte gram-key clip joins (BLEU +
    # ROUGE), the dice candidate-pair checkpoint, the pagerank
    # checkpoint cadence (output identical; queued out of caution),
    # and the window_rank_ratios scale gate (local plan byte-identical
    # — caution only).
    "text_bleu_dup_pairs",
    "text_rouge_dup_pairs",
    "text_dice_tversky",
    "graph_pagerank",
    "window_rank_ratios",
    # slots 6-26: the displaced r15 queue, exactly as promised in the
    # r14 window comments — first the six r13-evicted re-queues
    # (r13 verdict ask #1, deferred twice, pinned at the queue head
    # per ADVICE r14) plus the two caution/rotation tokens, then the
    # thirteen r05 stale greens displaced across r13/r14.
    "agg_stats_suite",
    "string_agg_sorted",
    "events_running_distinct",
    "flagship_revenue_by_nation",
    "events_dwell_times",
    "events_funnel_horizon",
    "profile_orders",
    "dq_benford_digits",
    "events_markov_transitions",
    "events_windowed_dedup",
    "orders_ship_latency",
    "orders_yoy_growth",
    "join_dpp_partition_pruned",
    "events_ewma_daily",
    "weighted_median_parts",
    "join_grid_spatial",
    "text_bpe_pairs",
    "sketch_countmin_heavyhitters",
    "events_rolling_median",
    "events_twap",
    "events_winsorized_stats",
    # slots 27-33: the stale-green rotation queue inherited from the
    # r14 comments (r05 greens displaced by round78/round77 additions
    # and the late-r14 re-entries).
    "events_pattern_match",
    "events_rolling_corr",
    "events_gap_interpolate",
    "text_zipf_fit",
    "events_cusum_changepoint",
    "sim_knn_classify",
    "events_entropy_profile",
    # slots 34-45: the remaining r05/r06 stale greens oldest-first in
    # their CORRECTNESS file order.
    "text_passage_dedup",
    "text_posting_lists",
    "embedding_standardize",
    "sim_maxsim",
    "events_chisq",
    "parts_skyline_2d",
    "orders_prorate_cents",
    "events_trend_slope",
    "layout_compaction_bins",
    "training_negative_pairs",
    "diff_merkle_buckets",
    "events_sessionize_ids",
    # slots 46-50: the oldest r07 greens not re-verified since.
    "orders_reorder_rate",
    "text_hashing_trick",
    "events_user_type_profile",
    "events_time_to_first_purchase",
    "sim_matryoshka_recall",
]


def all_queries() -> dict[str, QuerySpec]:
    merged: dict[str, QuerySpec] = {}
    for info in pkgutil.iter_modules(__path__):
        if info.name.startswith("_"):
            continue
        queries = importlib.import_module(f"{__name__}.{info.name}").QUERIES
        overlap = merged.keys() & queries.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(queries)

    missing = [n for n in _VERIFY_FIRST if n not in merged]
    if missing:
        raise ValueError(f"_VERIFY_FIRST names not in registry: {missing}")
    front = {n: merged[n] for n in _VERIFY_FIRST}
    back = {n: s for n, s in merged.items() if n not in front}
    return {**front, **back}
