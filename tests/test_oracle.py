"""Local mirror of the driver's correctness gate: run every registry
query in Spark AND its DuckDB oracle at sf0.001, compare row count,
column names, and order-insensitive values exactly.

This is deliberately stricter than "close enough": the driver hashes
values, so any float wobble or dtype drift that this test would forgive
the driver would not. Exact equality after canonical normalization.
Rows are normalized by ``trackdechets_etl_spark.canon.canon``, which is
type-tagged, so a DOUBLE and a DECIMAL of the same value differ.
"""

from __future__ import annotations

import pytest

from perfbench.workloads import WORKLOADS
from trackdechets_etl_spark.canon import canon
from trackdechets_etl_spark.queries import all_queries, graph, sim
from tests.conftest import SF_DIR

REGISTRY = all_queries()

# The default shard checks every query a perfbench workload runs (the
# five reference pipelines and the 22 headline queries), every query of
# queries/graph.py (the plans.fixtures trade graph, the co-purchase
# triangles and the iterative loops, heavy users of session.materialize)
# and of queries/sim.py (every consumer of the llm/similarity and llm/pq
# searches and their SQL twins),
# one consumer of each shared SQL/Column helper
# (the llm/similarity cosine, norm and LSH-bucket SQL, md5 hex to int
# SQL, array dot product) and
# of each sized or converted read (the orders rank gate, the documents
# and embeddings fan-out, events.ts), and every consumer of a
# functions.scalar.hash_key key or of a keyed-shingle step of llm/dedup
# (shingle keys, prefix positions, Jaccard candidates, overlap counts)
# that the workloads do not already run, the two oracles re-typed to DOUBLE
# (orders_conformal_interval, text_topk_rbo_eras), every consumer of the
# float-score rank key (operators.ranking.score_order and its per-group
# top-k) and of the llm/similarity and llm/pq retrieval kernels, and one
# consumer of the range-partitioned global prefix max; the rest of the
# sweep is marked slow (see pytest.ini) and runs with -m "slow or not slow".
_DEFAULT_SHARD = {name for work in WORKLOADS.values() for name, _ in work} | {
    *graph.QUERIES,
    *sim.QUERIES,
    "dedup_embedding_cosine",
    "sample_weighted_reservoir",
    "ml_kmeans_lite",
    "window_rank_ratios",
    "dedup_containment_pairs",
    "dedup_incremental_batch",
    "text_ngram_novelty",
    "text_dice_tversky",
    "dedup_minhash_calibration",
    "text_bleu_dup_pairs",
    "linkage_edit_distance_join",
    "join_fuzzy_name",
    "join_bloom_prefilter",
    "dedup_clusters",
    "orders_conformal_interval",
    "text_topk_rbo_eras",
    "text_tfidf_topk",
    "text_bm25_topk",
    "text_lmir_topk",
    "embedding_label_noise_knn",
    "embedding_label_noise_recall",
    "embedding_mmr_select",
    "events_late_arrivals",
    "embedding_bucket_label_eval",
    "embedding_centroid_drift",
    "dedup_semantic_prune",
    "embedding_array_stats",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=() if n in _DEFAULT_SHARD else pytest.mark.slow)
        for n in sorted(REGISTRY)
    ],
)
def test_query_matches_oracle(name, spark, duck):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_DIR)

    # The driver canonicalizes results through pandas sort_values, which
    # cannot hash list/map/struct cells — registry outputs must be flat.
    from pyspark.sql.types import ArrayType, MapType, StructType

    for field in sdf.schema.fields:
        assert not isinstance(field.dataType, (ArrayType, MapType, StructType)), (
            f"{name}: column {field.name} has driver-unhashable type "
            f"{field.dataType.simpleString()}; flatten to scalars/strings"
        )

    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    if spec.oracle is None:
        assert len(spark_rows) >= 0  # rows-only check
        return

    res = duck.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    s_norm = canon(spark_rows, spark_cols)
    d_norm = canon(duck_rows, duck_cols)
    if s_norm != d_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, d_norm) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
