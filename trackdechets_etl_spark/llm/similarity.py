"""Similarity search over embedding columns (array<float>).

- ``cosine`` and ``norm``: JVM-side dot/norms via ``zip_with`` +
  ``aggregate`` on double-cast arrays — no UDF, stays in codegen.
  ``cosine`` is ``cosine_from_norms`` over two ``norm`` columns; a
  search that scores each vector against many candidates projects the
  norms once per row of each side and calls ``cosine_from_norms``.
- ``norm_sql``, ``cosine_sql`` and ``bucket_sql``: the DuckDB twins of
  ``norm``, ``cosine`` and ``bucket_expr`` that the oracles embed, so
  each formula is written once per engine. ``topk_bruteforce_sql``,
  ``lsh_bucket_topk_sql``, ``ivf_topk_sql``, ``ivf_route_sql`` and
  ``label_centroids_sql`` do the same for the searches below.

Every top-k search is one operator: generate candidates, score them,
cut to the top k. ``_cosine_topk`` is the scoring-and-cut kernel they
share: cosine from norms projected once per side (not once per pair),
then ``operators.ranking.top_k_per_group`` under the engine's float
rank key. Only the candidate generator differs:

- ``topk_bruteforce``: every corpus vector (broadcast query side, cross
  join). The exact baseline: O(queries × corpus).
- ``lsh_bucket_topk``: the query's random-hyperplane LSH bucket —
  deterministic ±1 hyperplanes derived from md5 in *Python at
  plan-build time* (so the exact same literals appear in the Spark plan
  and the DuckDB oracle), sign-pattern bucket per vector. The scale
  path: the corpus is scanned once to bucket, and each query probes
  ~corpus/2^planes vectors.
- ``ivf_topk``: the query's IVF list, chosen by ``ivf_route`` (nearest
  label centroid), which ``llm.pq.ivfpq_topk`` shares.

At 100 TB the corpus side is partitioned by bucket (write-time layout),
so a probe touches one partition — the IVF idea expressed as parquet
partitioning + partition pruning rather than a custom index.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trackdechets_etl_spark.operators.ranking import (
    score_order,
    top_k_per_group,
    top_k_per_group_sql,
)

N_PLANES = 4


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(v: Column) -> Column:
    """Euclidean norm of an array column, in double."""
    return F.sqrt(dot(as_double(v), as_double(v)))


def cosine_from_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their :func:`norm` columns."""
    return dot(as_double(a), as_double(b)) / (norm_a * norm_b)


def cosine(a: Column, b: Column) -> Column:
    return cosine_from_norms(a, b, norm(a), norm(b))


def norm_sql(v: str) -> str:
    """DuckDB twin of :func:`norm` over a ``DOUBLE[]`` expression."""
    return f"sqrt(list_dot_product({v}, {v}))"


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine` over two ``DOUBLE[]`` expressions."""
    return f"list_dot_product({a}, {b}) / ({norm_sql(a)} * {norm_sql(b)})"


def hyperplane(plane: int, dims: int) -> list[float]:
    """Deterministic ±1 hyperplane: component d is +1 iff the first hex
    nibble of md5('{plane}:{d}') > 7. Computed driver-side with hashlib
    so the identical literal vector can be embedded in oracle SQL."""
    return [
        1.0 if int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[0], 16) > 7 else -1.0
        for d in range(dims)
    ]


def bucket_expr(emb: Column, dims: int, n_planes: int = N_PLANES) -> Column:
    """LSH bucket id: sum of 2^p over planes whose dot product is > 0."""
    emb_d = as_double(emb)
    bucket = None
    for p in range(n_planes):
        w = F.array(*[F.lit(x) for x in hyperplane(p, dims)])
        term = F.when(dot(emb_d, w) > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("int")


def bucket_sql(v: str, dims: int, n_planes: int = N_PLANES) -> str:
    """DuckDB twin of :func:`bucket_expr` over a ``DOUBLE[]`` expression,
    with the same :func:`hyperplane` literals."""
    terms = []
    for p in range(n_planes):
        w = ", ".join(str(x) for x in hyperplane(p, dims))
        terms.append(
            f"(CASE WHEN list_dot_product({v}, [{w}]) > 0 THEN {2 ** p} ELSE 0 END)"
        )
    return f"CAST({' + '.join(terms)} AS INT)"


def _side_sql(
    emb: str,
    id_col: str,
    vec_col: str,
    side: str,
    *keys: str,
    query_ids_max: int | None = None,
) -> str:
    """DuckDB twin of :func:`_side` (``cosine_sql`` takes its own norms):
    ``{side}_id``, ``{side}_vec`` and the ``keys`` of ``emb``, whose
    ``vec_col`` is a ``DOUBLE[]`` expression; only the ids below
    ``query_ids_max`` when it is given."""
    cols = ", ".join([f"{id_col} AS {side}_id", f"{vec_col} AS {side}_vec", *keys])
    where = "" if query_ids_max is None else f" WHERE {id_col} < {query_ids_max}"
    return f"(SELECT {cols} FROM {emb}{where})"


def _cosine_topk_sql(q: str, c: str, on: str | None, k: int) -> str:
    """DuckDB twin of :func:`_cosine_topk` over the ``_side_sql``
    relations ``q`` and ``c``: a SELECT of ``q_id``, ``c_id``, ``rank``
    and ``cos_sim``."""
    pairs = f"{q}, {c}" if on is None else f"{q} JOIN {c} USING ({on})"
    scored = f"""(
    SELECT q_id, c_id, {cosine_sql('q_vec', 'c_vec')} AS cos
    FROM {pairs} WHERE q_id <> c_id)"""
    return f"""SELECT q_id, c_id, rank, round(cos, 6) AS cos_sim
FROM ({top_k_per_group_sql(scored, 'q_id', 'cos', 'c_id', k)})"""


def topk_bruteforce_sql(
    emb: str, id_col: str, vec_col: str, query_ids_max: int, k: int = 5
) -> str:
    """DuckDB twin of :func:`topk_bruteforce` over the relation ``emb``,
    whose ``vec_col`` is a ``DOUBLE[]`` expression."""
    q = _side_sql(emb, id_col, vec_col, "q", query_ids_max=query_ids_max)
    return _cosine_topk_sql(q, _side_sql(emb, id_col, vec_col, "c"), None, k)


def lsh_bucket_topk_sql(
    emb: str, id_col: str, vec_col: str, dims: int, query_ids_max: int, k: int = 5
) -> str:
    """DuckDB twin of :func:`lsh_bucket_topk` over the relation ``emb``,
    whose ``vec_col`` is a ``DOUBLE[]`` expression."""
    bucketed = f"(SELECT *, {bucket_sql(vec_col, dims)} AS bucket FROM {emb})"
    q = _side_sql(bucketed, id_col, vec_col, "q", "bucket", query_ids_max=query_ids_max)
    c = _side_sql(bucketed, id_col, vec_col, "c", "bucket")
    return _cosine_topk_sql(q, c, "bucket", k)


def label_centroids_sql(emb: str, vec_col: str, label_col: str, dims: int) -> str:
    """DuckDB twin of :func:`label_centroids` at its default 4 dp: a
    SELECT of ``label_col`` and ``centroid`` over the relation ``emb``,
    whose ``vec_col`` is a ``DOUBLE[]`` expression of ``dims`` entries."""
    return f"""SELECT {label_col}, list(a ORDER BY i) AS centroid FROM (
    SELECT {label_col}, i, round(avg(({vec_col})[i]), 4) AS a
    FROM {emb}, unnest(generate_series(1, {dims})) AS u(i)
    GROUP BY {label_col}, i)
GROUP BY {label_col}"""


def ivf_route_sql(emb: str, vec_col: str, label_col: str, dims: int, q: str) -> str:
    """DuckDB twin of :func:`ivf_route`: the rows of the relation ``q``
    (``q_id``, ``q_vec``, …) plus the ``__list`` of their nearest
    :func:`label_centroids_sql` centroid."""
    routed = f"""(
    SELECT q.*, {label_col} AS __list, {cosine_sql('q_vec', 'centroid')} AS __rcos
    FROM {q} q, ({label_centroids_sql(emb, vec_col, label_col, dims)}))"""
    return f"""SELECT * EXCLUDE (__rcos, __rn)
FROM ({top_k_per_group_sql(routed, 'q_id', '__rcos', '__list', 1, '__rn')})"""


def ivf_topk_sql(
    emb: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    dims: int,
    query_ids_max: int,
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`ivf_topk` over the relation ``emb``, whose
    ``vec_col`` is a ``DOUBLE[]`` expression of ``dims`` entries."""
    q = _side_sql(emb, id_col, vec_col, "q", query_ids_max=query_ids_max)
    c = _side_sql(emb, id_col, vec_col, "c", f"{label_col} AS __list")
    routed = f"({ivf_route_sql(emb, vec_col, label_col, dims, q)})"
    return _cosine_topk_sql(routed, c, "__list", k)


def _side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    side: str,
    *keys: str | Column,
    norm_col: str | None = None,
) -> DataFrame:
    """One side of a cosine search: ``{side}_id``, ``{side}_vec``, the
    join ``keys`` and the vector's norm in ``__{side}n``, projected
    once per row of this side, not once per candidate pair. The norm is
    computed here unless ``df`` already holds it in ``norm_col``."""
    n = F.col(norm_col) if norm_col else norm(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(f"{side}_id"),
        F.col(vec_col).alias(f"{side}_vec"),
        *keys,
        n.alias(f"__{side}n"),
    )


def _cosine_topk(q: DataFrame, c: DataFrame, on: str | None, k: int) -> DataFrame:
    """The retrieval kernel every vector search shares: pair the
    (small, broadcast) query side ``q`` with its candidates ``c`` —
    all of them when ``on`` is None, else those with the same ``on``
    key — score each pair by cosine from the per-side norms, and cut
    each query's candidates to the top ``k`` under ``score_order``
    (cos rounded to 9 dp desc, candidate id asc). Only the candidate
    generator differs between the searches."""
    pairs = F.broadcast(q).crossJoin(c) if on is None else F.broadcast(q).join(c, on)
    scored = pairs.filter(F.col("q_id") != F.col("c_id")).select(
        "q_id",
        "c_id",
        cosine_from_norms(
            F.col("q_vec"), F.col("c_vec"), F.col("__qn"), F.col("__cn")
        ).alias("cos"),
    )
    return top_k_per_group(scored, "q_id", "cos", "c_id", k).select(
        "q_id", "c_id", "rank", F.round("cos", 6).alias("cos_sim")
    )


def topk_bruteforce(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids_max: int,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector with id <
    ``query_ids_max``: every corpus vector is a candidate. The query
    side is tiny → broadcast; the corpus is scanned once."""
    q = _side(emb.filter(F.col(id_col) < query_ids_max), id_col, vec_col, "q")
    c = _side(emb, id_col, vec_col, "c")
    return _cosine_topk(q, c, None, k)


def lsh_bucket_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    query_ids_max: int,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket."""
    bucketed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        bucket_expr(F.col(vec_col), dims).alias("bucket"),
        norm(F.col(vec_col)).alias("__n"),
    )
    q = _side(
        bucketed.filter(F.col(id_col) < query_ids_max),
        id_col,
        vec_col,
        "q",
        "bucket",
        norm_col="__n",
    )
    c = _side(bucketed, id_col, vec_col, "c", "bucket", norm_col="__n")
    return _cosine_topk(q, c, "bucket", k)


def label_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Per-label centroid via ``applyInPandas`` (grouped-map) — the IVF
    coarse-quantizer build step, and the engine's demonstration of the
    sanctioned Python path for custom numeric group operators: Arrow
    batches, one pandas frame per group, numpy inside.

    Rows are summed in ``id_col`` order (sorted inside the group) so the
    float result is deterministic regardless of shuffle arrival order —
    required for the value-hash oracle, and good hygiene anyway.
    """
    import functools

    import numpy as np
    import pandas as pd

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        arrays = [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        total = functools.reduce(np.add, arrays)  # sequential, ordered
        c = np.round(total / len(arrays), round_to)
        return pd.DataFrame(
            {
                label_col: [pdf[label_col].iloc[0]],
                "n_vectors": [len(arrays)],
                "centroid": [c.tolist()],
            }
        )

    return emb.groupBy(label_col).applyInPandas(
        centroid,
        schema=f"{label_col} int, n_vectors long, centroid array<double>",
    )


def ivf_route(
    emb: DataFrame, id_col: str, vec_col: str, label_col: str, q: DataFrame
) -> DataFrame:
    """IVF routing with ``nprobe=1``: the coarse quantizer is one
    centroid per ``label_col`` value (``label_centroids`` — the IVF list
    assignment is given by the label here; a production build would
    k-means its own lists), and each query of ``q`` (``q_id``,
    ``q_vec``, …) goes to its nearest centroid by cosine. The centroid
    set is tiny → broadcast; the argmax uses ``score_order`` with a
    list-asc tie-break. Returns ``q``'s columns plus the routed
    ``__list``."""
    cents = label_centroids(emb, id_col, vec_col, label_col).select(
        F.col(label_col).alias("__list"), F.col("centroid")
    )
    routed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select(
            *q.columns,
            "__list",
            cosine(F.col("q_vec"), F.col("centroid")).alias("__rcos"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(*score_order("__rcos", "__list"))
    return (
        routed.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select(*q.columns, "__list")
    )


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_ids_max: int,
    k: int = 5,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: route each query to its
    list (:func:`ivf_route`), then take candidates from ONLY that list.

    At 100 TB the corpus is written partitioned by list id, so the
    candidate scan is partition pruning — each query reads
    corpus/n_lists, not the corpus.
    """
    q = _side(emb.filter(F.col(id_col) < query_ids_max), id_col, vec_col, "q")
    c = _side(emb, id_col, vec_col, "c", F.col(label_col).alias("__list"))
    return _cosine_topk(ivf_route(emb, id_col, vec_col, label_col, q), c, "__list", k)


def near_dup_pairs_bucketed(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    threshold: float,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Production embedding near-dup: LSH-bucket first (one hash table
    of ``n_planes`` random hyperplanes), exact-cosine verify within
    buckets only. Candidate volume is O(Σ_b |bucket_b|²) ≈ N²/2^planes
    for balanced buckets instead of N² — and the bucket self-join is a
    plain shuffle equi-join, so Spark parallelizes per bucket. At real
    scale ``n_planes`` grows with the corpus (buckets ≈ N/constant) and
    the corpus is written partitioned by bucket so the join prunes to
    one partition per bucket; recall vs the exact form is measured by
    the sampled all-pairs eval twin (``near_dup_pairs``) and the
    ``sim_recall_curve_nplanes`` query."""
    # The norm is projected once per SIDE, not evaluated per pair:
    # pair volume here scales as N²/2^planes, and at corpus scale the
    # per-pair norms would be 2/3 of the verify arithmetic (A/B
    # best-of-4 at sf0.1: 0.94 → 0.81 s even at this SF).
    bk = emb.select(
        F.col(id_col),
        F.col(vec_col),
        bucket_expr(F.col(vec_col), dims, n_planes).alias("bucket"),
    ).withColumn("__n", norm(F.col(vec_col)))
    a = bk.select(
        "bucket",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("__n").alias("na"),
    )
    b = bk.select(
        "bucket",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("__n").alias("nb"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_from_norms(
                    F.col("vec_a"), F.col("vec_b"), F.col("na"), F.col("nb")
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def near_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    sample_mod: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs above a threshold —
    the recall-eval twin of ``near_dup_pairs_bucketed`` (which is the
    production registry shape). ``sample_mod`` restricts the left side
    to ids ≡ 0 (mod m) to bound the cross join; this form exists to
    measure the bucketed form's recall, not to run on a full corpus."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    if sample_mod:
        a = a.filter(F.col("id_a") % sample_mod == 0)
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )
