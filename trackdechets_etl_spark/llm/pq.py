"""Product quantization (PQ) for embedding compression + ANN scoring.

The classic IVF-ADC building block (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011) re-expressed as pure
DataFrame algebra — no UDFs, no driver-side numpy:

- the 64-dim vector is split into ``M`` subvectors of ``DSUB`` dims;
- each subspace gets a ``K``-entry codebook trained by one Lloyd
  iteration from deterministic seeds (the subvectors of vec_ids
  0, 17, 34, … — fixed so the exact same codebook falls out of the
  DuckDB oracle's unrolled CTEs);
- a vector's code is the per-subspace nearest centroid → storage drops
  from 64 floats to M small ints (64 B → 4 B at K≤256);
- ADC (asymmetric distance computation): a query is scored against a
  candidate WITHOUT reconstructing it — the query's per-(subspace,
  code) partial dot products form a tiny M×K lookup table, and a
  candidate's score is the sum of M lookups.

Scale shape: the codebook is M*K*DSUB rows (512 here) → broadcast;
codes are M small ints per vector — the 100 TB corpus shrinks ~16× for
the scoring pass, and the per-query work is a broadcast-joined sum over
codes, never a scan of raw vectors. Everything is a narrow exploded
frame: (vec_id, m, i, val) — the same layout embedding_pc1 uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trackdechets_etl_spark.llm.similarity import as_double, ivf_route
from trackdechets_etl_spark.operators.ranking import top_k_per_group, top_k_per_group_sql
from trackdechets_etl_spark.session import materialize

# Parameters picked by a measured sweep on the test corpus (numpy
# prototype, recall@5 vs exact): (M=4, K=8) → 0.02, (16, 16) → 0.26,
# (32, 16) → 0.62. Narrow subspaces win on these embeddings; K stays 16
# so every codebook seed vec_id (j*17 ≤ 255) exists at every SF.
M = 32  # subspaces
DSUB = 2  # dims per subspace (M * DSUB = embedding dims)
K = 16  # codes per subspace
SEED_STRIDE = 17  # codebook seed j initialized from vec_id = j * 17


def explode_subspaces(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, m, i, val) long form: i is the 1-based global dim, m the
    0-based subspace index. One narrow explode — the input layout for
    every PQ stage."""
    return emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(as_double(F.col(vec_col))).alias("i0", "val"),
    ).select(
        "vid",
        (F.col("i0") + 1).cast("int").alias("i"),
        (F.col("i0") / F.lit(DSUB)).cast("int").alias("m"),
        "val",
    )


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment per (vector, subspace): L2 distance
    to each of the K centroids, argmin via row_number with the
    engine-stable (round(dist, 9), code) key.

    r14 shape: the subvector is first PIVOTED to one row per
    (vid, m) with DSUB value columns (one n×M×DSUB → n×M aggregation),
    and the K× centroid fanout + distance happen on that paired frame
    as a scalar expression — no post-fanout aggregation at all. The
    old long-form path shuffled the K×-fanned frame twice (partial-agg
    rows ≈ n×M×K into the distance groupBy, then again into the argmin
    window); now one n×M-row exchange feeds the pivot, the broadcast
    fanout is map-side, and the argmin window reuses the pivot's
    hash(vid, m) partitioning — assign-stage shuffle drops ~2·K×.
    Bit-identical: with DSUB = 2 the old sum aggregated exactly two
    IEEE doubles (addition of two terms is order-independent), and the
    paired form adds the same two squares in fixed order; the
    (round(dist, 9), code) tie-break is unchanged. Measured
    (interleaved best-of-4, sf0.1): ivfpq 4.97 → 4.61 s faster all
    rounds, pq_recall 5.07 → 4.66 s best; exact-equal at sf0.001/0.01.
    """
    assert DSUB == 2, "the paired-dims exactness argument assumes DSUB == 2"
    e2 = e.groupBy("vid", "m").agg(
        *[
            F.min(
                F.when((F.col("i") - 1) % DSUB == off, F.col("val"))
            ).alias(f"v{off}")
            for off in range(DSUB)
        ]
    )
    c2 = cents.groupBy("m", "code").agg(
        *[
            F.min(
                F.when((F.col("i") - 1) % DSUB == off, F.col("cval"))
            ).alias(f"c{off}")
            for off in range(DSUB)
        ]
    )
    dist = (F.col("v0") - F.col("c0")) * (F.col("v0") - F.col("c0"))
    for off in range(1, DSUB):
        dist = dist + (F.col(f"v{off}") - F.col(f"c{off}")) * (
            F.col(f"v{off}") - F.col(f"c{off}")
        )
    d = e2.join(F.broadcast(c2), "m").select(
        "vid", "m", "code", dist.alias("dist")
    )
    w = Window.partitionBy("vid", "m").orderBy(F.round(F.col("dist"), 9), "code")
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vid", "m", "code")
    )


def train_codebook(e: DataFrame) -> DataFrame:
    """One deterministic Lloyd iteration per subspace: seed centroids
    from the subvectors of vec_ids 0, 17, …, (K-1)*17, assign every
    vector, then recompute centroids as assigned means. Returns
    (m, code, i, cval). A production build would iterate to
    convergence — one step is enough to demonstrate the algebra and
    keep the oracle CTE chain finite (mirroring embedding_pc1's
    fixed-iteration discipline)."""
    c0 = e.filter(
        (F.col("vid") % SEED_STRIDE == 0) & (F.col("vid") < SEED_STRIDE * K)
    ).select(
        (F.col("vid") / SEED_STRIDE).cast("int").alias("code"),
        "m",
        "i",
        F.col("val").alias("cval"),
    )
    a0 = _assign(e, c0)
    cents = (
        e.join(a0, ["vid", "m"])
        .groupBy("m", "code", "i")
        .agg(F.avg("val").alias("cval"))
    )
    # The codebook is consumed by encoding, query partials, AND norms;
    # it is M*K*DSUB rows (~1k) — checkpoint so the Lloyd chain above
    # runs once, not once per consumer.
    return materialize(cents)


def pq_encode(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Final codes (vid, m, code) — M small ints per vector, the
    compressed representation that replaces the raw vectors in the
    scoring pass. Checkpointed: the scoring pass reads codes twice
    (ADC lookups + candidate norms) and codes are n×M ints, the frame
    PQ exists to make small."""
    return materialize(_assign(e, cents))


def _query_tables(
    e: DataFrame, cents: DataFrame, query_ids_max: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """What ADC needs from the query side and the codebook: the
    queries' per-(m, code) partial dots ``partial`` (the M×K lookup
    table, broadcast), each code's squared centroid norm ``cn2``
    (a candidate's norm is the root of its codes' sum) and the exact
    query norms ``qnorm``."""
    qe = e.filter(F.col("vid") < query_ids_max)
    partial = (
        qe.join(F.broadcast(cents), ["m", "i"])
        .groupBy(F.col("vid").alias("q_id"), "m", "code")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("pdot"))
    )
    cn2 = cents.groupBy("m", "code").agg(
        F.sum(F.col("cval") * F.col("cval")).alias("n2")
    )
    qnorm = qe.groupBy(F.col("vid").alias("q_id")).agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("qnorm")
    )
    return partial, cn2, qnorm


def _adc_cut(scored: DataFrame, k: int) -> DataFrame:
    """Approximate cosine ``adot / (qnorm * cnorm)`` per (query,
    candidate) pair, cut to each query's top ``k``."""
    cos = scored.filter(F.col("c_id") != F.col("q_id")).select(
        "q_id",
        "c_id",
        (F.col("adot") / (F.col("qnorm") * F.col("cnorm"))).alias("cos"),
    )
    return top_k_per_group(cos, "q_id", "cos", "c_id", k).select(
        "q_id", "c_id", "rank", F.round("cos", 6).alias("cos_approx")
    )


def adc_topk(
    e: DataFrame,
    codes: DataFrame,
    cents: DataFrame,
    query_ids_max: int,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k cosine via ADC: the query's per-(m, code)
    partial dots form an M×K broadcast table; a candidate's approximate
    dot is the sum of its M code lookups, and its norm comes from the
    codebook (sum of its centroids' squared norms). Raw candidate
    vectors are never touched — only codes."""
    partial, cn2, qnorm = _query_tables(e, cents, query_ids_max)
    cnorm = (
        codes.join(F.broadcast(cn2), ["m", "code"])
        .groupBy(F.col("vid").alias("c_id"))
        .agg(F.sqrt(F.sum("n2")).alias("cnorm"))
    )
    adc = (
        codes.join(F.broadcast(partial), ["m", "code"])
        .groupBy(F.col("vid").alias("c_id"), "q_id")
        .agg(F.sum("pdot").alias("adot"))
    )
    return _adc_cut(adc.join(cnorm, "c_id").join(F.broadcast(qnorm), "q_id"), k)


def ivfpq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_ids_max: int,
    k: int = 5,
) -> DataFrame:
    """IVF-ADC: the FAISS-style composition of the coarse inverted file
    with PQ-compressed residual scoring — route each query to its
    nearest list centroid (nprobe=1), then ADC-score ONLY that list's
    candidates from their codes. The scoring pass touches M small ints
    per candidate instead of the raw vector, and only candidates in the
    routed list: work per query is |list|/|corpus| × 16×-compressed.
    At 100 TB: codes live partitioned by list id (partition pruning on
    the probe), the codebook and the query's M×K lookup table broadcast.
    """
    q = emb.filter(F.col(id_col) < query_ids_max).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    assigned = ivf_route(emb, id_col, vec_col, label_col, q).select("q_id", "__list")

    # --- PQ codebook + codes over the full corpus
    e = materialize(explode_subspaces(emb, id_col, vec_col))
    cents = train_codebook(e)
    codes = pq_encode(e, cents)

    # --- ADC restricted to the routed list
    partial, cn2, qnorm = _query_tables(e, cents, query_ids_max)
    labels = emb.select(
        F.col(id_col).alias("vid"), F.col(label_col).alias("__list")
    )
    cand_codes = codes.join(labels, "vid").join(
        F.broadcast(assigned), "__list"
    )
    # Candidate norms ride the ADC aggregation itself: cn2 (M*K rows)
    # broadcast-joins the same frame as the query lookup table, and one
    # groupBy yields sum(pdot) AND sqrt(sum(n2)). This computes norms
    # only for ROUTED-LIST candidates — a separate full-`codes`
    # aggregation would scan every corpus vector's codes when the probe
    # touches |list|/|corpus| of them (the 100 TB shape); it also drops
    # the norm SMJ join. Canon-identical to the separate-aggregate form
    # at sf0.01/0.1 (A/B, round 14); local timing a wash (4.52 vs
    # 4.67 s best-of-4 at sf0.1).
    adc = (
        cand_codes.join(F.broadcast(cn2), ["m", "code"])
        .join(F.broadcast(partial), ["q_id", "m", "code"])
        .groupBy(F.col("vid").alias("c_id"), "q_id")
        .agg(
            F.sum("pdot").alias("adot"),
            F.sqrt(F.sum("n2")).alias("cnorm"),
        )
    )
    return _adc_cut(adc.join(F.broadcast(qnorm), "q_id"), k)


# DuckDB twins of the stages above, as CTE texts for the oracles. They
# read a CTE named ``base`` (vec_id, v DOUBLE[]) and each other's CTEs.

# explode_subspaces (``e``), train_codebook (seeds ``c0``, one Lloyd
# step, codebook ``c1``) and pq_encode (``codes``).
CODES_SQL = f"""e AS (
    SELECT vec_id AS vid, CAST(i AS INT) AS i,
           CAST((i - 1) // {DSUB} AS INT) AS m, v[i] AS val
    FROM base, unnest(generate_series(1, {M * DSUB})) AS u(i)),
c0 AS (
    SELECT CAST(vid // {SEED_STRIDE} AS INT) AS code, m, i, val AS cval
    FROM e WHERE vid % {SEED_STRIDE} = 0 AND vid < {SEED_STRIDE * K}),
d0 AS (
    SELECT e.vid, e.m, c0.code,
           sum((e.val - c0.cval) * (e.val - c0.cval)) AS dist
    FROM e JOIN c0 ON e.m = c0.m AND e.i = c0.i GROUP BY 1, 2, 3),
a0 AS (
    SELECT vid, m, code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vid, m ORDER BY round(dist, 9), code) AS rn
        FROM d0) WHERE rn = 1),
c1 AS (
    SELECT a0.m, a0.code, e.i, avg(e.val) AS cval
    FROM e JOIN a0 ON e.vid = a0.vid AND e.m = a0.m GROUP BY 1, 2, 3),
d1 AS (
    SELECT e.vid, e.m, c1.code,
           sum((e.val - c1.cval) * (e.val - c1.cval)) AS dist
    FROM e JOIN c1 ON e.m = c1.m AND e.i = c1.i GROUP BY 1, 2, 3),
codes AS (
    SELECT vid, m, code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vid, m ORDER BY round(dist, 9), code) AS rn
        FROM d1) WHERE rn = 1)"""


def query_tables_sql(query_ids_max: int) -> str:
    """Twin of :func:`_query_tables` after :data:`CODES_SQL`: the CTEs
    ``partial``, ``cn2`` and ``qn`` (``qnorm``), plus ``cnorm``, every
    code-built candidate norm."""
    return f"""qe AS (SELECT vid AS q_id, m, i, val FROM e WHERE vid < {query_ids_max}),
partial AS (
    SELECT q_id, c1.m, c1.code, sum(qe.val * c1.cval) AS pdot
    FROM qe JOIN c1 ON qe.m = c1.m AND qe.i = c1.i GROUP BY 1, 2, 3),
cn2 AS (SELECT m, code, sum(cval * cval) AS n2 FROM c1 GROUP BY 1, 2),
cnorm AS (
    SELECT codes.vid AS c_id, sqrt(sum(n2)) AS cnorm
    FROM codes JOIN cn2 USING (m, code) GROUP BY 1),
qn AS (SELECT q_id, sqrt(sum(val * val)) AS qnorm FROM qe GROUP BY 1)"""


def adc_cut_sql(adc: str, k: int) -> str:
    """Twin of :func:`_adc_cut` after :func:`query_tables_sql`, over the
    relation ``adc`` (``q_id``, ``c_id``, ``adot``): a SELECT of
    ``q_id``, ``c_id``, ``rank`` and ``cos_approx``."""
    scored = f"""(
    SELECT q_id, c_id, adot / (qnorm * cnorm) AS cos
    FROM {adc} JOIN cnorm USING (c_id) JOIN qn USING (q_id)
    WHERE c_id <> q_id)"""
    return f"""SELECT q_id, c_id, rank, round(cos, 6) AS cos_approx
FROM ({top_k_per_group_sql(scored, 'q_id', 'cos', 'c_id', k)})"""
