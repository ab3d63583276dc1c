"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design per operator (all deterministic → DuckDB-oracle checkable):

- **Exact**: group/window on the text (or its md5 fingerprint at scale)
  — canonical doc = min doc_id per group.
- **N-gram Jaccard**: word 3-gram shingles → inverted index
  (shingle → docs) self-join → pair intersection counts → Jaccard.
  The self-join explodes on hot shingles; at 100 TB drop shingles with
  document frequency above a cap (they contribute candidates, not
  discrimination) — exposed via ``max_shingle_df``.
- **MinHash + LSH**: 8 permutations approximated by ``min(md5(seed || shingle))``
  (lexicographic min of hex digests — portable across engines, no
  integer hashing needed), banded 4×2; candidates = docs sharing a band
  bucket; verified by exact Jaccard. Shuffle cost is O(docs × 8 sigs)
  instead of O(pairs) — the 100 TB path.
- **SimHash**: 16-bit fingerprint from per-word md5 nibbles; near-dups
  = identical fingerprints (bucket join, no pair explosion).

No UDFs anywhere — md5/min/groupBy are all JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trackdechets_etl_spark.functions.scalar import hash_key
from trackdechets_etl_spark.session import materialize

N_MINHASH = 8
N_BANDS = 4  # rows per band = N_MINHASH // N_BANDS = 2
SIMHASH_BITS = 16


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: every row mapped to the canonical
    (minimum) id sharing identical text. ``is_dup`` flags non-canonical
    rows. At scale, group on ``fingerprint_md5(text)`` instead of the
    raw text to shrink the shuffle key."""
    w = Window.partitionBy(text_col)
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("keep_id"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_dup"),
    )


def exact_canonical_ids(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Ids of the canonical (minimum-id) doc per identical-text group,
    keyed on the md5 fingerprint: the shuffle moves 32-byte keys, not
    whole documents — the form every composed pipeline should use
    (:func:`exact_dedup`'s full row-level output shuffles the text
    itself to window over it). Result-identical to grouping on the raw
    text barring md5 collisions (~n²/2^129)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).
    ``array_distinct`` dedups within the doc BEFORE the explode, so the
    output is already (id, shingle)-distinct — no post-explode
    ``.distinct()`` (that would be a redundant full shuffle of the
    exploded table)."""
    ws = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(ws) - (n - 1), F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, n)))
    return df.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))


def shingle_keys(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, k): each shingle of an (id, shingle) frame replaced by its
    :func:`hash_key`. Every join, window and count of the keyed-shingle
    steps below runs on ``k``: the shuffle moves 8-byte keys instead of
    ~25-byte strings, and the ascending ``k`` order is the global
    shingle order the prefix filters rely on. A 64-bit collision
    between two distinct shingles of one doc pair would add one to its
    overlap count (expected ≈ n²/2⁶⁵ colliding pairs over n distinct
    shingles)."""
    return sh.select(F.col(id_col), hash_key("shingle").alias("k"))


def shingle_positions(keyed: DataFrame, id_col: str) -> DataFrame:
    """(id, k, __rn, n_sh): each key's 1-based position in its doc's
    ascending key order, and the doc's key count. ``n_sh`` is a window
    count over the SAME partition key as the position ``row_number``,
    so it rides that window's exchange+sort instead of a separate sizes
    aggregate joined back (r14 join-free owner counting; interleaved
    A/B at sf0.1: faster all 4 rounds, best 1.63 → 1.54 s)."""
    w = Window.partitionBy(id_col).orderBy("k")
    return keyed.select(
        id_col,
        "k",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("n_sh"),
    )


def in_prefix(threshold: float) -> Column:
    """True on the :func:`shingle_positions` rows inside their doc's
    AllPairs prefix, the first ``n_sh - ceil(t·n_sh) + 1`` positions:
    two docs with overlap ≥ ceil(t·n_sh) must share a key there. The
    ``1e-9`` keeps ``ceil`` from rounding an exactly integral ``t·n_sh``
    UP on its binary representation, which would shorten the prefix and
    lose pairs."""
    return (
        F.col("__rn")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9)) + 1
    )


def _side(pos: DataFrame, id_col: str, side: str) -> DataFrame:
    """A :func:`shingle_positions` frame as one side of a candidate
    join: (id_<side>, k, n_<side>, rn_<side>)."""
    return pos.select(
        F.col(id_col).alias(f"id_{side}"),
        "k",
        F.col("n_sh").alias(f"n_{side}"),
        F.col("__rn").alias(f"rn_{side}"),
    )


def jaccard_candidates(
    pref_a: DataFrame,
    pref_b: DataFrame,
    id_col: str,
    threshold: float,
    keep: Column | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b) pairs, ``pref_a`` × ``pref_b`` prefix rows
    sharing a key (and passing ``keep``), that can still reach Jaccard
    ≥ threshold: a superset of the true pairs.

    Size ratio: J ≤ min/max. PPJoin positional bound (r13): for a
    shared key at sorted positions (i, j), overlap(a, b) ≤ 1 +
    min(n_a − i, n_b − j) holds at the pair's FIRST common key (all
    other common keys sort after it on both sides), and J ≥ t ⇔
    overlap ≥ t/(1+t)·(n_a+n_b) — so a true pair always keeps its
    first-match row and the distinct still sees it (measured 2.75×
    fewer distinct candidates at sf0.1, 81,635 → 29,633). The ``1e-9``
    slack on both float bounds keeps them lossless under binary
    rounding of t."""
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
        - F.lit(1e-9)
    )
    bounds = (
        F.least("n_a", "n_b")
        >= F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(1e-9)
    ) & (
        F.lit(1) + F.least(F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b"))
        >= alpha
    )
    return (
        _side(pref_a, id_col, "a")
        .join(_side(pref_b, id_col, "b"), "k")
        .filter(bounds if keep is None else keep & bounds)
        .select("id_a", "id_b")
        .distinct()
    )


def overlap_counts(candidates: DataFrame, keyed: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, n_inter): shared keys per candidate pair, built by
    expanding the candidate pairs against the keyed frame (two key
    joins) instead of the full inverted-index self-join — the self-join
    is O(Σ df²) over key document frequencies, the expansion
    O(|candidates| × keys/doc). Pairs sharing no key are absent."""
    a = keyed.select(F.col(id_col).alias("id_a"), "k")
    b = keyed.select(F.col(id_col).alias("__idb"), F.col("k").alias("__kb"))
    return (
        candidates.join(a, "id_a")
        .join(b, (F.col("id_b") == F.col("__idb")) & (F.col("k") == F.col("__kb")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _pair_jaccard(
    keyed: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Jaccard for doc pairs from a :func:`shingle_keys` frame;
    restricted to a candidate-pair frame (id_a, id_b) when given
    (:func:`overlap_counts`), else over the full inverted-index
    self-join — the naive reference the prefix filters are tested
    against."""
    sizes = keyed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if candidates is None:
        a = keyed.select(F.col(id_col).alias("id_a"), "k")
        b = keyed.select(F.col(id_col).alias("id_b"), "k")
        inter = (
            a.join(b, "k")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        inter = overlap_counts(candidates, keyed, id_col)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    n: int = 3,
    max_shingle_df: int | None = None,
    prefix_filter: bool = True,
) -> DataFrame:
    """All doc pairs with word-n-gram Jaccard ≥ threshold — EXACT output
    (the DuckDB oracle is the naive full self-join).

    ``prefix_filter=True`` enables AllPairs/PPJoin-style prefix
    filtering: under any global total order on shingles (here: their
    :func:`hash_key` value), two docs with J ≥ t MUST share a shingle within
    each one's first ``|d| - ceil(t*|d|) + 1`` shingles. Only those
    prefixes enter the inverted-index self-join, shrinking it by
    ~(1-t)² (25× at t=0.8); a size-ratio filter (min/max ≥ t, another
    Jaccard necessary condition) prunes candidates further, and exact
    Jaccard verification runs on the surviving pairs only. Same
    result set, provably — the epsilon slack on both float boundaries
    keeps the guarantee despite binary-decimal rounding of t.

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs before indexing — the skew guard for web-scale hot shingles
    (a stopword shingle shared by 1M docs would otherwise produce
    10^12 candidate rows). Note it changes semantics (documented in
    the oracle when used).
    """
    sh = shingles(df, text_col, id_col, n)
    if max_shingle_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = (
            sh.join(df_counts.filter(F.col("df") <= max_shingle_df), "shingle")
            .drop("df")
        )
    if not prefix_filter:
        return _pair_jaccard(shingle_keys(sh, id_col), id_col).filter(
            F.col("jaccard") >= threshold
        )

    # One keyed shingle frame feeds FOUR consumers (sizes, the prefix
    # window, and both sides of the verification join); checkpoint it
    # so the split+transform+explode of the raw text runs once, not
    # per consumer. EAGER: with four consumers the broadcast/shuffle
    # jobs otherwise race the lazy materialization and re-execute the
    # lineage (r6 A/B at sf0.1: eager 2.00s vs lazy 2.40s; the r5
    # lazy-wins measurement only holds for the tiny-frame CC loop).
    keyed = materialize(shingle_keys(sh, id_col))
    pref = shingle_positions(keyed, id_col).filter(in_prefix(threshold))
    candidates = jaccard_candidates(
        pref, pref, id_col, threshold, keep=F.col("id_a") < F.col("id_b")
    )
    return _pair_jaccard(keyed, id_col, candidates).filter(
        F.col("jaccard") >= threshold
    )


def minhash_signatures(sh: DataFrame, id_col: str, n_hashes: int = N_MINHASH) -> DataFrame:
    """MinHash signature per doc: h_i = min over shingles of
    md5(i || ':' || shingle). Lexicographic min over hex strings is a
    valid min-hash family and is engine-portable (no 64-bit int
    wrangling). One groupBy computes all signatures (map-side partial
    aggregation applies)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified by exact Jaccard.

    Bands of 2 signatures hash docs into buckets; only bucket-colliding
    pairs are candidates, so the join is linear in docs (times bands),
    not quadratic. Verification recomputes true Jaccard on the
    candidates only.
    """
    # The shingle table feeds the signatures, the candidate verify join
    # (twice), and the size counts. Exchange reuse dedups only the
    # consumers that shuffle identically; the rest re-run the text
    # explode, so a LAZY materialize (computed inside the
    # query's own first action — no extra job) shares it: measured at
    # sf0.1 1.43s → 1.27s, pair set unchanged.
    sh = materialize(shingles(df, text_col, id_col, n), eager=False)
    candidates = minhash_candidates(sh, id_col)
    return _pair_jaccard(shingle_keys(sh, id_col), id_col, candidates).filter(
        F.col("jaccard") >= threshold
    )


def minhash_candidates(sh: DataFrame, id_col: str) -> DataFrame:
    """LSH bucket-colliding candidate pairs from a shingle frame —
    the pre-verification stage of :func:`minhash_lsh_pairs`, exposed
    separately so the recall of the banding scheme can be measured
    against the exact pair set (``dedup_minhash_recall``)."""
    sigs = minhash_signatures(sh, id_col)
    rows_per_band = N_MINHASH // N_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias("bucket"),
        )
        for b in range(N_BANDS)
    ]
    banded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("band")
    ).select(id_col, "band.band_id", "band.bucket")
    left = banded.select(F.col(id_col).alias("id_a"), "band_id", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band_id", "bucket")
    return (
        left.join(right, ["band_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash per doc from word md5 nibbles: bit b is the sign
    of sum(±1) over words, where a word votes +1 on bit b iff the b-th
    hex nibble of md5(word) > 7. Aggregation is a single groupBy with 16
    conditional sums — partial-aggregates map-side."""
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    tokens = tokens.withColumn("h", F.md5(F.col("w")))
    # nibble > 7 ⇔ hex char >= '8' (digits sort before 'a'-'f' in
    # ASCII) — a one-char comparison instead of conv() base conversion.
    bit_sums = [
        F.sum(
            F.when(F.substring(F.col("h"), b + 1, 1) >= "8", F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = tokens.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-dup candidates: identical SimHash fingerprints (bucket join
    — linear, no pair explosion)."""
    fp = simhash_fingerprints(df, text_col, id_col)
    a = fp.select(F.col(id_col).alias("id_a"), "simhash")
    b = fp.select(F.col(id_col).alias("id_b"), "simhash")
    return (
        a.join(b, "simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "simhash")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    n: int = 3,
    prefix_filter: bool = True,
) -> DataFrame:
    """Ordered near-dup pairs by shingle CONTAINMENT
    ``C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ threshold`` — the asymmetric
    measure that catches a document EMBEDDED in a larger one (quotes,
    excerpts, boilerplate-wrapped copies), which symmetric Jaccard
    misses whenever the host document is much larger. Output rows are
    ordered: (id_a contained-in id_b), a ≠ b, both directions possible.

    The AllPairs prefix theorem adapts asymmetrically: under a global
    shingle order, C(A,B) ≥ t needs ``ceil(t·|A|)`` shared shingles, so
    A must share one of its first ``|A| - ceil(t·|A|) + 1`` shingles
    with B — only the CONTAINED side is prefix-pruned; the host side
    stays fully indexed. A size bound (``|B| ≥ t·|A|``) and the PPJoin
    positional bound (``1 + min(|A|−i, |B|−j) ≥ ceil(t·|A|)`` at the
    pair's first common shingle) prune candidates further.
    EXACT output: the DuckDB oracle is the naive inverted-index join,
    and fast == naive is pinned in tests/test_llm.py."""
    keyed = materialize(
        shingle_keys(shingles(df, text_col, id_col, n), id_col), eager=False
    )
    sizes = keyed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if prefix_filter:
        pos = shingle_positions(keyed, id_col)
        # The host side stays fully indexed but carries its sorted
        # position too: the r13 PPJoin positional bound adapts to
        # containment. The pair's first common key is the MINIMUM
        # common key value, hence first in BOTH docs' sorted orders,
        # so overlap ≤ 1 + min(n_a − i, n_b − j) holds at that row;
        # C ≥ t needs overlap ≥ ceil(t·n_a), so a true pair always
        # keeps its first-match row and the distinct still sees it —
        # exact output preserved.
        need = F.ceil(F.lit(threshold) * F.col("n_a") - F.lit(1e-9))
        candidates = (
            _side(pos.filter(in_prefix(threshold)), id_col, "a")
            .join(_side(pos, id_col, "b"), "k")
            .filter(
                (F.col("id_a") != F.col("id_b"))
                # size necessary condition: C ≤ |B|/|A|
                & (F.col("n_b") >= F.lit(threshold) * F.col("n_a") - F.lit(1e-9))
                & (
                    F.lit(1)
                    + F.least(
                        F.col("n_a") - F.col("rn_a"),
                        F.col("n_b") - F.col("rn_b"),
                    )
                    >= need
                )
            )
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        a = keyed.select(F.col(id_col).alias("id_a"), "k")
        b = keyed.select(F.col(id_col).alias("id_b"), "k")
        candidates = (
            a.join(b, "k")
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    inter = overlap_counts(candidates, keyed, id_col)
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), "n_sh"), "id_a")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_inter") / F.col("n_sh"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
