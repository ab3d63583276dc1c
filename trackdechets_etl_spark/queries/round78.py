"""Round-14 additions: grep-verified registry gaps in the
statistical / IR / set-similarity families, each under the full oracle
discipline (exact integers until the final divisions, fixed-order
float algebra mirrored verbatim in the DuckDB twin).

- ``lineitem_grubbs_test``: Grubbs' outlier test on extended price —
  G_max = (max − mean)/s and G_min = (mean − min)/s. Mean and sample
  variance come from exact integer micro-unit moments (Σc, Σc² in
  decimal(38,0)/HUGEINT; variance as (n·Σc² − (Σc)²)/(n·(n−1)) — one
  decimal-exact numerator, one division), so there is no Welford
  merge-order drift to diverge on: the only floats are the final
  divisions, identical trees in both engines.
- ``orders_herfindahl``: Herfindahl–Hirschman concentration of
  customer revenue per market segment — HHI = Σ share_i² computed as
  Σ cents_i² / (Σ cents_i)² (two decimal-exact sums, ONE division; no
  per-customer float shares to sum in engine-dependent order), plus
  the normalized HHI (HHI − 1/n)/(1 − 1/n). Complements orders_gini:
  Gini ranks inequality, HHI is the antitrust-style concentration
  number a corpus-mixture audit quotes.
- ``text_dice_tversky``: Dice, overlap and Tversky(α=.8, β=.2) set
  similarity over 3-gram shingle sets for every SimHash near-dup
  candidate pair — the family of asymmetric-weight measures between
  plain Jaccard (dedup_ngram_jaccard) and containment
  (dedup_containment_pairs). Candidates from the linear bucket join;
  intersections from (pair, shingle-key) equi-joins — never all
  pairs; 8-byte ``hash_key`` shingle keys on the engine side (the
  containment_pairs contract: 64-bit collisions are ~2⁻⁴⁰ on fixture
  vocabularies and the 3-SF oracle gate would surface one).
- ``events_jonckheere_dow``: Jonckheere–Terpstra ordered-trend test
  of event value across the day-of-week order (Sun..Sat, the Spark
  ``dayofweek`` coding) — 2·JT accumulated in exact half-units over
  the DISTINCT-cents value frame (c_j(v)·(2·cum_below_i(v) + c_i(v))
  summed over the 21 ordered group pairs in literal order), the same
  domain-bounded single-partition window contract as
  events_mann_whitney_u / events_kruskal_wallis. z uses the classic
  untied-variance normal approximation (documented: tie-corrected
  variance is a different statistic; the untied form is what both
  engines compute identically here).

- ``events_page_trend``: Page's L — the ordered-alternative
  complement of Friedman (as Jonckheere is to Kruskal-Wallis):
  L = Σ_j j·R_j over per-treatment midrank sums across complete-day
  blocks, 2·L integer-exact, untied-variance z. Treatment index j is
  computed relationally (count of types ≤ t over the k-row frame) —
  no window.
- ``orders_atkinson_index``: Atkinson inequality (ε = 0.5, 1) of
  order value per priority — the welfare-theoretic member next to
  orders_gini / orders_herfindahl; Σ√x and Σln x double sums sit
  orders of magnitude under the 6dp rounding.
- ``text_lmir_topk``: Dirichlet-smoothed query-likelihood retrieval
  (μ = 2000, Zhai-Lafferty rank-equivalent decomposition) over the
  text_bm25_topk query set — only matched posting lists are scored
  (the inverted-index contract), rank-constant terms dropped.
- ``events_ansari_bradley``: rank-based SCALE test between the
  user-parity arms (see the function docstring).
- ``events_cohen_kappa``: chance-corrected agreement between two
  binary per-user indicators — the paired-binary complement of
  events_mcnemar (same 2×2, different question); kappa from ONE
  division of two exact integers (see the function docstring).

Reference provenance: none of these exist in the reference's 539-line
pandas surface (dags/icpe-siretisation.py, dags/publish-open-data.py);
they extend the engine along the driver-mandated training-pipeline /
data-QA axis. Tests in tests/test_round78.py; queued for the round-14
verification window (see queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.operators.ranking import top_k_per_group
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

_DEC = "decimal(38,0)"


def _dec(c):
    return c.cast(_DEC)


# ------------------------------------------------- Grubbs' test


def _lineitem_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_dec(F.col("c"))).alias("s1"),
        F.sum(_dec(F.col("c")) * _dec(F.col("c"))).alias("s2"),
        F.max("c").alias("mx"),
        F.min("c").alias("mn"),
    )
    nd = _dec(F.col("n"))
    num = nd * F.col("s2") - F.col("s1") * F.col("s1")
    den = nd * (nd - 1)
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    sd = F.sqrt(num.cast("double") / den.cast("double"))
    # degenerate-data guard on the EXACT integers (the mood-median
    # contract): n<=1 or constant data makes sd 0/NULL in Spark but
    # inf/NaN in DuckDB — both engines must answer NULL there
    ok = (F.col("n") > 1) & (num > 0)
    return s.select(
        "n",
        F.col("mx").alias("max_cents"),
        F.col("mn").alias("min_cents"),
        F.round(mean, 6).alias("mean_cents"),
        F.round(F.when(ok, sd), 6).alias("sd_cents"),
        F.round(
            F.when(ok, (F.col("mx").cast("double") - mean) / sd), 6
        ).alias("g_max"),
        F.round(
            F.when(ok, (mean - F.col("mn").cast("double")) / sd), 6
        ).alias("g_min"),
    )


GRUBBS_SQL = """
WITH c AS (
    SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
    FROM lineitem),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(CAST(c AS HUGEINT)) AS s1,
           sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2,
           max(c) AS mx, min(c) AS mn
    FROM c),
d AS (
    SELECT n, mx, mn,
           n > 1 AND CAST(n AS HUGEINT) * s2 - s1 * s1 > 0 AS ok,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           sqrt(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)) AS sd
    FROM s)
SELECT n, mx AS max_cents, mn AS min_cents,
       round(mean, 6) AS mean_cents,
       round(CASE WHEN ok THEN sd END, 6) AS sd_cents,
       round(CASE WHEN ok
             THEN (CAST(mx AS DOUBLE) - mean) / sd END, 6) AS g_max,
       round(CASE WHEN ok
             THEN (mean - CAST(mn AS DOUBLE)) / sd END, 6) AS g_min
FROM d
"""


# ------------------------------------------------ Herfindahl index


def _orders_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join: orders roll up to per-customer revenue
    FIRST (map-side combined on o_custkey), then the customer dim
    joins on the same key and the segment rollup follows — the fact
    table crosses the network once, already reduced to one row per
    customer."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    rev = o.groupBy("o_custkey").agg(F.sum(_dec(F.col("c"))).alias("r"))
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    g = rev.join(cust, "o_custkey").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("r")).alias("s1"),
        F.sum(F.col("r") * F.col("r")).alias("s2"),
    )
    hhi = F.col("s2").cast("double") / (
        F.col("s1").cast("double") * F.col("s1").cast("double")
    )
    inv_n = F.lit(1.0) / F.col("n_customers").cast("double")
    # s1 = 0 (all-zero revenue) would be 0/0: NULL in Spark, NaN in
    # DuckDB — guard on the exact decimal so both answer NULL
    pos = F.col("s1") > 0
    return g.select(
        "c_mktsegment",
        "n_customers",
        F.round(F.when(pos, hhi), 6).alias("hhi"),
        F.round(
            F.when(
                pos & (F.col("n_customers") > 1),
                (hhi - inv_n) / (1.0 - inv_n),
            ).otherwise(F.when(pos, F.lit(1.0))),
            6,
        ).alias("hhi_norm"),
    ).orderBy("c_mktsegment")


HERFINDAHL_SQL = """
WITH rev AS (
    SELECT o_custkey,
           sum(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
               AS HUGEINT)) AS r
    FROM orders GROUP BY o_custkey),
g AS (
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           sum(r) AS s1, sum(r * r) AS s2
    FROM rev JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment)
SELECT c_mktsegment, n_customers,
       round(CASE WHEN s1 > 0 THEN CAST(s2 AS DOUBLE)
             / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) END, 6)
           AS hhi,
       round(CASE WHEN s1 > 0 AND n_customers > 1
             THEN (CAST(s2 AS DOUBLE)
                   / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   - 1.0 / CAST(n_customers AS DOUBLE))
                  / (1.0 - 1.0 / CAST(n_customers AS DOUBLE))
             WHEN s1 > 0 THEN 1.0 END, 6) AS hhi_norm
FROM g
ORDER BY c_mktsegment
"""


# --------------------------------------- Dice / overlap / Tversky

_TV_A = 0.8
_TV_B = 0.2


def _text_dice_tversky(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.dedup import (
        overlap_counts,
        shingle_keys,
        shingles,
        simhash_pairs,
    )

    d = read_table(spark, sf_dir, "documents")
    # pairs has TWO consumers (the inter join and the final j frame) —
    # eager materialize per the round75 many-consumer rule, so the
    # SimHash fingerprint aggregate + bucket self-join run once.
    # Interleaved A/B at sf0.1 (8 rounds, all faster): best
    # 2.42 → 1.92 s (r15; AQE ReusedExchange covers the shingle frame's
    # identical self-join sides — the r14 wash — but not the two
    # disjoint consumptions of the pairs subtree).
    pairs = materialize(
        simhash_pairs(d, "text", "doc_id")
        .select("id_a", "id_b")
    )
    sh = shingle_keys(shingles(d, "text", "doc_id"), "doc_id")
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    inter = overlap_counts(pairs, sh, "doc_id")
    za = sizes.select(
        F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")
    )
    zb = sizes.select(
        F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")
    )
    j = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .withColumn("i", F.coalesce("n_inter", F.lit(0)))
    )
    i_d = F.col("i").cast("double")
    return j.select(
        "id_a",
        "id_b",
        F.col("n_a"),
        F.col("n_b"),
        F.col("i").alias("n_inter"),
        F.round(
            2.0 * i_d / (F.col("n_a") + F.col("n_b")).cast("double"), 6
        ).alias("dice"),
        F.round(
            i_d / F.least("n_a", "n_b").cast("double"), 6
        ).alias("overlap_coef"),
        F.round(
            i_d
            / (
                i_d
                + F.lit(_TV_A) * (F.col("n_a") - F.col("i")).cast("double")
                + F.lit(_TV_B) * (F.col("n_b") - F.col("i")).cast("double")
            ),
            6,
        ).alias("tversky"),
    ).orderBy("id_a", "id_b")


def _dice_sql() -> str:
    from trackdechets_etl_spark.queries.llm import (
        _SHINGLES,
        _SIM_FP,
        _SIM_SUMS,
    )

    return f"""
WITH tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
th AS (SELECT doc_id, md5(w) AS h FROM tok0),
sums AS (SELECT doc_id, {_SIM_SUMS} FROM th GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SIM_FP} AS BIGINT) AS simhash FROM sums),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM fp a JOIN fp b ON a.simhash = b.simhash
    WHERE a.doc_id < b.doc_id),
{_SHINGLES.lstrip()},
inter AS (
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_inter
    FROM pairs
    JOIN sh a ON a.doc_id = id_a
    JOIN sh b ON b.doc_id = id_b AND b.shingle = a.shingle
    GROUP BY id_a, id_b),
j AS (
    SELECT p.id_a, p.id_b, za.n_sh AS n_a, zb.n_sh AS n_b,
           COALESCE(n_inter, 0) AS i
    FROM pairs p
    LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
    JOIN sizes za ON za.doc_id = p.id_a
    JOIN sizes zb ON zb.doc_id = p.id_b)
SELECT id_a, id_b, n_a, n_b, i AS n_inter,
       round(2.0 * CAST(i AS DOUBLE) / CAST(n_a + n_b AS DOUBLE), 6)
           AS dice,
       round(CAST(i AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 6)
           AS overlap_coef,
       round(CAST(i AS DOUBLE)
             / (CAST(i AS DOUBLE)
                + {_TV_A} * CAST(n_a - i AS DOUBLE)
                + {_TV_B} * CAST(n_b - i AS DOUBLE)), 6) AS tversky
FROM j
ORDER BY id_a, id_b
"""


# ------------------------------------ Jonckheere-Terpstra over DOW

_JT_K = 7  # day-of-week groups, Spark dayofweek coding 1=Sun .. 7=Sat


def _events_jonckheere_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.dayofweek(
            F.to_date(F.date_trunc("day", "ts"))
        ).cast("int").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cnt = lambda i: F.sum(  # noqa: E731
        F.when(F.col("g") == i, 1).otherwise(0)
    ).cast("long").alias(f"c{i}")
    vals = ev.groupBy("cents").agg(*[cnt(i) for i in range(1, _JT_K + 1)])
    # exclusive per-group cumulative over the DISTINCT-cents frame
    # (bounded by the value grid — the events_mann_whitney_u contract)
    wv = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vals.select(
        "cents",
        *[F.col(f"c{i}") for i in range(1, _JT_K + 1)],
        *[
            F.coalesce(F.sum(f"c{i}").over(wv), F.lit(0)).alias(f"cb{i}")
            for i in range(1, _JT_K + 1)
        ],
    )
    # 2·JT = Σ_v Σ_{i<j} c_j(v) · (2·cum_below_i(v) + c_i(v)) — exact
    # integers, the 21 ordered pairs summed in literal order
    jt2_terms = None
    for i in range(1, _JT_K + 1):
        for j in range(i + 1, _JT_K + 1):
            t = _dec(F.col(f"c{j}")) * (
                2 * _dec(F.col(f"cb{i}")) + _dec(F.col(f"c{i}"))
            )
            jt2_terms = t if jt2_terms is None else jt2_terms + t
    s = ranked.agg(
        *[F.sum(f"c{i}").alias(f"n{i}") for i in range(1, _JT_K + 1)],
        F.sum(jt2_terms).alias("jt2"),
    )
    nN = sum(_dec(F.col(f"n{i}")) for i in range(1, _JT_K + 1))
    sq = sum(
        _dec(F.col(f"n{i}")) * _dec(F.col(f"n{i}"))
        for i in range(1, _JT_K + 1)
    )
    cube = sum(
        _dec(F.col(f"n{i}"))
        * _dec(F.col(f"n{i}"))
        * (2 * _dec(F.col(f"n{i}")) + 3)
        for i in range(1, _JT_K + 1)
    )
    full = s.withColumn("N", nN).withColumn("SQ", sq).withColumn(
        "CU", cube
    )
    mean_jt = (
        F.col("N").cast("double") * F.col("N").cast("double")
        - F.col("SQ").cast("double")
    ) / 4.0
    var_jt = (
        F.col("N").cast("double")
        * F.col("N").cast("double")
        * (2.0 * F.col("N").cast("double") + 3.0)
        - F.col("CU").cast("double")
    ) / 72.0
    z = (F.col("jt2").cast("double") / 2.0 - mean_jt) / F.sqrt(var_jt)
    # all data in ONE group makes Var = 0 exactly (CU = N²(2N+3)):
    # guard on the exact decimals so both engines answer NULL, not
    # Spark-NULL-vs-DuckDB-NaN
    var_pos = F.col("CU") < F.col("N") * F.col("N") * (
        2 * F.col("N") + 3
    )
    return full.select(
        F.col("N").cast("long").alias("n_total"),
        *[
            F.col(f"n{i}").cast("long").alias(f"n_d{i}")
            for i in range(1, _JT_K + 1)
        ],
        F.round(F.col("jt2").cast("double") / 2.0, 1).alias("jt_stat"),
        F.round(F.when(var_pos, z), 6).alias("z_score"),
    )


def _jt_sql() -> str:
    counts = ",\n           ".join(
        f"CAST(sum(CASE WHEN g = {i} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{i}"
        for i in range(1, _JT_K + 1)
    )
    cbs = ",\n           ".join(
        f"COALESCE(sum(c{i}) OVER (ORDER BY cents"
        f" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        f" AS cb{i}"
        for i in range(1, _JT_K + 1)
    )
    jt2 = " + ".join(
        f"CAST(c{j} AS HUGEINT) * (2 * CAST(cb{i} AS HUGEINT) + c{i})"
        for i in range(1, _JT_K + 1)
        for j in range(i + 1, _JT_K + 1)
    )
    ns = ",\n           ".join(
        f"CAST(sum(c{i}) AS BIGINT) AS n{i}" for i in range(1, _JT_K + 1)
    )
    nN = " + ".join(f"CAST(n{i} AS HUGEINT)" for i in range(1, _JT_K + 1))
    sq = " + ".join(
        f"CAST(n{i} AS HUGEINT) * n{i}" for i in range(1, _JT_K + 1)
    )
    cu = " + ".join(
        f"CAST(n{i} AS HUGEINT) * n{i} * (2 * CAST(n{i} AS HUGEINT) + 3)"
        for i in range(1, _JT_K + 1)
    )
    n_outs = ",\n       ".join(
        f"n{i} AS n_d{i}" for i in range(1, _JT_K + 1)
    )
    return f"""
WITH ev AS (
    SELECT CAST(dayofweek(CAST(date_trunc('day', ts) AS DATE)) + 1
               AS INTEGER) AS g,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events),
vals AS (
    SELECT cents,
           {counts}
    FROM ev GROUP BY cents),
ranked AS (
    SELECT *,
           {cbs}
    FROM vals),
s AS (
    SELECT {ns},
           sum({jt2}) AS jt2
    FROM ranked),
d AS (
    SELECT *, {nN} AS N, {sq} AS SQ, {cu} AS CU FROM s)
SELECT CAST(N AS BIGINT) AS n_total,
       {n_outs},
       round(CAST(jt2 AS DOUBLE) / 2.0, 1) AS jt_stat,
       round(CASE WHEN CU < N * N * (2 * N + 3)
             THEN (CAST(jt2 AS DOUBLE) / 2.0
              - (CAST(N AS DOUBLE) * CAST(N AS DOUBLE)
                 - CAST(SQ AS DOUBLE)) / 4.0)
             / sqrt((CAST(N AS DOUBLE) * CAST(N AS DOUBLE)
                     * (2.0 * CAST(N AS DOUBLE) + 3.0)
                     - CAST(CU AS DOUBLE)) / 72.0) END, 6) AS z_score
FROM d
"""


QUERIES: dict[str, QuerySpec] = {
    "lineitem_grubbs_test": QuerySpec(_lineitem_grubbs_test, GRUBBS_SQL),
    "orders_herfindahl": QuerySpec(_orders_herfindahl, HERFINDAHL_SQL),
    "text_dice_tversky": QuerySpec(_text_dice_tversky, _dice_sql()),
    "events_jonckheere_dow": QuerySpec(
        _events_jonckheere_dow, _jt_sql()
    ),
}


# ----------------------------------------------- Page's trend test

_PAGE_TYPES = ["click", "error", "purchase", "signup", "view"]


def _events_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L — the ordered-alternative complement of Friedman
    (exactly as events_jonckheere_dow is to Kruskal-Wallis): blocks =
    complete days, treatments = the five event types in their FIXED
    alphabetical order j = 1..5, L = Σ_j j·R_j over the per-treatment
    midrank sums. Rank machinery is the events_friedman_test contract
    (within-day k×k self-join, 2·r̄ integer-exact); 2·L stays integer
    until the final z division. z uses the classic untied normal
    approximation E[L] = b·k·(k+1)²/4, Var[L] = b·k²·(k+1)·(k²−1)/144
    (documented: the tie-corrected variance is a different statistic).
    The treatment index j is computed relationally (count of types ≤ t
    over the k-row rank-sum frame) — no window, nothing to allowlist."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_PAGE_TYPES)
    )
    cell = materialize(
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("vc")
        )
    )
    k = len(_PAGE_TYPES)
    complete = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("__nt"))
        .filter(F.col("__nt") == k)
        .select("day")
    )
    blocks = cell.join(complete, "day")
    a = blocks.select("day", "event_type", "vc")
    b = blocks.select(F.col("day").alias("day2"), F.col("vc").alias("vc2"))
    r2 = (
        a.join(b, F.col("day") == F.col("day2"))
        .groupBy("day", "event_type", "vc")
        .agg(
            (
                2 * F.sum((F.col("vc2") < F.col("vc")).cast("long"))
                + F.sum((F.col("vc2") == F.col("vc")).cast("long"))
                + 1
            ).alias("two_rbar")
        )
    )
    rsum = r2.groupBy("event_type").agg(
        F.sum("two_rbar").cast("long").alias("r2sum")
    )
    # j = alphabetical index of the treatment among the k rank-sum rows
    rs2 = rsum.select(
        F.col("event_type").alias("et2"), F.col("r2sum").alias("r2b")
    )
    idx = (
        rsum.join(rs2, F.col("et2") <= F.col("event_type"))
        .groupBy("event_type", "r2sum")
        .agg(F.count(F.lit(1)).cast("long").alias("j"))
    )
    l2 = idx.agg(
        F.sum(
            _dec(F.col("j")) * _dec(F.col("r2sum"))
        ).alias("l2")
    )
    nb = complete.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    j = l2.crossJoin(F.broadcast(nb))
    bd = F.col("nb").cast("double")
    kd = float(k)
    mean_l = bd * kd * (kd + 1.0) * (kd + 1.0) / 4.0
    var_l = bd * kd * kd * (kd + 1.0) * (kd * kd - 1.0) / 144.0
    z = (F.col("l2").cast("double") / 2.0 - mean_l) / F.sqrt(var_l)
    return j.select(
        F.col("nb").alias("n_blocks"),
        F.lit(k).cast("long").alias("k_treatments"),
        F.round(F.col("l2").cast("double") / 2.0, 1).alias("page_l"),
        F.round(z, 6).alias("z_score"),
    )


def _page_sql() -> str:
    k = len(_PAGE_TYPES)
    types = ", ".join(f"'{t}'" for t in _PAGE_TYPES)
    return f"""
WITH cell AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           sum(CAST(round(value * 100, 0) AS BIGINT)) AS vc
    FROM events WHERE event_type IN ({types})
    GROUP BY 1, 2),
complete AS (
    SELECT day FROM cell GROUP BY day HAVING count(*) = {k}),
blocks AS (SELECT cell.* FROM cell JOIN complete USING (day)),
r2 AS (
    SELECT a.day, a.event_type, a.vc,
           2 * sum(CASE WHEN b.vc < a.vc THEN 1 ELSE 0 END)
           + sum(CASE WHEN b.vc = a.vc THEN 1 ELSE 0 END) + 1
               AS two_rbar
    FROM blocks a JOIN blocks b ON a.day = b.day
    GROUP BY a.day, a.event_type, a.vc),
rsum AS (
    SELECT event_type, CAST(sum(two_rbar) AS BIGINT) AS r2sum
    FROM r2 GROUP BY event_type),
idx AS (
    SELECT a.event_type, a.r2sum,
           CAST(count(*) AS BIGINT) AS j
    FROM rsum a JOIN rsum b ON b.event_type <= a.event_type
    GROUP BY a.event_type, a.r2sum),
l2 AS (SELECT sum(CAST(j AS HUGEINT) * r2sum) AS l2 FROM idx),
nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM complete)
SELECT nb AS n_blocks,
       CAST({k} AS BIGINT) AS k_treatments,
       round(CAST(l2 AS DOUBLE) / 2.0, 1) AS page_l,
       round((CAST(l2 AS DOUBLE) / 2.0
              - CAST(nb AS DOUBLE) * {k}.0 * ({k}.0 + 1.0)
                * ({k}.0 + 1.0) / 4.0)
             / sqrt(CAST(nb AS DOUBLE) * {k}.0 * {k}.0 * ({k}.0 + 1.0)
                    * ({k}.0 * {k}.0 - 1.0) / 144.0), 6) AS z_score
FROM l2, nb
"""


# ----------------------------------------------- Atkinson index


def _orders_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index of order value per order priority, at
    ε = 0.5 (1 − (Σ√x/n)² / mean) and ε = 1 (1 − geomean/mean, the
    ln form). Complements orders_gini (rank-based) and
    orders_herfindahl (concentration): Atkinson is the
    welfare-theoretic member with an explicit inequality-aversion
    knob. Σ√x and Σln x are double sums over the group — per-add
    error is ~n·ε_mach·|Σ|, orders of magnitude below the 6dp
    rounding, and the expression trees are identical in both
    engines."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_dec(F.col("c"))).alias("s1"),
        F.min("c").alias("mn"),
        F.sum(F.sqrt(F.col("c").cast("double"))).alias("ssqrt"),
        F.sum(F.log(F.col("c").cast("double"))).alias("sln"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    half = F.col("ssqrt") / nd
    atk05 = 1.0 - half * half / mean
    atk1 = 1.0 - F.exp(F.col("sln") / nd) / mean
    # a zero value makes ln(0) NULL in Spark but -inf in DuckDB (and
    # Atkinson(1) degenerate anyway) — guard on the exact integer min
    pos = F.col("mn") > 0
    return g.select(
        "o_orderpriority",
        "n",
        F.round(mean, 6).alias("mean_cents"),
        F.round(F.when(pos, atk05), 6).alias("atkinson_05"),
        F.round(F.when(pos, atk1), 6).alias("atkinson_1"),
    ).orderBy("o_orderpriority")


ATKINSON_SQL = """
WITH o AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
    FROM orders),
g AS (
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(c AS HUGEINT)) AS s1,
           min(c) AS mn,
           sum(sqrt(CAST(c AS DOUBLE))) AS ssqrt,
           sum(ln(CASE WHEN c > 0 THEN CAST(c AS DOUBLE) END)) AS sln
    FROM o GROUP BY o_orderpriority)
SELECT o_orderpriority, n,
       round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_cents,
       round(CASE WHEN mn > 0
             THEN 1.0 - (ssqrt / CAST(n AS DOUBLE))
                   * (ssqrt / CAST(n AS DOUBLE))
                   / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) END, 6)
           AS atkinson_05,
       round(CASE WHEN mn > 0
             THEN 1.0 - exp(sln / CAST(n AS DOUBLE))
                   / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) END, 6)
           AS atkinson_1
FROM g
ORDER BY o_orderpriority
"""


# ------------------------------------- LMIR Dirichlet retrieval

_LMIR_MU = 2000.0
_LMIR_K = 10
_LMIR_QUERIES = {
    "q_exec": ["join", "hash", "scan"],
    "q_stream": ["stream", "window", "batch"],
    "q_store": ["column", "table", "vector"],
}


def _text_lmir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (μ = 2000)
    over the same fixed query set as text_bm25_topk — the language-
    modeling member of the IR ranking family (Zhai & Lafferty's
    rank-equivalent decomposition): score(q, d) =
    Σ_{t ∈ q matched in d} ln(1 + c(t,d)/(μ·p(t|C)))
    + |q|·ln(μ/(|d| + μ)), where p(t|C) = ctf(t)/|C|. Only matched
    (query, doc) pairs are scored — the inverted-index contract — and
    the rank-constant Σ ln p(t|C) term is dropped as usual. Ranking
    uses the 9dp-rounded key (engine-stable ordering convention)."""
    d = read_table(spark, sf_dir, "documents")
    tc = materialize(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tc.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    ctot = dl.agg(F.sum("dl").cast("double").alias("c_tokens"))

    qrows = [
        (qname, term, len(terms))
        for qname, terms in _LMIR_QUERIES.items()
        for term in terms
    ]
    q = spark.createDataFrame(qrows, "query string, term string, nq int")
    qterms = q.select("term").distinct()
    ctf = (
        tc.join(F.broadcast(qterms), "term")
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("ctf"))
    )
    matched = (
        tc.join(F.broadcast(q), "term")
        .join(F.broadcast(ctf), "term")
        .crossJoin(F.broadcast(ctot))
        .select(
            "query",
            "nq",
            "doc_id",
            F.log(
                1.0
                + F.col("tf").cast("double")
                / (
                    F.lit(_LMIR_MU)
                    * F.col("ctf").cast("double")
                    / F.col("c_tokens")
                )
            ).alias("s"),
        )
        .groupBy("query", "nq", "doc_id")
        .agg(F.sum("s").alias("match_s"))
    )
    scored = matched.join(dl, "doc_id").select(
        "query",
        "doc_id",
        (
            F.col("match_s")
            + F.col("nq").cast("double")
            * F.log(
                F.lit(_LMIR_MU)
                / (F.col("dl").cast("double") + F.lit(_LMIR_MU))
            )
        ).alias("score"),
    )
    return (
        top_k_per_group(scored, "query", "score", "doc_id", _LMIR_K)
        .select(
            "query",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("query", "rank")
    )


def _lmir_oracle() -> str:
    qvals = ", ".join(
        f"('{qn}', '{t}', {len(ts)})"
        for qn, ts in _LMIR_QUERIES.items()
        for t in ts
    )
    return f"""
WITH tc AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
    WHERE term != '' GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       FROM tc GROUP BY doc_id),
ctot AS (SELECT CAST(sum(dl) AS DOUBLE) AS c_tokens FROM dl),
q(query, term, nq) AS (VALUES {qvals}),
ctf AS (
    SELECT term, CAST(sum(tf) AS BIGINT) AS ctf
    FROM tc WHERE term IN (SELECT term FROM q) GROUP BY term),
matched AS (
    SELECT q.query, q.nq, tc.doc_id,
           sum(ln(1.0 + CAST(tc.tf AS DOUBLE)
                  / ({_LMIR_MU} * CAST(ctf.ctf AS DOUBLE)
                     / ctot.c_tokens))) AS match_s
    FROM tc
    JOIN q ON tc.term = q.term
    JOIN ctf ON tc.term = ctf.term
    CROSS JOIN ctot
    GROUP BY q.query, q.nq, tc.doc_id),
scored AS (
    SELECT query, matched.doc_id,
           match_s + CAST(nq AS DOUBLE)
             * ln({_LMIR_MU} / (CAST(dl.dl AS DOUBLE) + {_LMIR_MU}))
               AS score
    FROM matched JOIN dl ON matched.doc_id = dl.doc_id),
ranked AS (
    SELECT query, doc_id, score, row_number() OVER (
        PARTITION BY query
        ORDER BY round(score, 9) DESC, doc_id ASC) AS rank
    FROM scored)
SELECT query, doc_id, CAST(rank AS BIGINT) AS rank,
       round(score, 6) AS score
FROM ranked WHERE rank <= {_LMIR_K}
ORDER BY query, rank
"""


QUERIES.update(
    {
        "events_page_trend": QuerySpec(_events_page_trend, _page_sql()),
        "orders_atkinson_index": QuerySpec(
            _orders_atkinson_index, ATKINSON_SQL
        ),
        "text_lmir_topk": QuerySpec(_text_lmir_topk, _lmir_oracle()),
    }
)


# ------------------------------------------- Ansari-Bradley scale test


def _events_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley rank test of SCALE between the two user-parity
    arms (the events_mann_whitney_u arms) — completes the
    variance-homogeneity family: Bartlett is the parametric member,
    Brown-Forsythe the robust-F, this the fully rank-based one. The
    AB score of pooled rank r is min(r, N+1−r); with midranks in
    half-units (2·r̄ = 2·cum_below + n_v + 1, the MWU contract) the
    doubled score 2·a = min(2·r̄, 2·(N+1) − 2·r̄) stays an exact
    integer, so AB = Σ_{arm 0} a is integer-exact in half-units until
    the final z division. z uses the classic untied null moments for
    even/odd N (Ansari & Bradley 1960), selected by an exact parity
    test on N in both engines."""
    ev = read_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    vals = ev.groupBy("cents").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    nv = F.col("c0") + F.col("c1")
    wv = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = vals.select(
        "cents",
        "c0",
        "c1",
        nv.alias("nv"),
        F.coalesce(F.sum(nv).over(wv), F.lit(0)).alias("cb"),
        F.sum(nv).over(wall).alias("ntot"),
    )
    two_rank = F.lit(2) * F.col("cb") + F.col("nv") + 1
    two_score = F.least(
        two_rank, F.lit(2) * (F.col("ntot") + 1) - two_rank
    )
    s = ranked.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum(_dec(F.col("c0")) * _dec(two_score)).alias("ab2"),
    )
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    nD = n0d + n1d
    ab = F.col("ab2").cast("double") / 2.0
    even = (F.col("n0") + F.col("n1")) % 2 == F.lit(0)
    mean_ab = F.when(
        even, n0d * (nD + 2.0) / 4.0
    ).otherwise(n0d * (nD + 1.0) * (nD + 1.0) / (4.0 * nD))
    var_ab = F.when(
        even,
        n0d * n1d * (nD + 2.0) * (nD - 2.0) / (48.0 * (nD - 1.0)),
    ).otherwise(
        n0d
        * n1d
        * (nD + 1.0)
        * (3.0 + nD * nD)
        / (48.0 * nD * nD)
    )
    # one empty arm or N <= 2 zeroes the null variance exactly —
    # guard on the exact integers (both engines answer NULL)
    ok = (F.col("n0") > 0) & (F.col("n1") > 0) & (
        F.col("n0") + F.col("n1") > 2
    )
    return s.select(
        "n0",
        "n1",
        F.round(F.when(ok, ab), 1).alias("ab_stat"),
        F.round(
            F.when(ok, (ab - mean_ab) / F.sqrt(var_ab)), 6
        ).alias("z_score"),
    )


ANSARI_SQL = """
WITH ev AS (
    SELECT user_id % 2 AS grp,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events),
vals AS (
    SELECT cents,
           sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
           sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
    FROM ev GROUP BY cents),
ranked AS (
    SELECT cents, c0, c1, c0 + c1 AS nv,
           COALESCE(sum(c0 + c1) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb,
           sum(c0 + c1) OVER () AS ntot
    FROM vals),
s AS (
    SELECT CAST(sum(c0) AS BIGINT) AS n0,
           CAST(sum(c1) AS BIGINT) AS n1,
           sum(CAST(c0 AS HUGEINT)
               * least(2 * cb + nv + 1,
                       2 * (ntot + 1) - (2 * cb + nv + 1))) AS ab2
    FROM ranked),
d AS (
    SELECT n0, n1,
           CAST(ab2 AS DOUBLE) / 2.0 AS ab,
           CAST(n0 AS DOUBLE) AS n0d, CAST(n1 AS DOUBLE) AS n1d,
           CAST(n0 + n1 AS DOUBLE) AS nD,
           (n0 + n1) % 2 = 0 AS even
    FROM s)
SELECT n0, n1,
       round(CASE WHEN n0 > 0 AND n1 > 0 AND n0 + n1 > 2
             THEN ab END, 1) AS ab_stat,
       round(CASE WHEN n0 > 0 AND n1 > 0 AND n0 + n1 > 2
             THEN (ab - CASE WHEN even
                   THEN n0d * (nD + 2.0) / 4.0
                   ELSE n0d * (nD + 1.0) * (nD + 1.0) / (4.0 * nD)
                   END)
             / sqrt(CASE WHEN even
                    THEN n0d * n1d * (nD + 2.0) * (nD - 2.0)
                         / (48.0 * (nD - 1.0))
                    ELSE n0d * n1d * (nD + 1.0) * (3.0 + nD * nD)
                         / (48.0 * nD * nD)
                    END) END, 6) AS z_score
FROM d
"""


QUERIES.update(
    {
        "events_ansari_bradley": QuerySpec(
            _events_ansari_bradley, ANSARI_SQL
        ),
    }
)


# --------------------------------------------- Cohen's kappa


_KAPPA_A = "click"
_KAPPA_B = "purchase"
_KAPPA_CUT = 90  # high-value presence — the events_cochran_q contract


def _events_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two binary
    per-user indicators: 'has a high-value click' vs 'has a high-value
    purchase' (value > 90; bare presence is degenerate on this log —
    every user has every type, the events_cochran_q finding).
    Completes the paired-binary family next to events_mcnemar: McNemar
    tests marginal homogeneity of this same 2×2, kappa measures
    agreement. The four cells are exact longs; kappa comes from the
    exact integer identity
        kappa = (n·(n11 + n00) − pe_num) / (n² − pe_num),
        pe_num = (n11+n10)·(n11+n01) + (n01+n00)·(n10+n00)
    in decimal(38,0)/HUGEINT — ONE double division of two
    exactly-representable integers, no float p_o − p_e subtraction to
    diverge on. Both-raters-constant data makes the denominator
    exactly 0 (p_e = 1) → NULL in both engines, guarded on the exact
    integers. p_obs / p_exp are reported via identical single
    divisions in both engines.

    100 TB shape: one map-side-combined groupBy(user_id) to the flag
    frame, one global aggregate to a single row — no joins, no
    windows; cost is Θ(|events|) scan + Θ(|users|) shuffle rows."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    hv = lambda t: F.max(  # noqa: E731
        F.when(
            (F.col("event_type") == t) & (F.col("value") > _KAPPA_CUT), 1
        ).otherwise(0)
    )
    flags = ev.groupBy("user_id").agg(
        hv(_KAPPA_A).alias("ra"), hv(_KAPPA_B).alias("rb")
    )
    cell = lambda a, b: F.sum(  # noqa: E731
        F.when((F.col("ra") == a) & (F.col("rb") == b), 1).otherwise(0)
    ).cast("long")
    cells = flags.agg(
        cell(1, 1).alias("n11"),
        cell(1, 0).alias("n10"),
        cell(0, 1).alias("n01"),
        cell(0, 0).alias("n00"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    pe_num = (_dec(F.col("n11")) + _dec(F.col("n10"))) * (
        _dec(F.col("n11")) + _dec(F.col("n01"))
    ) + (_dec(F.col("n01")) + _dec(F.col("n00"))) * (
        _dec(F.col("n10")) + _dec(F.col("n00"))
    )
    nn = _dec(F.col("n_users")) * _dec(F.col("n_users"))
    d = cells.select(
        "n_users",
        "n11",
        "n10",
        "n01",
        "n00",
        pe_num.alias("pe_num"),
        nn.alias("nn"),
    )
    num = _dec(F.col("n_users")) * (
        _dec(F.col("n11")) + _dec(F.col("n00"))
    ) - F.col("pe_num")
    den = F.col("nn") - F.col("pe_num")
    return d.select(
        "n_users",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(
            (F.col("n11") + F.col("n00")).cast("double")
            / F.col("n_users").cast("double"),
            6,
        ).alias("p_obs"),
        F.round(
            F.col("pe_num").cast("double") / F.col("nn").cast("double"), 6
        ).alias("p_exp"),
        F.round(
            F.when(den > 0, num.cast("double") / den.cast("double")), 6
        ).alias("kappa"),
    )


KAPPA_SQL = f"""
WITH flags AS (
    SELECT user_id,
           max(CASE WHEN event_type = '{_KAPPA_A}'
                     AND value > {_KAPPA_CUT} THEN 1 ELSE 0 END) AS ra,
           max(CASE WHEN event_type = '{_KAPPA_B}'
                     AND value > {_KAPPA_CUT} THEN 1 ELSE 0 END) AS rb
    FROM events GROUP BY user_id),
cells AS (
    SELECT CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n11,
           CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n10,
           CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n01,
           CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n00,
           CAST(count(*) AS BIGINT) AS n_users
    FROM flags),
d AS (
    SELECT n_users, n11, n10, n01, n00,
           (CAST(n11 AS HUGEINT) + n10) * (CAST(n11 AS HUGEINT) + n01)
           + (CAST(n01 AS HUGEINT) + n00) * (CAST(n10 AS HUGEINT) + n00)
               AS pe_num,
           CAST(n_users AS HUGEINT) * n_users AS nn
    FROM cells)
SELECT n_users, n11, n10, n01, n00,
       round(CAST(n11 + n00 AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
           AS p_obs,
       round(CAST(pe_num AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS p_exp,
       round(CASE WHEN nn - pe_num > 0
             THEN CAST(CAST(n_users AS HUGEINT) * (n11 + n00) - pe_num
                       AS DOUBLE)
                  / CAST(nn - pe_num AS DOUBLE) END, 6) AS kappa
FROM d
"""


QUERIES.update(
    {
        "events_cohen_kappa": QuerySpec(_events_cohen_kappa, KAPPA_SQL),
    }
)
