"""Round-13 additions: ROUGE pair scoring plus three classic
contingency tests (grep-verified registry gaps: rouge / mood /
cochran / mcnemar had zero hits).

- ``text_rouge_dup_pairs``: ROUGE-1 precision/recall/F1 and ROUGE-2 F1
  between every SimHash-bucket near-dup candidate pair — the
  recall-oriented complement of round75's BLEU-2 precision audit (a
  candidate that COVERS the reference scores high ROUGE recall even
  when its own length dilutes BLEU). Clipped overlap counts are the
  same Σ min(count_a, count_b) per gram; denominators differ (tot_a
  for precision, tot_b for recall); F1 written as the identical
  ``2·p·r/(p+r)`` expression tree in both engines, 0.0 when the
  n-gram frame is empty on either side (NULL condition → ELSE — same
  three-valued logic in Spark and DuckDB). Candidates from the linear
  bucket join, per-pair work (pair, gram)-keyed — never all pairs.
- ``events_mood_median``: Mood's median test of ``value`` across the
  five event types — the pooled LOWER median is picked on the
  distinct-cents value frame (min cents with 2·cum ≥ N+1, an exact
  integer comparison; same allowlisted single-partition bound as
  events_kruskal_wallis — the window runs over DISTINCT cents, a
  domain-bounded grid, not rows), the 2×5 above/≤ contingency table is
  exact integers, and the only floats are the final χ² terms summed
  in literal type order.
- ``events_cochran_q``: Cochran's Q over the users × event-types
  high-value presence matrix (block = user, treatment = type, x =
  "user has ≥1 event of that type with value > 90" — bare presence is
  degenerate on this log, see the constant's comment). Q = (k−1)·(k·ΣC_t² − T²)/(k·ΣR_u − ΣR_u²) is
  integer-exact until the single final division: column totals from
  one distinct-pair aggregation, ΣR_u / ΣR_u² from the per-user row
  sums, decimal(38,0)/HUGEINT so the squares never overflow at scale.
- ``events_mcnemar``: McNemar's paired test on user-level
  (has click, has purchase) flags — b = click-only users, c =
  purchase-only users, χ² = (b−c)²/(b+c) and the Yates
  continuity-corrected (|b−c|−1)²/(b+c), 0.0 when b+c = 0 (both
  engines: NULL/false condition → ELSE). One distinct-pair
  aggregation; discordant counts are exact integers.

Reference provenance: none of this exists in the reference's 539-line
pandas surface (dags/icpe-siretisation.py computes no test
statistics); these extend the engine along the driver-mandated
training-pipeline / data-QA axis under the same oracle discipline.
Tests in tests/test_round77.py; queued for the round-14 verification
window front (see queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec
from trackdechets_etl_spark.session import materialize

# --------------------------------------------------- ROUGE-1/2 pairs


def _text_rouge_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm.dedup import simhash_pairs
    from trackdechets_etl_spark.queries.round75 import _gram_counts

    d = read_table(spark, sf_dir, "documents")
    # eager-checkpointed: four consumers (ids, clip, both pr joins) —
    # the round75 BLEU measurement (7.97 → 6.44 s at sf0.1) applies
    # identically to this shared shape
    pairs = materialize(
        simhash_pairs(d, "text", "doc_id")
        .select("id_a", "id_b")
    )
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    counts = materialize(_gram_counts(d.join(ids, "doc_id", "left_semi")))
    totals = counts.groupBy("doc_id", "n").agg(
        F.sum("c").cast("long").alias("tot")
    )
    ca = counts.select(
        F.col("doc_id").alias("id_a"), "n", "g", F.col("c").alias("c_a")
    )
    cb = counts.select(
        F.col("doc_id").alias("id_b"), "n", "g", F.col("c").alias("c_b")
    )
    clip = (
        pairs.join(ca, "id_a")
        .join(cb, ["id_b", "n", "g"])
        .groupBy("id_a", "id_b", "n")
        .agg(F.sum(F.least("c_a", "c_b")).cast("long").alias("clip"))
    )
    ta = totals.select(
        F.col("doc_id").alias("id_a"), "n", F.col("tot").alias("tot_a")
    )
    tb = totals.select(
        F.col("doc_id").alias("id_b"), "n", F.col("tot").alias("tot_b")
    )
    # one row per (pair, n) where BOTH sides have n-grams; p and r are
    # single divisions off the shared clip count
    pr = (
        pairs.join(ta, "id_a")
        .join(tb, ["id_b", "n"])
        .join(clip, ["id_a", "id_b", "n"], "left")
        .select(
            "id_a",
            "id_b",
            "n",
            (
                F.coalesce("clip", F.lit(0)).cast("double")
                / F.col("tot_a")
            ).alias("p"),
            (
                F.coalesce("clip", F.lit(0)).cast("double")
                / F.col("tot_b")
            ).alias("r"),
        )
    )
    wide = pr.groupBy("id_a", "id_b").agg(
        F.max(F.when(F.col("n") == 1, F.col("p"))).alias("p1"),
        F.max(F.when(F.col("n") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("n") == 2, F.col("p"))).alias("p2"),
        F.max(F.when(F.col("n") == 2, F.col("r"))).alias("r2"),
    )

    def f1(p, r):
        # NULL p/r (no n-gram row) or p+r == 0 both fall through to
        # the 0.0 branch — identical three-valued logic in DuckDB
        return F.when(
            (F.col(p) + F.col(r)) > 0,
            F.lit(2.0) * F.col(p) * F.col(r) / (F.col(p) + F.col(r)),
        ).otherwise(F.lit(0.0))

    return wide.select(
        "id_a",
        "id_b",
        F.round(F.coalesce("p1", F.lit(0.0)), 6).alias("rouge1_p"),
        F.round(F.coalesce("r1", F.lit(0.0)), 6).alias("rouge1_r"),
        F.round(f1("p1", "r1"), 6).alias("rouge1_f"),
        F.round(f1("p2", "r2"), 6).alias("rouge2_f"),
    ).orderBy("id_a", "id_b")


def _rouge_sql() -> str:
    from trackdechets_etl_spark.queries.llm import _SIM_FP, _SIM_SUMS

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
toks AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '')
               AS ws
    FROM documents),
uni AS (
    SELECT doc_id, 1 AS n, unnest(ws) AS g FROM toks),
bi AS (
    SELECT doc_id, 2 AS n, ws[i] || ' ' || ws[i + 1] AS g
    FROM toks, unnest(generate_series(1, len(ws) - 1)) u(i)),
counts AS (
    SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    GROUP BY doc_id, n, g),
totals AS (
    SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot
    FROM counts GROUP BY doc_id, n),
clip AS (
    SELECT p.id_a, p.id_b, a.n,
           CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip
    FROM pairs p
    JOIN counts a ON a.doc_id = p.id_a
    JOIN counts b ON b.doc_id = p.id_b AND b.n = a.n AND b.g = a.g
    GROUP BY p.id_a, p.id_b, a.n),
pr AS (
    SELECT p.id_a, p.id_b, ta.n,
           CAST(coalesce(clip, 0) AS DOUBLE) / ta.tot AS p,
           CAST(coalesce(clip, 0) AS DOUBLE) / tb.tot AS r
    FROM pairs p
    JOIN totals ta ON ta.doc_id = p.id_a
    JOIN totals tb ON tb.doc_id = p.id_b AND tb.n = ta.n
    LEFT JOIN clip ON clip.id_a = p.id_a AND clip.id_b = p.id_b
                  AND clip.n = ta.n),
wide AS (
    SELECT id_a, id_b,
           max(CASE WHEN n = 1 THEN p END) AS p1,
           max(CASE WHEN n = 1 THEN r END) AS r1,
           max(CASE WHEN n = 2 THEN p END) AS p2,
           max(CASE WHEN n = 2 THEN r END) AS r2
    FROM pr GROUP BY id_a, id_b)
SELECT id_a, id_b,
       round(coalesce(p1, 0.0), 6) AS rouge1_p,
       round(coalesce(r1, 0.0), 6) AS rouge1_r,
       round(CASE WHEN (p1 + r1) > 0
                  THEN 2.0 * p1 * r1 / (p1 + r1) ELSE 0.0 END, 6)
           AS rouge1_f,
       round(CASE WHEN (p2 + r2) > 0
                  THEN 2.0 * p2 * r2 / (p2 + r2) ELSE 0.0 END, 6)
           AS rouge2_f
FROM wide
ORDER BY id_a, id_b
"""


# --------------------------------------------------- Mood's median

_MOOD_TYPES = ["click", "error", "purchase", "signup", "view"]


def _events_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cnt = lambda t: F.sum(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    ).cast("long").alias(f"c_{t}")
    vals = ev.groupBy("cents").agg(*[cnt(t) for t in _MOOD_TYPES])
    nv = sum(F.col(f"c_{t}") for t in _MOOD_TYPES)
    # distinct-cents value frame (allowlisted single-partition bound,
    # the events_kruskal_wallis contract): inclusive cumulative count
    # + grand total ride the same ordered window spec.
    wc = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = vals.select(
        "cents",
        *[F.col(f"c_{t}") for t in _MOOD_TYPES],
        F.sum(nv).over(wc).alias("cum"),
        F.sum(nv).over(wall).alias("ntot"),
    )
    # pooled LOWER median: min cents with cum >= (N+1)/2, written as
    # the exact integer comparison 2*cum >= N+1
    med = ranked.agg(
        F.min(
            F.when(2 * F.col("cum") >= F.col("ntot") + 1, F.col("cents"))
        ).alias("m")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = []
    for t in _MOOD_TYPES:
        aggs.append(F.sum(dec(F.col(f"c_{t}"))).alias(f"n_{t}"))
        aggs.append(
            F.sum(
                F.when(F.col("cents") > F.col("m"), dec(F.col(f"c_{t}")))
                .otherwise(dec(F.lit(0)))
            ).alias(f"a_{t}")
        )
    m = vals.crossJoin(F.broadcast(med)).agg(
        *aggs, F.max("m").alias("median_cents")
    )
    n_tot = sum(F.col(f"n_{t}") for t in _MOOD_TYPES)
    a_tot = sum(F.col(f"a_{t}") for t in _MOOD_TYPES)
    full = m.withColumn("N", dec(n_tot)).withColumn("A", dec(a_tot))
    # chi2 terms in LITERAL type order, above-term then below-term per
    # type — both engines associate identically. Each term is gated on
    # the EXACT integer preconditions ea>0 AND eb>0 ⇔ n_g>0 AND A>0
    # AND A<N (r13 advice): on degenerate data (median == max ⇒ A=0,
    # or an absent event type ⇒ n_g=0) an unguarded division yields
    # NULL in Spark but inf/NaN in DuckDB. Guarding on the decimal
    # counts, not the computed doubles, keeps the predicate identical
    # in both engines.
    chi = None
    for t in _MOOD_TYPES:
        n_g = F.col(f"n_{t}").cast("double")
        a_g = F.col(f"a_{t}").cast("double")
        Nd = F.col("N").cast("double")
        Ad = F.col("A").cast("double")
        Bd = Nd - Ad
        ea = n_g * Ad / Nd
        eb = n_g * Bd / Nd
        term = F.when(
            (F.col(f"n_{t}") > 0)
            & (F.col("A") > 0)
            & (F.col("A") < F.col("N")),
            (a_g - ea) * (a_g - ea) / ea
            + ((n_g - a_g) - eb) * ((n_g - a_g) - eb) / eb,
        ).otherwise(F.lit(0.0))
        chi = term if chi is None else chi + term
    return full.select(
        F.col("N").cast("long").alias("n_events"),
        F.col("median_cents").cast("long").alias("median_cents"),
        *[
            F.col(f"n_{t}").cast("long").alias(f"n_{t}")
            for t in _MOOD_TYPES
        ],
        *[
            F.col(f"a_{t}").cast("long").alias(f"above_{t}")
            for t in _MOOD_TYPES
        ],
        F.round(chi, 6).alias("chi2"),
    )


def _mood_sql() -> str:
    counts = ",\n           ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c_{t}"
        for t in _MOOD_TYPES
    )
    nv = " + ".join(f"c_{t}" for t in _MOOD_TYPES)
    per_group = ",\n           ".join(
        f"sum(CAST(c_{t} AS HUGEINT)) AS n_{t},\n           "
        f"sum(CASE WHEN cents > m THEN CAST(c_{t} AS HUGEINT)"
        f" ELSE CAST(0 AS HUGEINT) END) AS a_{t}"
        for t in _MOOD_TYPES
    )
    n_tot = " + ".join(f"n_{t}" for t in _MOOD_TYPES)
    a_tot = " + ".join(f"a_{t}" for t in _MOOD_TYPES)
    terms = " + ".join(
        f"(CASE WHEN n_{t} > 0 AND A > 0 AND A < N THEN "
        f"(CAST(a_{t} AS DOUBLE) - CAST(n_{t} AS DOUBLE) * CAST(A AS DOUBLE) / CAST(N AS DOUBLE))"
        f" * (CAST(a_{t} AS DOUBLE) - CAST(n_{t} AS DOUBLE) * CAST(A AS DOUBLE) / CAST(N AS DOUBLE))"
        f" / (CAST(n_{t} AS DOUBLE) * CAST(A AS DOUBLE) / CAST(N AS DOUBLE))"
        f" + ((CAST(n_{t} AS DOUBLE) - CAST(a_{t} AS DOUBLE)) - CAST(n_{t} AS DOUBLE) * (CAST(N AS DOUBLE) - CAST(A AS DOUBLE)) / CAST(N AS DOUBLE))"
        f" * ((CAST(n_{t} AS DOUBLE) - CAST(a_{t} AS DOUBLE)) - CAST(n_{t} AS DOUBLE) * (CAST(N AS DOUBLE) - CAST(A AS DOUBLE)) / CAST(N AS DOUBLE))"
        f" / (CAST(n_{t} AS DOUBLE) * (CAST(N AS DOUBLE) - CAST(A AS DOUBLE)) / CAST(N AS DOUBLE))"
        f" ELSE 0.0 END)"
        for t in _MOOD_TYPES
    )
    n_outs = ",\n       ".join(
        f"CAST(n_{t} AS BIGINT) AS n_{t}" for t in _MOOD_TYPES
    )
    a_outs = ",\n       ".join(
        f"CAST(a_{t} AS BIGINT) AS above_{t}" for t in _MOOD_TYPES
    )
    return f"""
WITH ev AS (
    SELECT event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events),
vals AS (
    SELECT cents,
           {counts}
    FROM ev GROUP BY cents),
ranked AS (
    SELECT *, {nv} AS nv,
           sum({nv}) OVER (ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS cum,
           sum({nv}) OVER () AS ntot
    FROM vals),
med AS (
    SELECT min(CASE WHEN 2 * cum >= ntot + 1 THEN cents END) AS m
    FROM ranked),
agg AS (
    SELECT {per_group},
           max(m) AS median_cents
    FROM vals CROSS JOIN med),
fin AS (
    SELECT *, {n_tot} AS N, {a_tot} AS A FROM agg)
SELECT CAST(N AS BIGINT) AS n_events,
       CAST(median_cents AS BIGINT) AS median_cents,
       {n_outs},
       {a_outs},
       round({terms}, 6) AS chi2
FROM fin
"""


# --------------------------------------------------- Cochran's Q

_CQ_K = len(_MOOD_TYPES)
# Treatment success = "user has a HIGH-VALUE (> _CQ_VALUE_MIN) event
# of that type". Bare presence is degenerate on this log (every user
# has every type: k·ΣR − ΣR² = 0 at every SF, so Q would be the 0/0
# guard constant); the high-value cut makes the matrix genuinely
# binary while keeping the declaration part of the test, like the
# Kruskal–Wallis event-type set.
_CQ_VALUE_MIN = 90.0


def _events_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    pres = (
        ev.filter(
            F.col("event_type").isin(_MOOD_TYPES)
            & (F.col("value") > _CQ_VALUE_MIN)
        )
        .select("user_id", "event_type")
        .distinct()
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    rows = pres.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("r_u")
    )
    rsums = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(dec(F.col("r_u"))).alias("sum_r"),
        F.sum(dec(F.col("r_u")) * dec(F.col("r_u"))).alias("sum_r2"),
    )
    csums = (
        pres.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c_t"))
        .agg(
            F.sum(dec(F.col("c_t")) * dec(F.col("c_t"))).alias("sum_c2")
        )
    )
    k = F.lit(_CQ_K).cast("decimal(38,0)")
    num = k * F.col("sum_c2") - F.col("sum_r") * F.col("sum_r")
    den = k * F.col("sum_r") - F.col("sum_r2")
    q = F.when(
        den > 0,
        F.lit(float(_CQ_K - 1))
        * num.cast("double")
        / den.cast("double"),
    ).otherwise(F.lit(0.0))
    return rsums.crossJoin(F.broadcast(csums)).select(
        "n_users",
        F.lit(_CQ_K).cast("long").alias("k_treatments"),
        F.col("sum_r").cast("long").alias("grand_total"),
        F.round(q, 6).alias("q_stat"),
    )


_CQ_SQL = f"""
WITH pres AS (
    SELECT DISTINCT user_id, event_type FROM events
    WHERE event_type IN ({", ".join(f"'{t}'" for t in _MOOD_TYPES)})
      AND value > {_CQ_VALUE_MIN}),
rows_ AS (
    SELECT user_id, CAST(count(*) AS HUGEINT) AS r_u
    FROM pres GROUP BY user_id),
rsums AS (
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           sum(r_u) AS sum_r,
           sum(r_u * r_u) AS sum_r2
    FROM rows_),
cols_ AS (
    SELECT event_type, CAST(count(*) AS HUGEINT) AS c_t
    FROM pres GROUP BY event_type),
csums AS (SELECT sum(c_t * c_t) AS sum_c2 FROM cols_)
SELECT n_users,
       CAST({_CQ_K} AS BIGINT) AS k_treatments,
       CAST(sum_r AS BIGINT) AS grand_total,
       round(CASE WHEN ({_CQ_K} * sum_r - sum_r2) > 0
                  THEN {float(_CQ_K - 1)}
                       * CAST({_CQ_K} * sum_c2 - sum_r * sum_r AS DOUBLE)
                       / CAST({_CQ_K} * sum_r - sum_r2 AS DOUBLE)
                  ELSE 0.0 END, 6) AS q_stat
FROM rsums CROSS JOIN csums
"""


# --------------------------------------------------- McNemar

_MC_A = "click"
_MC_B = "purchase"


def _events_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    flags = (
        ev.filter(F.col("event_type").isin([_MC_A, _MC_B]))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == _MC_A).cast("int")).alias("has_a"),
            F.max((F.col("event_type") == _MC_B).cast("int")).alias("has_b"),
        )
    )
    agg = flags.agg(
        F.sum(
            ((F.col("has_a") == 1) & (F.col("has_b") == 0)).cast("long")
        ).alias("b_discordant"),
        F.sum(
            ((F.col("has_a") == 0) & (F.col("has_b") == 1)).cast("long")
        ).alias("c_discordant"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    b = F.col("b_discordant").cast("double")
    c = F.col("c_discordant").cast("double")
    tot = F.col("b_discordant") + F.col("c_discordant")
    chi2 = F.when(tot > 0, (b - c) * (b - c) / tot.cast("double")).otherwise(
        F.lit(0.0)
    )
    diff_m1 = F.abs(b - c) - F.lit(1.0)
    chi2_cc = F.when(
        tot > 0, diff_m1 * diff_m1 / tot.cast("double")
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_users",
        "b_discordant",
        "c_discordant",
        F.round(chi2, 6).alias("chi2"),
        F.round(chi2_cc, 6).alias("chi2_cc"),
    )


_MC_SQL = f"""
WITH flags AS (
    SELECT user_id,
           max(CASE WHEN event_type = '{_MC_A}' THEN 1 ELSE 0 END) AS has_a,
           max(CASE WHEN event_type = '{_MC_B}' THEN 1 ELSE 0 END) AS has_b
    FROM events
    WHERE event_type IN ('{_MC_A}', '{_MC_B}')
    GROUP BY user_id),
agg AS (
    SELECT CAST(sum(CASE WHEN has_a = 1 AND has_b = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS b_discordant,
           CAST(sum(CASE WHEN has_a = 0 AND has_b = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c_discordant,
           CAST(count(*) AS BIGINT) AS n_users
    FROM flags)
SELECT n_users, b_discordant, c_discordant,
       round(CASE WHEN (b_discordant + c_discordant) > 0
                  THEN (CAST(b_discordant AS DOUBLE) - CAST(c_discordant AS DOUBLE))
                       * (CAST(b_discordant AS DOUBLE) - CAST(c_discordant AS DOUBLE))
                       / CAST(b_discordant + c_discordant AS DOUBLE)
                  ELSE 0.0 END, 6) AS chi2,
       round(CASE WHEN (b_discordant + c_discordant) > 0
                  THEN (abs(CAST(b_discordant AS DOUBLE) - CAST(c_discordant AS DOUBLE)) - 1.0)
                       * (abs(CAST(b_discordant AS DOUBLE) - CAST(c_discordant AS DOUBLE)) - 1.0)
                       / CAST(b_discordant + c_discordant AS DOUBLE)
                  ELSE 0.0 END, 6) AS chi2_cc
FROM agg
"""


QUERIES: dict[str, QuerySpec] = {
    "text_rouge_dup_pairs": QuerySpec(_text_rouge_dup_pairs, _rouge_sql()),
    "events_mood_median": QuerySpec(_events_mood_median, _mood_sql()),
    "events_cochran_q": QuerySpec(_events_cochran_q, _CQ_SQL),
    "events_mcnemar": QuerySpec(_events_mcnemar, _MC_SQL),
}
