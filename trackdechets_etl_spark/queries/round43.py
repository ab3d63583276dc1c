"""Round-7 additions, fifth batch: CDC apply with deletes, Markov
transitions, systematic ordered sampling.

- ``cdc_apply_orders``: incremental CDC application —
  ``operators/merge.py::cdc_apply`` replays a deterministic I/U/D
  change stream (derived from orderkey residues, with overlapping
  multi-op keys so keep-last ordering is load-bearing) onto a snapshot
  and emits the final table. The delete channel is what plain MERGE
  upsert lacks; per key only the last change by sequence decides.
- ``supplier_dual_sourcing``: supply-chain concentration risk — per
  part the distinct supplier and supplier-nation counts; single-nation
  parts ranked by revenue are the dual-sourcing worklist. Dim
  broadcast + one aggregation; top-k via TakeOrdered.
- ``sample_systematic_ordered``: systematic every-Nth sampling under a
  total quality order — rank via the distributed global rank
  (operators/ranking.py), keep rank ≡ 1 (mod 20). Evenly covers the
  quality spectrum where hash sampling covers it only in expectation;
  the oracle is the definitional window row_number.

Invariant tests in tests/test_round43.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table
from trackdechets_etl_spark.queries import QuerySpec

# ------------------------------------------------ CDC apply


def _cdc_changes(o: DataFrame) -> DataFrame:
    """Deterministic change stream: updates for orderkey % 5 == 0
    (seq 1, price +10%), deletes for % 11 == 0 (seq 2), re-inserts for
    % 55 == 0 (seq 3, price zeroed) — keys divisible by 55 see all
    three ops, so the final state depends on keep-last ordering."""
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        F.col("o_orderstatus").alias("status"),
        (F.round(F.col("o_totalprice") * 110).cast("long")).alias("cents"),
    )
    dele = o.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
        F.col("o_orderstatus").alias("status"),
        F.lit(0).cast("long").alias("cents"),
    )
    ins = o.filter(F.col("o_orderkey") % 55 == 0).select(
        "o_orderkey",
        F.lit("I").alias("op"),
        F.lit(3).alias("seq"),
        F.lit("R").alias("status"),
        F.lit(0).cast("long").alias("cents"),
    )
    return upd.unionByName(dele).unionByName(ins)


def _cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.operators.merge import cdc_apply

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    base = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    final = cdc_apply(
        base, _cdc_changes(o), "o_orderkey", ["status", "cents"]
    )
    return final.orderBy("o_orderkey")


CDC_APPLY_SQL = """
WITH o AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents100,
           CAST(round(o_totalprice * 110, 0) AS BIGINT) AS cents110
    FROM orders),
base AS (
    SELECT o_orderkey, o_orderstatus AS status, cents100 AS cents
    FROM o WHERE o_orderkey % 7 != 0),
changes AS (
    SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
           cents110 AS cents
    FROM o WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, 'D', 2, o_orderstatus, 0 FROM o
    WHERE o_orderkey % 11 = 0
    UNION ALL
    SELECT o_orderkey, 'I', 3, 'R', 0 FROM o WHERE o_orderkey % 55 = 0),
last AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC) AS rn
        FROM changes) WHERE rn = 1),
merged AS (
    SELECT coalesce(b.o_orderkey, l.o_orderkey) AS o_orderkey,
           l.op AS op,
           CASE WHEN l.op IS NOT NULL THEN l.status ELSE b.status END
               AS status,
           CASE WHEN l.op IS NOT NULL THEN l.cents ELSE b.cents END AS cents
    FROM base b FULL OUTER JOIN last l ON b.o_orderkey = l.o_orderkey)
SELECT o_orderkey, status, cents FROM merged
WHERE op IS NULL OR op != 'D'
ORDER BY o_orderkey
"""


# ------------------------------------------- dual-sourcing risk

_RISK_TOP = 20


def _supplier_dual_sourcing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain risk: per part, how many distinct suppliers and
    supplier NATIONS ship it (lineitem x supplier, dim broadcast);
    single-nation parts are concentration risk. Emits the top-20
    at-risk parts by revenue (integer cents; TakeOrdered top-k, no
    global sort)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").alias("nationkey"),
    )
    # Two-stage instead of a double countDistinct: the 2-distinct
    # aggregate Expands the joined frame 3× before shuffling; the
    # (part, supplier) pre-aggregate map-side-combines ~7× (avg
    # lineitems per pair) and leaves ONE distinct set, which Spark
    # plans without Expand. Results identical: (partkey, suppkey) is
    # unique after stage 1, so count(*) IS the distinct supplier count.
    pairs = (
        li.join(s, "l_suppkey")
        .groupBy("l_partkey", "l_suppkey", "nationkey")
        .agg(F.sum("cents").alias("cents"))
    )
    per_part = pairs.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.countDistinct("nationkey").cast("long").alias("n_nations"),
        F.sum("cents").alias("cents"),
    )
    # most-concentrated first (fewest nations, then fewest suppliers,
    # then biggest revenue at stake): always a 20-row worklist — a
    # fixed n_nations == 1 cut can be empty on well-diversified data.
    return (
        per_part.select(
            "l_partkey",
            "n_suppliers",
            "n_nations",
            (F.col("cents") / 100.0).alias("revenue"),
        )
        .orderBy(
            "n_nations", "n_suppliers", F.desc("revenue"), "l_partkey"
        )
        .limit(_RISK_TOP)
    )


DUAL_SOURCING_SQL = f"""
WITH per_part AS (
    SELECT l.l_partkey,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(count(DISTINCT s.s_nationkey) AS BIGINT) AS n_nations,
           CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY l.l_partkey)
SELECT l_partkey, n_suppliers, n_nations, cents / 100.0 AS revenue
FROM per_part
ORDER BY n_nations, n_suppliers, revenue DESC, l_partkey
LIMIT {_RISK_TOP}
"""


# ------------------------------------------------ systematic sample

_SYS_N = 20


def _sample_systematic_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trackdechets_etl_spark.llm import text as TX
    from trackdechets_etl_spark.operators.ranking import global_row_number

    d = read_table(spark, sf_dir, "documents")
    score = TX.quality_features(F.col("text"))["quality_score"]
    scored = d.select("doc_id", score.alias("quality_score"))
    ranked = global_row_number(
        scored, [F.desc("quality_score"), F.col("doc_id").asc()], "qrank"
    )
    return (
        ranked.filter((F.col("qrank") % _SYS_N) == 1)
        .select("doc_id", "quality_score", "qrank")
        .orderBy("qrank")
    )


def _systematic_oracle() -> str:
    # quality_score mirror: the select_quality_budget oracle convention
    return f"""
WITH t AS (
    SELECT doc_id,
           round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
                 + (1.0 - len(list_filter(string_split(text, ' '),
                              x -> list_contains(['a','the','and','of','is'], x)))
                          / len(string_split(text, ' '))) * 0.5, 4)
               AS quality_score
    FROM documents),
r AS (
    SELECT doc_id, quality_score,
           CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id)
                AS BIGINT) AS qrank
    FROM t)
SELECT doc_id, quality_score, qrank FROM r
WHERE qrank % {_SYS_N} = 1 ORDER BY qrank
"""


QUERIES: dict[str, QuerySpec] = {
    "cdc_apply_orders": QuerySpec(_cdc_apply_orders, CDC_APPLY_SQL),
    "supplier_dual_sourcing": QuerySpec(
        _supplier_dual_sourcing, DUAL_SOURCING_SQL
    ),
    "sample_systematic_ordered": QuerySpec(
        _sample_systematic_ordered, _systematic_oracle()
    ),
}
