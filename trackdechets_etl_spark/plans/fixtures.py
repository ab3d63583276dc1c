"""Deterministic domain-fixture views over the driver's synthetic tables.

The reference operates on ICPE/Company domain tables (FIXTURES.md §1-§6);
the driver's corpus is a TPC-H-ish star schema (TESTDATA.md). This module
derives the domain shapes from the star schema with pure deterministic
column expressions — defined TWICE, once as Spark builders and once as
SQL CTE fragments with *identical semantics*, so every query in the
registry can be checked against the DuckDB oracle.

Mapping (FIXTURES.md §7):
- ``etablissements``  ← customer  (entity dim: s3ic code, SIRET, name, code cols)
- ``installations``   ← orders    (fact rows keyed by code_s3ic, FK to rubriques)
- ``rubriques``       ← part      (small nomenclature table; reference
  ``dags/icpe-siretisation.py:109-124``)
- ``company``         ← orders    (names reconstructed from o_custkey so
  they COLLIDE with etablissement names → J2 fanout, SURVEY §2.9.3)
- ``gerep``           ← orders    (multiple years per code → A1 keep-last;
  leading zero stripped → C3 prefix_zero; reference
  ``dags/icpe-siretisation.py:268-280``)
- trade graph        ← lineitem ⋈ orders (the distinct customer↔supplier
  pairs ``trade_pairs`` and their symmetrized edge list ``trade_edges``,
  the input of every ``graph_*`` query except the co-purchase ones)

SIRET synthesis: per entity key ``k``, k%7==0 → null, k%5==0 → too-short
value, else a valid 14-char zero-padded value — exercising the §2.9.1
null/short/valid triad.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table

# ---------------------------------------------------------------- etablissements

ETAB_SQL = """
SELECT
  lpad(CAST(c_custkey AS VARCHAR), 10, '0')                       AS code_s3ic,
  CASE WHEN c_custkey % 7 = 0 THEN NULL
       WHEN c_custkey % 5 = 0 THEN CAST(c_custkey AS VARCHAR)
       ELSE lpad(CAST(c_custkey AS VARCHAR), 14, '0') END          AS siret,
  c_name                                                           AS nom_ets,
  CASE WHEN c_custkey % 11 = 0 THEN NULL
       WHEN c_custkey % 13 = 0 THEN 'ZZ'
       ELSE (CASE c_custkey % 5 WHEN 0 THEN 'IN' WHEN 1 THEN 'BO'
             WHEN 2 THEN 'PO' WHEN 3 THEN 'VO' ELSE 'CA' END) END  AS famille_ic,
  CASE WHEN c_custkey % 17 = 0 THEN NULL
       ELSE (CASE c_custkey % 5 WHEN 0 THEN 'A' WHEN 1 THEN 'E'
             WHEN 2 THEN 'D' WHEN 3 THEN 'DC' ELSE 'NC' END) END   AS regime,
  CASE WHEN c_custkey % 19 = 0 THEN NULL
       ELSE (CASE c_custkey % 6 WHEN 0 THEN 'S' WHEN 1 THEN 'NS'
             WHEN 2 THEN 'SB' WHEN 3 THEN 'SH' WHEN 4 THEN 'H'
             ELSE 'B' END) END                                     AS seveso,
  c_nationkey, c_acctbal, c_mktsegment
FROM customer
"""


def etablissements(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    fam = (
        F.when(k % 11 == 0, F.lit(None).cast("string"))
        .when(k % 13 == 0, F.lit("ZZ"))
        .otherwise(
            F.when(k % 5 == 0, "IN")
            .when(k % 5 == 1, "BO")
            .when(k % 5 == 2, "PO")
            .when(k % 5 == 3, "VO")
            .otherwise("CA")
        )
    )
    regime = F.when(k % 17 == 0, F.lit(None).cast("string")).otherwise(
        F.when(k % 5 == 0, "A")
        .when(k % 5 == 1, "E")
        .when(k % 5 == 2, "D")
        .when(k % 5 == 3, "DC")
        .otherwise("NC")
    )
    seveso = F.when(k % 19 == 0, F.lit(None).cast("string")).otherwise(
        F.when(k % 6 == 0, "S")
        .when(k % 6 == 1, "NS")
        .when(k % 6 == 2, "SB")
        .when(k % 6 == 3, "SH")
        .when(k % 6 == 4, "H")
        .otherwise("B")
    )
    return c.select(
        F.lpad(k.cast("string"), 10, "0").alias("code_s3ic"),
        F.when(k % 7 == 0, F.lit(None).cast("string"))
        .when(k % 5 == 0, k.cast("string"))
        .otherwise(F.lpad(k.cast("string"), 14, "0"))
        .alias("siret"),
        F.col("c_name").alias("nom_ets"),
        fam.alias("famille_ic"),
        regime.alias("regime"),
        seveso.alias("seveso"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )


# ---------------------------------------------------------------- installations (fact)

INSTALLATIONS_SQL = """
SELECT
  lpad(CAST(o_custkey AS VARCHAR), 10, '0')  AS code_s3ic,
  CAST(o_orderkey AS VARCHAR)                AS inst_id,
  o_totalprice                               AS volume,
  o_orderdate                                AS date_debut_exploitation,
  o_orderkey % 200                           AS id_ref_nomencla
FROM orders
"""


def installations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fan out the fact spine: every consumer broadcast-joins dims onto
    # it, so with a single-split scan the whole enrich chain (incl. the
    # J2 name fanout) would run on one core until the first aggregation
    # (measured at sf0.1: enriched 2.5s -> 1.0s, stats 2.9s -> 1.7s).
    o = read_table(spark, sf_dir, "orders", fan_out=True)
    return o.select(
        F.lpad(F.col("o_custkey").cast("string"), 10, "0").alias("code_s3ic"),
        F.col("o_orderkey").cast("string").alias("inst_id"),
        F.col("o_totalprice").alias("volume"),
        F.col("o_orderdate").alias("date_debut_exploitation"),
        (F.col("o_orderkey") % 200).alias("id_ref_nomencla"),
    )


# ---------------------------------------------------------------- rubriques

RUBRIQUES_SQL = """
SELECT
  p_partkey                                                         AS id,
  CASE WHEN p_partkey % 3 = 0
       THEN concat('27', lpad(CAST(p_partkey % 100 AS VARCHAR), 2, '0'))
       ELSE concat('1', lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0')) END
                                                                    AS rubrique_ic,
  CASE WHEN p_partkey % 4 = 0 THEN NULL
       ELSE CAST(p_partkey % 3 + 1 AS VARCHAR) END                  AS alinea,
  p_type                                                            AS libelle,
  CASE p_partkey % 5 WHEN 0 THEN 'A' WHEN 1 THEN 'E' WHEN 2 THEN 'D'
       WHEN 3 THEN 'DC' ELSE 'NC' END                               AS id_regime
FROM part
"""


def rubriques(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    rubrique = F.when(
        k % 3 == 0,
        F.concat(F.lit("27"), F.lpad((k % 100).cast("string"), 2, "0")),
    ).otherwise(F.concat(F.lit("1"), F.lpad((k % 1000).cast("string"), 3, "0")))
    alinea = F.when(k % 4 == 0, F.lit(None).cast("string")).otherwise(
        (k % 3 + 1).cast("string")
    )
    regime = (
        F.when(k % 5 == 0, "A")
        .when(k % 5 == 1, "E")
        .when(k % 5 == 2, "D")
        .when(k % 5 == 3, "DC")
        .otherwise("NC")
    )
    return p.select(
        k.alias("id"),
        rubrique.alias("rubrique_ic"),
        alinea.alias("alinea"),
        F.col("p_type").alias("libelle"),
        regime.alias("id_regime"),
    )


# ---------------------------------------------------------------- company (name-colliding)

COMPANY_SQL = """
SELECT
  concat('Customer#', lpad(CAST(o_custkey AS VARCHAR), 9, '0'))     AS nom,
  CASE WHEN o_orderkey % 4 = 0
       THEN lpad(CAST(o_orderkey AS VARCHAR), 14, '9')
       ELSE CAST(o_orderkey AS VARCHAR) END                         AS siret_candidate,
  o_orderkey,
  o_orderdate
FROM orders
"""


def company(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    cand = F.when(
        F.col("o_orderkey") % 4 == 0,
        F.lpad(F.col("o_orderkey").cast("string"), 14, "9"),
    ).otherwise(F.col("o_orderkey").cast("string"))
    return o.select(
        F.concat(
            F.lit("Customer#"), F.lpad(F.col("o_custkey").cast("string"), 9, "0")
        ).alias("nom"),
        cand.alias("siret_candidate"),
        "o_orderkey",
        "o_orderdate",
    )


# ---------------------------------------------------------------- gerep (keep-last-by-year)

GEREP_SQL = """
SELECT
  CAST(o_custkey AS VARCHAR)                 AS code_etablissement,
  CASE WHEN o_orderkey % 3 = 0
       THEN CAST(o_orderkey AS VARCHAR)
       ELSE lpad(CAST(o_orderkey AS VARCHAR), 14, '8') END  AS numero_siret,
  CAST(year(o_orderdate) AS VARCHAR)         AS annee
FROM orders
"""


def gerep(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    siret = F.when(
        F.col("o_orderkey") % 3 == 0, F.col("o_orderkey").cast("string")
    ).otherwise(F.lpad(F.col("o_orderkey").cast("string"), 14, "8"))
    return o.select(
        F.col("o_custkey").cast("string").alias("code_etablissement"),
        siret.alias("numero_siret"),
        F.year("o_orderdate").cast("string").alias("annee"),
    )


# ---------------------------------------------------------------- open-data company

OPEN_DATA_COMPANY_SQL = """
SELECT
  lpad(CAST(c_custkey AS VARCHAR), 14, '0')  AS siret,
  c_name                                     AS nom,
  concat(lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0'), ' RUE ', c_name)
                                             AS address,
  c_mktsegment                               AS company_types,
  CASE c_custkey % 3 WHEN 0 THEN 'VERIFIED' WHEN 1 THEN 'TO_BE_VERIFIED'
       ELSE 'LETTER_SENT' END                AS verification_status
FROM customer
"""


def open_data_company(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    status = (
        F.when(k % 3 == 0, "VERIFIED")
        .when(k % 3 == 1, "TO_BE_VERIFIED")
        .otherwise("LETTER_SENT")
    )
    return c.select(
        F.lpad(k.cast("string"), 14, "0").alias("siret"),
        F.col("c_name").alias("nom"),
        F.concat(
            F.lpad((k % 100000).cast("string"), 5, "0"),
            F.lit(" RUE "),
            F.col("c_name"),
        ).alias("address"),
        F.col("c_mktsegment").alias("company_types"),
        status.alias("verification_status"),
    )


# ---------------------------------------------------------------- trade graph

# A supplier's node id is ``supp + SUPPLIER_NODE_OFFSET`` (bound: ``trade_edges``).
SUPPLIER_NODE_OFFSET = 1_000_000

TRADE_PAIRS_SQL = """
SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""

# Reads a CTE named ``trade_pairs`` (``trade_pairs AS (TRADE_PAIRS_SQL)``),
# so a caller can hint both CTEs AS MATERIALIZED.
TRADE_EDGES_SQL = f"""
SELECT cust AS src, supp + {SUPPLIER_NODE_OFFSET} AS dst FROM trade_pairs
UNION ALL
SELECT supp + {SUPPLIER_NODE_OFFSET} AS src, cust AS dst FROM trade_pairs
"""


def trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(cust, supp)`` pairs of ``lineitem ⋈ orders``: one
    undirected edge per customer and supplier that traded."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``trade_pairs`` symmetrized into a directed ``(src, dst)`` edge
    list, both orientations of each pair. Customers keep their ids;
    suppliers become ``supp + SUPPLIER_NODE_OFFSET``. The two node ranges
    are disjoint only while max(c_custkey) < 1,000,000, i.e. TPC-H
    SF < 6.67 (150,000·SF customers); past that the graph queries merge
    a customer and a supplier into one node."""
    pairs = trade_pairs(spark, sf_dir)
    supp = F.col("supp") + SUPPLIER_NODE_OFFSET
    return pairs.select(F.col("cust").alias("src"), supp.alias("dst")).unionByName(
        pairs.select(supp.alias("src"), F.col("cust").alias("dst"))
    )
