"""The ICPE "siretisation" pipeline rebuilt as one lazy Spark lineage.

Reference: ``dags/icpe-siretisation.py`` (413 LoC of Airflow tasks
exchanging pickles). The chain, in reference order (SURVEY §3.1):

1. J1  enrich installations with etablissements on ``code_s3ic``
   (reference :175) — broadcast dim.
2. J3  GEREP enrichment FIRST (reference DAG ordering :406-407):
   keep-last-by-year dedup (:275-277), restore the lost leading zero
   (:280), left join on code, then C4 backfill of invalid SIRETs
   (:287-289).
3. J2  Trackdéchets-company name join SECOND (:243-246) — faithful
   many-to-many fanout — then C4 backfill again (:248-250).
4. A5  coverage stats (make_stats, :335-357), run on demand — the
   reference runs it on both the pre- and post-enrichment frames
   (:408-409).

The pickle relay between Airflow tasks disappears: this is one
DataFrame lineage; callers that need both the enriched frame and its
stats should ``.cache()`` the enriched frame (the old
``installations.pkl`` branch point).

Scale notes: etablissements and the deduped GEREP frame are
dimension-sized → broadcast; the company name-join is the one join that
can be skew-heavy at 100 TB (hot company names) — AQE skew-join
handles it, and ``fanout_name_join(dedup_right=True)`` is the
pre-aggregation escape hatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.functions.predicates import (
    in_either_list,
    length_is,
    prefix_match,
)
from trackdechets_etl_spark.functions.scalar import (
    backfill_if_invalid,
    concat_null_to_empty,
    lpad_code,
)
from trackdechets_etl_spark.operators.dedup import dedup_by_key, keep_last_by
from trackdechets_etl_spark.operators.joins import enrich_left, fanout_name_join
from trackdechets_etl_spark.operators.stats import coverage_stats
from trackdechets_etl_spark.plans import fixtures as FX

_FIX = (
    f"WITH etab AS ({FX.ETAB_SQL}), inst AS ({FX.INSTALLATIONS_SQL}), "
    f"rubr AS ({FX.RUBRIQUES_SQL}), comp AS ({FX.COMPANY_SQL}), "
    f"gerep AS ({FX.GEREP_SQL})"
)

_ENRICHED_BODY = """
, j1 AS (
    SELECT i.code_s3ic, i.inst_id, e.nom_ets, e.siret
    FROM inst i LEFT JOIN etab e USING (code_s3ic)
), g2 AS (
    SELECT lpad(code_etablissement, 10, '0') AS code_s3ic,
           numero_siret AS gerep_siret
    FROM (SELECT *, row_number() OVER (
              PARTITION BY code_etablissement
              ORDER BY annee DESC, numero_siret DESC) AS rn
          FROM gerep)
    WHERE rn = 1
), j3 AS (
    SELECT j1.*, g2.gerep_siret FROM j1 LEFT JOIN g2 USING (code_s3ic)
), b1 AS (
    SELECT code_s3ic, inst_id, nom_ets,
           CASE WHEN coalesce(length(siret), 0) <> 14
                     AND coalesce(length(gerep_siret), 0) = 14
                THEN gerep_siret ELSE siret END AS siret2
    FROM j3
), j2 AS (
    SELECT b1.*, c.siret_candidate, c.o_orderkey
    FROM b1 LEFT JOIN comp c ON b1.nom_ets = c.nom
), fin AS (
    SELECT code_s3ic, inst_id, nom_ets, o_orderkey,
           CASE WHEN coalesce(length(siret2), 0) <> 14
                     AND coalesce(length(siret_candidate), 0) = 14
                THEN siret_candidate ELSE siret2 END AS siret_final
    FROM j2
)
"""

SIRETISATION_ENRICHED_SQL = f"""{_FIX}{_ENRICHED_BODY}
SELECT code_s3ic, inst_id, nom_ets, o_orderkey, siret_final FROM fin
"""

SIRETISATION_STATS_SQL = f"""{_FIX}{_ENRICHED_BODY}
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN coalesce(length(siret_final),0) < 14 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
       round(sum(CASE WHEN coalesce(length(siret_final),0) < 14 THEN 1 ELSE 0 END) / count(*) * 100.0, 6) AS pct_invalid,
       CAST(count(DISTINCT CASE WHEN length(siret_final) = 14 THEN siret_final END) AS BIGINT) AS n_unique_valid
FROM (SELECT code_s3ic, max(siret_final) AS siret_final FROM fin GROUP BY code_s3ic)
"""

RUBRIQUES_CHAIN_SQL = f"""{_FIX}
, joined AS (
    SELECT i.code_s3ic, i.inst_id, r.rubrique_ic, r.alinea,
           coalesce(r.rubrique_ic || '_' || r.alinea, '') AS rubrique_alinea
    FROM inst i JOIN rubr r ON i.id_ref_nomencla = r.id
    WHERE r.rubrique_ic LIKE '27%'
), filtered AS (
    SELECT * FROM joined
    WHERE rubrique_ic IN ('2710', '2712')
       OR rubrique_alinea IN ('2718_1', '2730_1')
)
SELECT code_s3ic, inst_id, rubrique_alinea FROM (
    SELECT *, row_number() OVER (
        PARTITION BY code_s3ic ORDER BY inst_id ASC, rubrique_alinea ASC) AS rn
    FROM filtered) WHERE rn = 1
"""


def _pre_name_join(
    inst: DataFrame, etab: DataFrame, gerep_df: DataFrame
) -> DataFrame:
    """Steps 1-2 (J1 broadcast enrich + GEREP keep-last/backfill) —
    everything up to but excluding the J2 company name join. Shared by
    the faithful fanout chain and the stats fast path."""
    j1 = enrich_left(
        inst, etab.select("code_s3ic", "nom_ets", "siret"), "code_s3ic"
    ).select("code_s3ic", "inst_id", "nom_ets", "siret")

    g = keep_last_by(
        gerep_df,
        ["code_etablissement"],
        ["annee", "numero_siret"],
        descending=True,
    ).select(
        lpad_code(F.col("code_etablissement"), 10).alias("code_s3ic"),
        F.col("numero_siret").alias("gerep_siret"),
    )
    j3 = enrich_left(j1, g, "code_s3ic")
    return j3.select(
        "code_s3ic",
        "inst_id",
        "nom_ets",
        backfill_if_invalid(F.col("siret"), F.col("gerep_siret")).alias("siret2"),
    )


def enrich_installations_frames(
    inst: DataFrame,
    etab: DataFrame,
    gerep_df: DataFrame,
    comp: DataFrame,
    extra_cols: list[str] = ("o_orderkey",),
) -> DataFrame:
    """Frame-level siretisation chain — source-agnostic core: callers
    pass the four domain frames (from parquet fixtures, the reference's
    headerless CSVs via ``io.read_csv_with_schema``, or JDBC).

    Expected columns:
    - ``inst``:  code_s3ic, inst_id
    - ``etab``:  code_s3ic, nom_ets, siret
    - ``gerep_df``: code_etablissement (no leading zero), numero_siret,
      annee
    - ``comp``:  nom, siret_candidate, ``extra_cols``
    """
    b1 = _pre_name_join(inst, etab, gerep_df)
    j2 = fanout_name_join(b1, comp, "nom_ets", "nom")
    return j2.select(
        "code_s3ic",
        "inst_id",
        "nom_ets",
        *extra_cols,
        backfill_if_invalid(F.col("siret2"), F.col("siret_candidate")).alias(
            "siret_final"
        ),
    )


def enrich_installations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steps 1-3 on the driver's fixture tables: J1 broadcast enrich →
    GEREP keep-last + backfill → company name-join fanout + backfill."""
    return enrich_installations_frames(
        FX.installations(spark, sf_dir),
        FX.etablissements(spark, sf_dir),
        FX.gerep(spark, sf_dir),
        FX.company(spark, sf_dir),
    )


def siretisation_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_installations(spark, sf_dir)


def siretisation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step 4: make_stats on the enriched frame (post-enrichment run of
    the reference's A/B pair, :408-409).

    Fast path — aggregation pushdown through the J2 fanout join. The
    stats only consume ``max(siret_final)`` per ``code_s3ic``, and the
    per-row max over a row's matching company candidates is a function
    of just two per-``nom`` aggregates::

        max_cand(nom) = max(candidate)            WHERE len = 14
        has_inv(nom)  = 1 iff any candidate has len <> 14 (incl. null)

        max over candidates of backfill(siret2, cand)
          = siret2                                if len(siret2) = 14
          = siret2                                if nom has no match
          = greatest(max_cand,
                     siret2 if has_inv else null) otherwise

    (valid candidates contribute themselves, invalid ones contribute
    ``siret2``; ``F.greatest`` skips nulls). So the fact × fact
    many-to-many name join — the one part of this DAG that explodes at
    100 TB (hot company names, SURVEY §2.9.3) — collapses to a join
    against a distinct-name-sized pre-aggregate that AQE broadcasts.
    ``siretisation_enriched`` keeps the faithful fanout (its OUTPUT is
    the fanout); the oracle SQL is the unrewritten fanout formulation,
    so the driver hash-check proves the algebra. Equality with the
    fanout path is also pinned in tests/test_plans.py."""
    b1 = _pre_name_join(
        FX.installations(spark, sf_dir),
        FX.etablissements(spark, sf_dir),
        FX.gerep(spark, sf_dir),
    )
    comp = FX.company(spark, sf_dir)
    cand_agg = comp.groupBy("nom").agg(
        F.max(
            F.when(length_is(F.col("siret_candidate"), 14), F.col("siret_candidate"))
        ).alias("__max_cand"),
        F.max(
            F.when(length_is(F.col("siret_candidate"), 14), F.lit(0)).otherwise(1)
        ).alias("__has_inv"),
    )
    joined = b1.join(cand_agg, b1.nom_ets == cand_agg.nom, "left")
    siret_final = (
        F.when(length_is(F.col("siret2"), 14), F.col("siret2"))
        .when(F.col("nom").isNull(), F.col("siret2"))
        .otherwise(
            F.greatest(
                F.col("__max_cand"),
                F.when(F.col("__has_inv") == 1, F.col("siret2")),
            )
        )
    )
    frame = joined.select("code_s3ic", siret_final.alias("siret_final"))
    return coverage_stats(frame, "code_s3ic", "siret_final")


SIRETISATION_STATS_PRE_SQL = f"""{_FIX}
, j1 AS (
    SELECT i.code_s3ic, i.inst_id, e.nom_ets, e.siret
    FROM inst i LEFT JOIN etab e USING (code_s3ic)
)
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN coalesce(length(siret),0) < 14 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
       round(sum(CASE WHEN coalesce(length(siret),0) < 14 THEN 1 ELSE 0 END) / count(*) * 100.0, 6) AS pct_invalid,
       CAST(count(DISTINCT CASE WHEN length(siret) = 14 THEN siret END) AS BIGINT) AS n_unique_valid
FROM (SELECT code_s3ic, max(siret) AS siret FROM j1 GROUP BY code_s3ic)
"""


def siretisation_stats_pre(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-enrichment run of the reference's A/B stats pair
    (make_stats on the raw installations frame, reference :408-409;
    SURVEY §2.9.6) — measures enrichment lift against
    :func:`siretisation_stats`."""
    inst = FX.installations(spark, sf_dir)
    etab = FX.etablissements(spark, sf_dir).select("code_s3ic", "nom_ets", "siret")
    j1 = enrich_left(inst, etab, "code_s3ic").select("code_s3ic", "inst_id", "siret")
    return coverage_stats(j1, "code_s3ic", "siret")


def rubriques_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enrich_rubriques branch (reference :145-158, :305-334):
    inner join nomenclature → '27' prefix filter → rubrique_alinea
    concat → IN-list filter → deterministic dedup by code."""
    inst = FX.installations(spark, sf_dir)
    rubr = FX.rubriques(spark, sf_dir).filter(prefix_match(F.col("rubrique_ic"), "27"))
    j = enrich_left(inst, rubr, inst.id_ref_nomencla == rubr.id, how="inner")
    j = j.withColumn(
        "rubrique_alinea", concat_null_to_empty(F.col("rubrique_ic"), F.col("alinea"))
    )
    filtered = j.filter(
        in_either_list(
            F.col("rubrique_ic"),
            ["2710", "2712"],
            F.col("rubrique_alinea"),
            ["2718_1", "2730_1"],
        )
    )
    return dedup_by_key(
        filtered.select("code_s3ic", "inst_id", "rubrique_alinea"),
        ["code_s3ic"],
        ["inst_id", "rubrique_alinea"],
    )
