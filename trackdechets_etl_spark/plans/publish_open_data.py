"""The daily open-data pipeline rebuilt as one Spark lineage.

Reference: ``dags/publish-open-data.py`` — extract registered companies
(S6), conditional-overwrite verification status (C5, :45-47), keep
VERIFIED rows (P3, :50), drop working columns (P2, :51), left-join the
non-diffusible existence flag (J5+C6, :70-79), publish CSV (S8/S10,
:97-102). The publish step stays driver-side (the result is small by
construction); everything before it is the lazy lineage below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.functions.scalar import conditional_overwrite
from trackdechets_etl_spark.operators.joins import existence_flag
from trackdechets_etl_spark.plans import fixtures as FX

OPEN_DATA_SQL = f"""WITH odc AS ({FX.OPEN_DATA_COMPANY_SQL}),
flagged AS (
    SELECT siret, nom, address,
           CASE WHEN company_types = 'AUTOMOBILE' THEN 'VERIFIED'
                ELSE verification_status END AS status
    FROM odc
), kept AS (
    SELECT siret, nom, address FROM flagged WHERE status = 'VERIFIED'
), anon AS (
    SELECT DISTINCT siret FROM odc WHERE CAST(siret AS BIGINT) % 10 = 0
)
SELECT kept.siret, nom, address,
       CASE WHEN anon.siret IS NOT NULL THEN 'oui' END AS non_diffusible
FROM kept LEFT JOIN anon ON kept.siret = anon.siret
"""


def to_csv_payload(df: DataFrame, max_rows: int = 1_000_000) -> str:
    """S8 (in-memory form): render the publishable result as a CSV
    string for the REST upload (reference ``dags/publish-open-data.py:99``
    does ``df.to_csv()`` in memory). Guarded: this collects to the
    driver, which is only sane for the small, already-reduced publish
    set — the cap fails fast if a caller points it at a fact table.
    One pass: at most ``max_rows + 1`` rows are collected, the extra
    one proving the cap was exceeded."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"refusing to collect more than {max_rows} rows for a driver-side "
            "CSV payload; reduce the frame first"
        )
    return pdf.to_csv(index=False)


def publish_to_datagouv(
    df: DataFrame,
    post_fn,
    resource_url: str,
    metadata: dict | None = None,
) -> dict:
    """S10: POST the CSV payload + PUT metadata (reference
    ``dags/publish-open-data.py:97-102``). The HTTP transport is
    injected (``post_fn(url, payload, metadata)``) so the pipeline is
    testable offline and the engine stays transport-agnostic."""
    payload = to_csv_payload(df)
    return post_fn(resource_url, payload, metadata or {})


def open_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    odc = FX.open_data_company(spark, sf_dir)
    flagged = odc.withColumn(
        "status",
        conditional_overwrite(
            F.col("verification_status"),
            F.col("company_types") == "AUTOMOBILE",
            F.lit("VERIFIED"),
        ),
    )
    kept = flagged.filter(F.col("status") == "VERIFIED").select(
        "siret", "nom", "address"
    )
    anon = odc.filter(F.col("siret").cast("bigint") % 10 == 0).select("siret")
    return existence_flag(kept, anon, "siret", "non_diffusible")
