"""SparkSession factory.

The reference has no engine at all — each Airflow task is a separate OS
process exchanging pickle files (SURVEY §3.1; reference
``dags/icpe-siretisation.py:143-313``). Here the whole engine shares one
SparkSession; task boundaries become lazy DataFrame lineage and shuffle
stages chosen by Catalyst/AQE.

Scale posture (100 TB target, tested on local[N]):
- AQE on: runtime coalescing, skew-join splitting, broadcast conversion.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number, so we set the
  *initial* number high-ish and let AQE shrink it.
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- PySpark's DataFrame debugging hook off: with it on, every ``F.*`` /
  ``Column`` call captures its Python call site, about five extra py4j
  round trips each. Errors still name the column or expression at
  fault; pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
  "true"}`` to get the call site back (PySpark reads the flag once per
  process).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "trackdechets_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are env-overridable so the driver's bench harness can
    steer core count via ``SPARK_GRAFT_CPUS`` without code changes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
