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
- ``materialize`` is the one place that cuts an intermediate result's
  lineage (see its docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


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


def is_local_master(master: str) -> bool:
    """True for ``local`` and ``local[...]``: every executor lives in the
    driver JVM. ``local-cluster[...]`` starts separate executor JVMs, so
    it is a cluster here."""
    return master == "local" or master.startswith("local[")


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Compute ``df`` once (now, or with the first action when ``eager``
    is false) and return a frame whose lineage starts at the stored
    result, so later consumers neither recompute it nor re-plan a
    growing lineage.

    On a ``local[...]`` master this is ``df.localCheckpoint(eager=eager)``:
    blocks stay in the driver JVM's block manager, and nothing can lose
    them that would not also lose the driver. On any other master a
    local checkpoint block lives only on the executor that computed it,
    and losing that executor fails the next action
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``), so the result is written as
    a reliable checkpoint into Spark's ``spark.checkpoint.dir``; Spark
    raises its own error if that is unset. That checkpoint is always
    eager: a lazy one recomputes the lineage in a second job when the
    files are written."""
    if is_local_master(df.sparkSession.sparkContext.master):
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=True)
