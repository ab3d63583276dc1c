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
- Generated-class cache at 1024 entries (Spark's default is 100). A
  warm pass of the iterative or headline workload uses more than 100
  generated classes, and an LRU cache smaller than a repeating cycle
  evicts each class just before its next use, so at the default every
  warm pass compiled every class again (docs/SCALE.md, "Generated
  code").
- ``materialize`` is the one place that cuts an intermediate result's
  lineage (see its docstring). Reliable checkpoints (non-local masters)
  are deleted once their frame is garbage-collected
  (``spark.cleaner.referenceTracking.cleanCheckpoints``); without it
  every materialized frame stayed in ``spark.checkpoint.dir``.
- ``broadcast_if_fits`` hints a broadcast when a frame's row count is
  known and Spark's own size estimate for that many rows fits
  ``spark.sql.autoBroadcastJoinThreshold`` (read by ``conf_bytes``, the
  one reader of byte-size confs); no knob of its own (docs/SCALE.md,
  "Broadcast gated on a known size").
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
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


# Spark's byte suffixes (JavaUtils.byteStringAs), as powers of 1024.
_BYTE_SUFFIXES = {
    "b": 0, "k": 1, "kb": 1, "m": 2, "mb": 2, "g": 3, "gb": 3,
    "t": 4, "tb": 4, "p": 5, "pb": 5,
}


def conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size conf in bytes, parsed as Spark parses it: the value
    comes back as it was set (``"134217728"``, ``"128m"``, ``"10MB"``,
    Spark's default ``"10485760b"``), a suffix-less number is bytes,
    and a leading ``-`` negates it, so ``-1`` (disabled) stays -1.
    Raises ``ValueError`` on a value Spark would reject too."""
    raw = spark.conf.get(key)
    text = raw.strip().lower()
    sign = -1 if text.startswith("-") else 1
    m = re.fullmatch(r"([0-9]+)([a-z]*)", text[1:] if sign < 0 else text)
    if m is None or m.group(2) not in ("", *_BYTE_SUFFIXES):
        raise ValueError(f"{key}={raw!r} is not a byte size")
    return sign * int(m.group(1)) * 1024 ** _BYTE_SUFFIXES.get(m.group(2), 0)


def broadcast_if_fits(df: DataFrame, rows: int) -> DataFrame:
    """``F.broadcast(df)`` when ``rows`` rows of ``df`` fit
    ``spark.sql.autoBroadcastJoinThreshold`` by Spark's own per-row
    estimate (8 bytes of row overhead plus the schema's default size),
    else ``df`` unchanged; a threshold of -1 never hints.

    For a frame whose row count the caller knows (or bounds) but whose
    plan statistics are far larger: a frame returned by
    :func:`materialize` keeps its origin plan's estimate, a product of
    the inputs for a join, so AQE plans a sort-merge join on it and
    shuffles both sides before it sees the real size. Past the
    threshold the join stays the shuffle join Spark would plan."""
    threshold = conf_bytes(df.sparkSession, "spark.sql.autoBroadcastJoinThreshold")
    if rows * (8 + df._jdf.schema().defaultSize()) <= threshold:
        return F.broadcast(df)
    return df
