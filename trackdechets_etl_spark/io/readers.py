"""Schema-explicit sources (SURVEY §2.1, S1-S7).

The reference declares every input schema by hand — headerless CSVs get
explicit column ``names``/``dtype``/``parse_dates``
(reference ``dags/icpe-siretisation.py:65-126,135-139``), SQL sources get
explicit SELECT lists (``dags/icpe-siretisation.py:230-233``,
``dags/publish-open-data.py:26-30``). Nothing is inferred. We keep that
discipline: every reader takes a ``StructType`` (or pushes an explicit
query to JDBC). At 100 TB schema inference is a full extra scan — never
enable it.

The reference's pickle relay (S7, ``to_pickle``/``read_pickle`` at every
Airflow task boundary) has no equivalent here: one lazy lineage replaces
it, with ``.cache()`` only at genuine branch points (SURVEY §3.1).
"""

from __future__ import annotations

import shutil
import tarfile
import urllib.request
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def resolve_source_path(url_or_path: str, dest: str) -> str:
    """S1/S2: fetch a remote file to local disk, or copy a local path.

    Mirrors reference ``dags/icpe-siretisation.py:26-32`` — if the
    location starts with ``/`` it is a local file (test env) and is
    copied; otherwise it is downloaded. Driver-side by design: at real
    scale the data lands on object storage and Spark reads it directly.
    """
    dest_path = Path(dest)
    dest_path.parent.mkdir(parents=True, exist_ok=True)
    if url_or_path.startswith("/"):
        shutil.copyfile(url_or_path, dest)
    else:
        with urllib.request.urlopen(url_or_path) as resp, open(dest, "wb") as f:
            shutil.copyfileobj(resp, f)
    return dest


def extract_tar_members(archive: str, members: list[str], out_dir: str) -> list[str]:
    """S3: extract named CSV members from a tar.gz archive
    (reference ``dags/icpe-siretisation.py:44-52``). Driver-side
    pre-step — Spark cannot scan tar natively; the extracted CSVs are
    then read with :func:`read_csv_with_schema`.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    paths = []
    with tarfile.open(archive, "r:gz") as tf:
        for m in members:
            tf.extract(m, path=out_dir, filter="data")
            paths.append(str(out / m))
    return paths


def read_csv_with_schema(
    spark: SparkSession,
    path: str,
    schema: StructType,
    sep: str = ";",
    header: bool = False,
    date_format: str = "d/M/yyyy",
) -> DataFrame:
    """S4/S5: headerless CSV scan with explicit schema and day-first
    dates (reference ``dags/icpe-siretisation.py:135-139``; day-first
    ``dayfirst=True`` → Spark ``dateFormat='d/M/yyyy'``, SURVEY C8).
    """
    return (
        spark.read.schema(schema)
        .options(
            sep=sep,
            header=str(header).lower(),
            dateFormat=date_format,
            timestampFormat=f"{date_format}[ H:mm:ss]",
            mode="PERMISSIVE",
        )
        .csv(path)
    )


def read_jdbc_query(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_options: dict[str, str] | None = None,
) -> DataFrame:
    """S6: JDBC scan with SQL pushdown (reference
    ``dags/icpe-siretisation.py:230-233``, ``dags/publish-open-data.py:26-30``
    — hand-written SELECT with aliases and casts pushed to Postgres).

    ``partition_options`` (partitionColumn/lowerBound/upperBound/
    numPartitions) enable parallel reads — mandatory at scale; the
    reference reads single-threaded.
    """
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    for k, v in (partition_options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_jdbc_table_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S6 at scale: range-partitioned parallel JDBC scan (reference
    ``dags/icpe-siretisation.py:230-233`` reads single-threaded; this
    is its Spark mapping per SURVEY §2.1). Spark issues one query per
    stride of ``partition_column`` — N concurrent connections, each
    executor pulling a disjoint slice. Uses ``dbtable`` because the
    JDBC source forbids combining ``query`` with partitionColumn."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> DataFrame:
    """JSON-lines scan with an explicit schema (same no-inference
    discipline as S4/S5 — inferring JSON schema is a full extra pass,
    and silently widens types at 100 TB). Malformed lines surface in
    ``_corrupt_record``-free PERMISSIVE mode as nulls; switch to
    ``mode='FAILFAST'`` via ``.option`` when ingest must be strict."""
    return spark.read.schema(schema).json(path)


def table_bytes(df: DataFrame) -> int:
    """Byte size of a bare parquet scan: the sum of the file lengths
    Spark listed when the scan was created, read from the analyzed
    plan's statistics. Starts no job and opens no file, and works the
    same for a single file, a directory of part files or any URI the
    Hadoop file system resolves. Size the scan before projecting it:
    a Project scales the estimate by row width."""
    return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())


def read_events(spark: SparkSession, path: str, stream: bool = False) -> DataFrame:
    """Scan an events parquet with ``ts`` as a microsecond timestamp.

    Spark rejects a TIMESTAMP(NANOS) column unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on; it then arrives as
    long nanos and is truncated here to microseconds, the conversion
    DuckDB applies. The conf is runtime-settable and set here, so the
    engine also works under a caller-built SparkSession. A microsecond
    ``ts`` passes through unchanged. ``stream=True`` returns a
    file-stream source over the same path, with the batch schema.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if stream:
        # Glob form: the file-stream source requires a directory basePath;
        # a glob makes it resolve to the parent directory.
        df = spark.readStream.schema(df.schema).parquet(f"{path}*")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Tables whose downstream workloads are per-row CPU-heavy (shingling,
# hashing, vector math) rather than shuffle-bound. Only these benefit
# from an explicit scan fan-out: relational tables hit an exchange
# (join/agg) almost immediately, which parallelizes them anyway, and an
# extra up-front shuffle just adds latency (measured at sf0.1: text ops
# 1.5-2x faster with fan-out, TPC-H shapes 1.3-2x slower).
_CPU_HEAVY_TABLES = {"documents", "embeddings"}


def _fan_out_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Parallelize scans of files Spark cannot split.

    A parquet file is splittable only at row-group boundaries; the test
    corpus writes ONE row group per file, so every scan arrives as a
    single partition and all per-row work (string ops, hashing,
    shingling) serializes onto one core until the first shuffle. When
    the scan's estimated split count is below the session parallelism,
    repartition to fan the rows out — one tiny round-robin shuffle buys
    full-width execution of everything downstream.

    At real scale this is a no-op: a 100 TB dataset's layout already
    yields thousands of splits, so ``est_splits >= parallelism`` and no
    extra shuffle is inserted.
    """
    max_bytes = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    parallelism = spark.sparkContext.defaultParallelism
    est_splits = max(1, table_bytes(df) // max_bytes)
    if est_splits < parallelism:
        return df.repartition(parallelism)
    return df


def read_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load one of the synthetic corpus tables (TESTDATA.md); ``events``
    goes through :func:`read_events`.

    The CPU-heavy text/vector tables always get the small-scan fan-out;
    ``fan_out=True`` also applies it to this table (for fact spines
    feeding broadcast-join pipelines, where ALL work until the first
    aggregation runs inside the scan partitions).
    """
    path = f"{sf_dir}/{name}.parquet"
    df = read_events(spark, path) if name == "events" else spark.read.parquet(path)
    if fan_out or name in _CPU_HEAVY_TABLES:
        df = _fan_out_small_scan(spark, df)
    return df


ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL front door: register every corpus table as a temp view so
    users run plain ``spark.sql(...)`` — the engine-level equivalent of
    the reference handing analysts raw Postgres access
    (``dags/publish-open-data.py:26-30``). Views are lazy; nothing is
    scanned until a query runs against it."""
    for name in ALL_TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
