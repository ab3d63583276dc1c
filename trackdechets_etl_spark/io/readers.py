"""Schema-explicit sources (SURVEY §2.1, S1-S7).

The reference declares every input schema by hand — headerless CSVs get
explicit column ``names``/``dtype``/``parse_dates``
(reference ``dags/icpe-siretisation.py:65-126,135-139``), SQL sources get
explicit SELECT lists (``dags/icpe-siretisation.py:230-233``,
``dags/publish-open-data.py:26-30``). Nothing is inferred. We keep that
discipline: every reader takes a ``StructType`` (or pushes an explicit
query to JDBC). At 100 TB schema inference is a full extra scan — never
enable it. The corpus parquet tables take theirs from
:data:`TABLE_SCHEMAS`, checked once per listing against one file's
footer, so drifted input fails loudly before any job runs.

The reference's pickle relay (S7, ``to_pickle``/``read_pickle`` at every
Airflow task boundary) has no equivalent here: one lazy lineage replaces
it, with ``.cache()`` only at genuine branch points (SURVEY §3.1).
"""

from __future__ import annotations

import json
import shutil
import tarfile
import urllib.request
import weakref
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from trackdechets_etl_spark.session import conf_bytes


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


def _schema(columns: str) -> StructType:
    types = {
        "int": IntegerType(),
        "bigint": LongType(),
        "double": DoubleType(),
        "string": StringType(),
        "timestamp_ntz": TimestampNTZType(),
        "array<float>": ArrayType(FloatType()),
    }
    return StructType(
        [StructField(n, types[t]) for n, t in (c.split() for c in columns.split(","))]
    )


# The corpus tables (TESTDATA.md) as their parquet footers store them and
# Spark reads them: keys are BIGINT/INT exactly as written, the
# ``timestamp[us]`` columns read as TIMESTAMP_NTZ. Declaring them saves
# the schema-inference job every inferred read starts.
TABLE_SCHEMAS: dict[str, StructType] = {
    "region": _schema("r_regionkey int, r_name string"),
    "nation": _schema("n_nationkey int, n_name string, n_regionkey int"),
    "customer": _schema(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    ),
    "supplier": _schema(
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ),
    "part": _schema(
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ),
    "orders": _schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": _schema(
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp_ntz"
    ),
    "events": _schema(
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string,"
        " value double, props string"
    ),
    "documents": _schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": _schema("vec_id bigint, embedding array<float>, label int"),
}

# {session: {(path, listed bytes): footer schema}}. Keyed on the listed
# bytes so that a table rewritten under the same path is read again.
_FOOTER_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple[str, int], StructType]
] = weakref.WeakKeyDictionary()


def _footer_schema(spark: SparkSession, path: str, df: DataFrame) -> StructType:
    """The schema Spark would infer for the scan ``df`` of ``path``: the
    footer of one listed file, converted by the session's own
    ``ParquetToSparkSchemaConverter`` (which applies ``nanosAsLong`` and
    the TIMESTAMP_NTZ rules as inference does). Driver-side, no job.
    Only the chosen file's name crosses to Python, not the listing."""
    cache = _FOOTER_SCHEMAS.setdefault(spark, {})
    key = (path, table_bytes(df))
    if key not in cache:
        files = df._jdf.inputFiles()
        if len(files) == 0:
            raise ValueError(f"{path}: no parquet file listed")
        jvm, jss = spark._jvm, spark._jsparkSession
        hadoop = jvm.org.apache.hadoop
        parquet = jvm.org.apache.parquet.hadoop
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromPath(
                hadoop.fs.Path(files[0]), jss.sessionState().newHadoopConf()
            )
        )
        try:
            message = reader.getFooter().getFileMetaData().getSchema()
        finally:
            reader.close()
        datasources = jvm.org.apache.spark.sql.execution.datasources
        converter = datasources.parquet.ParquetToSparkSchemaConverter(
            jss.sessionState().conf()
        )
        footer = converter.convert(message).json()
        cache[key] = StructType.fromJson(json.loads(footer))
    return cache[key]


def _check_schema(path: str, declared: StructType, footer: StructType) -> None:
    """Fail before any job runs if a declared column is missing from the
    file or stored as another type: Spark would read the first as nulls
    and fail on the second only mid-scan."""
    found = {f.name: f.dataType.simpleString() for f in footer}
    for f in declared:
        want = f.dataType.simpleString()
        got = found.get(f.name, "missing")
        if got != want:
            raise ValueError(
                f"{path}: column {f.name!r} is {got} in the file, declared {want}"
            )


def read_events(spark: SparkSession, path: str, stream: bool = False) -> DataFrame:
    """Scan an events parquet with ``ts`` as a microsecond timestamp.

    Spark rejects a TIMESTAMP(NANOS) column unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on; it then arrives as
    long nanos and is truncated here to microseconds, the conversion
    DuckDB applies. The conf is runtime-settable and set here, so the
    engine also works under a caller-built SparkSession. Whether ``ts``
    is nanos is read from the file's footer; a microsecond ``ts`` passes
    through unchanged. ``stream=True`` returns a file-stream source over
    the same path, with the batch schema.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = TABLE_SCHEMAS["events"]
    df = spark.read.schema(schema).parquet(path)
    footer = _footer_schema(spark, path, df)
    nanos = any(f.name == "ts" and f.dataType == LongType() for f in footer)
    if nanos:
        schema = StructType(
            [StructField("ts", LongType()) if f.name == "ts" else f for f in schema]
        )
        df = spark.read.schema(schema).parquet(path)
    _check_schema(path, schema, footer)
    if stream:
        # Glob form: the file-stream source requires a directory basePath;
        # a glob makes it resolve to the parent directory.
        df = spark.readStream.schema(schema).parquet(f"{path}*")
    if nanos:
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
    max_bytes = conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
    parallelism = spark.sparkContext.defaultParallelism
    est_splits = max(1, table_bytes(df) // max_bytes)
    if est_splits < parallelism:
        return df.repartition(parallelism)
    return df


def read_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load one of the synthetic corpus tables (TESTDATA.md) with its
    declared schema, checked against the file; ``events`` goes through
    :func:`read_events`.

    The CPU-heavy text/vector tables always get the small-scan fan-out;
    ``fan_out=True`` also applies it to this table (for fact spines
    feeding broadcast-join pipelines, where ALL work until the first
    aggregation runs inside the scan partitions).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        df = read_events(spark, path)
    else:
        df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
        _check_schema(path, TABLE_SCHEMAS[name], _footer_schema(spark, path, df))
    if fan_out or name in _CPU_HEAVY_TABLES:
        df = _fan_out_small_scan(spark, df)
    return df


ALL_TABLES = tuple(TABLE_SCHEMAS)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL front door: register every corpus table as a temp view so
    users run plain ``spark.sql(...)`` — the engine-level equivalent of
    the reference handing analysts raw Postgres access
    (``dags/publish-open-data.py:26-30``). Views are lazy; nothing is
    scanned until a query runs against it."""
    for name in ALL_TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
