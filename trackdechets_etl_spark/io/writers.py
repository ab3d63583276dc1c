"""Sinks (SURVEY §2.1, S8-S10).

The reference writes CSVs (``dags/publish-open-data.py:58,99``) and does
replace-mode JDBC inserts with a pathological ``chunksize=3``
(``dags/icpe-siretisation.py:380`` — deliberately NOT replicated; Spark's
JDBC writer batches at 1000+ rows). The REST sink (S10,
``dags/publish-open-data.py:97-102``) stays driver-side: collect the
(small, publishable) result and POST it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from trackdechets_etl_spark.io.readers import table_bytes


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink. ``partition_by`` (e.g. event date) enables
    partition pruning downstream — the 100 TB layout the reference
    never had (SURVEY §4, partition-pruning row)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows are hash-bucketed on the join key at
    write time, so equi-joins (and groupBys) between tables bucketed on
    the same key and count run WITHOUT a shuffle — the pre-paid-shuffle
    layout for fact-fact joins at 100 TB (the broadcast escape hatch
    only works while one side stays dim-sized). Requires saveAsTable
    (bucket metadata lives in the catalog)."""
    df.write.mode(mode).bucketBy(n_buckets, bucket_by).format(
        "parquet"
    ).saveAsTable(table)


def compact_parquet(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_file_bytes`` files. The operational fix for the
    many-small-files problem (streaming sinks, per-task outputs) that
    murders scan throughput at 100 TB — file-open overhead and
    footer reads dominate once files drop below ~tens of MB.
    Returns the number of output partitions written."""
    df = spark.read.parquet(src_path)
    n_parts = max(1, -(-table_bytes(df) // target_file_bytes))  # ceil div
    df.coalesce(n_parts).write.mode("overwrite").parquet(dest_path)
    return n_parts


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-order (Morton) sort key over 2+ numeric columns, as a pure
    native column expression.

    Each column is min-max quantized to ``bits`` bits (the min/max come
    from a tiny 1-row aggregate joined back via broadcast), then the
    bit planes are interleaved: column j contributes its b-th bit at
    position ``b * n_cols + j``. Sorting by the interleaved key gives
    multi-dimensional locality — parquet row-group min/max stats stay
    tight on EVERY z-ordered column, so scans filtered on any of them
    prune row groups. Single-column sorting only prunes its own column;
    this is the standard lakehouse answer (Delta/Iceberg ``OPTIMIZE
    ZORDER BY``) re-expressed with plain Spark expressions.

    Returns (df_with_mins_joined, key_column) — callers typically pass
    straight to :func:`write_zordered`.
    """
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    ranges = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(ranges))
    n = len(cols)
    max_bucket = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        span = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        frac = F.when(span > 0, (F.col(c).cast("double") - F.col(f"__min_{c}")) / span).otherwise(
            F.lit(0.0)
        )
        bucket = F.least(
            F.floor(frac * (max_bucket + 1)).cast("long"), F.lit(max_bucket)
        )
        for b in range(bits):
            key = key + (
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)), b * n + j
                )
            )
    return out, key.alias("__zkey")


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the Z-order key of ``cols``:
    range-partition on the key (one skew-balanced shuffle), sort within
    partitions, drop the helper columns. Every output file then covers
    a compact hyper-rectangle of the key space — min/max pruning works
    for filters on any of the z-ordered columns."""
    keyed, key = zorder_key(df, cols, bits)
    keyed = keyed.withColumn("__zkey", key)
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
        .write.mode(mode)
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """S8: CSV sink (reference ``dags/publish-open-data.py:58``)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """ORC sink — the columnar alternative when the downstream reader
    is Hive/Trino-first (both engines' native vectorized ORC readers
    skip stripes on min/max like parquet row groups). Same
    partition-pruning layout contract as :func:`write_parquet`; the
    reference has no columnar sink at all (CSV + pickle only,
    dags/icpe-siretisation.py), so this is pure engine surface."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """S9: replace-mode JDBC sink (reference
    ``dags/icpe-siretisation.py:380,385``), with a sane batch size."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
