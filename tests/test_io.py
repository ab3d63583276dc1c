"""IO-layer tests: headerless CSV with explicit schema + day-first
dates (S4), source-path resolution (S1/S2), tar extraction (S3), and
the parquet/CSV sinks (S8), mirroring the reference's scan surface."""

from __future__ import annotations

import tarfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from trackdechets_etl_spark.io.readers import (
    extract_tar_members,
    read_csv_with_schema,
    resolve_source_path,
)
from trackdechets_etl_spark.io.writers import write_csv, write_parquet
from tests.conftest import SF_DIR, write_parted

ICPE_LIKE_SCHEMA = StructType(
    [
        StructField("code_s3ic", StringType()),
        StructField("volume", DoubleType()),
        StructField("date_debut", TimestampType()),
    ]
)


def test_csv_headerless_dayfirst(spark, tmp_path):
    """S4/C8: ';'-separated, no header, day-first dates — 25/12/2020
    must parse as December 25th, and leading zeros survive (string
    dtype, reference dags/icpe-siretisation.py:91)."""
    p = tmp_path / "icpe.csv"
    p.write_text("0061234567;12.5;25/12/2020\n0070000001;;3/1/2021\n")
    df = read_csv_with_schema(spark, str(p), ICPE_LIKE_SCHEMA)
    rows = {r.code_s3ic: r for r in df.collect()}
    assert rows["0061234567"].date_debut.month == 12
    assert rows["0061234567"].date_debut.day == 25
    assert rows["0070000001"].date_debut.month == 1  # day-first: 3 Jan
    assert rows["0070000001"].volume is None


def test_resolve_source_path_local(tmp_path):
    """S2: a path starting with '/' is copied, not downloaded
    (reference dags/icpe-siretisation.py:26-28)."""
    src = tmp_path / "src.csv"
    src.write_text("a;b\n")
    dest = tmp_path / "sub" / "dest.csv"
    out = resolve_source_path(str(src), str(dest))
    assert Path(out).read_text() == "a;b\n"


def test_extract_tar_members(tmp_path):
    """S3: extract named members from a tar.gz
    (reference dags/icpe-siretisation.py:44-52)."""
    for name in ["a.csv", "b.csv", "skip.csv"]:
        (tmp_path / name).write_text(f"{name} content\n")
    archive = tmp_path / "arch.tar.gz"
    with tarfile.open(archive, "w:gz") as tf:
        for name in ["a.csv", "b.csv", "skip.csv"]:
            tf.add(tmp_path / name, arcname=name)
    out_dir = tmp_path / "out"
    paths = extract_tar_members(str(archive), ["a.csv", "b.csv"], str(out_dir))
    assert [Path(p).name for p in paths] == ["a.csv", "b.csv"]
    assert (out_dir / "a.csv").read_text() == "a.csv content\n"
    assert not (out_dir / "skip.csv").exists()


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1, "2020"), ("b", 2, "2021")], ["k", "v", "year"]
    )
    out = str(tmp_path / "part")
    write_parquet(df, out, partition_by=["year"])
    # partition layout on disk -> partition pruning is possible
    assert (tmp_path / "part" / "year=2020").exists()
    back = spark.read.parquet(out)
    assert back.filter(F.col("year") == "2021").count() == 1


def test_publish_rest_sink(spark):
    """S10: CSV payload + injected transport (reference
    dags/publish-open-data.py:97-102)."""
    import pytest

    from trackdechets_etl_spark.plans.publish_open_data import (
        publish_to_datagouv,
        to_csv_payload,
    )

    df = spark.createDataFrame([("s1", "oui"), ("s2", None)], ["siret", "flag"])
    calls = []

    def fake_post(url, payload, metadata):
        calls.append((url, payload, metadata))
        return {"status": 200}

    out = publish_to_datagouv(df, fake_post, "https://example/api", {"title": "t"})
    assert out == {"status": 200}
    url, payload, meta = calls[0]
    assert "siret,flag" in payload and "s1,oui" in payload
    assert meta == {"title": "t"}

    with pytest.raises(ValueError):
        to_csv_payload(df, max_rows=1)


def test_csv_sink(spark, tmp_path):
    df = spark.createDataFrame([("x", 1)], ["k", "v"])
    out = str(tmp_path / "csv_out")
    write_csv(df, out)
    back = spark.read.option("header", "true").csv(out)
    assert back.collect()[0].k == "x"


def test_jsonl_roundtrip_with_explicit_schema(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from trackdechets_etl_spark.io.readers import read_jsonl

    p = tmp_path / "rows.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "score": 0.5}\n'
        '{"id": 2, "name": null, "score": 1.25}\n'
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    df = read_jsonl(spark, str(p), schema)
    rows = sorted((r["id"], r["name"], r["score"]) for r in df.collect())
    assert rows == [(1, "a", 0.5), (2, None, 1.25)]
    assert df.schema == schema


def test_orc_roundtrip(spark, tmp_path):
    """ORC sink/source round-trip — the third columnar format Spark
    ships natively (after parquet); schema and values survive."""
    from trackdechets_etl_spark.io.readers import read_table

    src = read_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == src.schema
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in src.collect()
    )


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S6/S9 live round-trip against embedded Derby (bundled on Spark's
    classpath for the Hive metastore): write_jdbc with overwrite mode +
    batchsize, re-write to prove overwrite replaces (not appends), then
    read_jdbc_query with a pushed-down SELECT (projection + WHERE run
    inside the database, reference icpe:230-233 / publish:26-30,70-73
    semantics). Spark's JDBC writer quotes identifiers at CREATE, so
    the pushed SQL must quote them too (Derby uppercases unquoted)."""
    from trackdechets_etl_spark.io.readers import read_jdbc_query, read_table
    from trackdechets_etl_spark.io.writers import write_jdbc

    # Derby logs to derby.log in user.dir unless told otherwise; keep
    # the repo clean. Lazy driver load → property set first wins.
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    src = read_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n_src = src.count()

    write_jdbc(src, url, "nation_rt", mode="overwrite", properties=props, batchsize=7)
    # Overwrite must REPLACE: second write of the same frame leaves the
    # same row count (append would double it — icpe:380 replace mode).
    write_jdbc(src, url, "nation_rt", mode="overwrite", properties=props, batchsize=7)

    full = read_jdbc_query(
        spark, url, 'SELECT "n_nationkey", "n_name", "n_regionkey" FROM nation_rt', props
    )
    assert full.count() == n_src
    assert sorted(r["n_name"] for r in full.collect()) == sorted(
        r["n_name"] for r in src.collect()
    )

    # Pushdown: the WHERE + projection execute in Derby — Spark only
    # sees the filtered 2-column result.
    pushed = read_jdbc_query(
        spark,
        url,
        'SELECT "n_nationkey", "n_name" FROM nation_rt WHERE "n_regionkey" = 0',
        props,
    )
    expected = sorted(
        (r["n_nationkey"], r["n_name"])
        for r in src.filter("n_regionkey = 0").collect()
    )
    assert sorted((r[0], r[1]) for r in pushed.collect()) == expected
    assert pushed.columns == ["n_nationkey", "n_name"]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Lakehouse schema drift: a second batch adds a column; reading
    with mergeSchema unions the schemas and backfills NULL for the
    old files — the contract a 100 TB table relies on when producers
    evolve independently."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        p + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(p + "/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "score", "batch"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None, "old files must backfill NULL"
    assert rows[2].score == 9.5


def test_csv_malformed_rows_captured_and_droppable(spark, tmp_path):
    """Ingestion robustness: PERMISSIVE mode lands malformed rows in
    _corrupt_record (nothing silently lost), DROPMALFORMED removes
    them — the two contracts a 100 TB CSV backfill chooses between."""
    p = tmp_path / "dirty.csv"
    p.write_text("1;alpha;2.5\nbroken-row-without-fields\n2;beta;not_a_number\n3;gamma;7.25\n")
    schema = "id INT, name STRING, score DOUBLE"
    permissive = (
        spark.read.schema(schema + ", _corrupt_record STRING")
        .option("sep", ";")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()
    )
    bad = permissive.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 2, "both malformed rows must be captured"
    assert {r._corrupt_record for r in bad} == {
        "broken-row-without-fields",
        "2;beta;not_a_number",
    }
    dropped = (
        spark.read.schema(schema)
        .option("sep", ";")
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
        .collect()
    )
    assert {r.id for r in dropped} == {1, 3}


def test_jdbc_partitioned_read_parallelism(spark, tmp_path):
    """S6 parallel scan (VERDICT r5 item 7): a
    partitionColumn/lowerBound/upperBound/numPartitions read must land
    as N Spark partitions whose key ranges are DISJOINT strides and
    whose union is the complete table — the shape that turns the
    reference's single-threaded Postgres pull into N concurrent
    executor connections."""
    from pyspark.sql import functions as F

    from trackdechets_etl_spark.io.readers import (
        read_jdbc_table_partitioned,
        read_table,
    )
    from trackdechets_etl_spark.io.writers import write_jdbc

    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    src = read_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name"
    )
    write_jdbc(src, url, "nation_part", mode="overwrite", properties=props)

    df = read_jdbc_table_partitioned(
        spark,
        url,
        "nation_part",
        partition_column='"n_nationkey"',
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
        properties=props,
    )
    assert df.rdd.getNumPartitions() == 4

    per = (
        df.select(F.spark_partition_id().alias("pid"), "n_nationkey")
        .groupBy("pid")
        .agg(
            F.min("n_nationkey").alias("lo"),
            F.max("n_nationkey").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    # Every stride non-empty (25 keys over 4 strides of ~6), ranges
    # strictly disjoint, and nothing lost or duplicated.
    assert len(per) == 4 and all(r.n > 0 for r in per)
    spans = sorted((r.lo, r.hi) for r in per)
    assert all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]))
    assert sorted(r["n_nationkey"] for r in df.collect()) == sorted(
        r["n_nationkey"] for r in src.collect()
    )


# ------------------------------------------- sizing a scan off the fixture layout


def test_table_bytes_sums_listed_files(spark, tmp_path):
    """table_bytes is the summed part-file size for a directory and for
    its file:// URI, and the file size for a single file."""
    import os

    from trackdechets_etl_spark.io.readers import table_bytes

    parts = write_parted("orders", tmp_path)
    path = str(tmp_path / "orders.parquet")
    assert table_bytes(spark.read.parquet(path)) == parts
    assert table_bytes(spark.read.parquet(f"file://{path}")) == parts
    single = f"{SF_DIR}/orders.parquet"
    assert table_bytes(spark.read.parquet(single)) == os.path.getsize(single)


def _round_robin(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("uri", [False, True], ids=["dir", "file_uri"])
def test_fan_out_decides_from_listed_bytes(spark, tmp_path, uri):
    """The small-scan fan-out compares the listed bytes, not the size of
    a directory entry, against the split size: at a split size of
    bytes // parallelism the scan already spans every core, one byte
    more and it does not. A directory entry (a few KiB) or an unstat-able
    URI would give the same decision on both sides of that boundary."""
    from trackdechets_etl_spark.io.readers import read_table

    parts = write_parted("documents", tmp_path)
    sf_dir = f"file://{tmp_path}" if uri else str(tmp_path)
    parallelism = spark.sparkContext.defaultParallelism
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, str(parts // parallelism))
        assert not _round_robin(read_table(spark, sf_dir, "documents"))
        spark.conf.set(conf, str(parts // parallelism + 1))
        assert _round_robin(read_table(spark, sf_dir, "documents"))
    finally:
        spark.conf.set(conf, old)


def test_fan_out_reads_split_size_with_a_unit(spark):
    """Spark returns a byte-size conf as it was set, unit and all: the
    fan-out reads ``spark.sql.files.maxPartitionBytes`` set to ``128m``
    (an ``int()`` of it raised ``ValueError``), as 128 MiB."""
    from trackdechets_etl_spark.io.readers import read_table

    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "128m")
        assert _round_robin(read_table(spark, SF_DIR, "documents"))
    finally:
        spark.conf.set(conf, old)


def test_compact_parquet_sizes_uri_like_path(spark, tmp_path):
    from trackdechets_etl_spark.io.writers import compact_parquet

    parts = write_parted("orders", tmp_path / "src")
    src = str(tmp_path / "src" / "orders.parquet")
    target = parts // 3
    n_path = compact_parquet(spark, src, str(tmp_path / "a"), target_file_bytes=target)
    n_uri = compact_parquet(
        spark, f"file://{src}", str(tmp_path / "b"), target_file_bytes=target
    )
    assert n_path == n_uri == -(-parts // target)


# ------------------------------------------------ events.ts stored as nanoseconds


def _write_nanos_events(sf_dir) -> dict[int, int]:
    """Rewrite the fixture events with ``ts`` as TIMESTAMP(NANOS) plus
    0-999 sub-microsecond nanos, and return DuckDB's reading of it as
    {event_id: epoch micros}."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/events.parquet")
    extra = pc.multiply(pc.bit_wise_and(t["event_id"], 3), 333)
    ns = pc.add(pc.multiply(t["ts"].cast(pa.int64()), 1000), extra)
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", ns.cast(pa.timestamp("ns"))
    )
    path = f"{sf_dir}/events.parquet"
    pq.write_table(t, path)
    assert "nanoseconds" in str(pq.ParquetFile(path).schema.column(1).logical_type)
    return dict(
        duckdb.sql(f"SELECT event_id, epoch_us(ts) FROM '{path}'").fetchall()
    )


def test_events_nanos_truncate_to_micros_like_duckdb(spark, tmp_path):
    """Every corpus stores ``ts`` in microseconds, so the nanos branch of
    the events reader runs only on a file written this way: the batch
    reader, the stream source and the helper they share all read
    the truncated microseconds DuckDB reads."""
    from trackdechets_etl_spark.io.readers import read_events, read_table
    from trackdechets_etl_spark.streaming.events import stream_from_parquet

    want = _write_nanos_events(tmp_path)
    assert {v % 1000 for v in want.values()} != {0}  # not whole millis

    def micros(df):
        return df.select("event_id", F.unix_micros("ts").alias("us"))

    batch = read_table(spark, str(tmp_path), "events")
    assert dict(micros(batch).collect()) == want
    events = read_events(spark, str(tmp_path / "events.parquet"))
    assert dict(micros(events).collect()) == want

    q = (
        micros(stream_from_parquet(spark, str(tmp_path)))
        .writeStream.format("memory")
        .queryName("nanos_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert dict(spark.sql("SELECT * FROM nanos_events").collect()) == want


# ------------------------------------------------ declared corpus schemas


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_read_table_starts_no_job(spark):
    """Every corpus table is read with its declared schema and checked
    against a footer on the driver: building the scan runs no Spark job
    (an inferred read runs one schema-inference job per call)."""
    from trackdechets_etl_spark.io.readers import ALL_TABLES, read_table

    before = _jobs(spark)
    for name in ALL_TABLES:
        read_table(spark, SF_DIR, name)
    assert _jobs(spark) == before


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_table_schemas_equal_inferred(spark, sf):
    from trackdechets_etl_spark.io.readers import ALL_TABLES, TABLE_SCHEMAS

    sf_dir = str(Path(SF_DIR).parent / f"sf{sf}")
    assert set(TABLE_SCHEMAS) == set(ALL_TABLES)
    for name in ALL_TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert TABLE_SCHEMAS[name] == inferred, name


def _write_orders(sf_dir, drift=None):
    """Write the fixture orders into ``sf_dir``, with ``drift`` applied
    to its pyarrow table."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/orders.parquet")
    pq.write_table(drift(t) if drift else t, f"{sf_dir}/orders.parquet")


def _drop_custkey(t):
    return t.drop_columns(["o_custkey"])


def _orderkey_as_string(t):
    import pyarrow as pa

    i = t.schema.get_field_index("o_orderkey")
    return t.set_column(i, "o_orderkey", t["o_orderkey"].cast(pa.string()))


@pytest.mark.parametrize(
    "drift, column, found",
    [
        (_drop_custkey, "o_custkey", "missing"),
        (_orderkey_as_string, "o_orderkey", "string"),
    ],
    ids=["dropped", "retyped"],
)
def test_drifted_table_fails_before_any_job(spark, tmp_path, drift, column, found):
    """A dropped column (which Spark would read as nulls) and a retyped
    one (which Spark would reject only mid-scan) both fail the read,
    naming the path, the column and both types."""
    from trackdechets_etl_spark.io.readers import read_table

    _write_orders(tmp_path, drift)
    before = _jobs(spark)
    with pytest.raises(ValueError) as err:
        read_table(spark, str(tmp_path), "orders")
    msg = str(err.value)
    assert f"{tmp_path}/orders.parquet" in msg
    assert repr(column) in msg and found in msg and "bigint" in msg
    assert _jobs(spark) == before


def test_rewritten_table_is_checked_again(spark, tmp_path):
    """The footer schema is cached per listing: a table rewritten under
    the same path in the same session is checked against its new footer."""
    from trackdechets_etl_spark.io.readers import read_table

    _write_orders(tmp_path)
    assert read_table(spark, str(tmp_path), "orders").count() > 0
    _write_orders(tmp_path, _drop_custkey)
    with pytest.raises(ValueError, match="o_custkey"):
        read_table(spark, str(tmp_path), "orders")


# ------------------------------------------------------------ session settings


def test_session_skips_call_site_capture_but_errors_name_the_column(spark):
    """The engine session turns PySpark's DataFrame debugging hook off
    (no per-Column call-site capture); an unresolved column still names
    the column in the AnalysisException."""
    import pyspark.errors.utils as errors_utils
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    cached = errors_utils._enable_debugging_cache
    errors_utils._enable_debugging_cache = None  # re-read the active session
    try:
        assert errors_utils.is_debugging_enabled() is False
    finally:
        errors_utils._enable_debugging_cache = cached
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(1).select(F.col("no_such_col")).schema


# ---------------------------------------------------------- open-data payload


def test_csv_payload_equals_two_pass_payload(spark):
    """The one-pass payload holds the rows the former count-then-collect
    payload held, compared order-insensitively."""
    from trackdechets_etl_spark.plans.publish_open_data import (
        open_data_pipeline,
        to_csv_payload,
    )

    df = open_data_pipeline(spark, SF_DIR)
    two_pass = df.toPandas().to_csv(index=False).splitlines()
    one_pass = to_csv_payload(df).splitlines()
    assert one_pass[0] == two_pass[0]
    assert len(one_pass) > 1
    assert sorted(one_pass[1:]) == sorted(two_pass[1:])
    with pytest.raises(ValueError):
        to_csv_payload(df, max_rows=len(one_pass) - 2)
    at_cap = to_csv_payload(df, max_rows=len(one_pass) - 1).splitlines()
    assert sorted(at_cap) == sorted(one_pass)
