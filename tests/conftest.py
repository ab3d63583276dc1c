from __future__ import annotations

from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import ALL_TABLES, TABLE_SCHEMAS
from trackdechets_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def write_parted(table: str, sf_dir, n_files: int = 3) -> int:
    """Write the ``SF_DIR`` table into ``sf_dir`` as a directory
    ``<table>.parquet/`` of ``n_files`` part files — the layout real
    writers produce — and return the summed size of the part files."""
    t = pq.read_table(f"{SF_DIR}/{table}.parquet")
    out = Path(sf_dir) / f"{table}.parquet"
    out.mkdir(parents=True)
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * step, step), out / f"part-{i:05d}.parquet")
    return sum(f.stat().st_size for f in out.iterdir())


def write_corpus_table(df, sf_dir, name: str) -> None:
    """Write ``df`` as corpus table ``name`` under ``sf_dir`` in the
    declared schema ``read_table`` checks (``io.readers.TABLE_SCHEMAS``):
    the columns ``df`` lacks are written as nulls, the others cast to
    their declared type. Lets a test build a table from just the
    columns its query reads."""
    df.select(
        [
            (F.col(f.name) if f.name in df.columns else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in TABLE_SCHEMAS[name]
        ]
    ).write.mode("overwrite").parquet(f"{sf_dir}/{name}.parquet")
