from trackdechets_etl_spark.io.readers import (
    read_csv_with_schema,
    read_jdbc_query,
    read_table,
    resolve_source_path,
)
from trackdechets_etl_spark.io.writers import write_csv, write_jdbc, write_parquet

__all__ = [
    "read_csv_with_schema",
    "read_jdbc_query",
    "read_table",
    "resolve_source_path",
    "write_csv",
    "write_jdbc",
    "write_parquet",
]
