"""Sources & sinks: parquet listing, local rows, fixture loader, JDBC."""

from etl_platform_nyc_taxi_spark.sources.parquet import (
    list_parquet_files,
    load_fixture,
)
from etl_platform_nyc_taxi_spark.sources.rows import rows_source
from etl_platform_nyc_taxi_spark.sources.jdbc import (
    JdbcConfig,
    read_jdbc,
    write_jdbc_append,
    write_jdbc_overwrite,
    write_jdbc_upsert,
)

__all__ = [
    "list_parquet_files",
    "load_fixture",
    "rows_source",
    "JdbcConfig",
    "read_jdbc",
    "write_jdbc_append",
    "write_jdbc_overwrite",
    "write_jdbc_upsert",
]
