from dpe_energy_performance_analysis_etl_spark.sources.io import (
    read_csv,
    read_json_lines,
    write_parquet,
    materialize_parquet,
    purge_dir,
    write_bucketed_table,
    dir_stats,
    compact_parquet_dir,
)
from dpe_energy_performance_analysis_etl_spark.sources.rest import (
    RateLimiter,
    shared_limiter,
    rest_lookup_join,
    paged_rest_scan,
)
from dpe_energy_performance_analysis_etl_spark.sources.jdbc_dialect import (
    JdbcDialect,
    POSTGRES,
    DERBY,
    GENERIC,
    dialect_for_url,
    upsert_jdbc_table,
    jdbc_table_exists,
    check_table_ident,
)
from dpe_energy_performance_analysis_etl_spark.sources.sinks import (
    parquet_sink,
    jdbc_sink,
)

__all__ = [
    "dir_stats",
    "compact_parquet_dir",
    "read_csv",
    "read_json_lines",
    "write_parquet",
    "materialize_parquet",
    "purge_dir",
    "write_bucketed_table",
    "RateLimiter",
    "shared_limiter",
    "rest_lookup_join",
    "paged_rest_scan",
    "JdbcDialect",
    "POSTGRES",
    "DERBY",
    "GENERIC",
    "dialect_for_url",
    "upsert_jdbc_table",
    "jdbc_table_exists",
    "check_table_ident",
    "parquet_sink",
    "jdbc_sink",
]
