"""Idempotent-append sinks: each returns the pair
``(read_existing_keys(table, key_cols), append(df, table))`` that the
ETL loader (``pipelines/load.py``) and the streaming loaders
(``streaming/incremental.py``) hand to the gate
``operators.anti_join_new_rows``.

``read_existing_keys`` returns ``None`` when the sink has no such
table yet (everything is new), else a lazy scan of the key columns
only, so the gate's range filter pushes into it. Table existence is an
explicit probe, not read-and-catch: a transient failure must raise
(the run or micro-batch retries), not read as "table absent", skip
the gate and append duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dpe_energy_performance_analysis_etl_spark.sources.io import (
    append_jdbc_table,
    read_jdbc_table,
    read_parquet,
    write_parquet,
)
from dpe_energy_performance_analysis_etl_spark.sources.jdbc_dialect import jdbc_table_exists


def _dir_has_data(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and holds at least one data file
    (Hadoop FS, so local/s3a/hdfs uniformly)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not (name.startswith("_") or name.startswith(".")):
            return True
    return False


def parquet_sink(spark: SparkSession, root: str):
    """Tables as parquet directories ``{root}/{table}`` — the
    database-free sink, used by the CLI when no ENGINE_JDBC_URL is
    configured and by ``incremental_append_stream``."""

    def read_existing_keys(table: str, key_cols: list[str]) -> DataFrame | None:
        if not _dir_has_data(spark, f"{root}/{table}"):
            return None
        return read_parquet(spark, f"{root}/{table}").select(*key_cols)

    def append(df: DataFrame, table: str) -> None:
        write_parquet(df, f"{root}/{table}", mode="append")

    return read_existing_keys, append


def jdbc_sink(spark: SparkSession, url: str | None, properties: dict[str, str]):
    """Tables in the database at ``url`` — the loader's default sink
    and ``stream_to_jdbc``'s. Key columns come back under the caller's
    names whatever case the server folded them to."""

    def read_existing_keys(table: str, key_cols: list[str]) -> DataFrame | None:
        assert url, "ENGINE_JDBC_URL not configured"
        if not jdbc_table_exists(spark, url, table, properties):
            return None
        return read_jdbc_table(spark, url, table, properties, columns=key_cols).toDF(*key_cols)

    def append(df: DataFrame, table: str) -> None:
        assert url, "ENGINE_JDBC_URL not configured"
        append_jdbc_table(df, url, table, properties)

    return read_existing_keys, append
