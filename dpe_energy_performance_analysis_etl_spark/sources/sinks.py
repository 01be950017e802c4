"""Idempotent-append sinks: each returns the pair
``(read_existing_keys(table, key_cols), append(df, table))`` that the
ETL loader (``pipelines/load.py``) and the streaming JDBC loader
(``streaming/incremental.py::stream_to_jdbc``) hand to the gate
``operators.anti_join_new_rows``.

``read_existing_keys`` returns ``None`` when the sink has no such
table yet (everything is new), else a lazy scan of the key columns
only (Spark's parquet or JDBC reader), so the gate's range filter
pushes into it. Table existence is an explicit probe, not
read-and-catch: a transient failure must raise (the run or
micro-batch retries), not read as "table absent", skip the gate and
append duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dpe_energy_performance_analysis_etl_spark.sources.io import hadoop_fs, write_parquet
from dpe_energy_performance_analysis_etl_spark.sources.jdbc_dialect import jdbc_table_exists

# Rows per INSERT batch on JDBC appends (Spark's default is 1 000).
_JDBC_BATCHSIZE = 10_000


def _dir_has_data(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and holds at least one data file
    (Hadoop FS, so local/s3a/hdfs uniformly)."""
    fs, hpath = hadoop_fs(spark, path)
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
    database-free sink, used by the ETL CLI (``pipelines.etl.main``)
    when no ENGINE_JDBC_URL is configured and by the ETL benchmark
    (``perfbench/run.py``)."""

    def read_existing_keys(table: str, key_cols: list[str]) -> DataFrame | None:
        if not _dir_has_data(spark, f"{root}/{table}"):
            return None
        return spark.read.parquet(f"{root}/{table}").select(*key_cols)

    def append(df: DataFrame, table: str) -> None:
        write_parquet(df, f"{root}/{table}", mode="append")

    return read_existing_keys, append


def jdbc_sink(spark: SparkSession, url: str | None, properties: dict[str, str]):
    """Tables in the database at ``url`` — the loader's default sink
    and ``stream_to_jdbc``'s. Spark's JDBC reader quotes the key
    columns in its query, so a table Spark created (case-exact,
    lower-case names) and one created by unquoted DDL (names folded
    to upper case by Derby, Oracle, DB2) both resolve; the keys come
    back under the caller's names."""

    def read_existing_keys(table: str, key_cols: list[str]) -> DataFrame | None:
        assert url, "ENGINE_JDBC_URL not configured"
        if not jdbc_table_exists(spark, url, table, properties):
            return None
        existing = spark.read.jdbc(url, table, properties=properties)
        return existing.select(*[F.col(k).alias(k) for k in key_cols])

    def append(df: DataFrame, table: str) -> None:
        assert url, "ENGINE_JDBC_URL not configured"
        df.write.option("batchsize", _JDBC_BATCHSIZE).jdbc(
            url, table, mode="append", properties=properties
        )

    return read_existing_keys, append
