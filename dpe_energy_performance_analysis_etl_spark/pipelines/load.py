"""Load pipeline — Spark rebuild of ``DataEnedisAdemeLoader.run``
(``load.py:178-212``): idempotent append of the six gold entity tables
into a relational sink, in FK-safe order.

Per table (``save_one_table``, ``load.py:85-176``): PK cast to string
→ read EXISTING KEY COLUMNS ONLY from the sink, through Spark's own
JDBC or parquet reader, which prunes the scan to them (the reference
pulled the whole table into pandas, ``load.py:127-131`` — at scale
that's the difference between reading a key index and reading
terabytes) → the idempotent-append gate
``operators.anti_join_new_rows`` (one row per key, null-safe
left_anti J3/J4 against the existing keys the batch holds) →
skip-if-empty gate → append S12 (Spark's JDBC or parquet writer).

``run`` overlaps the tables' gates: it computes every table's new-row
frame and count at the same time, one thread per table, then appends
one table at a time in ``LOAD_ORDER``, so the sink's foreign keys are
satisfied in the same order as before. A gate that raises stops the
run before any append.

The sink is injected as (read_existing_keys, append) callables, by
default ``sources.jdbc_sink`` over the configured ENGINE_JDBC_URL;
``sources.parquet_sink`` is the database-free one, and tests wire an
in-memory dict of DataFrames. No live database needed for
correctness coverage.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from dpe_energy_performance_analysis_etl_spark.config import EngineConfig
from dpe_energy_performance_analysis_etl_spark.operators import anti_join_new_rows
from dpe_energy_performance_analysis_etl_spark.pipelines.transform import ENTITY_PKS, LOAD_ORDER
from dpe_energy_performance_analysis_etl_spark.sources import jdbc_sink
from dpe_energy_performance_analysis_etl_spark.utils import log_run, run_concurrently


class DataLoader:
    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig | None = None,
        read_existing_keys: Callable[[str, list[str]], DataFrame | None] | None = None,
        append: Callable[[DataFrame, str], None] | None = None,
    ):
        self.spark = spark
        self.config = config or EngineConfig()
        default_read, default_append = jdbc_sink(
            spark, self.config.jdbc_url, self.config.jdbc_properties
        )
        self._read_existing = read_existing_keys or default_read
        self._append = append or default_append
        self.loaded_counts: dict[str, int] = {}

    # ------------------------------------------------- per-table
    def _new_rows(self, df: DataFrame, table: str) -> tuple[DataFrame, int]:
        """The rows of ``df`` to write to ``table`` and their count: PK
        cast to string (``load.py:110-120``), then the gate."""
        pk = ENTITY_PKS[table]
        df = df.withColumns({k: F.col(k).cast("string") for k in pk})
        df = anti_join_new_rows(df, self._read_existing(table, pk), pk)
        return df, df.count()

    def _write(self, table: str, df: DataFrame, n: int) -> int:
        """Skip-if-empty gate (``load.py:163-165``), then append."""
        if n:
            self._append(df, table)
        self.loaded_counts[table] = n
        return n

    def save_one_table(self, df: DataFrame, table: str) -> int:
        """Idempotent append (``load.py:85-176``). Returns rows written."""
        return self._write(table, *self._new_rows(df, table))

    # ------------------------------------------------- flow
    @log_run
    def run(self, entities: dict[str, DataFrame]) -> dict[str, int]:
        """Load the gold frames in FK-safe order (``load.py:181-212``).
        The gates run concurrently, the appends one at a time in
        ``LOAD_ORDER``."""
        tables = [name for name in LOAD_ORDER if name in entities]
        gated = run_concurrently(
            self.spark, {name: partial(self._new_rows, entities[name], name) for name in tables}
        )
        for name in tables:
            self._write(name, *gated[name])
        return self.loaded_counts
