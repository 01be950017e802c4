"""PySpark-native analytics/ETL engine with the capabilities of the
fereol023/DPE-Energy-Performance-Analysis-ETL reference (pandas+Prefect,
``/root/reference``), re-expressed Spark-first.

The engine is a library of generic, composable DataFrame operators
(scan/project/filter/join/dedup/agg/window/set-op/sink — SURVEY.md §2),
a schema subsystem (normalization, validation gates, dtype
persistence, autocast), medallion-zone I/O, pipeline classes mirroring
the reference's Extract/Transform/Load public API, a Structured
Streaming incremental-append surface, and large-scale training-data
operators (dedup families, similarity search, text analysis,
multimodal plumbing) the reference's domain would need at 100 TB.

Everything is lazy DataFrame graphs: Catalyst does predicate pushdown,
column pruning and join-strategy selection; we only hand-optimize what
the planner cannot see (broadcast hints for known-small dimensions,
dedup-before-fanout, salting knobs for skew).
"""

from dpe_energy_performance_analysis_etl_spark.session import get_spark, stop_spark
from dpe_energy_performance_analysis_etl_spark.config import EngineConfig, new_batch_id

__version__ = "0.1.0"

__all__ = ["get_spark", "stop_spark", "EngineConfig", "new_batch_id", "__version__"]
