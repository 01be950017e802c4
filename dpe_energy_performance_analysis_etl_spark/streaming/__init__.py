from dpe_energy_performance_analysis_etl_spark.streaming.incremental import (
    incremental_append_stream,
    enrich_stream,
    interval_join_streams,
    windowed_event_counts,
    streaming_dedup,
    stream_to_jdbc,
    continuous_projection_stream,
    maintained_agg_stream,
    maintained_user_days_stream,
    maintained_iblt_stream,
    streaming_set_diff_vs,
    read_agg_state,
    versioned_merge_stream,
    cdc_apply_stream,
)
from dpe_energy_performance_analysis_etl_spark.streaming.stateful import (
    sessionize_stream,
    batch_closed_sessions,
)

__all__ = [
    "incremental_append_stream",
    "enrich_stream",
    "interval_join_streams",
    "windowed_event_counts",
    "streaming_dedup",
    "stream_to_jdbc",
    "continuous_projection_stream",
    "maintained_agg_stream",
    "maintained_user_days_stream",
    "maintained_iblt_stream",
    "streaming_set_diff_vs",
    "read_agg_state",
    "versioned_merge_stream",
    "cdc_apply_stream",
    "sessionize_stream",
    "batch_closed_sessions",
]
