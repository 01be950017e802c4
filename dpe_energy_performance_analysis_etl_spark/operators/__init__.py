from dpe_energy_performance_analysis_etl_spark.operators.relational import (
    suffix_columns,
    equi_join,
    anti_join_new_rows,
    key_bounds,
    dedup_full,
    dedup_keys_keep_first,
    distinct_values,
    union_all,
)
from dpe_energy_performance_analysis_etl_spark.operators.aggregate import (
    iqr_bounds,
    impute_numeric,
    group_stats_dpe,
)
from dpe_energy_performance_analysis_etl_spark.operators.temporal import (
    asof_join,
    range_join_bucketed,
)
from dpe_energy_performance_analysis_etl_spark.operators.skew import salted_join
from dpe_energy_performance_analysis_etl_spark.operators.exact import (
    exact_cents_sum,
    exact_sum_agg,
    from_cents,
    scaled_long,
)
from dpe_energy_performance_analysis_etl_spark.operators.scaling import scan_fanout
from dpe_energy_performance_analysis_etl_spark.operators.incremental import (
    scd2_merge,
    agg_state,
    merge_agg_state,
    apply_changelog,
)
from dpe_energy_performance_analysis_etl_spark.operators.quality import (
    observed,
    assert_metrics,
    non_empty_gate,
    profile_columns,
    partition_skew_report,
)
from dpe_energy_performance_analysis_etl_spark.operators.layout import (
    zorder_key,
    write_zorder_parquet,
)
from dpe_energy_performance_analysis_etl_spark.operators.spatial import (
    haversine_km,
    grid_radius_join,
)
from dpe_energy_performance_analysis_etl_spark.operators.sketch import (
    cms_build,
    cms_merge,
    cms_lookup,
    kmv_build,
    kmv_merge,
    kmv_estimate,
)

__all__ = [
    "suffix_columns",
    "equi_join",
    "anti_join_new_rows",
    "key_bounds",
    "dedup_full",
    "dedup_keys_keep_first",
    "distinct_values",
    "union_all",
    "iqr_bounds",
    "impute_numeric",
    "group_stats_dpe",
    "asof_join",
    "range_join_bucketed",
    "salted_join",
    "scd2_merge",
    "agg_state",
    "merge_agg_state",
    "apply_changelog",
    "observed",
    "assert_metrics",
    "non_empty_gate",
    "profile_columns",
    "partition_skew_report",
    "zorder_key",
    "write_zorder_parquet",
    "cms_build",
    "cms_merge",
    "cms_lookup",
    "kmv_build",
    "kmv_merge",
    "kmv_estimate",
    "haversine_km",
    "grid_radius_join",
    "exact_cents_sum",
    "exact_sum_agg",
    "from_cents",
    "scaled_long",
    "scan_fanout",
]
