from dpe_energy_performance_analysis_etl_spark.functions.scalar import (
    concat_with_sep,
    substring_cast,
    extract_digits,
    decimal_comma_to_double,
    safe_divide,
    abs_diff,
    full_address,
    departement_from_iris,
    conso_kwh_m2,
    consumption_diffs,
)

__all__ = [
    "concat_with_sep",
    "substring_cast",
    "extract_digits",
    "decimal_comma_to_double",
    "safe_divide",
    "abs_diff",
    "full_address",
    "departement_from_iris",
    "conso_kwh_m2",
    "consumption_diffs",
]
