from dpe_energy_performance_analysis_etl_spark.schema.core import (
    normalize_columns,
    validate_required_columns,
    SchemaValidationError,
    save_schema_json,
    load_schema_json,
    apply_schema,
    autocast_string_columns,
)

__all__ = [
    "normalize_columns",
    "validate_required_columns",
    "SchemaValidationError",
    "save_schema_json",
    "load_schema_json",
    "apply_schema",
    "autocast_string_columns",
]
