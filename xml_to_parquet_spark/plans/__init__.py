from xml_to_parquet_spark.plans.schema_analyzer import (
    profile_columns,
    classify_profile,
    analyze_schema,
)
from xml_to_parquet_spark.plans.star_transformer import (
    StarSchema,
    build_star_schema,
    build_dimension_table,
    dimension_values,
    value_array,
    aggregate_fact_data,
    validate_star_schema,
)

__all__ = [
    "profile_columns",
    "classify_profile",
    "analyze_schema",
    "StarSchema",
    "build_star_schema",
    "build_dimension_table",
    "dimension_values",
    "value_array",
    "aggregate_fact_data",
    "validate_star_schema",
]
