from xml_to_parquet_spark.validation.xml_validation import (
    validate_files,
    well_formed_check,
    discover_schema_file,
    gate_valid,
    HAS_LXML,
)

__all__ = [
    "validate_files",
    "well_formed_check",
    "discover_schema_file",
    "gate_valid",
    "HAS_LXML",
]
