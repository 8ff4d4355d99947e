from xml_to_parquet_spark.sinks.writers import (
    write_star_schema,
    write_parquet,
    write_csv_report,
    parquet_metadata,
    processing_manifest,
    Report,
)

__all__ = [
    "write_star_schema",
    "write_parquet",
    "write_csv_report",
    "parquet_metadata",
    "processing_manifest",
    "Report",
]
