from xml_to_parquet_spark.sinks.writers import (
    write_star_schema,
    write_parquet,
    write_csv_report,
    write_csv_part,
    parquet_metadata,
    processing_manifest,
    Report,
)

__all__ = [
    "write_star_schema",
    "write_parquet",
    "write_csv_report",
    "write_csv_part",
    "parquet_metadata",
    "processing_manifest",
    "Report",
]
