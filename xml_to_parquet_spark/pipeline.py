"""End-to-end XML→star-schema-Parquet pipeline (reference main.R:58-126).

The reference's orchestration (worker pools, 50-file batches, globals
shipping, parallel-parse/sequential-write) collapses into ONE lazy Spark
plan with two actions:

    action 1 (small): profile a sample → classification catalog
    action 2:         parse-all → star transform → parquet write

Batching, memory hygiene, and the parallel/sequential split are the
scheduler's job (SURVEY §3.1 "Spark shape").
"""

from __future__ import annotations

import glob as _glob
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from xml_to_parquet_spark.plans.schema_analyzer import analyze_schema
from xml_to_parquet_spark.plans.star_transformer import (
    StarSchema,
    build_star_schema,
    validate_star_schema,
)
from xml_to_parquet_spark.sinks.writers import (
    Report,
    parquet_metadata,
    processing_manifest,
    schema_documentation,
    write_csv_report,
    write_star_schema,
)
from xml_to_parquet_spark.sources.xml_source import (
    attach_business_keys,
    extract_business_keys,
    read_xml_records,
)
from xml_to_parquet_spark.validation.xml_validation import (
    gate_valid,
    validate_files,
)

SCHEMA_SAMPLE_SIZE = 100  # files profiled for inference (reference main.R:19)


@dataclass
class PipelineResult:
    star: StarSchema
    catalog: dict[str, dict]
    paths: dict[str, str] = field(default_factory=dict)
    manifest: DataFrame | None = None
    validation: DataFrame | None = None


def process_xml_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str | None = None,
    validate: bool = False,
    schema_dir: str | None = None,
    extract_comments: bool = True,
    id_attribute: str = "id",
    write_reports: bool = True,
    atomic: bool = False,
) -> PipelineResult:
    """The reference's ``process_xml_to_parquet`` as one declarative plan.

    With ``output_dir=None`` the star schema is built but not written
    (useful for tests / composing into bigger plans). ``atomic=True``
    routes every table through the manifest-pointer commit protocol
    (sinks/publish.py): a run killed mid-write leaves the previous
    snapshot readable, and the star becomes visible as one consistent
    table-version set — closing the reference's unguarded in-place
    overwrite (parquet_writer.R:53-81).
    """
    pattern = os.path.join(input_dir, "*.xml")
    files = sorted(_glob.glob(pattern))
    if not files:
        raise FileNotFoundError(f"no XML files under {input_dir}")

    cached = bool(output_dir)

    # 1+2+3 overlapped: the business-key scan (reference S6; a small
    # Spark job over file heads) and the per-file validation pass
    # (reference ENABLE_VALIDATION; mapInPandas re-reading every file)
    # run on helper threads while the driver does its own CPU-bound
    # ingest prep (row-tag probe, document-order pull, ElementTree schema
    # derivation over the sample files) — executors vs driver are
    # disjoint resources, and sequentially these cost ~1.5 s of the
    # 100-file ETL benchmark.  Spark sessions are safe for concurrent
    # job submission from threads.
    prep_pool = keys_future = validation_future = None
    validation = None
    if extract_comments or (validate and cached):
        prep_pool = ThreadPoolExecutor(max_workers=2)
    if extract_comments:
        keys_future = prep_pool.submit(extract_business_keys, spark, pattern)
    if validate:
        validation = validate_files(spark, files, schema_dir=schema_dir)
        if cached:
            # one row per file, but each downstream action that references
            # it (gate join, manifest counts, error summary) would re-run
            # the whole per-file validation pass uncached — persist, and
            # materialize on a helper thread during the driver prep
            validation = validation.persist()
            validation_future = prep_pool.submit(validation.count)

    # ingest: parse + flatten + lineage (lazy).  XML structure comes
    # from the first SCHEMA_SAMPLE_SIZE files (driver-side derivation,
    # Spark-discovery fallback — the reference's first-100-files
    # semantics, main.R:19,95) so the reader never runs its full-corpus
    # discovery scan before job one.
    records = read_xml_records(
        spark,
        pattern,
        id_attribute=id_attribute,
        schema_sample_paths=files[:SCHEMA_SAMPLE_SIZE],
    )

    # 2. validation gate join (validation itself already in flight)
    if validation is not None:
        records = gate_valid(records, validation)

    # 3. comment business keys (join deferred until the scan finishes)
    if prep_pool is not None:
        try:
            if keys_future is not None:
                keys = keys_future.result()
            if validation_future is not None:
                validation_future.result()
        finally:
            prep_pool.shutdown()
        if keys_future is not None and not keys.isEmpty():
            records = attach_business_keys(records, keys)

    # The pipeline fans out into several actions over the same parsed rows
    # (profile agg, fact write, one write per dimension, manifest counts).
    # Uncached, EVERY action re-parses all the XML; persist once for the
    # fan-out and release in the finally (cache-hygiene rule: no persist
    # outlives its function).  Skipped when nothing is written — the lazy
    # single-plan composition case.
    # 100 TB note: persist() is MEMORY_AND_DISK — right while the parsed
    # batch fits the cluster's storage tier.  Beyond that, the same
    # fan-out pattern holds with the fact written FIRST and the dim/
    # manifest passes re-reading the (columnar, pruned) parquet instead
    # of the cache; swap the persist for that once batches outgrow
    # executor storage.
    if cached:
        records = records.persist()
    manifest_pool = manifest_future = None
    try:
        # 4. schema inference on a sample (reference first-100-files ≈
        # limit).  The sample is hard-bounded (limit) well under the
        # analyzer's 2M exact-path cap, so its row-probe job is skipped.
        sample = records.limit(SCHEMA_SAMPLE_SIZE * 1000)
        catalog = analyze_schema(
            sample.drop("source_file_path", "load_timestamp"),
            exact_row_cap=None,
        )
        # audit columns keep their classification regardless of stats
        for c in ("source_file_name", "source_file_path", "load_timestamp"):
            if c in records.columns:
                catalog[c] = {"classification": "audit"}

        # 5. star transform (global surrogate keys)
        star = build_star_schema(
            records, catalog, id_column="record_id"
        )

        result = PipelineResult(
            star=star, catalog=catalog, validation=validation
        )

        # 6. sinks + reports.  The manifest aggregation only needs the
        # persisted records (not the written star), so its job runs on a
        # helper thread overlapped with the table writes.
        if output_dir:
            if write_reports:

                def _manifest_rows():
                    m = processing_manifest(spark, records, validation)
                    return m.collect(), m.schema

                manifest_pool = ThreadPoolExecutor(max_workers=1)
                manifest_future = manifest_pool.submit(_manifest_rows)
            if atomic:
                from xml_to_parquet_spark.sinks.publish import (
                    publish_star_schema,
                )

                result.paths = publish_star_schema(star, output_dir)
            else:
                result.paths = write_star_schema(star, output_dir)
            if write_reports:
                manifest_rows, manifest_schema = manifest_future.result()
                # the manifest was materialized UP THERE, while records
                # are persisted: callers (CLI summary, tests) collect it
                # after the unpersist below, and a frame over the records
                # would re-run the whole XML parse just to count rows.
                # Bounded reports are written from the driver's rows
                # (see write_csv_report).
                result.manifest = spark.createDataFrame(
                    manifest_rows, manifest_schema
                )
                write_csv_report(
                    Report(tuple(manifest_schema.fieldNames()), manifest_rows),
                    os.path.join(output_dir, "processing_manifest.csv"),
                )
                write_csv_report(
                    parquet_metadata(result.paths),
                    os.path.join(output_dir, "parquet_metadata.csv"),
                    mode="overwrite",
                )
                # reference document_schema intent (parquet_writer.R:24-26):
                # per-column classification doc alongside the star outputs
                write_csv_report(
                    schema_documentation(catalog),
                    os.path.join(output_dir, "schema_documentation.csv"),
                    mode="overwrite",
                )
                if validation is not None:
                    # error channel (reference error_summary.csv,
                    # parquet_writer.R:13-26): one row per failed file
                    from pyspark.sql import functions as F

                    errors = validation.filter(F.col("status") != "success")
                    if not errors.isEmpty():
                        write_csv_report(
                            errors,
                            os.path.join(output_dir, "error_summary.csv"),
                            mode="overwrite",
                        )
    finally:
        if manifest_pool is not None:
            # waits for the in-flight manifest job if a write raised, so
            # the unpersist below never races it
            manifest_pool.shutdown()
        if cached:
            records.unpersist()
            if validation is not None:
                validation.unpersist()
    return result


def star_integrity_report(result: PipelineResult) -> dict[str, list[str]]:
    return validate_star_schema(result.star)
