"""End-to-end XML→star-schema-Parquet pipeline (reference main.R:58-126).

The reference's orchestration (worker pools, 50-file batches, globals
shipping, parallel-parse/sequential-write) collapses into one lazy parse
plan and a fixed set of Spark jobs, none of them per file:

    helper thread:  one scan feeds validation and keys — a binaryFile
                    read that validates each file's bytes and extracts
                    its business key, collecting ≤ #files rows once
    profile:        classification catalog from a sample of the records
    star build:     ONE aggregate for every dimension's values
    sinks:          fact write, one write per dimension, one manifest
                    aggregate; every other report is written driver-side

Every per-file intermediate is a value computed once: later consumers
(validation gate, key attach, manifest counts, error summary) read the
collected rows, never the files again.  Batching, memory hygiene, and the
parallel/sequential split are the scheduler's job (SURVEY §3.1 "Spark
shape").  The per-column and per-value plans are built from SQL text
(``sql_text``), because PySpark's call-site capture makes every
``Column`` call about ten py4j round trips: a pass over 60 small files
makes about 1,400 round trips to the JVM, where ``Column`` objects made
about 8,000.
"""

from __future__ import annotations

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
from xml_to_parquet_spark.session import local_frame
from xml_to_parquet_spark.sinks.writers import (
    Report,
    parquet_metadata,
    processing_manifest,
    schema_documentation,
    write_csv_part,
    write_csv_report,
    write_star_schema,
)
from xml_to_parquet_spark.sources.xml_source import (
    XML_FILE_GLOB,
    attach_business_keys,
    extract_business_keys,  # noqa: F401 — perfbench's tracer wraps it here
    list_xml_files,
    read_xml_records,
    scan_xml_files,
)
from xml_to_parquet_spark.validation.xml_validation import (
    gate_valid,
    validate_files,  # noqa: F401 — perfbench's tracer wraps it here
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

    The input is the ``*.xml`` files directly under ``input_dir`` that
    Spark's listing keeps (``list_xml_files``: no ``_*`` or ``.*``
    names); validation, records and manifest all see that one set.
    """
    files = list_xml_files(input_dir)
    if not files:
        raise FileNotFoundError(f"no XML files under {input_dir}")
    # every Spark read lists input_dir itself, filtered to the same set
    xml_only = {"pathGlobFilter": XML_FILE_GLOB}

    cached = bool(output_dir)

    # 1+2+3 overlapped: one scan feeds validation and keys.  A single
    # binaryFile job reads each file once, extracts its first-comment
    # business key (reference S6) and, when validating (reference
    # ENABLE_VALIDATION), checks its bytes in a mapInPandas; it runs on a
    # helper thread while the driver does its own CPU-bound ingest prep
    # (row-tag probe, document-order pull, ElementTree schema derivation
    # over the sample files) — executors vs driver are disjoint resources.
    # Its ≤ #files rows come back as driver-held frames, so no later
    # consumer re-reads or re-validates a file.  Spark sessions are safe
    # for concurrent job submission from threads.
    keys = validation = None
    with ThreadPoolExecutor(max_workers=1) as prep_pool:
        scan = None
        if extract_comments or validate:
            scan = prep_pool.submit(
                scan_xml_files,
                spark,
                input_dir,
                files if validate else None,
                schema_dir=schema_dir,
                **xml_only,
            )

        # ingest: parse + flatten + lineage (lazy).  XML structure comes
        # from the first SCHEMA_SAMPLE_SIZE files (driver-side derivation,
        # Spark-discovery fallback — the reference's first-100-files
        # semantics, main.R:19,95) so the reader never runs its
        # full-corpus discovery scan before job one.
        records = read_xml_records(
            spark,
            input_dir,
            id_attribute=id_attribute,
            schema_sample_paths=files[:SCHEMA_SAMPLE_SIZE],
            **xml_only,
        )
        if scan is not None:
            validation, keys = scan.result()
    if not extract_comments:
        keys = None

    # 2. validation gate: a filter on the passing paths
    if validation is not None:
        records = gate_valid(records, validation)
    # 3. comment business keys
    if keys is not None and not keys.isEmpty():
        records = attach_business_keys(records, keys)

    # The pipeline fans out into several full passes over the same parsed
    # rows (dimension-value aggregate, fact write, manifest aggregate;
    # the profile reads a sample).  Uncached, EVERY pass re-parses all the
    # XML; persist once for the fan-out and release in the finally
    # (cache-hygiene rule: no persist outlives its function).  Skipped
    # when nothing is written — the lazy single-plan composition case.
    # 100 TB note: persist() is MEMORY_AND_DISK — right while the parsed
    # batch fits the cluster's storage tier.  Beyond that, write the fact
    # FIRST (keeping the dimension value columns) and run the dimension
    # and manifest aggregates over the columnar, pruned parquet instead of
    # the cache.
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

        # 5. star transform (global surrogate keys, one aggregate job)
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
                # would re-run the whole XML parse just to count rows
                result.manifest = local_frame(
                    spark, manifest_rows, manifest_schema
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
                    # parquet_writer.R:13-26): one row per failed file,
                    # from the validation rows
                    errors = [
                        r for r in validation.collect()
                        if r.status != "success"
                    ]
                    if errors:
                        write_csv_part(
                            Report(tuple(validation.columns), errors),
                            os.path.join(output_dir, "error_summary.csv"),
                        )
    finally:
        if manifest_pool is not None:
            # waits for the in-flight manifest job if a write raised, so
            # the unpersist below never races it
            manifest_pool.shutdown()
        if cached:
            records.unpersist()
    return result


def star_integrity_report(result: PipelineResult) -> dict[str, list[str]]:
    return validate_star_schema(result.star)
