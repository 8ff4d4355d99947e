"""Sinks + observability outputs (SURVEY §2.1 K1-K3, §2.4 A5).

Reference parity (/root/reference/R/parquet_writer.R):
- K1 fact sink:  merge batches → fact_main.parquet, snappy + dictionary
  (parquet_writer.R:53-81). Spark's parquet writer defaults to snappy +
  dictionary; batching disappears (the cluster scheduler replaces it).
- K2 dim sinks:  write dim_<col>.parquet (parquet_writer.R:84-131); the
  reference's dedupe has nothing to do, dimensions are distinct by
  construction (plans/star_transformer.py).
- K3 CSV sinks:  error summary, processing manifest (append), parquet
  metadata, validation report (parquet_writer.R:13-26,134-197).

Scale notes: fact writes stay fully parallel (one file per partition);
``single_file=True`` coalesces to 1 only for byte-parity with the
reference's one-file outputs — never do that at 100 TB. The manifest's
record counts are one Spark-side aggregate (fixes reference quirk 2:
driver-side counters that under-count under parallelism); metadata comes
from the parquet footers.  Reports are written driver-side from rows the
driver holds: each is bounded by #files, #tables or #columns.
"""

from __future__ import annotations

import csv
import os
import shutil
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_to_parquet_spark.plans.star_transformer import StarSchema
from xml_to_parquet_spark.sql_text import string_literal


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    single_file: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink. snappy+dictionary are Spark defaults (reference K1).

    ``partition_by`` enables hive-style partition pruning for downstream
    readers — the 100 TB-scale replacement for the reference's flat file.
    """
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_star_schema(
    star: StarSchema,
    output_dir: str,
    single_file: bool = False,
    fact_name: str = "fact_main",
) -> dict[str, str]:
    """Write fact + all dimension tables; returns {table: path}.

    Dimensions are written as built: distinct by construction, so the
    reference's dedupe (parquet_writer.R:115-116) is not run.
    """
    from concurrent.futures import ThreadPoolExecutor

    paths: dict[str, str] = {}
    fact_path = os.path.join(output_dir, f"{fact_name}.parquet")

    # all table writes are independent jobs over the same cached input —
    # submit the fact AND every dimension concurrently so the scheduler
    # overlaps them instead of paying one sequential job-latency each
    # (Spark schedules concurrent actions from separate threads; same
    # pattern a real cluster uses for multi-sink fan-out).  The tiny dim
    # writes ride along while the fact write occupies the executors.
    def _write_dim(item: tuple[str, DataFrame]) -> tuple[str, str]:
        name, dim = item
        p = os.path.join(output_dir, f"dim_{name}.parquet")
        write_parquet(dim, p, single_file=True)
        return f"dim_{name}", p

    paths[fact_name] = fact_path  # first entry: report row order
    with ThreadPoolExecutor(
        max_workers=min(8, 1 + len(star.dimensions))
    ) as ex:
        fact_future = ex.submit(
            write_parquet, star.fact, fact_path, single_file=single_file
        )
        for key, p in ex.map(_write_dim, star.dimensions.items()):
            paths[key] = p
        fact_future.result()
    return paths


class Report(NamedTuple):
    """A report whose rows the driver already holds, bounded by
    construction: the run manifest (1 row), parquet metadata (#tables
    rows), schema documentation (#columns rows), error summary (≤ #files
    rows)."""

    columns: tuple[str, ...]
    rows: list[tuple]


def write_csv_report(report: Report, path: str, mode: str = "append") -> None:
    """CSV report sink (reference K3): single file, header, append.

    Written driver-side with stdlib csv, without a Spark job: handing the
    rows to ``createDataFrame`` and collecting them back ran a
    Python-worker job per report for rows the driver already had.
    """
    write_header = mode == "overwrite" or not os.path.exists(path)
    with open(path, "w" if mode == "overwrite" else "a", newline="") as fh:
        w = csv.writer(fh)
        if write_header:
            w.writerow(report.columns)
        w.writerows(["" if v is None else v for v in r] for r in report.rows)


def write_csv_part(report: Report, path: str) -> None:
    """``report`` in the layout Spark's CSV writer leaves: ``path`` is a
    directory holding ``part-00000.csv``, replacing what was there
    (overwrite).  ``spark.read.csv`` reads it like a Spark-written one."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    write_csv_report(report, os.path.join(path, "part-00000.csv"), "overwrite")


def parquet_metadata(paths: dict[str, str]) -> Report:
    """Per-table metadata report (reference parquet_writer.R:163-189):
    table, path, n_rows, n_columns, size_bytes.

    Row counts and column counts come from the parquet FOOTERS (pyarrow,
    driver-side) — exact by the format's contract and free, where a
    ``spark.read.parquet(...).count()`` per table costs one cluster job
    each (measured 2.1s of report time on a 3-table star)."""
    import pyarrow.parquet as pq

    def _files(p: str) -> list[str]:
        # a published table root is recognized by its _versions layout —
        # not by a _CURRENT file, which only the POSIX commit backend
        # keeps on disk (the object-store backend holds the pointer as a
        # store object)
        m = None
        if os.path.isdir(p) and os.path.isdir(os.path.join(p, "_versions")):
            from xml_to_parquet_spark.sinks.publish import current_manifest

            m = current_manifest(p)
        if m is not None:
            # count only the COMMITTED version's files — walking the root
            # would also count superseded versions and orphaned partial
            # writes
            return [
                os.path.join(dp, f)
                for d in m["data_dirs"]
                for dp, _, fs in os.walk(os.path.join(p, d))
                for f in fs
                if f.endswith(".parquet")
            ]
        if os.path.isdir(p):
            return [
                os.path.join(dp, f)
                for dp, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".parquet")
            ]
        return [p]

    rows = []
    for table, p in paths.items():
        parts = _files(p)
        n = sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
        # top-level column count (metadata.num_columns counts LEAVES,
        # which diverges for nested schemas)
        n_cols = (
            len(pq.ParquetFile(parts[0]).schema_arrow.names) if parts else 0
        )
        size = sum(os.path.getsize(f) for f in parts)
        rows.append((table, p, n, n_cols, size))
    return Report(
        ("table_name", "path", "n_rows", "n_columns", "size_bytes"), rows
    )


def schema_documentation(catalog: dict[str, dict]) -> Report:
    """Per-column schema documentation (reference ``document_schema``,
    parquet_writer.R:24-26 + schema_analyzer.R:113-121): the classification
    catalog rendered as a one-row-per-column report."""
    fields = (
        "classification", "data_type", "n_rows", "unique_count",
        "numeric_ratio", "null_ratio", "mean_length", "sample_values",
    )
    return Report(
        ("column_name", *fields),
        [
            (col, *(info.get(f) for f in fields))
            for col, info in sorted(catalog.items())
        ],
    )


def processing_manifest(
    spark: SparkSession,
    records: DataFrame,
    validation: DataFrame | None = None,
) -> DataFrame:
    """Run manifest (reference parquet_writer.R:134-160, fixed per quirk
    2): files seen, records parsed, success/error counts.

    One aggregate over the records; the validation counts come from its
    one-row-per-file rows (jobless from a ``validate_files`` frame) as
    literals."""
    cols = [
        "count(DISTINCT source_file_path) AS files_processed",
        "count(1) AS records_total",
    ]
    if validation is not None:
        status = [r.status for r in validation.select("status").collect()]
        cols += [
            f"CAST({len(status)} AS BIGINT) AS files_validated",
            f"CAST({status.count('success')} AS BIGINT) AS files_valid",
        ]
    run_at = string_literal(datetime.now(timezone.utc).isoformat())
    return records.selectExpr(*cols, f"{run_at} AS run_timestamp")


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    roughly ``target_file_bytes`` each; returns the output file count.

    Streaming ingest (and any per-trigger sink) accretes many small files;
    small files kill scan throughput at 100 TB (per-file open/footer cost,
    tiny row groups, starved vectorized reads). Compaction sizes the
    partition count from the dataset's actual on-disk bytes and uses
    ``coalesce`` — a shuffle-free narrowing — so the rewrite cost is one
    read + one write. Run it per ingest-partition (e.g. per date) so each
    compaction job stays bounded.
    """
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ) if os.path.isdir(path) else os.path.getsize(path)
    n_files = max(1, -(-size // target_file_bytes))  # ceil division
    df = spark.read.parquet(path)
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    written = sum(
        1
        for dp, _, fs in os.walk(out_path)
        for f in fs
        if f.endswith(".parquet")
    )
    return written


def write_training_shards(
    df: DataFrame,
    path: str,
    order_col: str = "shuffle_key",
    n_shards: int = 8,
) -> None:
    """Materialize a deterministic global order into N sorted parquet shards.

    The scale-correct way to write "globally shuffled" training data: a
    global orderBy would funnel everything through one sorted range
    exchange THEN write; instead repartitionByRange(order_col) gives
    shard-level range placement and sortWithinPartitions orders inside each
    shard — together: shard i's rows all precede shard i+1's rows, and each
    file is internally sorted, so any reader streaming shards in filename
    order sees the exact global epoch order. Both steps are one exchange +
    a per-task sort — no single-node bottleneck, no driver involvement.
    """
    (
        df.repartitionByRange(n_shards, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )
