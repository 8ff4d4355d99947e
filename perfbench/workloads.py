"""The benchmark's workloads: inputs, one pass, and the check of a pass.

A pass is one public-API call.  For ``etl_validated_small`` it is one
``process_xml_to_parquet`` run into a fresh output directory; for
``catalog_mix`` it is one sweep of catalog entries through the noop sink.
A pass's outputs are checked with pyarrow, outside Spark, so a check adds
no Spark job to the session being measured.
"""

from __future__ import annotations

import csv
import datetime
import glob
import hashlib
import math
import os
import shutil
import sys
import time

from perfbench import tables, xml_inputs

# Catalog entries are named by slug, the part of a catalog key after the
# first underscore, which survives key renames; they resolve through
# ``workload.KEY_BY_SLUG``, so a slug that leaves the catalog fails the
# run instead of silently shrinking the sweep.
CATALOG_FAMILIES = {
    "operators": ["star_revenue", "sort_limit"],
    "functions.dedup": ["dedup_minhash_lsh"],
    "functions.similarity": ["knn_ivf"],
    "functions.text": ["bpe_tokens"],
    "functions.sketches": ["hll_distinct"],
    "functions.multimodal": ["multimodal_decode"],
    "streaming": ["streaming_window"],
}
CATALOG_SF = 0.01


# etl_validated_small: many small files with a sibling XSD, 2% of them
# (at least one) made invalid; passes run with validate=True, atomic=True
N_FILES = 60
RECORDS_PER_FILE = 40
INVALID_SHARE = 0.02
# dimensions the corpus must produce; which other categorical columns
# become dimensions depends on their cardinality
CORE_DIMENSIONS = {"region", "status", "notes", "business_key_name"}


class EtlWorkload:
    def __init__(self, name: str, work: str, seed: int):
        self.name = name
        self.work = work
        self.seed = seed
        self.corpus: xml_inputs.Corpus | None = None

    def make_inputs(self) -> float:
        root = os.path.join(self.work, "input")
        shutil.rmtree(root, ignore_errors=True)
        self.corpus = xml_inputs.generate(
            root,
            self.seed,
            N_FILES,
            RECORDS_PER_FILE,
            invalid_share=INVALID_SHARE,
            with_xsd=True,
        )
        return self.corpus.mb

    def run_pass(self, spark, out_dir: str, tracer):
        from xml_to_parquet_spark.pipeline import process_xml_to_parquet
        from xml_to_parquet_spark.sources.xml_source import (
            invalidate_xml_probe_cache,
        )

        invalidate_xml_probe_cache()
        return process_xml_to_parquet(
            spark,
            self.corpus.input_dir,
            out_dir,
            validate=True,
            atomic=True,
        )

    def _read(self, path: str):
        """A published table: the data dirs its current manifest names."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        from xml_to_parquet_spark.sinks.publish import current_manifest

        return pa.concat_tables(
            ds.dataset(os.path.join(path, d), format="parquet").to_table()
            for d in current_manifest(path)["data_dirs"]
        )

    def check(self, result, out_dir: str) -> tuple[list[str], dict]:
        """Problems with one pass's outputs (empty when correct), and the
        counts the trace reports."""
        import pyarrow.compute as pc

        c = self.corpus
        problems = []
        paths = result.paths
        fact = self._read(paths["fact_main"])
        if fact.num_rows != c.valid_records:
            problems.append(f"fact rows {fact.num_rows} != {c.valid_records}")
        qty = pc.sum(fact["quantity"]).as_py()
        cents = pc.sum(pc.round(pc.multiply(fact["price"], 100))).as_py()
        if qty != c.quantity_sum or cents != c.price_cents_sum:
            problems.append(
                f"measure checksum ({qty}, {cents}) != "
                f"({c.quantity_sum}, {c.price_cents_sum})"
            )
        dims = {k[len("dim_"):] for k in paths if k.startswith("dim_")}
        if not CORE_DIMENSIONS <= dims <= set(c.dim_values):
            problems.append(f"dimensions {sorted(dims)}")
        for d in dims & set(c.dim_values):
            n = self._read(paths[f"dim_{d}"]).num_rows
            want = len(c.dim_values[d])
            if n != want:
                problems.append(f"dim_{d} rows {n} != {want}")
        with open(os.path.join(out_dir, "processing_manifest.csv")) as fh:
            manifest = next(csv.DictReader(fh))
        if int(manifest["records_total"]) != c.valid_records:
            problems.append(f"manifest records {manifest['records_total']}")
        counts = {"output_files": 0, "output_mb": 0.0}
        for p in paths.values():
            for f in glob.glob(os.path.join(p, "**", "*.parquet"),
                               recursive=True):
                counts["output_files"] += 1
                counts["output_mb"] += os.path.getsize(f) / 1e6
        rejected = set()
        for part in glob.glob(
            os.path.join(out_dir, "error_summary.csv", "*.csv")
        ):
            with open(part) as fh:
                rejected |= {
                    os.path.basename(r["source_file_path"])
                    for r in csv.DictReader(fh)
                }
        if rejected != c.invalid_files:
            problems.append(
                f"rejected {sorted(rejected)} != "
                f"{sorted(c.invalid_files)}"
            )
        counts["files_checked"] = int(manifest["files_validated"])
        counts["files_rejected"] = len(rejected)
        if counts["files_checked"] != c.n_files:
            problems.append(
                f"files validated {manifest['files_validated']}"
            )
        return problems, counts


# The oracle comparison follows tools/verify_local.py; it is kept here so
# that the benchmark does not change when the tools do.
def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(rows, columns: list[str]) -> str:
    """Order-insensitive value hash over columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()[:16]


class CatalogWorkload:
    name = "catalog_mix"

    def __init__(self, name: str, work: str, seed: int):
        from xml_to_parquet_spark.workload import KEY_BY_SLUG, QUERIES

        self.work = work
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        # (family, slug, spec) in sweep order
        self.entries = [
            (fam, slug, QUERIES[KEY_BY_SLUG[slug]])
            for fam, slugs in CATALOG_FAMILIES.items()
            for slug in slugs
        ]
        self.expected_rows: dict[str, int] = {}

    def make_inputs(self) -> float:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        tables.generate(self.sf_dir, self.seed, CATALOG_SF)
        return sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(self.sf_dir, "*.parquet"))
        ) / 1e6

    def oracle_sweep(self, spark) -> list[str]:
        """Run every entry once with collect() and compare it with its
        DuckDB oracle; the oracle's row counts are what later passes must
        match."""
        import duckdb

        con = duckdb.connect()
        for t in glob.glob(os.path.join(self.sf_dir, "*.parquet")):
            name = os.path.basename(t)[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')"
            )
        problems, seconds = [], {}
        for _, slug, spec in self.entries:
            t = time.perf_counter()
            df = spec.fn(spark, self.sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            t_oracle = time.perf_counter()
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            seconds[slug] = (
                round(t_oracle - t, 2),
                round(time.perf_counter() - t_oracle, 2),
            )
            self.expected_rows[slug] = len(orows)
            if sorted(cols) != sorted(ocols) or fingerprint(
                rows, cols
            ) != fingerprint(orows, ocols):
                problems.append(f"{slug}: differs from its oracle")
        con.close()
        print(
            f"[perfbench] oracle sweep (spark s, duckdb s): {seconds}",
            file=sys.stderr,
        )
        return problems

    def run_pass(self, spark, out_dir: str, tracer) -> dict[str, int]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        rows = {}
        for family, slug, spec in self.entries:
            with tracer.span(f"{family}.plan"):
                obs = Observation()
                df = spec.fn(spark, self.sf_dir).observe(
                    obs, F.count(F.lit(1)).alias("n")
                )
            with tracer.span(f"{family}.exec"):
                df.write.format("noop").mode("overwrite").save()
            rows[slug] = obs.get["n"]
        return rows

    def check(self, rows, out_dir: str) -> tuple[list[str], dict]:
        return [
            f"{slug}: {n} rows != {self.expected_rows[slug]}"
            for slug, n in rows.items()
            if n != self.expected_rows[slug]
        ], {}


WORKLOADS = {  # name -> class; BENCHMARK.json lists why each exists
    "etl_validated_small": EtlWorkload,
    "catalog_mix": CatalogWorkload,
}
WORKLOAD_NAMES = list(WORKLOADS)
