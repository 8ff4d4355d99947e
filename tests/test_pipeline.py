"""End-to-end pipeline tests: XML dir → star-schema parquet + reports.

Covers the reference's E2E smoke (test_conversion.R) with golden values, the
validation gate, and the comment business-key path — all through the single
public entry point ``process_xml_to_parquet``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_xml_source import COMMENT_XML, ORDERS_XML, PRODUCTS_XML
from xml_to_parquet_spark.pipeline import (
    process_xml_to_parquet,
    star_integrity_report,
)


@pytest.fixture()
def io_dirs(tmp_path):
    inp = tmp_path / "input"
    out = tmp_path / "output"
    inp.mkdir()
    return inp, out


def test_e2e_products_star(spark, io_dirs):
    inp, out = io_dirs
    # replicate each record enough times that category/brand clear the
    # 10%-of-rows dimension rule (as the reference's real inputs would)
    body = PRODUCTS_XML.split("<products>")[1].split("</products>")[0]
    (inp / "products.xml").write_text(
        "<?xml version='1.0'?><products>" + body * 20 + "</products>"
    )
    res = process_xml_to_parquet(spark, str(inp), str(out))

    fact = spark.read.parquet(os.path.join(str(out), "fact_main.parquet"))
    assert fact.count() == 60
    assert "category_key" in fact.columns and "brand_key" in fact.columns
    assert "category" not in fact.columns  # dim values dropped from fact
    assert dict(fact.dtypes)["price"] == "double"
    for audit in ("source_file_name", "load_timestamp", "load_date", "batch_id"):
        assert audit in fact.columns

    dim_cat = spark.read.parquet(os.path.join(str(out), "dim_category.parquet"))
    got = {(r.category_key, r.category) for r in dim_cat.collect()}
    assert got == {(1, "accessories"), (2, "electronics")}

    assert star_integrity_report(res) == {"fact": [], "dimensions": []}
    assert os.path.exists(os.path.join(str(out), "processing_manifest.csv"))
    assert os.path.exists(os.path.join(str(out), "parquet_metadata.csv"))

    # reference document_schema: per-column classification doc is written
    doc_path = os.path.join(str(out), "schema_documentation.csv")
    assert os.path.exists(doc_path)
    doc = spark.read.option("header", "true").csv(doc_path)
    by_col = {r.column_name: r.classification for r in doc.collect()}
    assert by_col["category"] == "dimension"
    assert by_col["price"] == "measure"
    assert by_col["record_id"] == "identifier"


def test_e2e_multi_file_union_and_manifest(spark, io_dirs):
    inp, out = io_dirs
    (inp / "products.xml").write_text(PRODUCTS_XML)
    (inp / "orders.xml").write_text(ORDERS_XML)
    res = process_xml_to_parquet(spark, str(inp), str(out))
    fact = spark.read.parquet(res.paths["fact_main"])
    assert fact.count() == 5  # 3 products + 2 orders, ragged union
    m = res.manifest.collect()[0]
    assert m.files_processed == 2 and m.records_total == 5


def test_e2e_validation_gate_drops_malformed(spark, io_dirs):
    inp, out = io_dirs
    (inp / "good.xml").write_text(PRODUCTS_XML)
    (inp / "bad.xml").write_text("<root><record id='1'><a>1</a>")  # truncated
    res = process_xml_to_parquet(spark, str(inp), str(out), validate=True)
    v = {r.source_file_path.split("/")[-1]: r.status
         for r in res.validation.collect()}
    assert v == {"good.xml": "success", "bad.xml": "error"}
    fact = spark.read.parquet(res.paths["fact_main"])
    # only records from the valid file survive the gate
    assert fact.count() == 3
    names = {r.source_file_name for r in
             fact.select("source_file_name").distinct().collect()}
    assert names == {"good.xml"}


def test_e2e_comment_business_key_becomes_dimension(spark, io_dirs):
    inp, out = io_dirs
    body = COMMENT_XML.split("<orders>")[1].split("</orders>")[0]
    (inp / "bk.xml").write_text(
        "<?xml version='1.0'?>\n<!-- OrderType:B2B -->\n<orders>"
        + body * 15
        + "</orders>"
    )
    res = process_xml_to_parquet(spark, str(inp), str(out))
    assert res.catalog.get("OrderType", {}).get("classification") == "dimension"
    dim = spark.read.parquet(res.paths["dim_OrderType"])
    assert [(r.OrderType_key, r.OrderType) for r in dim.collect()] == [(1, "B2B")]
    fact = spark.read.parquet(res.paths["fact_main"])
    assert fact.filter(F.col("OrderType_key") == 1).count() == fact.count()


def test_xml_etl_bench_harness_smoke(spark, tmp_path, monkeypatch):
    """The ETL bench harness feeds BENCH_r{N} via bench.py's xml_etl
    block — its corpus must parse and its pipeline pass must run."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import bench_xml_etl as etl

    monkeypatch.setattr(etl, "WORK", str(tmp_path / "work"))
    inp, mb = etl.generate(3, records_per_file=50)
    assert mb > 0
    sec = etl.run_once(spark, inp, "out_smoke", validate=False)
    assert sec > 0
    out = os.path.join(etl.WORK, "out_smoke")
    fact = spark.read.parquet(os.path.join(out, "fact_main.parquet"))
    assert fact.count() == 150
    # the dimension-grade columns made it through the star build
    assert "region_key" in fact.columns or "region" in fact.columns


def test_schema_sample_semantics_beyond_sample(spark, tmp_path):
    """Reference-parity trade-off pinned: structure appearing only beyond
    the first SCHEMA_SAMPLE_SIZE files is not parsed (main.R:19,95).
    Also proves the imposed-schema path still parses every file's rows."""
    from xml_to_parquet_spark import pipeline as P

    inp = tmp_path / "input"
    inp.mkdir()
    for i in range(P.SCHEMA_SAMPLE_SIZE + 5):
        extra = "<surprise>x</surprise>" if i >= P.SCHEMA_SAMPLE_SIZE else ""
        (inp / f"f{i:04d}.xml").write_text(
            "<?xml version='1.0'?><root>"
            f"<record id='r{i}'><name>n{i // 2}</name>{extra}</record></root>"
        )
    res = P.process_xml_to_parquet(spark, str(inp), str(tmp_path / "out"))
    fact = spark.read.parquet(
        os.path.join(str(tmp_path / "out"), "fact_main.parquet")
    )
    assert fact.count() == P.SCHEMA_SAMPLE_SIZE + 5  # no rows dropped
    # sampled-schema semantics: in-sample structure is parsed and
    # profiled; beyond-sample structure is invisible end to end
    assert "name" in res.catalog
    assert "surprise" not in res.catalog
    assert "surprise" not in fact.columns


def _jobs_since(spark, floor: int) -> list:
    """Jobs with an id above ``floor``, read from the driver's status
    store once the listener bus has delivered every event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()
    jobs = []
    while it.hasNext():
        j = it.next()
        if j.jobId() > floor:
            jobs.append(j)
    return jobs


def test_etl_pass_job_count(spark, tmp_path):
    """One validated, atomically published pass over a small seeded
    corpus runs at most 14 Spark jobs, and none of them has one task per
    input file (a per-path listing job or a per-file re-read).  Job
    counts do not vary from run to run, so this pins the pass's shape."""
    from perfbench import xml_inputs

    n_files = 40  # above Spark's parallel-listing threshold of 32 paths
    corpus = xml_inputs.generate(
        str(tmp_path / "input"), 7, n_files, 5,
        invalid_share=0.05, with_xsd=True,
    )
    floor = max((j.jobId() for j in _jobs_since(spark, -1)), default=-1)
    res = process_xml_to_parquet(
        spark, corpus.input_dir, str(tmp_path / "out"),
        validate=True, atomic=True,
    )
    jobs = _jobs_since(spark, floor)
    assert len(jobs) <= 14, len(jobs)
    assert all(j.numTasks() != n_files for j in jobs), [
        j.numTasks() for j in jobs
    ]
    m = res.manifest.collect()[0]
    assert m.files_validated == n_files
    assert m.records_total == corpus.valid_records



def test_etl_pass_py4j_round_trips(spark, tmp_path, monkeypatch):
    """A warmed, validated, atomically published pass over a small seeded
    corpus makes at most 1,500 py4j commands other than the gateway's
    memory (GC) commands (about 800 today).  Plans built from per-column
    ``Column`` objects cost about ten round trips per call in PySpark's
    call-site capture (about 5,000 commands here); SQL text costs one
    per expression.  The count does not vary from run to run."""
    import threading

    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    from perfbench import xml_inputs

    corpus = xml_inputs.generate(
        str(tmp_path / "input"), 7, 40, 5, invalid_share=0.05, with_xsd=True,
    )

    def one_pass(out: str) -> None:
        process_xml_to_parquet(
            spark, corpus.input_dir, str(tmp_path / out),
            validate=True, atomic=True,
        )

    one_pass("warm")
    sent = [0]
    lock = threading.Lock()
    send = ClientServerConnection.send_command

    def counting_send(self, command):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            with lock:
                sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    one_pass("timed")
    monkeypatch.undo()
    assert sent[0] <= 1500, sent[0]

def test_underscore_file_excluded_everywhere(spark, io_dirs):
    """Spark's listing skips ``_*`` names; validation follows the same
    rule, so validation, records and manifest agree on the file set."""
    inp, out = io_dirs
    (inp / "a.xml").write_text(PRODUCTS_XML)
    (inp / "b.xml").write_text(ORDERS_XML)
    (inp / "_meta.xml").write_text(PRODUCTS_XML)
    res = process_xml_to_parquet(spark, str(inp), str(out), validate=True)
    validated = {
        os.path.basename(r.source_file_path) for r in res.validation.collect()
    }
    assert validated == {"a.xml", "b.xml"}
    fact = spark.read.parquet(res.paths["fact_main"])
    names = {
        r.source_file_name
        for r in fact.select("source_file_name").distinct().collect()
    }
    assert names == {"a.xml", "b.xml"}
    assert fact.count() == 5  # 3 products + 2 orders
    m = res.manifest.collect()[0]
    assert (m.files_processed, m.files_validated, m.files_valid) == (2, 2, 2)
    assert m.records_total == 5
