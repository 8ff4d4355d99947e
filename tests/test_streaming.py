"""Structured Streaming tests: AvailableNow file streams."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.test_xml_source import PRODUCTS_XML
from xml_to_parquet_spark.streaming import (
    stream_events_windowed,
    stream_xml_dir,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def scratch_made(monkeypatch, tmp_path):
    """Points the scratch base into ``tmp_path`` (a subdir, so that no
    scratch lands in a test's stream source dir) and records every dir
    that ``tempfile.mkdtemp`` makes while the test runs."""
    base = tmp_path / "scratch"
    base.mkdir()
    made: list[str] = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(base))
    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    return made


def _assert_checkpoints_removed(made: list[str], tmp_path) -> None:
    assert made and all(
        os.path.dirname(d) == str(tmp_path / "scratch") for d in made
    )
    ckpts = [d for d in made if os.path.basename(d).startswith("ckpt_")]
    assert ckpts and not any(os.path.exists(d) for d in ckpts)


def test_streaming_window_equals_batch(spark, scratch_made, tmp_path):
    from xml_to_parquet_spark.catalog import load_table
    from xml_to_parquet_spark.operators.aggregation import dsum

    streamed = stream_events_windowed(spark, SF).collect()
    _assert_checkpoints_removed(scratch_made, tmp_path)

    ev = load_table(spark, SF, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "value_sum"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "event_type",
            "n",
            "value_sum",
        )
        .orderBy("bucket_start", "event_type")
        .collect()
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def test_streaming_xml_exactly_once(spark, tmp_path):
    inp = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    inp.mkdir()
    (inp / "a.xml").write_text(PRODUCTS_XML)

    first = stream_xml_dir(spark, str(inp), str(out), checkpoint_dir=str(ckpt))
    assert first.count() == 3

    # second run, same checkpoint, one new file → the sink gains exactly
    # the new file's rows (a.xml is in the processed-files log; no dups)
    (inp / "b.xml").write_text(PRODUCTS_XML.replace('id="1"', 'id="9"'))
    second = stream_xml_dir(spark, str(inp), str(out), checkpoint_dir=str(ckpt))
    rows = second.collect()
    assert len(rows) == 6
    by_file = {}
    for r in rows:
        by_file.setdefault(os.path.basename(r.source_file_path), []).append(r)
    assert len(by_file["a.xml"]) == 3 and len(by_file["b.xml"]) == 3



def test_streaming_xml_skips_underscore_file(spark, tmp_path, scratch_made):
    """The stream's listing skips ``_*`` names, and its schema and
    document order come from that same file set: a ``_meta.xml`` with
    another layout (and sorting first) changes neither."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.xml").write_text(
        "<?xml version='1.0'?><root>"
        "<record id='1'><info><b>B1</b><a>A1</a></info></record>"
        "<record id='2'><info><b>B2</b><a>A2</a></info></record></root>"
    )
    (inp / "_meta.xml").write_text(
        "<?xml version='1.0'?><root><record id='m'>"
        "<info><a>x</a><b>y</b></info><secret>s</secret></record></root>"
    )
    out = stream_xml_dir(spark, str(inp), str(tmp_path / "out"))
    assert "secret" not in out.columns
    rows = sorted((r.id, r.info) for r in out.collect())
    assert rows == [("1", "B1 A1"), ("2", "B2 A2")]
    _assert_checkpoints_removed(scratch_made, tmp_path)

def test_stream_dedup_drops_duplicates(spark, tmp_path, scratch_made):
    import pandas as pd

    from xml_to_parquet_spark.streaming.file_stream import stream_events_dedup

    pdf = pd.DataFrame(
        {
            "event_id": [1, 1, 2, 3, 3, 3],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00:00",
                    "2024-01-01 10:05:00",
                    "2024-01-01 10:10:00",
                    "2024-01-01 10:15:00",
                    "2024-01-01 10:20:00",
                    "2024-01-01 10:25:00",
                ]
            ),
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    out = stream_events_dedup(spark, str(tmp_path)).collect()[0]
    # 3 distinct keys survive; duplicate arrivals are suppressed by state
    assert (out.n_rows, out.n_keys) == (3, 3)
    _assert_checkpoints_removed(scratch_made, tmp_path)


def test_stream_interval_join_matches_batch(spark, tmp_path):
    import pandas as pd

    from xml_to_parquet_spark.streaming.file_stream import (
        stream_events_interval_join,
    )

    rows = [
        # user 1: view at 10:00 → purchases at 10:10 (in) and 10:45 (out)
        (1, "2024-01-01 10:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 10:10:00", 1, "purchase", 9.0, "{}"),
        (3, "2024-01-01 10:45:00", 1, "purchase", 9.0, "{}"),
        # user 2: purchase BEFORE the view — must not match
        (4, "2024-01-01 09:00:00", 2, "purchase", 5.0, "{}"),
        (5, "2024-01-01 09:30:00", 2, "view", 0.0, "{}"),
        # user 3: two views funnel into one purchase
        (6, "2024-01-01 11:00:00", 3, "view", 0.0, "{}"),
        (7, "2024-01-01 11:05:00", 3, "view", 0.0, "{}"),
        (8, "2024-01-01 11:20:00", 3, "purchase", 7.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(tmp_path / "events.parquet")
    got = [
        (r.user_id, r.left_id, r.right_id)
        for r in stream_events_interval_join(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 1, 2), (3, 6, 8), (3, 7, 8)]


def test_stream_enrich_unknown_segment_and_batch_equal(spark, tmp_path):
    import pandas as pd

    from xml_to_parquet_spark.streaming.file_stream import (
        stream_events_enriched,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:05:00", 1, "view", 2.0, "{}"),
        (3, "2024-01-01 10:10:00", 2, "purchase", 5.0, "{}"),
        # user 99 has no dimension row — must survive as UNKNOWN
        (4, "2024-01-01 10:15:00", 99, "view", 7.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(tmp_path / "events.parquet")
    dim = pd.DataFrame(
        {"c_custkey": [1, 2], "c_mktsegment": ["BUILDING", "MACHINERY"]}
    )
    dim.to_parquet(tmp_path / "customer.parquet")

    got = [
        (r.event_type, r.segment, r.n, r.value_sum)
        for r in stream_events_enriched(spark, str(tmp_path)).collect()
    ]
    assert got == [
        ("purchase", "MACHINERY", 1, 5.0),
        ("view", "BUILDING", 2, 3.0),
        ("view", "UNKNOWN", 1, 7.0),
    ]


def test_stream_events_kmv_merge_identity(spark, sf_dir):
    """Streaming KMV maintenance (r8): per-batch sketches published
    exactly-once merge to the SAME estimate as one sketch built directly
    on the whole static table — regardless of how the stream was
    batched — and multiple micro-batches really happened."""
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.sketches import kmv_distinct
    from xml_to_parquet_spark.streaming.file_stream import stream_events_kmv

    got = {
        r.event_type: (r.est_distinct, r.exact_distinct, r.multi_batch)
        for r in stream_events_kmv(spark, sf_dir).collect()
    }
    assert all(mb for _, _, mb in got.values())
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").cast("string").alias("key"), "event_type"
    )
    direct = {
        r.event_type: (r.est_distinct, r.exact_distinct)
        for r in kmv_distinct(
            ev, key_col="key", group_cols=["event_type"]
        ).collect()
    }
    assert {k: v[:2] for k, v in got.items()} == direct
    # sketches estimate: within the KMV error envelope on every group
    for est, exact, _ in got.values():
        assert abs(est - exact) <= max(3, exact * 0.5)


def test_stream_docs_drift_merge_identity(spark, sf_dir):
    """Streaming drift maintenance (r8): per-batch conditional partial
    counts published exactly-once fold into the bit-identical report the
    one-pass batch monitor produces on the whole static table, and
    multiple micro-batches really committed."""
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.drift import frequency_drift
    from xml_to_parquet_spark.functions.text import norm_text
    from xml_to_parquet_spark.streaming.file_stream import stream_docs_drift

    streamed = stream_docs_drift(spark, sf_dir).collect()
    assert all(r.multi_batch for r in streamed)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "source",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("token"),
    )
    batch = frequency_drift(
        toks, label_col="source", label_a="src0", label_b="src1",
        key_col="token",
    ).collect()
    assert [
        (r.key, r.cnt_a, r.cnt_b, r.ppm_a, r.ppm_b, r.dppm) for r in streamed
    ] == [
        (r.key, r.cnt_a, r.cnt_b, r.ppm_a, r.ppm_b, r.dppm) for r in batch
    ]
