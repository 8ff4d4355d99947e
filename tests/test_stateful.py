"""Stateful streaming sessionization vs its batch twin."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from xml_to_parquet_spark.streaming.stateful import (
    sessionize_batch,
    sessionize_stateful,
    sessionize_tws,
)


def _event_rows():
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def t(seconds):
        return base + datetime.timedelta(seconds=seconds)

    return [
        # user 1: two sessions (gap 3600s > 1800s threshold)
        (1, t(0), 1.0),
        (1, t(60), 2.0),
        (1, t(120), 3.0),
        (1, t(120 + 3600), 4.0),
        (1, t(180 + 3600), 5.0),
        # user 2: one session
        (2, t(0), 10.0),
        (2, t(1000), 20.0),
    ]


def test_sessionize_batch(spark):
    df = spark.createDataFrame(
        _event_rows(), "user_id long, ts timestamp, value double"
    )
    rows = sessionize_batch(df, gap_seconds=1800).orderBy(
        "user_id", "session_start"
    ).collect()
    got = [
        (r.user_id, r.n_events, r.value_sum)
        for r in rows
    ]
    assert got == [(1, 3, 6.0), (1, 2, 9.0), (2, 2, 30.0)]


def test_sessionize_stateful_emits_closed_sessions(spark, tmp_path):
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    df = spark.createDataFrame(
        _event_rows(), "user_id long, ts timestamp, value double"
    )
    src = tmp_path / "events_src"
    df.write.parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    sessions = sessionize_stateful(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # the state-cleanup trigger stays active while timeouts are pending, so
    # processAllAvailable()/availableNow never return here — poll the sink
    # for the expected closed session, then stop
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if q.exception():
            raise AssertionError(q.exception())
        if spark.table("sess_test").count() >= 1:
            break
        time.sleep(2)
    q.stop()
    out = spark.table("sess_test").collect()
    # sessions closed by a later event emit immediately; the final open
    # session per user stays in state until its processing-time timeout
    got = {(r.user_id, r.n_events, r.value_sum) for r in out}
    assert (1, 3, 6.0) in got
    assert all(r.user_id == 1 for r in out)


import pytest

from xml_to_parquet_spark.streaming.stateful import HAS_TWS_PROTO


@pytest.mark.skipif(
    not HAS_TWS_PROTO,
    reason="transformWithState needs protobuf in the worker env "
    "(absent in this container; runs on a protobuf-bearing image)",
)
def test_sessionize_tws_matches_legacy_api(spark, tmp_path):
    """transformWithStateInPandas twin: same fold, same emit rules — the
    session closed by a later arrival must emit with identical contents
    to the applyInPandasWithState implementation."""
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    df = spark.createDataFrame(
        _event_rows(), "user_id long, ts timestamp, value double"
    )
    src = tmp_path / "events_src_tws"
    df.write.parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    sessions = sessionize_tws(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_tws")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .start()
    )
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if q.exception():
            raise AssertionError(q.exception())
        if spark.table("sess_tws").count() >= 1:
            break
        time.sleep(2)
    q.stop()
    out = spark.table("sess_tws").collect()
    got = {(r.user_id, r.n_events, r.value_sum) for r in out}
    assert (1, 3, 6.0) in got
    assert all(r.user_id == 1 for r in out)


def test_run_tws_append_rejects_multi_file_glob(spark, tmp_path):
    """The single-batch stop assumption is enforced, not just documented
    (r7 ADVICE fix): more than one input file under the glob must raise
    BEFORE the query starts, because data in batch >= 1 would be lost."""
    import pytest

    from xml_to_parquet_spark.streaming.file_stream import run_tws_append

    for i in range(2):
        spark.range(5).write.parquet(str(tmp_path / f"in_{i}.parquet"))
    stream = (
        spark.readStream.schema("id long")
        .parquet(str(tmp_path / "in_*.parquet"))
    )
    with pytest.raises(ValueError, match="exactly one input file"):
        run_tws_append(
            stream, "tws_multi", input_glob=str(tmp_path / "in_*.parquet")
        )


def test_run_tws_append_rejects_multipart_directory(spark, tmp_path):
    """A ONE-match glob over a multi-part parquet DIRECTORY must also
    raise (r8 ADVICE fix): the file source lists each part file
    separately, so it can split them across AvailableNow batches that the
    batch-0 stop would drop."""
    import pytest

    from xml_to_parquet_spark.streaming.file_stream import (
        _expand_data_files,
        run_tws_append,
    )

    out = tmp_path / "multi.parquet"
    spark.range(100).repartition(4).write.parquet(str(out))
    files = _expand_data_files([str(out)])
    assert len(files) == 4  # hidden/_SUCCESS/.crc names excluded
    stream = spark.readStream.schema("id long").parquet(str(out))
    with pytest.raises(ValueError, match="exactly one input file"):
        run_tws_append(stream, "tws_multipart", input_glob=str(out))
    # a single-part directory (or a plain file) still passes the guard
    single = tmp_path / "single.parquet"
    spark.range(5).coalesce(1).write.parquet(str(single))
    assert len(_expand_data_files([str(single)])) == 1


def test_pbshim_shipping_preserves_package_imports():
    """Regression (r8, found by driver_sim): ensure_protobuf's worker
    PYTHONPATH injection must keep the REPO importable — on a bare
    driver session (no get_spark defaults), running the TWS path and
    THEN a mapInPandas operator that unpickles a by-reference module
    function used to die with ModuleNotFoundError in the worker."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
from xml_to_parquet_spark.functions.text import fix_mojibake_deep
df = spark.createDataFrame([(1, "cafÃ©")], "doc_id long, text string")
# failure mode 1 (r8): the VERY FIRST worker use unpickles a
# by-reference module function — the operator itself must ship the pkg
out = fix_mojibake_deep(df).collect()
assert out[0].fixed == "café", out
# failure mode 2 (r8): ensure_protobuf's PYTHONPATH injection must not
# REPLACE the path that keeps the repo importable for later UDFs
from xml_to_parquet_spark.streaming.stateful import ensure_protobuf
ensure_protobuf(spark)
out = fix_mojibake_deep(df).collect()
assert out[0].fixed == "café", out
print("SHIP_OK")
"""
    # an inherited PYTHONPATH naming the repo (get_spark exports one)
    # would keep the package importable on workers by itself
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script, repo],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/",
        env=env,
    )
    assert "SHIP_OK" in r.stdout, r.stderr[-2000:]
