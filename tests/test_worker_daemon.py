"""The worker daemon's zip importers re-read an archive only when it
changed, and ``get_spark`` sessions start their workers from it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from xml_to_parquet_spark import worker_daemon


def _count_reads(archive: str | None = None) -> int:
    """Reads of a zip central directory (of ``archive`` only, if given)
    during one ``importlib.invalidate_caches()``."""
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if archive is None or path == archive:
            reads.append(path)
        return stock(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stock
    return len(reads)


@pytest.fixture
def zip_path_entry(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("wd_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.invalidate_if_changed,
    )
    yield archive
    for name in ("wd_first", "wd_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_path_entry):
    import wd_first

    assert wd_first.VALUE == 1
    _count_reads()  # the first call after import reads once: no stamp yet
    assert _count_reads(zip_path_entry) == 0
    assert _count_reads(zip_path_entry) == 0


def test_rewritten_archive_is_reread(zip_path_entry):
    import wd_first  # noqa: F401

    _count_reads()
    with zipfile.ZipFile(zip_path_entry, "a") as zf:
        zf.writestr("wd_second.py", "VALUE = 2\n")
    assert _count_reads(zip_path_entry) == 1
    import wd_second

    assert wd_second.VALUE == 2


def test_get_spark_workers_keep_zip_caches(spark):
    """A worker's second task re-reads no zip directory: with the stock
    daemon every task re-reads all of pyspark.zip's importers."""

    def reads_per_task(batches):
        # defined here so that it is pickled by value: the workers cannot
        # import this test module
        import importlib
        import os
        import zipimport

        import pandas as pd

        reads = [0]
        stock = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": reads})

    df = spark.range(1, numPartitions=1)
    seen = set()
    for _ in range(12):
        (row,) = df.mapInPandas(reads_per_task, "pid long, reads long").collect()
        if row.pid in seen:
            assert row.reads == 0
            return
        seen.add(row.pid)
    pytest.fail(f"no Python worker was reused over {len(seen)} jobs")


_STOCK_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from xml_to_parquet_spark.session import get_spark
if sys.argv[2] == "bare_first":
    SparkSession.builder.master("local[1]").config(
        "spark.ui.enabled", "false").getOrCreate().stop()
spark = get_spark("stock_daemon", master="local[1]", shuffle_partitions=1)
assert spark.sparkContext.getConf().get("spark.python.daemon.module") is None
df = spark.range(3).mapInPandas(lambda it: it, "id long")
assert df.count() == 3
print("STOCK_OK")
"""


def _run_stock_script(tmp_path, launcher: list[str], mode: str) -> None:
    """Run a ``get_spark`` session on a JVM launched before its
    PYTHONPATH export: it must not point its workers at the package's
    daemon (they could not import it), and its UDFs must run."""
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "stock_daemon.py"
    script.write_text(_STOCK_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [*launcher, str(script), repo, mode],
        capture_output=True,
        text=True,
        cwd=tmp_path,  # not the repo: a worker cwd would hide the failure
        env=env,
        timeout=300,
    )
    assert "STOCK_OK" in r.stdout, r.stderr[-3000:]


def test_get_spark_after_bare_session_keeps_stock_daemon(tmp_path):
    _run_stock_script(tmp_path, [sys.executable], "bare_first")


def test_get_spark_under_spark_submit_keeps_stock_daemon(tmp_path):
    """spark-submit starts the JVM before the script calls get_spark."""
    import os

    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    submit = os.path.join(home, "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("no spark-submit next to pyspark")
    _run_stock_script(
        tmp_path,
        [submit, "--master", "local[1]", "--conf", "spark.ui.enabled=false"],
        "get_spark_only",
    )
