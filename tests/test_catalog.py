"""Table loading: schema reuse for single Parquet files."""

from __future__ import annotations

import os
import shutil

from xml_to_parquet_spark.catalog import load_table
from xml_to_parquet_spark.session import scoped_conf

SF_SMOKE = "/root/testdata/sf0.001"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _last_job_id(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().jobId())
    return last


def _load(spark, sf_dir, name):
    """(frame, Spark jobs its load ran)."""
    before = _last_job_id(spark)
    df = load_table(spark, sf_dir, name)
    return df, _last_job_id(spark) - before


def test_load_table_reuses_schema_of_unchanged_file(spark, tmp_path):
    """A second ``load_table`` of an unchanged file runs no Spark job (the
    first infers the schema with one); a rewritten file and a toggled
    Parquet inference conf each infer again, and the schema always equals
    a plain read's."""
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), path)

    df, _ = _load(spark, sf, "region")
    again, jobs = _load(spark, sf, "region")
    assert jobs == 0
    assert again.schema == df.schema == spark.read.parquet(path).schema
    assert again.count() == df.count()

    shutil.copy(os.path.join(SF_SMOKE, "nation.parquet"), path)
    rewritten, jobs = _load(spark, sf, "region")
    assert jobs >= 1
    assert rewritten.schema == spark.read.parquet(path).schema
    assert "n_name" in rewritten.columns

    flipped = "false" if spark.conf.get(NANOS) == "true" else "true"
    with scoped_conf(spark, NANOS, flipped):
        _, jobs = _load(spark, sf, "region")
    assert jobs >= 1
