"""Session-scoped resources: conf overrides and scratch dirs."""

from __future__ import annotations

import pytest

from xml_to_parquet_spark.session import scoped_conf

KEY = "spark.sql.shuffle.partitions"


def test_scoped_conf_restores_unsets_and_survives_raise(spark):
    prior = spark.conf.get(KEY)
    with scoped_conf(spark, KEY, 3):
        assert spark.conf.get(KEY) == "3"
    assert spark.conf.get(KEY) == prior

    absent = "spark.graft.test.scopedConf"
    assert spark.conf.get(absent, None) is None
    with scoped_conf(spark, absent, "on"):
        assert spark.conf.get(absent) == "on"
    assert spark.conf.get(absent, None) is None

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, KEY, 5):
            raise RuntimeError("body failed")
    assert spark.conf.get(KEY) == prior
