"""Oracle output-type audit (no Spark needed).

Round-3 postmortem: the five driver hash-RED queries (a59, a67, a69, a80,
a88) were exactly the five whose oracle SQL produced HUGEINT columns —
DuckDB's result type for SUM(integer).  The driver's comparator fetches
oracle results through a non-fetchall client path (pandas renders HUGEINT
as float64 — "123.0"; arrow as decimal128), so any such column hash-
mismatches against Spark's BIGINT even when every value is identical.

This test DESCRIBEs every registered oracle against the sf0.01 views and
asserts no output column has a comparator-fragile type, so the bug class
is caught at pytest time instead of one driver round later.
"""

from __future__ import annotations

import pytest

from tools.verify_local import oracle_connection
from xml_to_parquet_spark.workload import QUERIES

SF_DIR = "/root/testdata/sf0.01"
FRAGILE = ("HUGEINT", "UHUGEINT")


@pytest.fixture(scope="module")
def con():
    return oracle_connection(SF_DIR)


def test_no_fragile_oracle_output_types(con):
    offenders = {}
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        cols = con.execute("DESCRIBE " + spec.oracle).fetchall()
        bad = [
            (r[0], r[1])
            for r in cols
            if r[1] in FRAGILE or r[1].startswith("DECIMAL")
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle columns with comparator-fragile types (CAST them to "
        f"BIGINT/DOUBLE): {offenders}"
    )


def test_integer_columns_survive_pandas_path(con):
    """A column that fetchall() returns as pure ints must stay an integer
    dtype on the driver-shaped cursor.df() path.  Integer→float widening
    there (HUGEINT today, int-with-NULL tomorrow) renders "123" as
    "123.0" in a value-hash comparator and goes driver-RED while staying
    locally green."""
    offenders = {}
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        cur = con.execute(spec.oracle)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        pdf = con.execute(spec.oracle).df()
        for i, c in enumerate(cols):
            vals = [r[i] for r in rows]
            # Columns containing NULLs widen to float64 on the pandas path
            # for plain BIGINT too (a86/q10/q44) and the driver gate
            # demonstrably tolerates that; only the no-NULL widening
            # (HUGEINT / DECIMAL today) is the driver-RED signature.
            ints_only = vals and all(
                isinstance(v, int) and not isinstance(v, bool) for v in vals
            )
            if ints_only and str(pdf.dtypes[c]).startswith("float"):
                offenders.setdefault(name, []).append(c)
    assert not offenders, (
        f"integer oracle columns widened to float on the pandas path: "
        f"{offenders}"
    )
