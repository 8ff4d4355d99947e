"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column names, and an
order-insensitive value fingerprint. Usage:

    python tools/verify_local.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per catalog table under
    ``sf_dir``, the schema every ``oracle_sql()`` entry reads."""
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(rows: list[tuple], colnames: list[str]) -> str:
    import hashlib

    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    from xml_to_parquet_spark.session import get_spark
    from xml_to_parquet_spark.workload import QUERIES

    only = set(sys.argv[1:])
    spark = get_spark("verify_local")
    con = oracle_connection(SF_DIR)

    failures = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            if not srows:
                failures.append(name)
            continue
        try:
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        # r3 postmortem: the driver's comparator does not use fetchall(),
        # and DuckDB renders HUGEINT (the SUM(integer) result type) as
        # float64/decimal on the pandas/arrow paths — "123.0" vs "123".
        # Any oracle emitting these types WILL go hash-RED on the driver
        # even though it matches here, so fail it locally.
        fragile = [
            (r[0], r[1])
            for r in con.execute("DESCRIBE " + spec.oracle).fetchall()
            if r[1] in ("HUGEINT", "UHUGEINT") or r[1].startswith("DECIMAL")
        ]
        if fragile:
            problems.append(f"fragile oracle types {fragile}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        else:
            fs, fo = fingerprint(srows, scols), fingerprint(orows, ocols)
            if fs != fo:
                problems.append(f"hash {fs} vs {fo}")
                # show first diff for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("|".join(_norm_cell(r[i]) for i in order_s) for r in srows)
                lo = sorted("|".join(_norm_cell(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"      spark : {a[:200]}")
                        print(f"      duckdb: {b[:200]}")
                        break
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
