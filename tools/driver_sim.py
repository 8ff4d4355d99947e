"""Simulate the external driver: a PLAIN SparkSession (none of our session
defaults) + __spark_entry__ contract, oracle-compared at sf0.01.

Catches session-dependency bugs the real gate would hit: missing legacy
confs, unshipped worker packages, ANSI-mode surprises, default 200 shuffle
partitions.

Usage: python tools/driver_sim.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir("/")  # ensure nothing depends on cwd being the repo

from pyspark.sql import SparkSession  # noqa: E402

from tools.verify_local import fingerprint, oracle_connection  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    import __spark_entry__ as entrymod

    only = set(sys.argv[1:])
    # deliberately bare session — what an external driver would build
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver_sim")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from xml_to_parquet_spark.session import set_log_level

    set_log_level(spark, "ERROR")

    print("smoke: entry(spark) ...")
    rows = entrymod.entry(spark).collect()
    assert len(rows) > 0, "entry() returned no rows"
    print(f"smoke OK: {len(rows)} rows")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = oracle_connection(SF_DIR)

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            continue
        if name not in oracles:
            status = "rows" if srows else "EMPTY"
            if not srows:
                failures.append(name)
            print(f"{status}  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            continue
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        ok = (
            len(srows) == len(orows)
            and sorted(scols) == sorted(ocols)
            and fingerprint(srows, scols) == fingerprint(orows, ocols)
        )
        if ok:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
            print(
                f"FAIL  {name}: rows {len(srows)}/{len(orows)} "
                f"cols_match={sorted(scols) == sorted(ocols)}"
            )
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
