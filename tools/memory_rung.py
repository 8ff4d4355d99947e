"""Memory-pressure rung (VERDICT r6 #7): prove the spill paths work.

The 128 GiB sandbox never squeezes the engine, so nothing exercises
Spark's spill machinery. This harness runs the two heaviest pipelines —
the full XML→star ETL (parse → classify → star build → sinks) and the
substring dedup at a soak rung — inside ONE deliberately small JVM heap
(default 4g, ``SPARK_GRAFT_DRIVER_MEM`` to override; local mode, so the
driver heap IS the executor heap), with the Spark UI enabled so
per-stage ``memoryBytesSpilled`` / ``diskBytesSpilled`` can be read back
from the REST API and quoted. Pass criteria: both workloads complete
(no OOM) and the spill counters are reported, zero or not.

Usage:
    SPARK_GRAFT_DRIVER_MEM=4g python tools/memory_rung.py \
        [--sf-dir=/tmp/soak_sf1] [--files=100]
Prints one JSON line: wall times, row counts, spill totals.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def _spills(ui_port: int = 4040) -> dict:
    """Sum spill counters across all completed stages via the UI REST API."""
    base = f"http://localhost:{ui_port}/api/v1"
    try:
        apps = json.load(urllib.request.urlopen(f"{base}/applications"))
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(f"{base}/applications/{app_id}/stages")
        )
    except Exception as e:  # noqa: BLE001
        return {"error": f"ui unreachable: {e}"}
    return {
        "n_stages": len(stages),
        "memory_spilled_mb": round(
            sum(s.get("memoryBytesSpilled", 0) for s in stages) / 2**20, 1
        ),
        "disk_spilled_mb": round(
            sum(s.get("diskBytesSpilled", 0) for s in stages) / 2**20, 1
        ),
        "shuffle_write_mb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20, 1
        ),
    }


def main() -> None:
    sf_dir = "/tmp/soak_sf1"
    n_files = 100
    for a in sys.argv[1:]:
        if a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--files="):
            n_files = int(a.split("=", 1)[1])
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        sf_dir = "/root/testdata/sf0.1"

    from bench_xml_etl import generate  # tools/ sibling

    from xml_to_parquet_spark.pipeline import process_xml_to_parquet
    from xml_to_parquet_spark.session import get_spark
    from xml_to_parquet_spark.workload import QUERIES

    spark = get_spark(
        "memory_rung", extra_conf={"spark.ui.enabled": "true"}
    )
    from xml_to_parquet_spark.session import set_log_level

    set_log_level(spark, "ERROR")
    heap = spark.conf.get("spark.driver.memory")
    result: dict = {"heap": heap, "sf_dir": sf_dir}

    # 1. full XML→star ETL under pressure
    inp, mb = generate(n_files, records_per_file=1000)
    out = "/tmp/memory_rung_out"
    t0 = time.time()
    res = process_xml_to_parquet(spark, inp, output_dir=out)
    n_records = res.star.fact.count()
    result["xml_etl"] = {
        "files": n_files,
        "mb": round(mb, 1),
        "records": n_records,
        "sec": round(time.time() - t0, 1),
    }
    print("xml_etl done:", result["xml_etl"], flush=True)

    # 2. substring dedup at the soak rung (the widest shuffle in the
    # catalog: one posting row per token position)
    t0 = time.time()
    n = QUERIES["q324_substring_dedup"].fn(spark, sf_dir).count()
    result["q324_substring_dedup"] = {
        "rows": n,
        "sec": round(time.time() - t0, 1),
    }
    print("substring_dedup done:", result["q324_substring_dedup"], flush=True)

    result["spills"] = _spills()
    result["ok"] = True
    print(json.dumps(result))


if __name__ == "__main__":
    main()
