"""Append-chain soak for the publish protocol (SCALING.md evidence).

Measures, for a growing chain of tiny append commits:
- per-commit wall time (the manifest lists every ancestor dir, so an
  unbounded chain makes commit metadata O(chain) and total manifest
  bytes O(chain**2));
- read_published wall (reader touches one dir per chain link);
- cumulative manifest bytes;
with and without the sink's chain-bounding knob (compact every 16).

Usage: python tools/publish_soak.py [--n=128]
Prints one JSON line per rung.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n = 128
    for a in sys.argv[1:]:
        if a.startswith("--n="):
            n = int(a.split("=", 1)[1])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.sinks.publish import (
        compact_published,
        current_manifest,
        publish_parquet,
        read_published,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from xml_to_parquet_spark.session import scratch_dir, set_log_level

    set_log_level(spark, "ERROR")
    spark.createDataFrame([(1,)], "x int").count()

    # block-lifetime scratch: removed also when a rung raises
    with scratch_dir("pubsoak_") as base:
        batch = spark.range(1000).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        )
        checkpoints = (16, 32, 64, 128, 256, 512)

        for variant, compact_every in (("unbounded", None), ("compact16", 16)):
            root = os.path.join(base, variant)
            t_commit = 0.0
            manifest_bytes = 0
            for i in range(1, n + 1):
                if compact_every is not None:
                    cur = current_manifest(root)
                    if cur and len(cur["data_dirs"]) >= compact_every:
                        compact_published(spark, root)
                t0 = time.time()
                publish_parquet(
                    batch, root, mode="append", single_file=True
                )
                t_commit += time.time() - t0
                if i in checkpoints or i == n:
                    mdir = os.path.join(root, "_manifests")
                    manifest_bytes = sum(
                        os.path.getsize(os.path.join(mdir, f))
                        for f in os.listdir(mdir)
                    )
                    t0 = time.time()
                    rows = read_published(spark, root).count()
                    t_read = time.time() - t0
                    print(
                        json.dumps(
                            {
                                "variant": variant,
                                "chain": i,
                                "rows": rows,
                                "dirs": len(
                                    current_manifest(root)["data_dirs"]
                                ),
                                "commit_s_total": round(t_commit, 2),
                                "read_s": round(t_read, 2),
                                "manifest_mb": round(
                                    manifest_bytes / 1e6, 3
                                ),
                            },
                            separators=(",", ":"),
                        ),
                        flush=True,
                    )


if __name__ == "__main__":
    main()
