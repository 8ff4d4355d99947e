"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall time of all catalog entries, where each query's time is
the MIN of 3 trials (timeit-style best-of). Rationale: (a) this VM shows
sporadic multi-second freezes unrelated to the workload (identical jobs
measured 0.8s-176s with no GC pause and no steal spike — see git history);
(b) the first trial of the first queries additionally pays one-time JVM/
codegen warmup that belongs to the session, not the query (measured: q01
cold 3.7s vs steady-state 1.3s including plan build). Min over 3 trials
measures the engine's steady-state cost per query; every trial still
executes the full plan from a freshly built DataFrame via the noop sink
(no caching between trials — only OS page cache and JIT state are warm,
exactly what a resident engine would have).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# The driver records only the LAST 2000 BYTES of stdout and parses the
# JSON line out of that window; a line carrying the full per-query map
# outgrew it and was recorded as nothing. So the full map goes to a
# sidecar file, and the printed line carries this fixed subset,
# hard-capped under the window; fuzzy_pairs, fuzzy_qgram, dedup_apply,
# percentile, mojibake_deep, rare_gram_lm and netpbm_real were trimmed
# to fit.
HEADLINE = (
    # relational core / star
    "q01_star_revenue", "q192_grouped_multi_agg", "q222_sql_frontend",
    "q291_grouping_sets",
    # dedup
    "a242_dedup_exact", "q344_dedup_ngram_jaccard", "a244_dedup_minhash_lsh",
    "q346_simhash_blocked", "q350_dedup_clusters", "q342_dedup_clusters_star",
    "q324_substring_dedup", "q345_semantic_dedup",
    # similarity / ANN / clustering
    "a246_dedup_embedding", "q213_knn_brute", "q232_knn_ivf",
    "q259_pq_codes", "q347_ivf_pq_adc",
    # text pipeline
    "q204_token_count", "q205_text_quality", "q206_lang_id",
    "q328_quality_gate", "q301_bpe_tokens",
    "q341_bpe_learn",
    # sketches / selection
    "q323_hll_distinct", "q331_dsir_select",
    # corpus QA / association / graph
    "a236_token_drift", "a273_gopher_rules", "a235_pmi_pairs",
    "a233_triangles", "a227_setsim_prefix", "a268_incremental_agg",
    "a234_poisson_bootstrap",
    # streaming
    "q269_streaming_window", "q326_stream_dedup", "q349_stream_join",
    "q325_stream_publish",
    # scale ops
    "q287_zorder_key", "q289_scd2", "q235_salted_agg",
    # multimodal / scoring
    "q268_multimodal_decode", "q261_multimodal_resize", "q260_batch_score",
    "a269_image_phash_dedup", "q337_audio_fp_dedup",
)


def headline_line(
    timings: dict[str, float],
    timings_cpu: dict[str, float],
    sf: float | None,
    etl: dict | None,
    era: dict[str, float],
) -> str:
    """The one JSON line bench prints: totals over every entry in
    ``timings``, per-entry seconds for the HEADLINE keys only."""
    vals = timings.values()
    return json.dumps(
        {
            "metric": "workload_total_wall",
            "value": round(sum(vals), 3),
            "unit": "sec",
            "queries": {k: timings[k] for k in HEADLINE},
            "cpu_total": round(sum(timings_cpu.values()), 3),
            "sf": sf,
            "n_queries": len(timings),
            "per_query_mean": round(statistics.mean(vals), 3),
            "per_query_median": round(statistics.median(vals), 3),
            "xml_etl": etl,
            "era": era,
        },
        separators=(",", ":"),
    )


def main() -> None:
    # Guard the metric line (r8, VERDICT r7 "what's wrong" #1): the JVM
    # writes uncaught stream-teardown stack traces (AvailableNow/TWS stop
    # interrupts) straight to the inherited fd 1, and the driver parses
    # only the LAST 2000 bytes of stdout — one late burp loses the round's
    # perf data. So before the JVM is launched, real stdout is saved and
    # fd 1 is pointed at stderr; everything the session prints lands on
    # stderr, and the ONLY bytes on real stdout are the final JSON line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from xml_to_parquet_spark.session import get_spark
    from xml_to_parquet_spark.workload import QUERIES

    spark = get_spark("bench")
    from xml_to_parquet_spark.session import set_log_level

    set_log_level(spark, "ERROR")

    # warm the JVM + parquet footer caches with one tiny action
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Era/load marker (r10, VERDICT r9 item 6): same-code full-catalog
    # walls have drifted 108-136s across eras of this VM, so per-query
    # round-over-round deltas are noise-limited without a yardstick. A
    # fixed calibration micro-job (code-stable across rounds: range →
    # xxhash64 → sum, 8 partitions, min-of-5) is timed before and after
    # the sweep; CHANGES quotes deltas normalized by cal_ms, and any
    # future comparison can reject cross-era noise first.
    def _calibrate() -> float:
        # r11 measured finding: cal_ms_start can NEVER equal cal_ms_end
        # on a fresh JVM — a 25-rep profile on a quiet box (load 0.8)
        # descends 1504 -> 326 -> ... -> ~125 ms and is still falling,
        # while after the ~500-job sweep the same micro-job runs ~52 ms
        # at HIGHER load: C2 maturation of the whole Spark stack, not
        # era drift, dominates the start sample (every committed marker
        # showed the same ~3x start/end ratio: r10 184->66, r11 pre-fix
        # 239->72, 254->68). cal_ms_start therefore documents the
        # cold-start era for the record; the QUIET-BOX criterion is
        # cal_ms_mid vs cal_ms_end (both mature-JVM points bracketing
        # the second half of the sweep) plus the loadavg pair.
        # bench_diff normalizes by the min across the block — a mature
        # value on both sides — so cross-round comparability holds.
        samples = []
        for _ in range(5):
            t0 = time.time()
            spark.range(0, 2_000_000, 1, 8).selectExpr(
                # pmod keeps the ANSI sum inside int64 (2M * 1e9 < 2^63)
                "sum(pmod(xxhash64(id), 1000000007)) AS s"
            ).collect()
            samples.append(time.time() - t0)
        return round(min(samples) * 1000.0, 1)

    era: dict[str, float] = {
        "cal_ms_start": _calibrate(),
        "load1_start": round(os.getloadavg()[0], 2),
    }

    # Load-insensitive twin signal (r12, VERDICT r11 item 3): per-query
    # CPU seconds of this process + the JVM next to every wall
    # measurement. Walls on this VM drift with box load (two
    # consecutive rounds of ambiguous r-over-r deltas); CPU time does
    # not stretch under load, so bench_diff prefers it. engine_cpu_ms
    # (self+JVM utime+stime only) is monotonic by construction — the
    # full process-tree walk produced negative per-query deltas under
    # python-worker daemon churn (see its docstring), so worker CPU is
    # deliberately excluded from the per-query attribution.
    from xml_to_parquet_spark.logging_utils import engine_cpu_ms

    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    timings: dict[str, float] = {}
    timings_cpu: dict[str, float] = {}
    mid_at = len(QUERIES) // 2
    for qi, (name, spec) in enumerate(QUERIES.items()):
        if qi == mid_at:
            # mature-JVM drift bracket (see _calibrate)
            era["cal_ms_mid"] = _calibrate()
            era["load1_mid"] = round(os.getloadavg()[0], 2)
        samples, cpu_samples = [], []
        for _ in range(trials):
            c0 = engine_cpu_ms(spark)
            t0 = time.time()
            df = spec.fn(spark, sf_dir)
            # noop sink materializes every row/column without count()'s
            # column-pruning shortcut and without sink I/O in the measurement
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            c1 = engine_cpu_ms(spark)
            if c0 is not None and c1 is not None:
                cpu_samples.append(c1 - c0)
        timings[name] = round(min(samples), 3)
        if cpu_samples:
            # min across trials, like wall: the first trial's CPU carries
            # one-time codegen/JIT work that belongs to the session
            timings_cpu[name] = round(min(cpu_samples) / 1000.0, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    vals = sorted(timings.values())
    era["cal_ms_end"] = _calibrate()
    era["load1_end"] = round(os.getloadavg()[0], 2)

    # XML ETL throughput — the one workload the reference publishes
    # numbers for (BASELINE.md: ~4.2 MB/s on 8 cores), measured live on
    # this session so the driver records it alongside the query sweep.
    # Failure here must never sink the main bench line.
    etl = None
    if os.environ.get("SPARK_GRAFT_BENCH_ETL", "1") != "0":
        try:
            import subprocess

            # clean subprocess, not this session: the tool pins local[8]
            # (the reference's core count) and a fresh JVM — the 94-query
            # sweep's session measures ~1.7x slower on the same corpus
            # min-of-3: the in-bench subprocess shares the box with the
            # resident sweep JVM, and a single noisy trial has cost two
            # rounds an honest ETL floor (r7 11.9 vs r8-mid 9.2 MB/s on
            # identical code)
            env = dict(os.environ, XML_ETL_TRIALS="3")
            out = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "bench_xml_etl.py"),
                 "--files=100"],
                capture_output=True, text=True, timeout=300, env=env,
            ).stdout.strip().splitlines()[-1]
            r = json.loads(out)
            etl = {
                "files": r["files"],
                "mb": r["mb"],
                "sec": r["sec"],
                "mb_per_s": r["mb_per_s"],
                "cores": 8,
                "ref_8core_mb_per_s": r["reference_mb_per_s"],
                "speedup": r["speedup_vs_reference"],
            }
        except Exception:  # noqa: BLE001
            etl = None

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    full = {
        "metric": "workload_total_wall",
        "value": total,
        "unit": "sec",
        "cpus": int(cpus),  # r14: sidecar provenance (VERDICT r13 item 2)
        "queries": timings,
        "queries_cpu": timings_cpu,  # load-insensitive twin (sec)
        # ADVICE r12: the CPU scope changed mid-r12 (process-tree walk ->
        # self+JVM own-time); the stamp lets bench_diff refuse to compare
        # incompatible scopes instead of reporting phantom deltas.
        "cpu_metric": "self+jvm",
        "cpu_total": round(sum(timings_cpu.values()), 3),
        "sf": float(sf) if sf else None,
        "n_queries": len(timings),
        "per_query_mean": round(statistics.mean(vals), 3),
        "per_query_median": round(statistics.median(vals), 3),
        "xml_etl": etl,
        "era": era,
    }
    # only the graded config (sf0.1 at the default 32 cores) owns the
    # canonical sidecar — smoke runs at other SFs must not clobber the
    # committed floor, and (r14, VERDICT r13 item 2) the driver's low-core
    # scaling run must not clobber the 32-core per-query map either: the
    # r13 driver's 8-core leg overwrote the only post-optimization 32-core
    # CPU record. Non-canonical configs get the core count in the name.
    sidecar = (
        "BENCH_LOCAL_FULL.json"
        if sf == "0.1" and cpus == "32"
        else f"BENCH_LOCAL_FULL_sf{sf}_c{cpus}.json"
    )
    with open(os.path.join(REPO, sidecar), "w") as f:
        json.dump(full, f, indent=1)

    line = headline_line(
        timings, timings_cpu, float(sf) if sf else None, etl, era
    )
    assert len(line) < 1900, f"bench line {len(line)}B breaches driver window"
    os.write(real_stdout, line.encode() + b"\n")
    os.close(real_stdout)


if __name__ == "__main__":
    main()
