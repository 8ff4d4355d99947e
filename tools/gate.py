"""One-command round gate (round-4 VERDICT item 7).

Runs, in order, and FAILS LOUDLY on any red:

1. ``pytest tests/``                        — unit/property suite
2. ``tools/verify_local.py`` (full catalog) — every queries() entry vs
   its DuckDB oracle at sf0.01 (the driver's correctness gate, but over
   the WHOLE catalog, not the 50-slot window)
3. ``tools/explain_audit.py``               — scale-critical plan
   properties (broadcast joins, pushed filters, column pruning)
4. bench-line size check                    — worst-case-rendered bench
   JSON line stays under the driver's 2000-byte stdout window
5. ``tools/driver_sim.py`` (full catalog)   — every entry re-run on a
   BARE SparkSession (the external driver's exact shape; the r8 lesson:
   get_spark-only testing hides worker env/import defects)

Usage::

    python tools/gate.py            # full gate
    python tools/gate.py --fast     # skip pytest (slowest stage)

CHANGES_r{N}.md quotes this output verbatim; a claim that does not
reproduce under ``python tools/gate.py`` must not be made.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def classify_error_lines(stderr: str) -> tuple[list[str], list[str]]:
    """Split log4j ERROR lines in ``stderr`` into (real, allowlisted).

    ADVICE r12: the allowlist must match ONLY the stop-race signature,
    not every accumulator-update failure. Spark logs the ERROR line as
    "Failed to update accumulator <id> (<class>) for task <n>" and the
    CAUSE on the following stack-trace lines — for the benign stop race
    that cause is "org.apache.spark.SparkException: attempted to access
    non-existent accumulator <id>" (_LEGACY_ERROR_TEMP_3024 in
    spark-common-utils' error-conditions.json). So the allowlist
    requires BOTH: the DAGScheduler ERROR line AND "non-existent
    accumulator" within the next few trace lines. A real accumulator
    failure (serialization bug, metrics defect) has a different cause
    and stays a gate red.
    """
    err_line = re.compile(r"^\d{2}/\d{2}/\d{2} [\d:]+ ERROR ")
    stop_race = re.compile(
        r"ERROR DAGScheduler: Failed to update accumulator"
    )
    lines = stderr.splitlines()
    errs: list[str] = []
    benign: list[str] = []
    for i, ln in enumerate(lines):
        if not err_line.match(ln):
            continue
        if stop_race.search(ln) and any(
            "non-existent accumulator" in nxt
            for nxt in lines[i + 1 : i + 6]
        ):
            benign.append(ln)
            continue
        errs.append(ln)
    return errs, benign


def _run(
    name: str, argv: list[str], forbid_error_logs: bool = False
) -> tuple[str, float, str]:
    t0 = time.time()
    proc = subprocess.run(
        argv, cwd=REPO, capture_output=True, text=True, timeout=3600
    )
    dt = time.time() - t0
    tail = "\n".join((proc.stdout + proc.stderr).strip().splitlines()[-12:])
    status = "PASS" if proc.returncode == 0 else "FAIL"
    if status == "PASS" and forbid_error_logs:
        # VERDICT r10 item 4: expected-failure windows are muted at the
        # source (session.quiet_jvm_logs), so ANY log4j ERROR line in a
        # green run is un-accepted noise a real failure could hide in
        # One known-benign async line is allowlisted (r12): on stream /
        # job stop, a straggler task-completion event can drain through
        # the DAG event loop AFTER the query's accumulators were
        # unregistered and AFTER quiet_jvm_logs restored the level —
        # "Failed to update accumulator ... non-existent accumulator"
        # is that race's signature (upstream SPARK behavior on stop; no
        # data effect — the task's own result was already discarded
        # with the stopped query). Muting it at source is impossible to
        # scope: the event loop logs asynchronously outside any window.
        errs, benign = classify_error_lines(proc.stderr)
        for ln in benign:
            # Printed so allowlisted lines stay auditable in the gate
            # transcript (ADVICE r12).
            print(f"[gate] {name}: allowlisted benign ERROR "
                  f"(accumulator stop race): {ln[:200]}")
        if errs:
            status = "FAIL"
            tail = (
                f"{len(errs)} JVM ERROR log lines in a green run "
                f"(first: {errs[0][:200]})"
            )
    print(f"[gate] {name}: {status} in {dt:.1f}s")
    if status == "FAIL":
        print(tail)
    return status, dt, tail


def worst_case_bench_line() -> str:
    """bench.py's printed line with every number at its widest: every
    catalog entry timed at 9999.999 s."""
    import bench
    from xml_to_parquet_spark.workload import QUERIES

    timings = dict.fromkeys(QUERIES, 9999.999)
    etl = {
        "files": 10000,
        "mb": 99999.9,
        "sec": 99999.99,
        "mb_per_s": 9999.99,
        "cores": 128,
        "ref_8core_mb_per_s": 4.2,
        "speedup": 999.99,
    }
    era = {}
    for point in ("start", "mid", "end"):
        era[f"cal_ms_{point}"] = 99999.9
        era[f"load1_{point}"] = 99.99
    return bench.headline_line(timings, timings, 0.1, etl, era)


def check_bench_line() -> tuple[str, float, str]:
    """Assert the worst-case bench line fits the driver's 2000-byte
    stdout window with headroom (<1900 bytes)."""
    t0 = time.time()
    line = worst_case_bench_line()
    status = "PASS" if len(line) < 1900 else "FAIL"
    detail = f"worst-case line={len(line)}B"
    print(f"[gate] bench-line: {status} in {time.time()-t0:.1f}s ({detail})")
    return status, time.time() - t0, detail


def main() -> int:
    fast = "--fast" in sys.argv
    results: dict[str, str] = {}
    py = sys.executable

    if not fast:
        results["pytest"], _, _ = _run(
            "pytest", [py, "-m", "pytest", "tests/", "-q"]
        )
    results["verify_local"], _, _ = _run(
        "verify_local (full catalog)",
        [py, os.path.join(REPO, "tools", "verify_local.py")],
    )
    results["explain_audit"], _, _ = _run(
        "explain_audit", [py, os.path.join(REPO, "tools", "explain_audit.py")]
    )
    results["bench_line"], _, _ = check_bench_line()
    results["driver_sim"], _, _ = _run(
        "driver_sim (bare session)",
        [py, os.path.join(REPO, "tools", "driver_sim.py")],
        forbid_error_logs=True,
    )

    reds = [k for k, v in results.items() if v != "PASS"]
    verdict = "GREEN" if not reds else f"RED ({', '.join(reds)})"
    print(f"[gate] VERDICT: {verdict}")
    return 1 if reds else 0


if __name__ == "__main__":
    sys.exit(main())
