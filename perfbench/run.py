"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  One run is one process on ``local[4]``:

1. set-up: generate the seeded inputs (three times; the median counts),
   start the Spark session with a pinned 2 GB heap (``-Xms`` = ``-Xmx``),
   then warm up: three ETL passes, or for ``catalog_mix`` one sweep that
   collects every entry and checks it against its DuckDB oracle and one
   more sweep;
2. timed passes for ``--seconds`` seconds (at least three), each after a
   full GC, into a fresh output directory, and each checked afterwards.

The last line of stdout is one JSON object: ``correct``, ``attempted``
(timed passes), ``failed`` (passes that raised or whose check failed) and
``metrics``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced passes (ABBA order) and reports the
per-layer metrics of the traced ones, plus the tracing overhead: traced
minus untraced median pass wall time.  Progress goes to stderr.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout: the session's temp and local dirs point there, and so does the
program's ``/dev/shm`` scratch (see ``_confine_scratch``).  The span log
of a traced run is kept as ``.perfbench_work/spans_<workload>_<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procstat  # noqa: E402

CORES = 4
HEAP = "2g"
GEN_REPEATS = 3
# warm-up passes before timing: a fresh JVM keeps speeding up for many
# passes while the JIT compiles the hot paths (the catalog's oracle sweep
# is its cold first pass and comes on top)
WARMUP = {"etl_validated_small": 3, "catalog_mix": 1}
# timed passes: at least this many, so that the median is taken at the
# same point of the warm-up curve in a slow period as in a fast one
MIN_PASSES = 3


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _confine_scratch(work: str) -> str:
    """Point every temp location of this process tree into ``work``.

    The streaming harness asks ``tempfile.mkdtemp`` for ``/dev/shm``
    explicitly; those calls are redirected to ``work/shm``, which is also
    where ``scratch.leaked_entries`` looks.  The package is put on the
    workers' ``PYTHONPATH`` instead of being zipped into ``/tmp``.
    """
    tmp = os.path.join(work, "tmp")
    shm = os.path.join(work, "shm")
    local = os.path.join(work, "spark-local")
    for d in (tmp, shm, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_GRAFT_SCRATCH"] = shm
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    mkdtemp = tempfile.mkdtemp

    def confined_mkdtemp(suffix=None, prefix=None, dir=None):
        if dir == "/dev/shm":
            dir = shm
        return mkdtemp(suffix, prefix, dir)

    tempfile.mkdtemp = confined_mkdtemp

    from xml_to_parquet_spark import session

    session._ship_package = lambda spark: None
    return tmp


def _scratch_entries(work: str) -> set[str]:
    out = set()
    for d in ("shm", "spark-local", "tmp"):
        out |= {f"{d}/{e}" for e in os.listdir(os.path.join(work, d))}
    return out


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.jvm = None

    def start_spark(self, tmp: str):
        from xml_to_parquet_spark.session import get_spark, set_log_level

        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions": (
                    f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
                ),
                "spark.sql.warehouse.dir": os.path.join(
                    self.work, "warehouse"
                ),
            },
        )
        set_log_level(self.spark, "ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc

    def stop(self) -> None:
        """Stop the session, end the JVM and wait for every process this
        run started, orphaned workers included."""
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 — shutting down regardless
                traceback.print_exc()
        if self.jvm is not None:
            self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
        for pid in procstat.children():
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass

    def gc_heap_mb(self) -> float:
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 1e6

    def one_pass(self, wl, index: int, tracer) -> dict:
        from perfbench.trace import NullTracer

        out_dir = os.path.join(self.work, "out", f"pass-{index}")
        heap = self.gc_heap_mb()
        procstat.reap_orphans(self.jvm.pid)
        before = _scratch_entries(self.work)
        cpu = procstat.TreeCpu(self.jvm.pid)
        rss = procstat.PeakRss(self.jvm.pid)
        traced = tracer is not None
        if traced:
            tracer.start_pass(index)
            tracer.install()
        c0 = cpu.read()["total"]
        rss.start()
        t_epoch = time.time()
        t0 = time.perf_counter()
        result, error = None, None
        try:
            result = wl.run_pass(self.spark, out_dir, tracer or NullTracer())
        except Exception:  # noqa: BLE001 — a failed pass is counted
            error = traceback.format_exc()
        wall = time.perf_counter() - t0
        procstat.reap_orphans(self.jvm.pid)
        rss.stop()
        # the sampler thread's CPU is the benchmark's, not the program's
        cpu_s = cpu.read()["total"] - c0 - rss.cpu_s
        peak = max(rss.peak, procstat.tree_rss_bytes(self.jvm.pid))
        if traced:
            tracer.uninstall()
        rec = {
            "wall": wall,
            "cpu": cpu_s,
            "rss": peak,
            "heap_mb": heap,
            "traced": traced,
            "problems": [error] if error else [],
        }
        counts = {}
        if error is None:
            try:
                rec["problems"], counts = wl.check(result, out_dir)
            except Exception:  # noqa: BLE001 — missing or unreadable output
                rec["problems"] = [traceback.format_exc()]
        rec["leaked"] = len(_scratch_entries(self.work) - before)
        if traced and not rec["problems"]:
            rec["layers"] = (
                tracer.catalog_metrics(index)
                if wl.name == "catalog_mix"
                else tracer.etl_metrics(index, wall, t_epoch, result, counts)
            )
        shutil.rmtree(out_dir, ignore_errors=True)
        _log(
            f"pass {index}{' traced' if traced else ''}: wall {wall:.3f} s, "
            f"cpu {cpu_s:.2f} s (sampler {rss.cpu_s:.3f} s), "
            f"rss {peak / 1e6:.0f} MB, "
            f"heap {heap:.0f} MB"
            + (f", FAILED: {rec['problems']}" if rec["problems"] else "")
        )
        return rec

    def execute(self) -> dict:
        from perfbench.workloads import WORKLOADS

        args = self.args
        tmp = _confine_scratch(self.work)
        procstat.become_subreaper()
        wl = WORKLOADS[args.workload](args.workload, self.work, args.seed)

        gen = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            mb = wl.make_inputs()
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.start_spark(tmp)
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        oracle_problems = []
        if wl.name == "catalog_mix":
            oracle_problems = wl.oracle_sweep(self.spark)
            if oracle_problems:
                _log(f"oracle check FAILED: {oracle_problems}")
        for i in range(WARMUP[wl.name]):
            self.one_pass(wl, -1 - i, None)
        warm_s = time.perf_counter() - t
        setup_s = statistics.median(gen) + start_s + warm_s
        _log(
            f"set-up {setup_s:.2f} s (inputs {mb:.1f} MB in "
            f"{statistics.median(gen):.2f} s, session {start_s:.2f} s, "
            f"warm-up {warm_s:.2f} s)"
        )

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(self.spark, self.jvm.pid)
        # a traced run alternates traced and untraced passes
        min_passes = 2 * MIN_PASSES if args.trace else MIN_PASSES
        passes = []
        t_loop = time.monotonic()
        while (
            len(passes) < min_passes
            or time.monotonic() - t_loop < args.seconds
        ):
            # untraced, traced, traced, untraced, ...: drift over the run
            # weighs on both sides of the tracing overhead alike
            traced = tracer if len(passes) % 4 in (1, 2) else None
            passes.append(self.one_pass(wl, len(passes), traced))
        final_heap = self.gc_heap_mb()

        failed = [p for p in passes if p["problems"] or oracle_problems]
        ok = [p for p in passes if p not in failed] or passes
        plain = [p for p in ok if not p["traced"]]
        wall = statistics.median(p["wall"] for p in plain or ok)
        if args.trace:
            from perfbench.trace import PER_LAYER, median_metrics

            layers = median_metrics(
                [p["layers"] for p in ok if "layers" in p]
            )
            layers.update(
                {
                    "session.start_s": start_s,
                    "session.warm_s": warm_s,
                    "scratch.leaked_entries": statistics.median(
                        p["leaked"] for p in passes
                    ),
                    "jvm.retained_heap_mb": final_heap,
                    "trace.overhead_s": statistics.median(
                        [p["wall"] for p in ok if p["traced"]] or [wall]
                    )
                    - wall,
                }
            )
            units = {n: u for n, u, _ in PER_LAYER}
            metrics = {n: (layers.get(n, 0.0), units[n]) for n in units}
            tracer.dump(
                os.path.join(
                    os.path.dirname(self.work),
                    f"spans_{wl.name}_{args.seed}.json",
                )
            )
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_wall_s": (wall, "s"),
                "pass_cpu_s": (
                    statistics.median(p["cpu"] for p in plain or ok), "s"
                ),
                "input_mb_per_s": (mb / wall, "MB/s"),
                "peak_rss_mb": (max(p["rss"] for p in passes) / 1e6, "MB"),
            }
        _log(
            f"{len(passes)} timed passes, {len(failed)} failed, "
            f"median wall {wall:.3f} s"
        )
        return {
            "correct": not failed,
            "attempted": len(passes),
            "failed": len(failed),
            "metrics": {
                k: {"value": float(v), "unit": u}
                for k, (v, u) in sorted(metrics.items())
            },
        }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOAD_NAMES

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"
    )
    os.makedirs(work)
    # the JVM and its children inherit fd 1: keep stdout for the result
    # line alone and send everything else to stderr
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    run = Run(args, work)
    result = None
    try:
        result = run.execute()
    except Exception:  # noqa: BLE001 — reported, exit code 1
        traceback.print_exc()
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
