"""Gate-tooling unit tests (no Spark session needed).

Every key the tools name must be a live catalog key, and COVERAGE.md's
appendix must list every key.

Pins the ADVICE-r12 fix to tools/gate.py's benign-error allowlist: only
the documented accumulator stop race — the DAGScheduler "Failed to
update accumulator" ERROR line WITH "non-existent accumulator" in the
following stack-trace lines — is allowlisted. Any other ERROR line,
including a genuine accumulator-update failure with a different cause,
must stay red.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from gate import classify_error_lines  # noqa: E402

STOP_RACE = (
    "26/08/16 17:00:01 ERROR DAGScheduler: Failed to update accumulator "
    "12345 (internal.metrics.executorRunTime) for task 7\n"
    "org.apache.spark.SparkException: attempted to access non-existent "
    "accumulator 12345\n"
    "\tat org.apache.spark.util.AccumulatorContext$.get(...)\n"
)

REAL_ACCUM_FAILURE = (
    "26/08/16 17:00:02 ERROR DAGScheduler: Failed to update accumulator "
    "999 (my.custom.Metric) for task 3\n"
    "java.io.NotSerializableException: my.custom.Metric\n"
    "\tat java.io.ObjectOutputStream.writeObject0(...)\n"
)

OTHER_ERROR = (
    "26/08/16 17:00:03 ERROR TaskSetManager: Task 0 in stage 5.0 failed "
    "4 times; aborting job\n"
)


def test_stop_race_is_allowlisted_and_auditable():
    errs, benign = classify_error_lines(STOP_RACE)
    assert errs == []
    assert len(benign) == 1
    assert "Failed to update accumulator" in benign[0]


def test_real_accumulator_failure_stays_red():
    # Same ERROR-line prefix, different cause on the trace lines: the
    # pre-fix regex (line-only match) silently allowlisted this.
    errs, benign = classify_error_lines(REAL_ACCUM_FAILURE)
    assert benign == []
    assert len(errs) == 1


def test_unrelated_error_line_stays_red():
    errs, benign = classify_error_lines(OTHER_ERROR)
    assert benign == []
    assert len(errs) == 1


def test_mixed_stream_classifies_each_independently():
    errs, benign = classify_error_lines(
        STOP_RACE + REAL_ACCUM_FAILURE + OTHER_ERROR
    )
    assert len(benign) == 1
    assert len(errs) == 2


def test_pandas_kernel_classification_pinned():
    """VERDICT r12 item 2: bench_diff carries the list of Arrow-batched
    pandas-kernel slugs whose compute the self+JVM CPU signal cannot
    see. Pin the membership (the ten documented kernels) and that each
    slug resolves to a live catalog entry."""
    from bench_diff import PANDAS_KERNEL_SLUGS

    from xml_to_parquet_spark.workload import KEY_BY_SLUG

    assert PANDAS_KERNEL_SLUGS == {
        "mojibake_deep", "pack_nosplit", "batch_score", "byte_features",
        "multimodal_decode", "multimodal_resize", "netpbm_real",
        "audio_fp_dedup", "image_phash_dedup", "sessionize_tws",
    }
    missing = [s for s in PANDAS_KERNEL_SLUGS if s not in KEY_BY_SLUG]
    assert not missing, f"slugs not in catalog: {missing}"


def test_multi_job_noise_band_slugs_resolve():
    """VERDICT r12 item 5: the documented CPU-noise floor rides on
    bench_diff; its slugs must resolve to live catalog entries."""
    from bench_diff import MULTI_JOB_CPU_NOISE

    from xml_to_parquet_spark.workload import KEY_BY_SLUG

    assert set(MULTI_JOB_CPU_NOISE) == {"incremental_agg", "pmi_pairs"}
    assert all(s in KEY_BY_SLUG for s in MULTI_JOB_CPU_NOISE)
    assert all(v > 0 for v in MULTI_JOB_CPU_NOISE.values())


def test_signal_selection_per_slug():
    from bench_diff import signal_for_slug

    # pandas kernel -> wall even when CPU is available
    assert signal_for_slug("mojibake_deep", cpu_ok=True,
                           force_wall=False) == "wall"
    # JVM-bound slug -> CPU when available
    assert signal_for_slug("star_revenue", cpu_ok=True,
                           force_wall=False) == "cpu"
    # no compatible CPU maps -> wall for everything
    assert signal_for_slug("star_revenue", cpu_ok=False,
                           force_wall=False) == "wall"
    # --wall forces wall for everything
    assert signal_for_slug("star_revenue", cpu_ok=True,
                           force_wall=True) == "wall"


def test_cpu_variant_stamp_gates_cpu_diff():
    """ADVICE r12: CPU maps are only diffed when both sidecars stamp the
    SAME cpu_metric variant; absent or mismatched stamps fall back to
    wall."""
    from bench_diff import cpu_compatible

    cpu = {"q01_x": 1.0}
    both = {"queries": {}, "queries_cpu": cpu, "cpu_metric": "self+jvm"}
    unstamped = {"queries": {}, "queries_cpu": cpu}
    other = {"queries": {}, "queries_cpu": cpu, "cpu_metric": "proc-tree"}
    no_cpu = {"queries": {}}

    assert cpu_compatible(both, dict(both))[0] is True
    assert cpu_compatible(both, unstamped)[0] is False
    assert cpu_compatible(unstamped, both)[0] is False
    assert cpu_compatible(both, other)[0] is False
    assert cpu_compatible(no_cpu, both)[0] is False


def test_bench_stamps_cpu_metric_variant():
    # the sidecar writer and the committed canonical sidecar both carry
    # the variant stamp bench_diff keys on
    import json

    src = open(os.path.join(REPO, "bench.py")).read()
    assert '"cpu_metric": "self+jvm"' in src
    side = json.load(open(os.path.join(REPO, "BENCH_LOCAL_FULL.json")))
    assert side.get("cpu_metric") == "self+jvm"


def test_cause_must_be_near_the_error_line():
    # "non-existent accumulator" 20 lines later belongs to some other
    # event — the look-ahead window is a few trace lines only.
    txt = (
        "26/08/16 17:00:04 ERROR DAGScheduler: Failed to update "
        "accumulator 1 (x) for task 0\n"
        + "java.lang.RuntimeException: boom\n" * 10
        + "... non-existent accumulator 1\n"
    )
    errs, benign = classify_error_lines(txt)
    assert benign == []
    assert len(errs) == 1


def test_tool_keys_are_catalog_keys():
    import explain_audit as ea

    import bench
    from xml_to_parquet_spark.workload import QUERIES

    named = {
        "bench.HEADLINE": bench.HEADLINE,
        "explain_audit.BROADCAST_ONLY": ea.BROADCAST_ONLY,
        "explain_audit.PUSHDOWN": ea.PUSHDOWN,
        "explain_audit.PRUNING": ea.PRUNING,
        "explain_audit.REQUIRED_NODES": ea.REQUIRED_NODES,
        "explain_audit.FORBIDDEN_NODES": ea.FORBIDDEN_NODES,
        "explain_audit.SKIP": ea.SKIP,
    }
    stale = {
        where: sorted(set(keys) - set(QUERIES))
        for where, keys in named.items()
        if set(keys) - set(QUERIES)
    }
    assert not stale, f"keys not in the catalog: {stale}"


def test_coverage_appendix_current():
    """COVERAGE.md's slug appendix has a ``| slug | key |`` row for
    every catalog key."""
    from xml_to_parquet_spark.workload import QUERIES

    cov = open(os.path.join(REPO, "COVERAGE.md")).read()
    missing = [
        k for k in QUERIES if f"| {k.split('_', 1)[1]} | {k} |" not in cov
    ]
    assert not missing, f"no appendix row for {missing}"
