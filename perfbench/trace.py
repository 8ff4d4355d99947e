"""Layer spans and Spark counters for the traced run.

Spans are recorded from outside the program.  For the ETL workloads the
tracer replaces the layer functions ``pipeline.process_xml_to_parquet``
looks up in its module globals (and ``publish.publish_star_schema``,
which the pipeline imports at call time) with wrappers, and restores the
originals after each traced pass.  Where a layer function returns a lazy
DataFrame whose work runs later (the validation pass, the run manifest),
the wrapper also wraps that object's action method, so the deferred work
lands in the same span.  For ``catalog_mix`` the sweep itself opens one
plan span and one execution span per entry.

Each span sets its name as the Spark job group on its thread, and while
a traced pass runs, work a span hands to a ``ThreadPoolExecutor`` (the
pipeline's helper threads, the publisher's per-table threads) runs under
that span too.  After a
pass, the jobs it started are read from the driver's status store and
attributed to layers by job group; jobs with no span group (streaming
micro-batches run on Spark's own threads) fall back, in the sequential
catalog sweep only, to the span open when they were submitted.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from perfbench.procstat import TreeCpu
from perfbench.workloads import CATALOG_FAMILIES

# pipeline-module name -> (span name, lazy actions to wrap on its result)
PIPELINE_SPANS = {
    "read_xml_records": ("sources.read_xml_records", ()),
    "extract_business_keys": ("sources.extract_business_keys", ()),
    "validate_files": ("validation.validate_files", ("count",)),
    "analyze_schema": ("schema_analyzer.analyze_schema", ()),
    "build_star_schema": ("star_transformer.build_star_schema", ()),
    "processing_manifest": ("writers.reports", ("collect",)),
    "parquet_metadata": ("writers.reports", ()),
    "schema_documentation": ("writers.reports", ()),
    "write_csv_report": ("writers.reports", ()),
}
PUBLISH_SPAN = "publish.publish_star_schema"
ETL_SPANS = sorted({s for s, _ in PIPELINE_SPANS.values()} | {PUBLISH_SPAN})

FAMILY_METRICS = [
    ("plan_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("worker_cpu_s", "s", "lower"),
]

# every per-layer metric: (name, unit, better); a layer that does not run
# in a workload reports 0
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("sources.read_xml_records_s", "s", "lower"),
    ("sources.extract_business_keys_s", "s", "lower"),
    ("validation.validate_files_s", "s", "lower"),
    ("validation.worker_cpu_s", "s", "lower"),
    ("validation.files_checked", "count", "higher"),
    ("validation.files_rejected", "count", "higher"),
    ("schema_analyzer.analyze_schema_s", "s", "lower"),
    ("schema_analyzer.jobs", "count", "lower"),
    ("schema_analyzer.exec_cpu_s", "s", "lower"),
    ("star_transformer.build_star_schema_s", "s", "lower"),
    ("star_transformer.dimensions", "count", "higher"),
    ("publish.publish_star_schema_s", "s", "lower"),
    ("publish.tasks", "count", "lower"),
    ("publish.output_files", "count", "lower"),
    ("publish.output_mb", "MB", "lower"),
    ("writers.reports_s", "s", "lower"),
    ("pipeline.self_s", "s", "lower"),
    ("pipeline.unattributed_jobs", "count", "lower"),
    *[
        (f"{fam}.{m}", unit, better)
        for fam in CATALOG_FAMILIES
        for m, unit, better in FAMILY_METRICS
    ],
    ("scratch.leaked_entries", "count", "lower"),
    ("jvm.retained_heap_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


class NullTracer:
    """Stands in for the tracer on untraced passes."""

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.cpu = TreeCpu(jvm_pid)
        self.spans: list[dict] = []
        self.jobs: list[dict] = []  # harvested jobs with their owning span
        self.pass_id = -1
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self._job_floor = -1

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        """This thread's open spans, innermost last."""
        return self._local.__dict__.setdefault("stack", [])

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {
            "pass": self.pass_id,
            "name": name,
            "thread": threading.get_ident(),
            "parent": stack[-1]["id"] if stack else None,
            "t0": time.time(),
        }
        workers0 = self.cpu.read()["workers"]
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["worker_cpu_s"] = self.cpu.read()["workers"] - workers0
            stack.pop()
            self._restore_group(stack)

    def _wrap(self, fn, name: str, lazy: tuple[str, ...]):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            for action in lazy:
                self._wrap_action(out, action, name)
            return out

        return traced

    def _wrap_action(self, obj, action: str, name: str) -> None:
        bound = getattr(obj, action)

        def traced(*args, **kwargs):
            with self.span(name):
                return bound(*args, **kwargs)

        setattr(obj, action, traced)

    def start_pass(self, pass_id: int) -> None:
        """Begin a traced pass: later harvests see only its jobs."""
        self.pass_id = pass_id
        self._job_floor = self._max_job_id()

    def install(self) -> None:
        from xml_to_parquet_spark import pipeline
        from xml_to_parquet_spark.sinks import publish

        targets = [
            (pipeline, attr, span, lazy)
            for attr, (span, lazy) in PIPELINE_SPANS.items()
        ] + [(publish, "publish_star_schema", PUBLISH_SPAN, ())]
        for module, attr, span, lazy in targets:
            fn = getattr(module, attr)
            self._saved.append((module, attr, fn))
            setattr(module, attr, self._wrap(fn, span, lazy))
        submit = ThreadPoolExecutor.submit
        self._saved.append((ThreadPoolExecutor, "submit", submit))
        ThreadPoolExecutor.submit = self._inheriting(submit)

    def _inheriting(self, submit):
        """``submit`` whose task runs inside the submitter's open span."""
        tracer = self

        def inheriting_submit(executor, fn, /, *args, **kwargs):
            stack = tracer._stack()
            if not stack:
                return submit(executor, fn, *args, **kwargs)
            parent = stack[-1]

            def in_parent_span(*a, **kw):
                own = tracer._stack()
                own.append(parent)
                tracer.sc.setJobGroup(parent["name"], parent["name"])
                try:
                    return fn(*a, **kw)
                finally:
                    own.pop()
                    tracer._restore_group(own)

            return submit(executor, in_parent_span, *args, **kwargs)

        return inheriting_submit

    def _restore_group(self, stack: list[dict]) -> None:
        if stack:
            self.sc.setJobGroup(stack[-1]["name"], stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def uninstall(self) -> None:
        while self._saved:
            module, attr, fn = self._saved.pop()
            setattr(module, attr, fn)

    # -- status store --------------------------------------------------
    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _max_job_id(self) -> int:
        it = self._store().jobsList(None).iterator()
        best = -1
        while it.hasNext():
            best = max(best, it.next().jobId())
        return best

    def harvest_jobs(self) -> list[dict]:
        """Jobs started since the last harvest, with their stage totals."""
        jvm = self.sc._jvm
        store = self._store()
        empty_list = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        jobs, seen_stages = [], set()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self._job_floor:
                continue
            group = j.jobGroup()
            submitted = j.submissionTime()
            job = {
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "submitted": (
                    submitted.get().getTime() / 1000.0
                    if submitted.isDefined()
                    else None
                ),
                "tasks": 0,
                "exec_cpu_s": 0.0,
                "shuffle_write_mb": 0.0,
            }
            sids = j.stageIds().iterator()
            while sids.hasNext():
                sid = sids.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                attempts = store.stageData(
                    sid, False, empty_list, False, no_quantiles
                ).iterator()
                while attempts.hasNext():
                    sd = attempts.next()
                    job["tasks"] += sd.numCompleteTasks()
                    job["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                    job["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            jobs.append(job)
        if jobs:
            self._job_floor = max(j["id"] for j in jobs)
        return jobs

    # -- per-pass metrics ----------------------------------------------
    def pass_spans(self, pass_id: int) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id and "t1" in s]

    @classmethod
    def _self_times(cls, spans: list[dict]) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover
        (children on helper threads may overlap each other)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            p = by_id.get(s["parent"])
            if p is not None:
                kids.setdefault(p["id"], []).append(
                    (max(s["t0"], p["t0"]), min(s["t1"], p["t1"]))
                )
        return {
            s["id"]: s["t1"] - s["t0"] - cls._union(kids.get(s["id"], []))
            for s in spans
        }

    @staticmethod
    def _union(intervals: list[tuple[float, float]]) -> float:
        total, end = 0.0, float("-inf")
        for lo, hi in sorted(intervals):
            if hi > end:
                total += hi - max(lo, end)
                end = hi
        return total

    def attribute(self, spans, jobs, window_fallback: bool) -> dict:
        """Map each job to a span name; unattributed jobs map to None."""
        names = {s["name"] for s in spans}
        out = {}
        for j in jobs:
            name = j["group"] if j["group"] in names else None
            if name is None and window_fallback and j["submitted"]:
                open_ = [
                    s["name"]
                    for s in spans
                    if s["t0"] <= j["submitted"] <= s["t1"]
                ]
                if len(set(open_)) == 1:
                    name = open_[0]
            out[j["id"]] = name
            self.jobs.append({**j, "owner": name})
        return out

    def etl_metrics(self, pass_id, wall, t0, result, counts) -> dict:
        spans = self.pass_spans(pass_id)
        jobs = self.harvest_jobs()
        owner = self.attribute(spans, jobs, window_fallback=False)
        selfs = self._self_times(spans)
        m = {f"{n}_s": 0.0 for n in ETL_SPANS}
        for s in spans:
            m[f"{s['name']}_s"] += selfs[s["id"]]
        m["validation.worker_cpu_s"] = sum(
            s["worker_cpu_s"]
            for s in spans
            if s["name"] == "validation.validate_files"
        )

        def jobs_of(span):
            return [j for j in jobs if owner[j["id"]] == span]

        m["schema_analyzer.jobs"] = len(
            jobs_of("schema_analyzer.analyze_schema")
        )
        m["schema_analyzer.exec_cpu_s"] = sum(
            j["exec_cpu_s"] for j in jobs_of("schema_analyzer.analyze_schema")
        )
        m["publish.tasks"] = sum(j["tasks"] for j in jobs_of(PUBLISH_SPAN))
        m["star_transformer.dimensions"] = len(result.star.dimensions)
        m["publish.output_files"] = counts["output_files"]
        m["publish.output_mb"] = counts["output_mb"]
        m["validation.files_checked"] = counts["files_checked"]
        m["validation.files_rejected"] = counts["files_rejected"]
        m["pipeline.self_s"] = wall - self._union(
            [(max(s["t0"], t0), min(s["t1"], t0 + wall)) for s in spans]
        )
        m["pipeline.unattributed_jobs"] = sum(
            1 for j in jobs if owner[j["id"]] is None
        )
        return m

    def catalog_metrics(self, pass_id) -> dict:
        spans = self.pass_spans(pass_id)
        jobs = self.harvest_jobs()
        owner = self.attribute(spans, jobs, window_fallback=True)
        selfs = self._self_times(spans)
        m = {}
        for fam in CATALOG_FAMILIES:
            fam_spans = [s for s in spans if s["name"].rsplit(".", 1)[0] == fam]
            fam_jobs = [
                j for j in jobs
                if owner[j["id"]] and owner[j["id"]].rsplit(".", 1)[0] == fam
            ]
            for phase in ("plan", "exec"):
                m[f"{fam}.{phase}_s"] = sum(
                    selfs[s["id"]]
                    for s in fam_spans
                    if s["name"] == f"{fam}.{phase}"
                )
            m[f"{fam}.tasks"] = sum(j["tasks"] for j in fam_jobs)
            m[f"{fam}.shuffle_write_mb"] = sum(
                j["shuffle_write_mb"] for j in fam_jobs
            )
            m[f"{fam}.exec_cpu_s"] = sum(j["exec_cpu_s"] for j in fam_jobs)
            m[f"{fam}.worker_cpu_s"] = sum(
                s["worker_cpu_s"] for s in fam_spans
            )
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "jobs": self.jobs}, fh)


def median_metrics(per_pass: list[dict]) -> dict[str, float]:
    keys = {k for m in per_pass for k in m}
    return {
        k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys
    }
