"""SparkSession construction tuned for this engine.

Local testing runs ``local[N]``; the configuration is written so the same
session settings transfer to a multi-executor cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- auto broadcast threshold left at default (10MB) — dimension tables produced
  by the star transformer are capped-cardinality and always broadcastable
- Arrow execution for the few pandas-UDF paths (vectorized Python transfer)
- shuffle partitions sized by env for local runs; on a real cluster AQE
  coalescing makes the initial number less critical
- for ``local[...]`` masters, Python workers start from
  :mod:`xml_to_parquet_spark.worker_daemon`, which stops every task from
  re-reading ``pyspark.zip``'s central directory

It also owns the two per-query resources the package scopes itself:
session conf overrides (:func:`scoped_conf`) and scratch directories
(:func:`scratch_dir`, :func:`process_scratch_dir`); and the driver-held
frame (:func:`local_frame`) that small per-file results are returned as.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "xml_to_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local core count),
    ``SPARK_GRAFT_SHUFFLE`` (shuffle partition count).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    # protobuf-less containers: expose the bundled google.protobuf shim to
    # every Python process the JVM will spawn (the transformWithState
    # state protocol runs in the WORKER, whose PYTHONPATH is inherited
    # from the JVM environment captured at launch — addPyFile is too late
    # for the TWS driver worker). Must happen BEFORE getOrCreate. Note
    # PYTHONPATH precedes site-packages in worker sys.path — deferring to
    # a real installation is handled by the shim itself (_pbshim/google/
    # __init__.py merges sys.path google/ dirs and sorts itself last), so
    # exporting the shim path is safe even if workers have real protobuf.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shim = os.path.join(pkg_root, "xml_to_parquet_spark", "_pbshim")
    try:  # pragma: no cover - environment probe
        import google.protobuf

        # the SHIM being importable (a stateful import earlier in this
        # process put it on sys.path) is NOT a real installation — the
        # env export below must still happen for spawned workers
        real = not (
            getattr(google.protobuf, "__file__", None) or ""
        ).startswith(shim)
    except ImportError:
        real = False
    # local workers start from this package's worker daemon, so the
    # package root goes on the same exported path
    local = master == "local" or master.startswith("local[")
    exports = [pkg_root] if local else []
    if not real:
        exports.append(shim)
    pythonpath = os.environ.get("PYTHONPATH", "")
    missing = [p for p in exports if p not in pythonpath.split(os.pathsep)]
    if missing:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [p for p in [pythonpath] if p] + missing
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet: vectorized reader + filter pushdown are defaults; keep
        # explicit so a cluster-side config change can't silently disable them
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no ns timestamp —
        # read as long and convert in catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    )
    daemon = local and _jvm_exports(pkg_root)
    if daemon:
        builder = builder.config(
            "spark.python.daemon.module", "xml_to_parquet_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if daemon:
        # workers import the package from pkg_root on their PYTHONPATH, so
        # a shipped zip would never be consulted
        spark._xml_to_parquet_spark_shipped = True
    else:
        _ship_package(spark)
    return spark


def _jvm_exports(path: str) -> bool:
    """Whether Python workers will see ``path`` on their PYTHONPATH: the
    JVM passes on the PYTHONPATH it was launched with, so a gateway
    already running from before the export above does not. Neither does
    the JVM of ``spark-submit``, which PySpark attaches to through
    ``PYSPARK_GATEWAY_PORT`` before any session exists."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:  # launched by getOrCreate below, after the export
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    launched = jvm.java.lang.System.getenv("PYTHONPATH") or ""
    return path in launched.split(os.pathsep)


@contextmanager
def quiet_jvm_logs(spark: SparkSession, level: str = "OFF"):
    """Temporarily raise the JVM log level around an EXPECTED failure.

    Two catalog entries intentionally drive Spark jobs into an abort (the
    atomic-publish killed-writer demo) or interrupt an in-flight empty
    micro-batch (the transformWithState AvailableNow stop — Spark plans
    empty batches forever, so the harness must stop mid-plan). Both used
    to dump multi-screen ERROR stack traces into bench/driver stderr —
    accepted noise a REAL stream failure could hide inside. Muting is
    scoped in TIME to the expected-failure window, not by logger class,
    so genuine errors outside these windows still print;
    the bench gate asserts stderr is ERROR-free, which only this windowed
    mute makes possible without masking anything else."""
    sc = spark.sparkContext
    # restore the level the CALLER set (tracked by set_log_level), so a
    # developer session running at INFO/DEBUG is restored rather than
    # dropped to the engine default. Introspecting the log4j2 root
    # logger instead is WRONG on a fresh session: the profile's root
    # reports INFO while the effective console level is WARN, so
    # "restoring" the introspected value raised verbosity (caught by a
    # full verify run whose tail flooded with INFO shutdown logs).
    # Documented tradeoff: a session whose level was set via RAW
    # sc.setLogLevel (not set_log_level) falls back to WARN after the
    # window — losing an untracked DEBUG beats flooding every fresh
    # session, and all in-repo callers use the wrapper.
    prev = getattr(spark, "_xtp_log_level", None) or "WARN"
    try:
        sc.setLogLevel(level)
        yield
    finally:
        sc.setLogLevel(prev)


def set_log_level(spark: SparkSession, level: str) -> None:
    """Set the session log level AND record it so
    :func:`quiet_jvm_logs` can restore it after an expected-failure
    mute window. Use this instead of ``sc.setLogLevel`` anywhere a
    muted catalog entry (atomic publish, TWS stop) may run later."""
    spark.sparkContext.setLogLevel(level)
    spark._xtp_log_level = level


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value):
    """Set session conf ``key`` to ``value`` for the block only.

    On exit, also when the block raises, the prior value comes back; a
    key that had no value is unset rather than left holding the
    override, so a later batch job on the shared session never sees it.
    """
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A frame over rows the driver already holds, planned as a
    LocalRelation: collecting it runs no Spark job, and no consumer re-runs
    the work that produced the rows.  (``createDataFrame`` on a list plans
    an RDD scan, one job per action.)  The rows cross to the JVM as one
    Arrow table; ``schema`` is a StructType of string/numeric/boolean
    fields.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def _new_scratch(prefix: str) -> str:
    """A fresh dir under the scratch base: ``SPARK_GRAFT_SCRATCH`` when
    set (read per call), else tmpfs, else the default temp dir. Scratch
    here is ephemeral by construction (streaming checkpoints, publish
    roots, frozen intermediates), so the fsyncs a disk would pay buy
    nothing; a cluster deployment points the variable at shared storage.
    """
    base = os.environ.get("SPARK_GRAFT_SCRATCH") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    return tempfile.mkdtemp(prefix=prefix, dir=base)


@contextmanager
def scratch_dir(prefix: str):
    """Block-lifetime scratch dir, removed when the block exits: for
    checkpoints and publish roots whose results are collected inside."""
    path = _new_scratch(prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def process_scratch_dir(prefix: str) -> str:
    """Process-lifetime scratch dir, removed at interpreter exit: for
    dirs that back a lazily returned frame, which may be read any time
    after the call that wrote them."""
    path = _new_scratch(prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Equivalent of ``spark-submit --py-files pkg.zip``: pandas-UDF closures
    are pickled by reference to their defining module, so workers must be
    able to import it regardless of their working directory. Zips the
    package once per session and registers it via addPyFile.
    """
    import zipfile

    if getattr(spark, "_xml_to_parquet_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        "/tmp", f"xml_to_parquet_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    spark._xml_to_parquet_spark_shipped = True
