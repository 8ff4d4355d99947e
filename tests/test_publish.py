"""Atomic manifest-pointer publish (sinks/publish.py — VERDICT r6 #1).

The property under test: a reader resolving through the pointer sees the
previous committed snapshot, byte-for-byte, no matter where a writer dies
— during data materialization, after data, or after the manifest but
before the pointer swap — and a re-run commits cleanly over the wreckage.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from xml_to_parquet_spark.sinks.publish import (
    _swap_pointer,
    _write_manifest,
    _write_version_data,
    compact_published,
    current_manifest,
    publish_parquet,
    publish_star_schema,
    publish_training_shards,
    read_published,
    vacuum_published,
)


@pytest.fixture(params=["posix", "objectstore"], autouse=True)
def commit_backend(request, tmp_path_factory):
    """Run the WHOLE publish suite under both commit backends (r8,
    VERDICT r7 #2): the default POSIX rename/O_EXCL backend and the
    object-store backend whose only mutable primitive is a
    generation-conditioned PUT. Crash fuzz, OCC, streaming exactly-once,
    schema governance — all must hold on both."""
    import xml_to_parquet_spark.sinks.publish as pub

    if request.param == "objectstore":
        if request.node.get_closest_marker("posix_only"):
            pytest.skip("exercises POSIX pointer internals")
        store = pub.EmulatedObjectStore(
            str(tmp_path_factory.mktemp("objstore"))
        )
        prev = pub._DEFAULT_BACKEND
        pub._DEFAULT_BACKEND = pub.ObjectStoreCommitBackend(store)
        try:
            yield "objectstore"
        finally:
            pub._DEFAULT_BACKEND = prev
    else:
        yield "posix"


def _snapshot(spark, n, tag):
    return spark.range(n).select(
        F.col("id"),
        F.lit(tag).alias("tag"),
        (F.col("id") * 7 % 13).alias("v"),
    )


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_publish_roundtrip_and_snapshot_isolation(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = publish_parquet(_snapshot(spark, 100, "one"), root)
    assert current_manifest(root)["version"] == 1
    got = read_published(spark, root)
    assert got.count() == 100
    v2 = publish_parquet(_snapshot(spark, 50, "two"), root)
    assert v1 != v2
    assert read_published(spark, root).count() == 50
    assert set(
        r["tag"] for r in read_published(spark, root).collect()
    ) == {"two"}
    # both versions still on disk until vacuum (time travel / rollback)
    assert len(os.listdir(os.path.join(root, "_versions"))) == 2


def test_killed_write_leaves_previous_snapshot_intact(spark, tmp_path):
    """Kill the writer DURING data materialization (a task raises partway
    through the parquet write): the pointer must still resolve v1 exactly."""
    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 100, "good"), root)
    before = _collect_sorted(read_published(spark, root))

    poisoned = _snapshot(spark, 100, "bad").withColumn(
        "v",
        F.when(F.col("id") < 90, F.col("v")).otherwise(
            F.raise_error(F.lit("simulated mid-write crash"))
        ),
    )
    with pytest.raises(Exception, match="simulated mid-write crash"):
        publish_parquet(poisoned, root)

    # previous snapshot reads cleanly and identically
    m = current_manifest(root)
    assert m["version"] == 1
    assert _collect_sorted(read_published(spark, root)) == before
    # idempotent re-run commits over the wreckage
    publish_parquet(_snapshot(spark, 60, "retry"), root)
    assert read_published(spark, root).count() == 60
    # vacuum removes the orphaned half-written version dir
    removed = vacuum_published(root, keep=2, grace_s=0)
    assert any(r.startswith("v00000002") for r in removed)
    assert read_published(spark, root).count() == 60


def test_crash_between_manifest_and_pointer_swap(spark, tmp_path):
    """Drive the commit steps manually and stop after step 2: the durable
    manifest exists but the pointer was never swapped — readers stay on
    v1; a later full publish supersedes the stranded version."""
    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)

    df = _snapshot(spark, 20, "stranded")
    vid = "v00000002-deadbeef"
    data_dir = _write_version_data(df, root, vid, None, False)
    _write_manifest(df, root, vid, [data_dir])
    # crash here: no _swap_pointer call
    assert current_manifest(root)["version"] == 1
    assert read_published(spark, root).count() == 10

    publish_parquet(_snapshot(spark, 30, "v3"), root)
    assert read_published(spark, root).count() == 30


def test_crash_during_pointer_write_is_invisible(spark, tmp_path):
    """A temp pointer file left by a killed swap must not confuse the
    reader: only the atomic rename target counts."""
    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)
    with open(os.path.join(root, ".tmp_killed"), "w") as fh:
        fh.write("v99999999-garbage.json")
    assert current_manifest(root)["version"] == 1
    assert read_published(spark, root).count() == 10


def test_append_is_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 40, "a"), root)
    first_dirs = current_manifest(root)["data_dirs"]
    publish_parquet(_snapshot(spark, 2, "b"), root, mode="append")
    m = current_manifest(root)
    # parent data dirs referenced, not rewritten
    assert set(first_dirs) < set(m["data_dirs"])
    got = read_published(spark, root)
    assert got.count() == 42
    assert got.filter(F.col("tag") == "b").count() == 2
    # a killed third append leaves the 42-row view (cast keeps the
    # column's committed type so the crash happens mid-write, not at
    # the append schema check)
    poisoned = _snapshot(spark, 5, "c").withColumn(
        "v", F.raise_error(F.lit("boom")).cast("long")
    )
    with pytest.raises(Exception, match="boom"):
        publish_parquet(poisoned, root, mode="append")
    assert read_published(spark, root).count() == 42


def test_append_rejects_partitioning(spark, tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(ValueError, match="overwrite"):
        publish_parquet(
            _snapshot(spark, 5, "x"), root, mode="append",
            partition_by=["tag"],
        )


def test_partitioned_snapshot_prunes(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_parquet(
        _snapshot(spark, 100, "p").withColumn(
            "bucket", (F.col("id") % 4).cast("int")
        ),
        root,
        partition_by=["bucket"],
    )
    got = read_published(spark, root).filter(F.col("bucket") == 2)
    assert got.count() == 25
    plan = got._jdf.queryExecution().executedPlan().toString()
    # partition pruning reached the scan: one hive partition dir read
    assert "bucket" in plan


def test_compact_published_swaps_not_overwrites(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _snapshot(spark, 1000, "frag").repartition(16)
    publish_parquet(df, root)
    n_before, _ = _dataset_files(root)
    assert n_before >= 8  # fragmented on purpose
    before = _collect_sorted(read_published(spark, root))
    compact_published(spark, root, target_file_bytes=1 << 30)
    after = _collect_sorted(read_published(spark, root))
    assert after == before
    n_after, _ = _dataset_files(root)
    assert n_after == 1
    assert current_manifest(root)["version"] == 2


def _dataset_files(root):
    m = current_manifest(root)
    n = total = 0
    for d in m["data_dirs"]:
        for dp, _x, fs in os.walk(os.path.join(root, d)):
            for f in fs:
                if f.endswith(".parquet"):
                    n += 1
                    total += os.path.getsize(os.path.join(dp, f))
    return n, total


def test_training_shards_commit_and_global_order(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("shuffle_key"),
    )
    publish_training_shards(df, root, n_shards=4)
    m = current_manifest(root)
    got = read_published(spark, root)
    assert got.count() == 500
    # global order property: reading files in sorted name order yields
    # non-decreasing shuffle_key across and within shards
    files = sorted(
        os.path.join(dp, f)
        for d in m["data_dirs"]
        for dp, _x, fs in os.walk(os.path.join(root, d))
        for f in fs
        if f.endswith(".parquet")
    )
    import pyarrow.parquet as pq

    keys = []
    for f in files:
        keys.extend(pq.read_table(f, columns=["shuffle_key"])[0].to_pylist())
    assert keys == sorted(keys)


def test_publish_star_schema_run_manifest(spark, tmp_path, sf_dir):
    from xml_to_parquet_spark.plans.star_transformer import StarSchema

    out = str(tmp_path / "star")
    fact = _snapshot(spark, 20, "fact")
    dims = {"tag": fact.select("tag").distinct()}
    star = StarSchema(fact=fact, dimensions=dims)
    roots = publish_star_schema(star, out)
    assert set(roots) == {"fact_main", "dim_tag"}
    run = json.load(open(os.path.join(out, "_RUN_MANIFEST")))
    assert set(run["tables"]) == {"fact_main", "dim_tag"}
    assert read_published(spark, roots["fact_main"]).count() == 20
    assert read_published(spark, roots["dim_tag"]).count() == 1


def test_vacuum_keeps_append_ancestors(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "a"), root)
    publish_parquet(_snapshot(spark, 1, "b"), root, mode="append")
    publish_parquet(_snapshot(spark, 1, "c"), root, mode="append")
    removed = vacuum_published(root, keep=1, grace_s=0)
    # v1's data dir is an ancestor of the current append chain: must live
    assert removed == []
    assert read_published(spark, root).count() == 12


def test_pipeline_atomic_mode_end_to_end(spark, tmp_path, commit_backend):
    """process_xml_to_parquet(atomic=True): every table resolves through
    its pointer, the run manifest names the consistent version set, and
    parquet_metadata counts only the committed version's files."""
    from xml_to_parquet_spark.pipeline import process_xml_to_parquet
    from xml_to_parquet_spark.sinks.writers import parquet_metadata

    inp = tmp_path / "xml"
    inp.mkdir()
    (inp / "f1.xml").write_text(
        "<products>"
        + "".join(
            f'<product id="P{i}"><name>n{i}</name>'
            f"<category>c{i % 2}</category><price>{i}.50</price></product>"
            for i in range(6)
        )
        + "</products>"
    )
    out = str(tmp_path / "star")
    res = process_xml_to_parquet(spark, str(inp), out, atomic=True)
    fact_root = res.paths["fact_main"]
    if commit_backend == "posix":  # objectstore keeps the pointer off-disk
        assert os.path.exists(os.path.join(fact_root, "_CURRENT"))
    assert read_published(spark, fact_root).count() == 6
    assert os.path.exists(os.path.join(out, "_RUN_MANIFEST"))
    # a second run commits v2 of every table; readers flip atomically
    res2 = process_xml_to_parquet(spark, str(inp), out, atomic=True)
    assert current_manifest(res2.paths["fact_main"])["version"] == 2
    assert read_published(spark, fact_root).count() == 6
    # metadata counts the committed version only (not both versions)
    report = parquet_metadata(res2.paths)
    meta = {
        r["table_name"]: r["n_rows"]
        for r in (dict(zip(report.columns, row)) for row in report.rows)
    }
    assert meta["fact_main"] == 6


def test_time_travel_reads_and_history(spark, tmp_path):
    """history() walks the committed parent chain newest-first, and
    read_published(version=...) returns each snapshot byte-for-byte —
    by number or by version id."""
    from xml_to_parquet_spark.sinks.publish import history

    root = str(tmp_path / "t")
    v1 = publish_parquet(_snapshot(spark, 10, "one"), root)
    v2 = publish_parquet(_snapshot(spark, 20, "two"), root)
    v3 = publish_parquet(_snapshot(spark, 30, "three"), root)

    h = history(root)
    assert [m["version"] for m in h] == [3, 2, 1]
    assert [m["version_id"] for m in h] == [v3, v2, v1]
    assert h[0]["parent"] == f"{v2}.json" and h[2]["parent"] is None

    assert read_published(spark, root).count() == 30
    assert read_published(spark, root, version=1).count() == 10
    assert _collect_sorted(
        read_published(spark, root, version=2)
    ) == _collect_sorted(_snapshot(spark, 20, "two"))
    assert read_published(spark, root, version=v1).count() == 10

    with pytest.raises(FileNotFoundError):
        read_published(spark, root, version=99)


def test_time_travel_never_reaches_uncommitted_versions(spark, tmp_path):
    """A manifest stranded before its pointer swap is not any committed
    version's parent — history skips it and version-addressed reads
    refuse it, even though its manifest file exists on disk."""
    from xml_to_parquet_spark.sinks.publish import history

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)

    df = _snapshot(spark, 20, "stranded")
    vid = "v00000002-deadbeef"
    data_dir = _write_version_data(df, root, vid, None, False)
    _write_manifest(df, root, vid, [data_dir], parent="ignored")
    # crash here: no _swap_pointer — then a healthy publish supersedes.
    # version numbers derive from the COMMITTED manifest, so the healthy
    # publish REUSES version number 2 under a fresh uid — exactly why
    # version-id addressing must resolve through the committed chain.
    publish_parquet(_snapshot(spark, 30, "healthy"), root)

    assert [m["version"] for m in history(root)] == [2, 1]
    with pytest.raises(FileNotFoundError):
        read_published(spark, root, version=vid)
    # by NUMBER, 2 resolves to the healthy commit, never the stranded one
    assert read_published(spark, root, version=2).count() == 30


def test_history_stops_at_vacuumed_ancestor(spark, tmp_path):
    from xml_to_parquet_spark.sinks.publish import history

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)
    publish_parquet(_snapshot(spark, 20, "v2"), root)
    publish_parquet(_snapshot(spark, 30, "v3"), root)
    removed = vacuum_published(root, keep=2, grace_s=0)
    assert removed  # v1's data went away
    assert [m["version"] for m in history(root)] == [3, 2]
    with pytest.raises(FileNotFoundError):
        read_published(spark, root, version=1)


def test_publish_stream_exactly_once(spark, tmp_path):
    """File stream → published table: all rows land once; a second run
    with the same checkpoint appends only the new source tail; a replayed
    batch id is skipped; a stranded pre-swap publish replays cleanly."""
    from xml_to_parquet_spark.sinks.publish import (
        foreach_batch_publisher,
        history,
        last_stream_batch,
        publish_stream,
    )

    src = str(tmp_path / "src")
    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _snapshot(spark, 50, "a").write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    publish_stream(stream, root, ckpt)
    assert read_published(spark, root).count() == 50
    assert last_stream_batch(root) == 0

    # second run, same checkpoint: only the new file's rows commit
    _snapshot(spark, 7, "b").write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    publish_stream(stream, root, ckpt)
    got = read_published(spark, root)
    assert got.count() == 57
    assert got.filter(F.col("tag") == "b").count() == 7

    # replay of an already-committed batch id: no new version
    n_before = len(history(root))
    foreach_batch_publisher(root)(_snapshot(spark, 99, "dup"), 0)
    assert len(history(root)) == n_before
    assert read_published(spark, root).count() == 57

    # stranded publish (died before swap) then replay of the SAME batch:
    # the replay commits; the orphan stays invisible
    bid = last_stream_batch(root) + 1
    df = _snapshot(spark, 5, "stranded")
    vid = "v00000099-feedface"
    data_dir = _write_version_data(df, root, vid, None, False)
    _write_manifest(df, root, vid, [data_dir], parent="x")
    foreach_batch_publisher(root)(_snapshot(spark, 5, "replayed"), bid)
    final = read_published(spark, root)
    assert final.count() == 62
    assert final.filter(F.col("tag") == "stranded").count() == 0
    assert final.filter(F.col("tag") == "replayed").count() == 5
    assert last_stream_batch(root) == bid


def test_publish_stream_skips_empty_batches(spark, tmp_path):
    from xml_to_parquet_spark.sinks.publish import (
        foreach_batch_publisher,
        history,
    )

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 3, "x"), root)
    n = len(history(root))
    foreach_batch_publisher(root)(_snapshot(spark, 0, "empty"), 5)
    assert len(history(root)) == n  # no version committed for 0 rows


def test_concurrent_commit_first_wins_loser_raises(spark, tmp_path):
    """Two committers start from the same snapshot; the one that swaps
    second gets ConcurrentCommitError and its fully-written version stays
    an invisible orphan."""
    from xml_to_parquet_spark.sinks.publish import (
        ConcurrentCommitError,
        _commit_pointer,
        _current_pointer_name,
        history,
    )

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)
    parent = _current_pointer_name(root)

    # committer B: data + manifest written from parent v1, not yet swapped
    df_b = _snapshot(spark, 20, "B")
    vid_b = "v00000002-bbbbbbbb"
    dir_b = _write_version_data(df_b, root, vid_b, None, False)
    name_b = _write_manifest(df_b, root, vid_b, [dir_b], parent=parent)

    # committer A publishes fully — pointer advances past v1
    publish_parquet(_snapshot(spark, 30, "A"), root)

    with pytest.raises(ConcurrentCommitError, match="advanced"):
        _commit_pointer(root, name_b, expected_parent=parent)

    got = read_published(spark, root)
    assert got.count() == 30
    assert [m["version"] for m in history(root)] == [2, 1]
    assert got.filter(F.col("tag") == "B").count() == 0


@pytest.mark.posix_only
def test_posix_dead_committer_wreckage_ignored(spark, tmp_path):
    """The generation-link CAS needs no crash recovery: a dead
    committer's leftovers (a legacy _COMMIT_LOCK file from the pre-r10
    lock protocol, an orphaned .tmp pointer file from a kill between
    pre-write and link) neither block nor corrupt later publishes."""
    import xml_to_parquet_spark.sinks.publish as pub
    from xml_to_parquet_spark.sinks.publish import history

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)

    with open(os.path.join(root, "_COMMIT_LOCK"), "w") as fh:
        fh.write("pid=dead\n")  # legacy wreckage: ignored junk now
    tmp_orphan = os.path.join(root, pub._PTR_DIR, ".tmp.deadbeef0000")
    with open(tmp_orphan, "w") as fh:
        fh.write("v99999999-dead.json")  # killed mid-CAS, before link

    publish_parquet(_snapshot(spark, 20, "v2"), root)
    assert read_published(spark, root).count() == 20
    assert [m["version"] for m in history(root)] == [2, 1]
    # orphan temp never became a generation: it can't be read as state
    name, token = pub._read_pointer(root)
    assert token[0] == 2 and name.endswith(".json")


@pytest.mark.posix_only
def test_posix_legacy_current_only_table_migrates(spark, tmp_path):
    """A table predating _ptr/ (only a _CURRENT file) reads through the
    gen-0 fallback, and its first CAS creates generation 1 exactly-once;
    reads prefer _ptr/ from then on."""
    import shutil

    import xml_to_parquet_spark.sinks.publish as pub

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)
    shutil.rmtree(os.path.join(root, pub._PTR_DIR))  # simulate legacy

    name, token = pub._read_pointer(root)
    assert token == (0, name) and name is not None  # _CURRENT fallback
    publish_parquet(_snapshot(spark, 20, "v2"), root)
    assert read_published(spark, root).count() == 20
    name2, token2 = pub._read_pointer(root)
    assert token2[0] == 1 and name2 != name


def test_append_schema_checked_and_evolvable(spark, tmp_path):
    """Schema-drifted appends are refused; opting into evolution commits
    the new schema and readers see pre-evolution rows with NULLs in the
    added column, post-evolution reads project through the committed
    schema."""
    from xml_to_parquet_spark.sinks.publish import SchemaMismatchError

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)

    drifted = _snapshot(spark, 5, "v2").withColumn(
        "extra", F.lit(1.5)
    )
    with pytest.raises(SchemaMismatchError, match="evolution"):
        publish_parquet(drifted, root, mode="append")
    # column-type drift is also refused
    retyped = _snapshot(spark, 5, "v2").withColumn(
        "v", F.col("v").cast("string")
    )
    with pytest.raises(SchemaMismatchError):
        publish_parquet(retyped, root, mode="append")
    assert read_published(spark, root).count() == 10

    publish_parquet(
        drifted, root, mode="append", allow_schema_evolution=True
    )
    got = read_published(spark, root)
    assert got.count() == 15
    assert "extra" in got.columns
    assert got.filter(F.col("extra").isNull()).count() == 10  # v1 rows
    # time travel still reads v1 through ITS committed schema
    v1 = read_published(spark, root, version=1)
    assert "extra" not in v1.columns and v1.count() == 10


def test_rollback_restores_snapshot_as_new_version(spark, tmp_path):
    """RESTORE: rolling back re-commits the old snapshot's data dirs as a
    new version without copying; history keeps everything; vacuum after a
    rollback never reclaims the restored data."""
    from xml_to_parquet_spark.sinks.publish import (
        history,
        rollback_published,
    )

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "good"), root)
    v1_rows = _collect_sorted(read_published(spark, root))
    publish_parquet(_snapshot(spark, 99, "bad"), root)
    publish_parquet(_snapshot(spark, 98, "worse"), root)

    vid = rollback_published(root, 1)
    assert vid.startswith("v00000004")
    assert _collect_sorted(read_published(spark, root)) == v1_rows
    h = history(root)
    assert [m["version"] for m in h] == [4, 3, 2, 1]
    assert h[0]["restored_from"].startswith("v00000001")
    # metadata-only: the restored version names v1's data dir, no copy
    assert h[0]["data_dirs"] == h[3]["data_dirs"]
    # vacuum keeps the restored data alive (named by a kept manifest)
    vacuum_published(root, keep=2, grace_s=0)
    assert _collect_sorted(read_published(spark, root)) == v1_rows
    # the bad middle versions' data went away
    with pytest.raises(FileNotFoundError):
        read_published(spark, root, version=2)


def test_publish_stream_multi_batch_chain_and_compaction(spark, tmp_path):
    """maxFilesPerTrigger=1 under AvailableNow splits the backlog into one
    micro-batch per file — each commits its own append version; compaction
    then collapses the chain to one data dir without changing the rows."""
    from xml_to_parquet_spark.sinks.publish import (
        history,
        last_stream_batch,
        publish_stream,
    )

    src = str(tmp_path / "src")
    root = str(tmp_path / "table")
    for i in range(5):
        _snapshot(spark, 10 + i, f"f{i}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    publish_stream(stream, root, str(tmp_path / "ckpt"))

    total = sum(10 + i for i in range(5))
    assert read_published(spark, root).count() == total
    h = history(root)
    # one committed append per micro-batch, chained
    assert [m["version"] for m in h] == [5, 4, 3, 2, 1]
    assert last_stream_batch(root) == 4
    # the newest manifest references all five batch dirs (append chain)
    assert len(h[0]["data_dirs"]) == 5

    before = _collect_sorted(read_published(spark, root))
    compact_published(spark, root, target_file_bytes=1 << 30)
    assert _collect_sorted(read_published(spark, root)) == before
    assert len(current_manifest(root)["data_dirs"]) == 1
    # compaction is schema-preserving, so a later stream batch appends on
    # top of the compacted snapshot (batch ids continue past compaction)
    assert last_stream_batch(root) == 4


def test_publish_stream_auto_compaction_bounds_chain(spark, tmp_path):
    """compact_every bounds the number of sibling data dirs a reader
    touches while batch-id dedup keeps working across compactions."""
    from xml_to_parquet_spark.sinks.publish import (
        last_stream_batch,
        publish_stream,
    )

    src = str(tmp_path / "src")
    root = str(tmp_path / "table")
    for i in range(6):
        _snapshot(spark, 5, f"f{i}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    publish_stream(stream, root, str(tmp_path / "ckpt"), compact_every=3)

    got = read_published(spark, root)
    assert got.count() == 30
    assert got.select("tag").distinct().count() == 6
    assert last_stream_batch(root) == 5
    # the chain never grew past compact_every + the fresh append
    assert len(current_manifest(root)["data_dirs"]) <= 4


def test_publish_crash_consistency_fuzz(spark, tmp_path, monkeypatch):
    """Fail-inject at EVERY rename/fsync boundary of the commit protocol
    in turn: whichever call dies, the previous snapshot must read back
    byte-identically, and the next attempt must commit cleanly over the
    wreckage. This sweeps the whole protocol, not just the hand-picked
    crash points of the other tests."""
    import xml_to_parquet_spark.sinks.publish as pub

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 30, "v1"), root)
    v1_rows = _collect_sorted(read_published(spark, root))

    real_replace = os.replace
    real_fsync_dir = pub._fsync_dir
    state = {"budget": None, "calls": 0}

    def counting_replace(src, dst):
        state["calls"] += 1
        if state["budget"] is not None and state["calls"] > state["budget"]:
            raise OSError("injected crash at replace")
        return real_replace(src, dst)

    def counting_fsync_dir(path):
        state["calls"] += 1
        if state["budget"] is not None and state["calls"] > state["budget"]:
            raise OSError("injected crash at fsync")
        return real_fsync_dir(path)

    monkeypatch.setattr(pub.os, "replace", counting_replace)
    monkeypatch.setattr(pub, "_fsync_dir", counting_fsync_dir)

    # how many protocol-level file ops does one successful publish make?
    state["budget"], state["calls"] = None, 0
    publish_parquet(_snapshot(spark, 40, "probe"), root)
    total_ops = state["calls"]
    assert total_ops >= 4  # manifest write+fsync, pointer write+fsync
    probe_rows = _collect_sorted(read_published(spark, root))

    for k in range(total_ops):
        state["budget"], state["calls"] = k, 0
        attempt = _snapshot(spark, 50, f"crash{k}")
        with pytest.raises(OSError, match="injected"):
            publish_parquet(attempt, root)
        # atomicity invariant: the reader sees the previous committed
        # snapshot OR the attempt's COMPLETE data (the crash landed after
        # the pointer replace — "commit succeeded, ack failed"), never a
        # mixture or partial state
        got = _collect_sorted(read_published(spark, root))
        if got != probe_rows:
            assert got == _collect_sorted(attempt)
            probe_rows = got  # new committed baseline for later k

    # full budget: the re-run commits over all accumulated wreckage
    state["budget"] = None
    publish_parquet(_snapshot(spark, 50, "final"), root)
    got = read_published(spark, root)
    assert got.count() == 50
    assert set(r["tag"] for r in got.collect()) == {"final"}
    # and history still walks cleanly past the carnage to v1
    from xml_to_parquet_spark.sinks.publish import history

    versions = [m["version"] for m in history(root)]
    assert versions[0] > versions[-1] and versions[-1] == 1
    assert _collect_sorted(
        read_published(spark, root, version=1)
    ) == v1_rows


def test_read_star_run_pins_the_consistent_version_set(spark, tmp_path, sf_dir):
    """A newer publish moving one table's pointer must not leak into a
    reader resolving through the RUN manifest — the run's recorded
    versions win, and the SQL frontend can query the registered set."""
    from xml_to_parquet_spark.pipeline import process_xml_to_parquet
    from xml_to_parquet_spark.sinks.publish import (
        publish_parquet,
        read_published,
        read_star_run,
    )

    # build a small star atomically (reuses the pipeline fixtures' XML)
    import glob
    import shutil

    src = str(tmp_path / "xml_in")
    os.makedirs(src)
    for i in range(3):
        with open(os.path.join(src, f"f{i}.xml"), "w") as fh:
            fh.write(
                "<orders>"
                + "".join(
                    f'<order id="o{i}_{j}"><region>EU</region>'
                    f"<price>{10 + j}.50</price></order>"
                    for j in range(4)
                )
                + "</orders>"
            )
    out = str(tmp_path / "star")
    process_xml_to_parquet(spark, src, out, atomic=True)

    run = read_star_run(spark, out, register_views=True)
    fact_rows = run["fact_main"].count()
    assert fact_rows == 12
    # SQL frontend over the registered consistent set
    assert spark.sql("SELECT count(*) AS n FROM fact_main").collect()[0][
        "n"
    ] == 12

    # supersede the fact with an unrelated v2 — current pointer moves,
    # but the run-manifest reader stays pinned to the run's version
    fact_root = os.path.join(out, "fact_main")
    publish_parquet(
        spark.range(3).select(F.col("id").alias("record_key")), fact_root
    )
    assert read_published(spark, fact_root).count() == 3  # current
    assert read_star_run(spark, out)["fact_main"].count() == 12  # pinned


def test_diff_published_append_fast_path_and_general(spark, tmp_path):
    """Version-to-version change feed (r8): an append-chain diff reads
    ONLY the new data dirs (O(delta) — asserted via inputFiles), an
    overwrite diff falls back to exceptAll multiset semantics with
    duplicate rows counted per copy, a compaction-only diff is empty,
    and self-diff is empty."""
    from xml_to_parquet_spark.sinks.publish import (
        diff_published,
        publish_parquet,
    )

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 30, "base"), root)  # v1
    extra = _snapshot(spark, 10, "extra")
    # duplicate rows: append the same 10 rows twice over two versions
    publish_parquet(extra, root, mode="append")  # v2
    publish_parquet(extra, root, mode="append")  # v3

    d12 = diff_published(spark, root, 1, 2)
    assert set(r["_change_type"] for r in d12.collect()) == {"insert"}
    assert d12.count() == 10
    # O(delta): the fast path must not even list the base version's files
    assert all("v00000002" in f for f in d12.inputFiles())
    # duplicate handling across the chain: v1 -> v3 sees both copies
    assert diff_published(spark, root, 1, 3).count() == 20
    # self-diff empty, both paths
    assert diff_published(spark, root, 2, 2).count() == 0

    # overwrite: general exceptAll path, inserts AND deletes
    publish_parquet(_snapshot(spark, 35, "next"), root)  # v4: 35 "next"
    d34 = diff_published(spark, root, 3, 4)
    by = {
        t: n
        for t, n in d34.groupBy("_change_type").count().collect()
    }
    assert by == {"insert": 35, "delete": 50}  # 30 base + 2x10 extra out

    # compaction rewrites files but not rows: diff must be EMPTY
    from xml_to_parquet_spark.sinks.publish import compact_published

    compact_published(spark, root)  # v5
    assert diff_published(spark, root, 4, 5).count() == 0


def test_diff_published_prunes_shared_dirs(spark, tmp_path):
    """General-path file pruning (r9): a forked history (rollback then
    divergent appends) shares the base dirs between the two versions —
    the diff must skip them entirely (asserted via inputFiles) while
    the row-level answer stays exact."""
    from xml_to_parquet_spark.sinks.publish import (
        diff_published,
        history,
        publish_parquet,
        rollback_published,
    )

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 30, "base"), root)  # v1
    publish_parquet(_snapshot(spark, 10, "left"), root, mode="append")  # v2
    rollback_published(root, 1)  # v3 == v1's dirs
    publish_parquet(_snapshot(spark, 7, "right"), root, mode="append")  # v4
    d = diff_published(spark, root, 2, 4)
    by = {t: n for t, n in d.groupBy("_change_type").count().collect()}
    assert by == {"insert": 7, "delete": 10}
    # the shared base dir (30 rows, by far the largest) is never read
    hs = {h["version"]: h for h in history(root)}
    shared = set(hs[2]["data_dirs"]) & set(hs[4]["data_dirs"])
    assert shared  # the fork really does share the base dirs
    files = d.inputFiles()
    assert files and all(
        not any(s in f for s in shared) for f in files
    )
    # degenerate prune: fork where one side added nothing -> empty side
    d34 = diff_published(spark, root, 1, 3)
    assert d34.count() == 0


def test_diff_published_schema_evolution_alignment(spark, tmp_path):
    """Diff across an evolved schema aligns through the TARGET schema:
    pre-evolution rows surface the added column as NULL."""
    from xml_to_parquet_spark.sinks.publish import (
        diff_published,
        publish_parquet,
    )

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 5, "v1"), root)
    evolved = _snapshot(spark, 3, "v2").withColumn("extra", F.lit(1.5))
    publish_parquet(evolved, root, allow_schema_evolution=True)
    d = diff_published(spark, root, 1, 2)
    assert "extra" in d.columns
    dels = d.filter(F.col("_change_type") == "delete")
    assert dels.count() == 5
    assert dels.filter(F.col("extra").isNull()).count() == 5


# --- commit backends (r8, VERDICT r7 #2) ---------------------------------


def test_emulated_object_store_generations(tmp_path):
    from xml_to_parquet_spark.sinks.publish import (
        EmulatedObjectStore,
        PreconditionFailedError,
    )

    store = EmulatedObjectStore(str(tmp_path / "store"))
    with pytest.raises(KeyError):
        store.get("k")
    assert store.put("k", b"a", if_generation_match=0) == 1  # if-absent
    assert store.get("k") == (b"a", 1)
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"x", if_generation_match=0)  # no longer absent
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"x", if_generation_match=5)  # wrong generation
    assert store.get("k") == (b"a", 1)  # failed PUTs change nothing
    assert store.put("k", b"b", if_generation_match=1) == 2
    assert store.put("k", b"c") == 3  # unconditional
    assert store.get("k") == (b"c", 3)


def test_per_root_backend_routing(spark, tmp_path):
    """set_commit_backend routes ONE root through the object store while
    other roots stay on the default backend — and the routed table's
    pointer never exists as a _CURRENT file."""
    import xml_to_parquet_spark.sinks.publish as pub

    store = pub.EmulatedObjectStore(str(tmp_path / "store"))
    routed = str(tmp_path / "routed")
    plain = str(tmp_path / "plain")
    pub.set_commit_backend(routed, pub.ObjectStoreCommitBackend(store))
    try:
        publish_parquet(_snapshot(spark, 10, "r1"), routed)
        publish_parquet(_snapshot(spark, 20, "r2"), routed)
        publish_parquet(_snapshot(spark, 5, "p1"), plain)
        assert read_published(spark, routed).count() == 20
        assert read_published(spark, plain).count() == 5
        assert not os.path.exists(os.path.join(routed, "_CURRENT"))
        # the pointer object advanced one generation per commit
        _, gen = store.get(os.path.abspath(routed) + "/_CURRENT")
        assert gen == 2
        from xml_to_parquet_spark.sinks.publish import history

        assert [m["version"] for m in history(routed)] == [2, 1]
    finally:
        pub.set_commit_backend(routed, None)


@pytest.mark.posix_only
def test_generation_link_single_winner(tmp_path):
    """Two committers CAS from the same witness generation: the exclusive
    hard-link admits exactly one; the loser gets ConcurrentCommitError
    and the committed generation carries the winner's manifest name."""
    import xml_to_parquet_spark.sinks.publish as pub

    root = str(tmp_path / "t")
    os.makedirs(root)
    be = pub.PosixCommitBackend()
    _, token = be.read_pointer(root)  # (0, None) bootstrap witness
    be.cas_pointer(root, "m1.json", expected_token=token)
    with pytest.raises(pub.ConcurrentCommitError):
        be.cas_pointer(root, "m1-loser.json", expected_token=token)
    name, token2 = be.read_pointer(root)
    assert (name, token2[0]) == ("m1.json", 1)


@pytest.mark.posix_only
def test_generation_cas_no_lost_update_under_interleaving(
    tmp_path, monkeypatch
):
    """The exact interleaving that beat the old lock protocol (a second
    committer completes its FULL commit inside the first's CAS window,
    after the first's freshness re-check): the first committer's link
    targets an already-taken generation and must fail — the pointer
    never regresses, no update is lost."""
    import xml_to_parquet_spark.sinks.publish as pub

    root = str(tmp_path / "t")
    os.makedirs(root)
    be = pub.PosixCommitBackend()
    _, t0 = be.read_pointer(root)
    be.cas_pointer(root, "m1.json", expected_token=t0)
    _, t1 = be.read_pointer(root)  # (1, 'm1.json') — both witnesses

    real_read = pub.PosixCommitBackend.read_pointer
    fired = {"done": False}

    def interleaving_read(self, r):
        out = real_read(self, r)
        if not fired["done"]:
            # committer B lands its ENTIRE commit inside A's window,
            # right after A's freshness re-check passes
            fired["done"] = True
            be2 = pub.PosixCommitBackend()
            be2.cas_pointer(r, "m2-by-B.json", expected_token=t1)
        return out

    monkeypatch.setattr(
        pub.PosixCommitBackend, "read_pointer", interleaving_read
    )
    with pytest.raises(pub.ConcurrentCommitError, match="generation"):
        be.cas_pointer(root, "m2-by-A.json", expected_token=t1)
    monkeypatch.setattr(pub.PosixCommitBackend, "read_pointer", real_read)
    name, token = be.read_pointer(root)
    assert (name, token[0]) == ("m2-by-B.json", 2)  # B's commit intact


@pytest.mark.posix_only
def test_scan_retries_when_vacuum_prunes_listed_max(tmp_path, monkeypatch):
    """ADVICE r10: between a reader's listdir and its open, >=2 commits
    can land and vacuum can prune the generation it listed as max.
    _scan must re-list and return the NEW max, not crash. Simulated by
    feeding _scan one stale listing (g1) after g1 has been pruned and
    g2/g3 committed."""
    import xml_to_parquet_spark.sinks.publish as pub

    root = str(tmp_path / "t")
    os.makedirs(root)
    be = pub.PosixCommitBackend()
    _, t0 = be.read_pointer(root)
    be.cas_pointer(root, "m1.json", expected_token=t0)
    _, t1 = be.read_pointer(root)
    be.cas_pointer(root, "m2.json", expected_token=t1)
    _, t2 = be.read_pointer(root)
    be.cas_pointer(root, "m3.json", expected_token=t2)
    pdir = os.path.join(root, "_ptr")
    os.unlink(os.path.join(pdir, "g000000000001"))  # vacuum pruned g1

    real_listdir = os.listdir
    stale = {"fired": False}

    def stale_then_real(path):
        if os.path.abspath(path) == os.path.abspath(pdir) and not stale[
            "fired"
        ]:
            stale["fired"] = True
            return ["g000000000001"]  # listing taken before the prune
        return real_listdir(path)

    monkeypatch.setattr(pub.os, "listdir", stale_then_real)
    name, token = be.read_pointer(root)
    assert (name, token[0]) == ("m3.json", 3)
    assert stale["fired"]


@pytest.mark.posix_only
def test_generation_cas_survives_sigkill_fuzz(tmp_path):
    """VERDICT r10 item 7: the 0/1000 single-winner result was
    thread-level — this is the PROCESS-kill twin. Committer processes
    race generation-CAS commits with a widened link window (jittered
    os.link) while the parent SIGKILLs them mid-flight. Invariants:
    every generation a live committer logged as won carries exactly that
    committer's manifest name (single winner, no lost update even when
    the loser died uncleanly), every generation file's content is a
    complete well-formed name (a kill mid-CAS never publishes a torn
    pointer), and after the storm a fresh committer commits cleanly."""
    import signal
    import subprocess
    import time as _time

    root = str(tmp_path / "t")
    os.makedirs(root)
    logdir = str(tmp_path / "logs")
    os.makedirs(logdir)
    child_src = r"""
import os, random, sys, time
sys.path.insert(0, sys.argv[4])
import xml_to_parquet_spark.sinks.publish as pub

root, cid, logf = sys.argv[1], sys.argv[2], sys.argv[3]
real_link = os.link

def jittered_link(src, dst):
    time.sleep(random.random() * 0.002)  # widen the CAS window
    real_link(src, dst)
    time.sleep(random.random() * 0.002)  # die-after-link window

pub.os.link = jittered_link
be = pub.PosixCommitBackend()
log = open(logf, "a", buffering=1)
seq = 0
while True:
    seq += 1
    try:
        _, token = be.read_pointer(root)
        gen = token[0]
        be.cas_pointer(root, f"m-{cid}-{seq}", expected_token=token)
        log.write(f"{gen + 1} m-{cid}-{seq}\n")
        log.flush()
        os.fsync(log.fileno())
    except pub.ConcurrentCommitError:
        pass
"""
    child_py = str(tmp_path / "committer.py")
    with open(child_py, "w") as fh:
        fh.write(child_src)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def spawn(cid):
        return subprocess.Popen(
            [
                os.sys.executable, child_py, root, str(cid),
                os.path.join(logdir, f"{cid}.log"), repo,
            ],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )

    import random as _random

    rng = _random.Random(11)
    procs = {i: spawn(i) for i in range(4)}
    next_cid = 4
    kills = 0
    deadline = _time.time() + 20
    while kills < 40 and _time.time() < deadline:
        _time.sleep(rng.uniform(0.005, 0.05))
        victim = rng.choice(list(procs))
        procs[victim].kill()  # SIGKILL — no cleanup, no atexit
        procs[victim].wait()
        del procs[victim]
        kills += 1
        procs[next_cid] = spawn(next_cid)
        next_cid += 1
    assert kills >= 40, "storm too short to mean anything"

    # Let the survivors race kill-free until at least one commit lands:
    # under heavy machine load a child's interpreter+import can exceed
    # its ~100ms expected lifetime INSIDE the storm, so "some commit
    # happened during the 40 kills" is a box-load lottery (it went red
    # exactly once, on a triple-Spark-job box in r13) — whereas "the
    # machinery commits at all, with 4 processes racing" is the actual
    # precondition the invariants below need to be non-vacuous.
    import xml_to_parquet_spark.sinks.publish as pub

    be = pub.PosixCommitBackend()
    commit_deadline = _time.time() + 60
    while _time.time() < commit_deadline:
        try:
            if be.read_pointer(root)[1][0] > 0:
                break
        except Exception:
            pass
        _time.sleep(0.05)
    for p in procs.values():
        p.send_signal(signal.SIGKILL)
        p.wait()

    # -- invariants over the wreckage --
    name, token = be.read_pointer(root)  # must not crash
    top = token[0]
    assert top > 0, "4 racing committers produced no commit in 60s"
    pdir = os.path.join(root, "_ptr")
    gens = {}
    for n in os.listdir(pdir):
        if n.startswith("g") and n[1:].isdigit():
            with open(os.path.join(pdir, n)) as fh:
                gens[int(n[1:])] = fh.read().strip()
    # contiguous generations, every content a complete well-formed name
    assert sorted(gens) == list(range(1, top + 1))
    assert all(
        v.startswith("m-") and len(v.split("-")) == 3 for v in gens.values()
    ), f"torn pointer content: {gens}"
    # single winner: every logged win matches the generation's content
    logged = {}
    for fn in os.listdir(logdir):
        for line in open(os.path.join(logdir, fn)):
            g, m = line.split()
            g = int(g)
            assert g not in logged, (
                f"double win at g{g}: {logged[g]} and {m}"
            )
            assert gens[g] == m, (
                f"lost update: committer logged {m} for g{g} but the "
                f"pointer holds {gens[g]}"
            )
            logged[g] = m
    # fresh committer commits cleanly over the carnage
    be.cas_pointer(root, "m-final-1", expected_token=token)
    name2, token2 = be.read_pointer(root)
    assert (name2, token2[0]) == ("m-final-1", top + 1)


def test_concurrent_publish_stress_no_lost_update(
    spark, tmp_path, commit_backend
):
    """N threads race full publishes from the same parent (plus legacy
    lock wreckage on the posix path, now ignored junk). Every publish
    must either commit or raise ConcurrentCommitError, and the committed
    history must name every winner exactly once — a silently lost update
    would shorten the parent chain below the success count. (This test
    CAUGHT the r10 bug: under load the old lock-based posix CAS admitted
    two winners ~1/200 runs; the generation-link CAS measured 0/1000.)"""
    import threading

    import xml_to_parquet_spark.sinks.publish as pub
    from xml_to_parquet_spark.sinks.publish import history

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "seed"), root)
    with open(os.path.join(root, "_COMMIT_LOCK"), "w") as fh:
        fh.write("pid=dead\n")  # pre-r10 wreckage: must be ignored

    # pre-materialize version data on the driver thread (Spark jobs from
    # many threads are fine, but keep the race window on the COMMIT)
    staged = []
    for i in range(6):
        df = _snapshot(spark, 5 + i, f"w{i}")
        parent, token = pub._read_pointer(root)
        vid = f"v{2 + i:08d}-aaaa{i:04d}"
        d = pub._write_version_data(df, root, vid, None, False)
        name = pub._write_manifest(df, root, vid, [d], parent=parent)
        staged.append((name, parent, token))

    outcomes = []

    def commit(name, parent, token):
        try:
            pub._commit_pointer(root, name, parent, token=token)
            outcomes.append(("ok", name))
        except pub.ConcurrentCommitError:
            outcomes.append(("lost", name))

    threads = [
        threading.Thread(target=commit, args=s) for s in staged
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [n for s, n in outcomes if s == "ok"]
    assert len(outcomes) == 6
    # all staged commits share one parent: exactly ONE can win the CAS
    assert len(wins) == 1
    chain = history(root)
    assert [m["version"] for m in chain][-1] == 1
    assert f"{chain[0]['version_id']}.json" == wins[0]
    if commit_backend == "posix":
        # generation chain agrees with the committed history
        name, token = pub._read_pointer(root)
        assert name == wins[0] and token[0] == 2


@pytest.mark.posix_only
def test_vacuum_prunes_pointer_generations(spark, tmp_path):
    """Long append chains must not accumulate pointer debris: vacuum
    keeps the newest `keep` generations (never fewer than the max) and
    the table still reads and commits normally afterwards."""
    import xml_to_parquet_spark.sinks.publish as pub

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)
    for i in range(5):
        publish_parquet(_snapshot(spark, 1, f"a{i}"), root, mode="append")
    pdir = os.path.join(root, pub._PTR_DIR)
    assert len(os.listdir(pdir)) == 6
    vacuum_published(root, keep=2, grace_s=0)
    gens = sorted(os.listdir(pdir))
    assert gens == ["g000000000005", "g000000000006"]
    name, token = pub._read_pointer(root)
    assert token[0] == 6
    assert read_published(spark, root).count() == 15
    publish_parquet(_snapshot(spark, 1, "post"), root, mode="append")
    assert pub._read_pointer(root)[1][0] == 7


def test_vacuum_grace_protects_inflight_writer(spark, tmp_path):
    """The retention-window hazard: a writer's data dir exists BEFORE its
    manifest, so an ungraced vacuum would reclaim it and the writer would
    commit a manifest pointing at vanished data. With the default grace,
    the young dir survives, the in-flight publish completes, and a later
    (aged) vacuum still reclaims genuine orphans."""
    import xml_to_parquet_spark.sinks.publish as pub

    root = str(tmp_path / "t")
    publish_parquet(_snapshot(spark, 10, "v1"), root)

    # simulate an in-flight publish: data written, manifest NOT yet
    df = _snapshot(spark, 20, "inflight")
    vid = "v00000002-1nf1igh7"
    data_dir = _write_version_data(df, root, vid, None, False)

    removed = vacuum_published(root, keep=2)  # default grace
    assert removed == []  # young dir protected
    assert os.path.isdir(data_dir)

    # the writer completes its commit over the surviving data
    name = _write_manifest(df, root, vid, [data_dir])
    parent, token = pub._read_pointer(root)
    pub._commit_pointer(root, name, parent, token=token)
    got = read_published(spark, root)
    assert got.count() == 20 and {r["tag"] for r in got.collect()} == {
        "inflight"
    }

    # a genuinely dead writer's dir ages out and is reclaimed
    dead = _write_version_data(_snapshot(spark, 5, "dead"), root,
                               "v00000003-deadd34d", None, False)
    old = os.path.getmtime(dead) - 7200
    for dp, _dirs, fs in os.walk(dead):
        os.utime(dp, (old, old))
        for f in fs:
            os.utime(os.path.join(dp, f), (old, old))
    removed = vacuum_published(root, keep=2, grace_s=3600)
    assert any(r.startswith("v00000003") for r in removed)


def _dlq_df(spark):
    return spark.createDataFrame(
        [
            (1, "click", 10.0),
            (2, "error", 10.0),   # fails type_domain
            (3, "click", 900.0),  # fails value_band
            (4, "error", 900.0),  # fails both -> first check wins
            (5, None, 10.0),      # NULL predicate counts as failing
        ],
        "event_id long, event_type string, value double",
    )


def _dlq_checks():
    from xml_to_parquet_spark.functions import constraints as C

    return [
        C.member_of("event_type", ["click", "view"], name="type_domain"),
        C.in_range("value", 0.0, 300.0, name="value_band"),
    ]


def test_quarantine_router_splits_first_fail_wins(spark, tmp_path):
    from xml_to_parquet_spark.sinks.publish import (
        quarantine_router,
        read_published,
    )

    good_root = str(tmp_path / "good")
    quar_root = str(tmp_path / "quar")
    route = quarantine_router(_dlq_checks(), good_root, quar_root)
    route(_dlq_df(spark), 0)

    good = read_published(spark, good_root)
    assert [r.event_id for r in good.orderBy("event_id").collect()] == [1]
    assert "reject_reason" not in good.columns
    bad = {
        r.event_id: r.reject_reason
        for r in read_published(spark, quar_root).collect()
    }
    assert bad == {
        2: "type_domain",
        3: "value_band",
        4: "type_domain",  # declared order, not severity
        5: "type_domain",  # NULL event_type fails the first check
    }


def test_quarantine_router_replay_is_exactly_once(spark, tmp_path):
    from xml_to_parquet_spark.sinks.publish import (
        quarantine_router,
        read_published,
    )

    good_root = str(tmp_path / "good")
    quar_root = str(tmp_path / "quar")
    route = quarantine_router(_dlq_checks(), good_root, quar_root)
    route(_dlq_df(spark), 0)
    route(_dlq_df(spark), 0)  # crash-replay of the same micro-batch
    assert read_published(spark, good_root).count() == 1
    assert read_published(spark, quar_root).count() == 4


def test_quarantine_router_repairs_crash_between_sinks(spark, tmp_path):
    """Crash after the quarantine publish but before the good publish:
    the replay must land the good rows without duplicating the
    quarantined ones (per-root batch-id guards)."""
    from xml_to_parquet_spark.sinks.publish import (
        foreach_batch_publisher,
        quarantine_router,
        read_published,
    )

    good_root = str(tmp_path / "good")
    quar_root = str(tmp_path / "quar")
    df = _dlq_df(spark)
    # simulate the dying first attempt: only the quarantine sink committed
    foreach_batch_publisher(quar_root)(
        df.filter(F.col("event_id") != 1).withColumn(
            "reject_reason", F.lit("type_domain")
        ),
        0,
    )
    quarantine_router(_dlq_checks(), good_root, quar_root)(df, 0)
    assert read_published(spark, good_root).count() == 1
    assert read_published(spark, quar_root).count() == 4


def test_quarantine_router_rejects_non_rate_checks(spark, tmp_path):
    from xml_to_parquet_spark.functions import constraints as C
    from xml_to_parquet_spark.sinks.publish import quarantine_router

    with pytest.raises(ValueError, match="rate checks"):
        quarantine_router(
            [C.unique("event_id")], str(tmp_path / "g"), str(tmp_path / "q")
        )
