"""Structured Streaming ingestion (SURVEY §2.9 — parity-plus).

The reference is strictly batch; its incremental story is "check the audit
columns for files you already loaded" (README.md:241,253-268). The Spark
native equivalent is a file-source stream with ``Trigger.AvailableNow``:
each run picks up exactly the files not yet processed (checkpoint-tracked),
processes them as micro-batches, and stops — the batch-of-new-files
semantics the reference approximates by hand.

- ``stream_xml_dir``: streaming XML ingest of a directory (each new file
  becomes rows exactly once; checkpoint dir = the reference's manifest).
- ``stream_events_windowed``: event-time tumbling-window aggregation with a
  watermark for late data — the streaming twin of workload q31; with
  AvailableNow over a static dir it converges to the batch answer, which is
  what the DuckDB oracle checks.

Scale: file-source streams list only new files per trigger; windowed aggs
keep state per (window × key) — bounded by the watermark horizon. State
store is RocksDB-backed on a real cluster (set
``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

import os
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xml_to_parquet_spark.catalog import read_parquet_file
from xml_to_parquet_spark.session import (
    process_scratch_dir,
    quiet_jvm_logs,
    scoped_conf,
    scratch_dir,
)

_SHUFFLE = "spark.sql.shuffle.partitions"
# shuffle partitions scoped to a stateful stream: it materializes one
# state store PER shuffle partition PER micro-batch, so a tiny windowed
# agg pays 32 store commits per batch under the batch-tuned default.
# The count is pinned at the stream's first checkpoint anyway (a real
# deployment sizes it to its key cardinality, apart from batch jobs).
# 4 measured best-of-2 on the sf0.1 event stream against 8 (windowed
# 1.54→1.36 s, dedup 1.49→1.38 s, stream-stream join 2.83→2.40 s): the
# testdata's key cardinality does not feed 8 stores.
_STATE_PARTITIONS = 4


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int = _STATE_PARTITIONS,
) -> DataFrame:
    """Run a streaming frame to completion (AvailableNow); returns the
    final result as a batch DataFrame.

    Sink choice scales with the output mode (an always-memory sink would
    collect a 25M-row APPEND result onto the driver and breach
    spark.driver.maxResultSize, although the operator's state was fine):
    - ``complete`` mode results are aggregates (bounded by group count) →
      memory sink, as a real dashboard sink would hold them;
    - ``append`` mode results are row streams (unbounded) → parquet sink
      in process-lifetime scratch, read back as a batch frame — exactly
      the sink shape a production append stream uses, at any scale.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` to this
    query (see ``_STATE_PARTITIONS``). The checkpoint lives in scratch
    and is removed on return: an ephemeral AvailableNow run has nothing
    to resume.
    """
    spark = stream_df.sparkSession
    with scratch_dir("ckpt_") as checkpoint_dir, scoped_conf(
        spark, _SHUFFLE, state_partitions
    ):
        if output_mode == "append":
            sink_dir = process_scratch_dir("sink_")
            writer = stream_df.writeStream.format("parquet").option(
                "path", sink_dir
            )
        else:
            writer = stream_df.writeStream.format("memory").queryName(
                query_name
            )
        q = (
            writer.outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if output_mode == "append":
        # explicit schema: an empty append result leaves no data files
        return spark.read.schema(stream_df.schema).parquet(sink_dir)
    return spark.table(query_name)


def run_tws_append(
    stream_df: DataFrame,
    query_name: str,
    input_glob: str | None = None,
) -> DataFrame:
    """AvailableNow harness for ``transformWithStateInPandas`` queries.

    transformWithState under AvailableNow neither self-terminates nor
    releases ``processAllAvailable()`` (measured on Spark 4.1: the batch
    commits — the sink manifest lands, results are readable — but the
    trigger executor never reaches the terminated state; worse, it keeps
    PLANNING empty batches indefinitely, so checkpoint-quiescence waiting
    never converges: the offsets log reached batch 411 in 300 s with no
    further input). So this runner waits for the FileStreamSink's
    batch-0 commit and stops the query.

    Single-DATA-batch sources only: all input must land in batch 0, which
    the file source guarantees for one input file. The assumption is
    enforced: pass ``input_glob`` and the runner raises before starting
    unless it resolves to exactly one DATA FILE — a directory match (e.g.
    a multi-part ``events.parquet`` directory) is expanded to its data
    files first, since a one-match glob over a many-part directory could
    still be packed into several AvailableNow batches whose data the
    batch-0 stop would drop.

    Stop mechanism: a ``StreamingQueryListener`` signals the first
    data-carrying batch commit (progress events fire after the sink +
    offset-log commit), so the harness is event-driven; the batch-0
    sink-manifest poll is retained inside the same wait loop as a
    fallback for environments where the py4j callback server is
    unavailable.
    """
    import glob as globmod
    import threading
    import time

    if input_glob is not None:
        files = _expand_data_files(globmod.glob(input_glob))
        if len(files) != 1:
            raise ValueError(
                f"{query_name}: run_tws_append needs exactly one input "
                f"file (single-batch stop); {input_glob!r} resolved to "
                f"{len(files)} data files"
            )

    spark = stream_df.sparkSession
    sink_dir = process_scratch_dir("sink_")
    committed = threading.Event()
    try:
        listener = _first_data_batch_listener(committed)
        spark.streams.addListener(listener)
    except Exception:  # pragma: no cover - callback server unavailable
        listener = None
    try:
        with scratch_dir("ckpt_") as checkpoint_dir, scoped_conf(
            spark, _SHUFFLE, _STATE_PARTITIONS
        ):
            q = (
                stream_df.writeStream.format("parquet")
                .queryName(query_name)
                .option("path", sink_dir)
                .outputMode("append")
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            if listener is not None:
                listener.query_id = str(q.id)
            manifest = os.path.join(sink_dir, "_spark_metadata", "0")
            deadline = time.time() + 300
            while time.time() < deadline:
                if q.exception():
                    raise q.exception()
                # event-driven primary: the listener fires when the first
                # data-carrying batch has fully committed (sink + offset log)
                if committed.wait(timeout=0.2) or os.path.exists(manifest):
                    break
            else:  # pragma: no cover - hang guard
                raise TimeoutError(f"{query_name}: no sink commit within 300s")
            # stopping here interrupts whatever EMPTY batch TWS is planning
            # (it never stops planning them) — the interrupt is the designed
            # shutdown, so mute the JVM's InterruptedException stack trace
            # for exactly this window
            with quiet_jvm_logs(spark):
                q.stop()
                q.awaitTermination()
    finally:
        if listener is not None:
            try:
                spark.streams.removeListener(listener)
            except Exception:  # pragma: no cover
                pass
    return spark.read.schema(stream_df.schema).parquet(sink_dir)


def _expand_data_files(matches: list[str]) -> list[str]:
    """Expand glob matches into the DATA files the file stream source
    would actually list: a directory match contributes every non-hidden
    file under it (Spark's file index skips ``_``/``.`` prefixed names),
    a file match contributes itself."""
    files: list[str] = []
    for m in matches:
        if os.path.isdir(m):
            for dirpath, dirnames, filenames in os.walk(m):
                dirnames[:] = [
                    d for d in dirnames if not d.startswith(("_", "."))
                ]
                files.extend(
                    os.path.join(dirpath, f)
                    for f in filenames
                    if not f.startswith(("_", "."))
                    and not f.endswith(".crc")
                )
        else:
            files.append(m)
    return files


def _first_data_batch_listener(committed):
    """Listener signalling the first data-carrying batch commit of the
    query whose id is later assigned to ``.query_id`` (progress events
    fire only after the batch — sink manifest included — has committed).
    Built lazily so environments without the py4j callback server fail at
    ``addListener`` time and the caller degrades to manifest polling."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        query_id: str | None = None

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if self.query_id is not None and str(p.id) != self.query_id:
                return
            if p.numInputRows > 0:
                committed.set()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _L()


def _events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    # TIMESTAMP(NANOS) needs the legacy conf (see catalog.load_table)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet_file(
        spark, os.path.join(sf_dir, "events.parquet")
    ).schema


def _normalize_event_ts(ev: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP for event-time ops.

    Two testdata vintages (same handling as catalog.load_table):
    - TIMESTAMP(NANOS) read as long under the legacy conf → integer ``div``
      to micros (float division rounds above 2^53);
    - TIMESTAMP(MICROS) without isAdjustedToUTC read as TIMESTAMP_NTZ →
      cast to TIMESTAMP (watermarks reject NTZ); wall-clock round-trips
      through the session zone so formatted output matches the oracle.
    """
    dt = ev.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def stream_events_windowed(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming event-time tumbling window over the events table.

    Watermark bounds state: windows older than (max event time − watermark)
    are finalized and their state dropped. With AvailableNow on a static
    directory the final memory-sink table equals the batch aggregation.
    """
    schema = _events_schema(spark, sf_dir)
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = _normalize_event_ts(ev)
    from xml_to_parquet_spark.operators.aggregation import dsum

    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "value_sum"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "event_type",
            "n",
            "value_sum",
        )
    )
    return run_available_now(
        agg, query_name=f"events_windowed_{abs(hash(sf_dir)) % 99991}"
    ).orderBy("bucket_start", "event_type")


def stream_events_dedup(
    spark: SparkSession,
    sf_dir: str,
    key_col: str = "event_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup over the events stream:
    ``dropDuplicatesWithinWatermark`` keyed on ``key_col``.

    The watermark BOUNDS the dedup state: key state older than (max event
    time − watermark) is dropped, so state is proportional to the horizon,
    not the stream's lifetime — the property that makes streaming dedup
    viable at 100 TB/day (plain ``dropDuplicates`` on a stream retains
    every key forever). With AvailableNow over a static directory the
    surviving row set equals batch DISTINCT on the key, which is what the
    oracle checks.
    """
    schema = _events_schema(spark, sf_dir)
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = _normalize_event_ts(ev)
    # project BEFORE the dedup so the state store and its shuffle carry
    # (key, ts) instead of the full event row — dedup state is per key,
    # and the props payload column is dead weight in it
    deduped = (
        ev.select(key_col, "ts")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([key_col])
    )
    out = run_available_now(
        deduped,
        query_name=f"events_dedup_{abs(hash(sf_dir)) % 99991}",
        output_mode="append",
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col(key_col)).alias("n_keys"),
    )


def stream_events_interval_join(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "view",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM interval join: attribute each ``right_type`` event to
    the ``left_type`` events of the same user within ``horizon`` before it
    — the funnel-attribution primitive (view→purchase), and the one major
    Structured Streaming surface beyond windows/dedup/sessionization.

    Both sides carry watermarks and the join carries an event-time range
    condition; that pair is what lets Spark BOUND the join state — each
    side's buffer holds only rows younger than (max event time − watermark
    − horizon), so state is proportional to the time horizon, not the
    stream's lifetime. Inner-join matches emit as soon as both sides
    arrive (no watermark-expiry latency); with AvailableNow over a static
    directory the emitted set equals the batch interval join, which the
    DuckDB oracle checks exactly.
    """
    schema = _events_schema(spark, sf_dir)

    def side(event_type: str, alias: str) -> DataFrame:
        ev = _normalize_event_ts(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return (
            ev.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
                F.col("event_id").alias(f"{alias}_id"),
            )
            .withWatermark(f"{alias}_ts", watermark)
        )

    joined = side(left_type, "l").join(
        side(right_type, "r"),
        F.expr(
            "l_user = r_user AND r_ts >= l_ts AND "
            f"r_ts <= l_ts + INTERVAL {horizon}"
        ),
    )
    out = run_available_now(
        joined.select(
            F.col("l_user").alias("user_id"),
            F.date_format("l_ts", "yyyy-MM-dd HH:mm:ss").alias("left_time"),
            F.date_format("r_ts", "yyyy-MM-dd HH:mm:ss").alias("right_time"),
            F.col("l_id").alias("left_id"),
            F.col("r_id").alias("right_id"),
        ),
        query_name=f"events_ssjoin_{abs(hash(sf_dir)) % 99991}",
        output_mode="append",
        state_partitions=2,
    )
    return out.orderBy("user_id", "left_id", "right_id")


def stream_events_enriched(
    spark: SparkSession,
    sf_dir: str,
    dim_table: str = "customer",
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_attr: str = "c_mktsegment",
) -> DataFrame:
    """STREAM-STATIC enrichment join: each micro-batch of the event stream
    is joined against a batch dimension table, then aggregated by
    (event_type, segment) — the canonical streaming-enrichment topology
    (clickstream × user dim) and the remaining join shape the streaming
    surface lacked (windows a78/a79, dedup a76, stream-stream a90).

    Stream-static joins are STATELESS: the static side is simply planned
    into every micro-batch (re-read per trigger, so dimension updates are
    picked up between triggers), no watermark or join state involved.
    Scale note: keep the static side a bounded dimension — the planner
    broadcasts it while small and shuffle-joins beyond the threshold,
    paying that cost once per micro-batch either way. Unmatched stream
    keys keep their rows (left join, segment → 'UNKNOWN'), because an
    enrichment stage must never drop events.
    """
    schema = _events_schema(spark, sf_dir)
    ev = _normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dim = read_parquet_file(
        spark, os.path.join(sf_dir, f"{dim_table}.parquet")
    ).select(
        F.col(dim_key).alias(stream_key), F.col(dim_attr).alias("segment")
    )
    enriched = ev.join(dim, on=stream_key, how="left").withColumn(
        "segment", F.coalesce(F.col("segment"), F.lit("UNKNOWN"))
    )
    from xml_to_parquet_spark.operators.aggregation import dsum

    agg = enriched.groupBy("event_type", "segment").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "value_sum")
    )
    return run_available_now(
        agg, query_name=f"events_enriched_{abs(hash(sf_dir)) % 99991}"
    ).orderBy("event_type", "segment")


def stream_events_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream → exactly-once published table → reader aggregate.

    The stream lands through ``sinks.publish.publish_stream`` (foreachBatch
    append-publishing each micro-batch as a committed version stamped with
    its batch id — the sink-side dedup that survives crash-replay), and the
    returned aggregate reads THROUGH the committed pointer: a pointer that
    moved on a partial write, a double-committed replay, or a reader
    leaking into orphaned version dirs all change the numbers and fail the
    batch oracle. Ephemeral root/checkpoint on tmpfs — the catalog entry
    exercises the protocol, not durable storage.
    """
    from xml_to_parquet_spark.operators.aggregation import dsum
    from xml_to_parquet_spark.sinks.publish import (
        publish_stream,
        read_published,
    )

    schema = _events_schema(spark, sf_dir)
    ev = _normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    ).select("event_id", "event_type", "value")

    with scratch_dir("pub_") as base:
        root = os.path.join(base, "events_pub")
        publish_stream(
            ev, root, checkpoint_dir=os.path.join(base, "ckpt")
        )
        out = (
            read_published(spark, root)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("event_id").alias("n_ids"),
                dsum("value", "value_sum"),
            )
            .orderBy("event_type")
        )
        # the published root is ephemeral: materialize before cleanup
        return spark.createDataFrame(out.collect(), out.schema)


def stream_events_quarantined(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Events stream → constraint-gated dead-letter routing
    (sinks.publish.quarantine_router) → per-route aggregate.

    Two declared rate checks (the same Check objects the a212 batch
    suite uses) gate every row: event_type must be in the non-error
    domain, value must sit in [0, 300]. Failing rows are never dropped
    — they append-publish exactly-once to a quarantine table carrying
    the FIRST failing check's name, good rows to the main table, both
    from one checkpoint via per-root batch-id guards. The returned
    aggregate reads BOTH published tables through their committed
    pointers, so a dropped row, a double-committed replay, or a row
    routed under the wrong reason all change the numbers and fail the
    batch oracle (which replays the gate as a CASE over raw events).
    """
    from xml_to_parquet_spark.functions import constraints as C
    from xml_to_parquet_spark.operators.aggregation import dsum
    from xml_to_parquet_spark.sinks.publish import (
        quarantine_router,
        read_published,
    )

    checks = [
        C.member_of(
            "event_type", ["click", "purchase", "signup", "view"],
            name="type_domain",
        ),
        C.in_range("value", 0.0, 300.0, name="value_band"),
    ]
    schema = _events_schema(spark, sf_dir)
    ev = _normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    ).select("event_id", "event_type", "value")

    with scratch_dir("dlq_") as base:
        good_root = os.path.join(base, "events_good")
        quar_root = os.path.join(base, "events_quarantine")
        q = (
            ev.writeStream.foreachBatch(
                quarantine_router(checks, good_root, quar_root)
            )
            .outputMode("append")
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        good = read_published(spark, good_root).select(
            F.lit("good").alias("route"),
            F.lit("ok").alias("reject_reason"),
            "event_id",
            "value",
        )
        bad = read_published(spark, quar_root).select(
            F.lit("quarantine").alias("route"),
            F.col("reject_reason"),
            "event_id",
            "value",
        )
        out = (
            good.unionByName(bad)
            .groupBy("route", "reject_reason")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("event_id").alias("n_ids"),
                dsum("value", "value_sum"),
            )
            .orderBy("route", "reject_reason")
        )
        # the published roots are ephemeral: materialize before cleanup
        return spark.createDataFrame(out.collect(), out.schema)


def stream_events_kmv(
    spark: SparkSession, sf_dir: str, k: int = 64, n_splits: int = 4
) -> DataFrame:
    """Continuous distinct-count maintenance: each micro-batch
    sketches its slice of the events stream (per-event_type KMV rows, ≤k
    smallest 52-bit hashes per group) and append-publishes the SKETCH
    ROWS through the exactly-once commit sink; the reader merges all
    published sketches (k smallest of the union) into per-group
    estimates.

    This is the 100 TB pattern the sketch family exists for: executors/
    batches sketch independently, state per (group, batch) is ≤ k longs,
    the published table grows by O(k·groups) per batch — never raw keys
    — and the merge is associative, so ANY batching yields the same
    final estimate. That invariant IS the oracle: the merged streaming
    estimate must equal a KMV built directly on the whole static table
    (q80's merge identity, here proven across micro-batches AND through
    crash-replay-safe publish commits). The static input is re-split so
    AvailableNow genuinely delivers multiple micro-batches
    (maxFilesPerTrigger=1); ``multi_batch`` pins that ≥2 commits
    actually happened.
    """
    from xml_to_parquet_spark.functions.sketches import (
        HASH52_MAX,
        md5_hash52,
    )
    from xml_to_parquet_spark.sinks.publish import (
        foreach_batch_publisher,
        history,
        read_published,
    )

    schema = _events_schema(spark, sf_dir)
    static = (
        spark.read.schema(schema)
        .parquet(os.path.join(sf_dir, "events.parquet"))
        .select("event_id", "event_type")
    )
    # shuffle partitions scoped to the stream: per-batch sketch aggs are
    # tiny, and 32 partitions just multiply task overhead per micro-batch
    with scratch_dir("kmv_stream_") as base, scoped_conf(
        spark, _SHUFFLE, _STATE_PARTITIONS
    ):
        src = os.path.join(base, "src")
        static.repartition(n_splits).write.parquet(src)
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        root = os.path.join(base, "sketch_pub")
        publish = foreach_batch_publisher(root)

        def _sketch_batch(bdf: DataFrame, batch_id: int) -> None:
            # one-shuffle KMV per batch: collect_set dedups,
            # array_sort+slice keeps the k smallest — replacing
            # the former distinct + window-topk (2 shuffles + sort) with
            # a single ObjectHashAggregate whose partial state is the
            # batch slice's distinct hashes (bounded by micro-batch size)
            hashed = bdf.select(
                "event_type",
                md5_hash52(F.col("event_id").cast("string")).alias("h"),
            )
            sketch = hashed.groupBy("event_type").agg(
                F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("hs")
            )
            publish(
                sketch.select(
                    "event_type", F.explode("hs").alias("h")
                ),
                batch_id,
            )

        q = (
            stream.writeStream.foreachBatch(_sketch_batch)
            .option(
                "checkpointLocation", os.path.join(base, "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_commits = len(history(root))
        # merge: k smallest DISTINCT hashes of the union of all published
        # sketches — the same one-shuffle collect_set/sort/slice fold as
        # the per-batch sketch (input ≤ k·groups·batches rows, tiny);
        # n_sketch/kth_min read straight off the sliced array, so the
        # former distinct + window + re-agg (3 shuffles) is now 1
        sk = (
            read_published(spark, root)
            .groupBy("event_type")
            .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("hs"))
            .select(
                "event_type",
                F.size("hs").alias("n_sketch"),
                F.element_at(F.col("hs"), F.size("hs")).alias("kth_min"),
            )
        )
        est = F.when(F.col("n_sketch") < k, F.col("n_sketch")).otherwise(
            F.expr(f"div({(k - 1) * HASH52_MAX}L, kth_min)")
        )
        # exact twin counts distinct HASHES (matching the oracle's CTE
        # exactly — event_id distinct would diverge on a 52-bit collision)
        exact = (
            static.select(
                "event_type",
                md5_hash52(F.col("event_id").cast("string")).alias("h"),
            )
            .distinct()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("exact_distinct"))
        )
        out = (
            sk.join(F.broadcast(exact), on="event_type")
            .select(
                "event_type",
                est.cast("long").alias("est_distinct"),
                "exact_distinct",
                F.lit(n_commits >= 2).alias("multi_batch"),
            )
            .orderBy("event_type")
        )
        # the published root is ephemeral: materialize before cleanup
        return spark.createDataFrame(out.collect(), out.schema)


def stream_docs_drift(
    spark: SparkSession, sf_dir: str, n_splits: int = 4, top_k: int = 20
) -> DataFrame:
    """Continuous distribution-drift maintenance: each micro-batch
    folds its slice of the document stream into per-token conditional
    (cnt_a, cnt_b) partial counts and append-publishes THOSE through the
    exactly-once commit sink; the reader sums the published partials per
    token and feeds the same report arithmetic as the one-pass batch
    monitor (drift.drift_report_from_counts).

    Same design point as stream_events_kmv: published state grows by
    O(vocabulary) per batch, never raw tokens, and per-key sums are
    associative — ANY batching (independent executors, crash replays
    deduped by batch id) folds to the identical report. That identity IS
    the oracle: the streamed report must equal q98's whole-table static
    report bit-for-bit; ``multi_batch`` pins that ≥2 real commits
    happened."""
    from xml_to_parquet_spark.functions.drift import (
        drift_report_from_counts,
    )
    from xml_to_parquet_spark.functions.text import norm_text
    from xml_to_parquet_spark.sinks.publish import (
        foreach_batch_publisher,
        history,
        read_published,
    )

    static = (
        read_parquet_file(spark, os.path.join(sf_dir, "documents.parquet"))
        .select("source", "text")
        .filter(F.col("source").isin(["src0", "src1"]))
    )
    with scratch_dir("drift_stream_") as base, scoped_conf(
        spark, _SHUFFLE, _STATE_PARTITIONS
    ):
        src = os.path.join(base, "src")
        static.repartition(n_splits).write.parquet(src)
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        root = os.path.join(base, "drift_pub")
        publish = foreach_batch_publisher(root)

        def _count_batch(bdf: DataFrame, batch_id: int) -> None:
            toks = bdf.select(
                F.explode(F.split(norm_text(F.col("text")), " ")).alias(
                    "key"
                ),
                (F.col("source") == "src0").cast("long").alias("is_a"),
                (F.col("source") == "src1").cast("long").alias("is_b"),
            )
            publish(
                toks.groupBy("key").agg(
                    F.sum("is_a").alias("cnt_a"),
                    F.sum("is_b").alias("cnt_b"),
                ),
                batch_id,
            )

        q = (
            stream.writeStream.foreachBatch(_count_batch)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_commits = len(history(root))
        merged = (
            read_published(spark, root)
            .groupBy("key")
            .agg(F.sum("cnt_a").alias("cnt_a"), F.sum("cnt_b").alias("cnt_b"))
        )
        out = drift_report_from_counts(merged, top_k).withColumn(
            "multi_batch", F.lit(n_commits >= 2)
        )
        # the published root is ephemeral: materialize before cleanup
        return spark.createDataFrame(out.collect(), out.schema)


def stream_xml_dir(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    row_tag: str = "record",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming XML ingest: each file in ``input_dir`` is appended to the
    parquet sink exactly once across runs sharing a checkpoint — the
    reference's manual incremental-loading intent, automated (checkpoint =
    its audit-column bookkeeping).

    Schema is inferred from a one-off batch read of the current directory
    contents (file-source streams require an explicit schema). Returns a
    batch view of the sink after the run. A ``checkpoint_dir`` passed in
    is left in place for the next run; without one, the run uses a
    scratch checkpoint that is removed on return.
    """
    from xml_to_parquet_spark.sources.xml_source import (
        ATTR_PREFIX,
        VALUE_TAG,
        XML_FILE_GLOB,
        add_lineage,
        derive_document_order,
        flatten_records,
        list_xml_files,
        read_xml_auto,
        with_record_id,
    )

    # the file list, not a glob path: Spark probes a glob path for a
    # sink metadata dir and logs a FileNotFoundException trace.  It is
    # the set the stream's listing reads, so a ``_*.xml`` file shapes
    # neither the schema nor the document order.
    files = list_xml_files(input_dir)
    if not files:
        raise FileNotFoundError(f"no XML files under {input_dir}")
    batch = read_xml_auto(spark, files, row_tag)
    doc_order = derive_document_order(spark, files, row_tag)
    stream = (
        spark.readStream.format("xml")
        .schema(batch.schema)
        .option("rowTag", row_tag)
        .option("attributePrefix", ATTR_PREFIX)
        .option("valueTag", VALUE_TAG)
        .option("ignoreSurroundingSpaces", "true")
        .option("pathGlobFilter", XML_FILE_GLOB)
        .load(input_dir)
    )
    out = add_lineage(
        with_record_id(
            flatten_records(stream, max_repeat=1, doc_order=doc_order)
        )
    )
    with (
        nullcontext(checkpoint_dir) if checkpoint_dir
        else scratch_dir("ckpt_xml_")
    ) as ckpt:
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", output_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(output_dir)
