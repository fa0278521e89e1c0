"""Structured Streaming surface.

The reference has no streams — its incremental story is batch
date-range re-runs (main.py:47-56) plus skip-already-scored
(db_utils.check_attribution_exists:260-302). Sessions are naturally an
append-only event stream, so the engine exposes:

- ``stream_events``          — file-source stream over the events
  table (the session feed), with the same nanos->timestamp
  normalization as the batch reader;
- ``hourly_event_stats``     — watermarked tumbling-window aggregate,
  the streaming twin of the batch ``window_tumbling_hour`` query;
- ``run_streaming_attribution`` — incremental attribution: each
  micro-batch of conversions is journey-built against the session
  store, IHC-scored, and upserted with INSERT OR IGNORE semantics
  (operators/manifest_sink.manifest_insert_if_absent), i.e. the
  reference's incremental pipeline expressed as a stream.

foreachBatch deliberately reuses the BATCH operators — one codepath
for semantics, streaming only handles arrival. Exactly-once story:
the idempotent key-based upsert makes micro-batch replays harmless
(at-least-once delivery + idempotent sink = effectively-once), and a
replayed conversion is always rescored over its WHOLE journey — the
claimed-session exclusion skips the replaying batch's own conv_ids, so
a partially persisted previous attempt can never truncate the journey
and break the per-conversion sum-to-1 invariant (see score_batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

from ..operators.asof import journey_asof_join
from ..operators.ihc import ihc_attribute
from ..operators.manifest_sink import manifest_insert_if_absent, read_manifest_sink
from ..session import ensure_engine_confs


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events parquet (one file per SF in
    the testdata; in production this is a directory the feed appends
    to — pass that directory as ``sf_dir`` with ``glob='*.parquet'``).
    Normalizes ``ts`` exactly like the batch reader
    (sources/tables.py): the testdata has shipped it both as
    TIMESTAMP(NANOS) (surfacing as bigint nanos under ``nanosAsLong``)
    and as plain TIMESTAMP(MICROS), so probe the parquet footer (one
    cheap driver-side batch-read of the schema) instead of hardcoding
    either physical type.

    ``max_files_per_trigger`` bounds each micro-batch to that many
    source files — the knob that turns one availableNow catch-up into
    a sequence of committed batches (and so makes mid-stream restart
    recovery testable; see tests/test_streaming.py)."""
    ensure_engine_confs(spark)
    # probe through the SAME directory+glob the stream loads, so the
    # probe works when sf_dir is a directory the feed appends into and
    # `events.parquet` names a glob of files rather than one file
    # (round-4 advice: a hardcoded single-file probe would throw
    # before the stream starts in the documented production scenario)
    raw_schema = (
        spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    )
    reader = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        # file-stream sources take a directory; filter to the events
        # table (in production: the directory the feed appends into)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(sf_dir)
    # ltz (plain TIMESTAMP), not ntz: Spark watermarks only accept
    # TIMESTAMP event-time columns; wall values are identical under the
    # UTC session timezone.
    if isinstance(raw_schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_event_stats(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregate (streaming twin of the
    batch ``window_tumbling_hour`` registry query). Late events beyond
    the watermark are dropped; state is bounded by watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _sessions_from_events(events: DataFrame) -> DataFrame:
    # mirror of attribution.model.sessions on an arbitrary events frame
    return events.select(
        F.col("event_id").cast("string").alias("session_id"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.date_format("ts", "HH:mm:ss").alias("event_time"),
        F.col("event_type").alias("channel_name"),
        F.col("event_type").isin("view", "click").cast("int").alias("holder_engagement"),
        F.col("event_type").isin("click", "signup").cast("int").alias("closer_engagement"),
        (F.col("event_type") == "view").cast("int").alias("impression_interaction"),
    )


def run_streaming_attribution(
    spark: SparkSession,
    sf_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    stream_dir: str | None = None,
    stream_glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    stop_after_batches: int | None = None,
    on_batch=None,
) -> None:
    """Incremental attribution as a stream (availableNow trigger —
    processes everything currently in the source, then stops).

    Each micro-batch carries new conversion events; journeys are built
    against the full session table (stream-static pattern: the session
    store is the batch side), scored natively, and appended with
    INSERT OR IGNORE semantics so replays and overlapping batches
    cannot double-write (conv_id, session_id) rows.

    ``stream_dir``/``stream_glob``: the conversion FEED directory,
    when it is not the warehouse dir ``sf_dir`` (production: the feed
    is an append directory; the session store is the warehouse).
    ``stop_after_batches``: stop the query once that many batches have
    committed instead of draining the source — simulates an operator
    kill mid-catch-up; a restart with the SAME checkpoint resumes
    from the recorded offsets (exactly-once, proven in
    tests/test_streaming.py).  ``on_batch``: driver-side callback
    ``(batch_id) -> None`` per foreachBatch invocation (telemetry /
    test instrumentation).
    """
    from ..attribution import model as M

    static_sessions = M.sessions(spark, sf_dir)

    conv_stream = (
        stream_events(
            spark, stream_dir or sf_dir, stream_glob, max_files_per_trigger
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").cast("string").alias("conv_id"),
            F.col("user_id").cast("string").alias("user_id"),
            # back to ntz so the as-of comparison against the batch
            # session store is same-typed (identity cast under UTC)
            F.col("ts").cast("timestamp_ntz").alias("conv_ts"),
            F.col("value").alias("revenue"),
        )
    )

    def score_batch(batch: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_id)  # foreachBatch fns run on the driver
        sess = static_sessions
        # F4 across batches: sessions already claimed by earlier
        # micro-batches stay claimed (the reference's
        # assigned_session_ids set, journey_builder.py:92-107,
        # persisted in the sink instead of driver memory).  Committed
        # rows only: files a killed batch moved in but never committed
        # must not claim sessions.
        sink_probe = read_manifest_sink(batch.sparkSession, sink_path)
        if sink_probe is not None:
            # replay soundness: rows of THIS batch's conversions that a
            # partially-visible earlier attempt already persisted must
            # NOT truncate their own journeys — exclude only sessions
            # claimed by OTHER conversions, recompute this batch's
            # journeys whole, and let the idempotent upsert drop the
            # already-present (conv_id, session_id) rows. Journeys are
            # deterministic given the prior batches' claims, so the
            # replay writes exactly the missing remainder and the
            # per-conversion sum-to-1 invariant survives partial writes.
            assigned = (
                sink_probe
                .join(batch.select("conv_id"), "conv_id", "left_anti")
                .select("session_id")
            )
            sess = sess.join(assigned, "session_id", "left_anti")
        journeys = journey_asof_join(sess, batch)
        scored = ihc_attribute(journeys).select("conv_id", "session_id", "ihc")
        # lease_wait_ms: a checkpointed RESTART can race the killed
        # incarnation's lease release by milliseconds — bounded
        # patience instead of a hard ConcurrentWriterError (a genuine
        # concurrent second pipeline still fails, just 30s later)
        manifest_insert_if_absent(
            batch.sparkSession, scored, sink_path,
            ["conv_id", "session_id"], lease_wait_ms=30_000,
        )

    query = (
        conv_stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if stop_after_batches is None:
        query.awaitTermination()
        return
    # kill-mid-catch-up mode: wait until >= N DATA-BEARING batches
    # have reported progress (round 13 flake fix: Spark can emit
    # zero-row progress events under load, and counting one of those
    # stopped the query after fewer real batches than asked), then
    # stop the query — possibly interrupting a further batch in
    # flight, which is exactly the crash the idempotent sink must
    # absorb on restart
    import time

    def _rows(p) -> int:
        # StreamingQueryProgress object (pyspark >= 3.4) or plain dict
        v = getattr(p, "numInputRows", None)
        if v is None and isinstance(p, dict):
            v = p.get("numInputRows")
        return int(v or 0)

    def _n_data_batches() -> int:
        return sum(1 for p in query.recentProgress if _rows(p) > 0)

    while query.isActive and _n_data_batches() < stop_after_batches:
        time.sleep(0.2)
    query.stop()
    query.awaitTermination()
    # awaitTermination returns when the STREAM thread ends, but
    # foreachBatch runs on a py4j callback thread that may still be
    # unwinding an interrupted insert — holding the sink's
    # writer lease.  A caller that immediately resumes (the
    # kill-and-resume tests) would trip ConcurrentWriterError on a
    # lease that is about to be released; wait it out (bounded — a
    # genuinely crashed holder is the stale-takeover path, not ours).
    # An EMPTY lease is an interrupted create that no writer holds; the
    # next acquirer in this process reclaims it, so do not wait on it.
    from ..operators.sinks import _lease_backend, _lease_path

    be = _lease_backend(spark, None)
    lease = _lease_path(sink_path)
    deadline = time.monotonic() + 60.0
    while be.read_token(lease) and time.monotonic() < deadline:
        time.sleep(0.1)
