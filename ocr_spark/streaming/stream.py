"""Structured Streaming expression of the extraction pipeline.

The reference is a stateless request/response service
(TECHNICAL_GUIDE.md:1409-1412); its streaming analogue is a bounded or
unbounded stream of pages flowing through the same Arrow extraction
kernel.  The batch job (plans/pipeline.py) stays the production path
per the north rule; this module shows the engine's operators are
streaming-clean:

* the extract stage (``operators.extract.extract_pages``) is reused
  verbatim — ``mapInArrow`` works unchanged on streaming DataFrames;
* late data is handled with ``withWatermark('warc_ts', ...)`` feeding
  tumbling-window lineage counters (the streaming analogue of the
  per-bucket lineage table);
* the sink is a checkpointed parquet append stream
  (``run_stream_to_parquet``).

Everything runs with ``trigger(availableNow=True)`` in tests: process
whatever is in the source directory, then stop — the bounded-stream
mode that makes streaming output comparable byte-for-byte with the
batch job's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.operators.extract import extract_pages

__all__ = ["PAGES_SCHEMA", "read_pages_stream", "extract_stream",
           "windowed_lineage", "run_stream_to_parquet", "sessionize_stream",
           "dedup_stream"]

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a pages parquet directory.  Schema is
    explicit (streaming sources require it); ``maxFilesPerTrigger``
    bounds micro-batch size the way chunk_buckets bounds batch chunks."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def extract_stream(pages: DataFrame, all_pages: bool = False) -> DataFrame:
    """The extraction stage on a streaming DataFrame — the SAME Arrow
    kernel as the batch job, so stream output is byte-identical to
    batch output for the same input rows.  (No keep-latest dedup here:
    dedup across an unbounded stream is the keep-latest window of the
    batch job run per micro-batch via foreachBatch when needed.)"""
    return extract_pages(
        pages,
        payload_col="html",
        passthrough=("url", "warc_ts", "lang"),
        all_pages=all_pages,
    )


def windowed_lineage(extracted: DataFrame, window: str = "1 hour",
                     watermark: str = "2 hours") -> DataFrame:
    """Streaming lineage: tumbling-window per-status counters over the
    capture timestamp, tolerating ``watermark`` of event-time lateness.
    State is bounded: closed windows are emitted and dropped."""
    return (
        extracted.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("status"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status", "n_docs", "bytes_in", "bytes_out",
        )
    )


def sessionize_stream(events: DataFrame, gap_s: int = 1800,
                      user_col: str = "user_id",
                      ts_col: str = "ts",
                      idle_timeout_s: int | None = None) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` — the arbitrary-state surface the built-in
    windowed aggregations can't express (per-key session state carried
    ACROSS micro-batches; a session spanning two batches is stitched,
    not split).

    Semantics match the batch ``q_sessionize`` walk: events per user in
    event-time order; a gap > ``gap_s`` closes the current session.
    Closed sessions are EMITTED (append mode); the trailing open session
    per user stays in state and is emitted only once a later event
    closes it — or, with ``idle_timeout_s`` set, once the user has been
    idle in PROCESSING time for that long (the production flush for an
    unbounded stream: an abandoned user's last session must not sit in
    state forever).  Bounded runs (availableNow) keep the default
    ``idle_timeout_s=None`` so emitted rows are exactly the
    deterministically-closed ones.

    Lateness contract: events are sorted within a micro-batch, but an
    event arriving in a LATER batch with t <= the stored last_ts (cross-
    batch late data) must never move the open session backwards — it
    extends counts, clamps ``start`` down / ``last`` up (min/max), and a
    gap is only opened by an event beyond last_ts + gap.  Events later
    than a session already EMITTED in a prior batch cannot be stitched
    into it (state was replaced); that is the same horizon any
    watermark-based operator has.

    State per user: (session_start, last_ts, n_events) — O(1) bytes per
    key regardless of history length, the property that lets this run
    over an unbounded stream where the batch window (which needs the
    full per-user history in one sort) cannot.

    Output: (user_id, session_start, session_end, n_events), epoch
    seconds."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.col(ts_col).cast("timestamp").cast("long").alias("ts_s"),
    )

    def fn(key, pdfs, state):
        import pandas as pd

        def frame(rows):
            return pd.DataFrame(
                rows, columns=["user_id", "session_start", "session_end",
                               "n_events"],
            ).astype({"user_id": "int64", "session_start": "int64",
                      "session_end": "int64", "n_events": "int64"})

        # processing-time timeout fired: flush the open session, drop
        # state (pdfs is empty by contract on a timed-out key)
        if idle_timeout_s is not None and state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield frame([(key[0], start, last, n)])
            return

        ts = []
        for pdf in pdfs:
            ts.extend(int(t) for t in pdf["ts_s"] if t is not None)
        ts.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        out = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_s:
                out.append((key[0], start, last, n))
                start, last, n = t, t, 1
            else:
                # cross-batch late event: extend, never move backwards
                start, last, n = min(start, t), max(last, t), n + 1
        if start is not None:
            state.update((start, last, n))
            if idle_timeout_s is not None:
                state.setTimeoutDuration(idle_timeout_s * 1000)
        yield frame(out)

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=("user_id long, session_start long, "
                          "session_end long, n_events long"),
        stateStructType="session_start long, last_ts long, n_events long",
        outputMode="append",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                     if idle_timeout_s is not None
                     else GroupStateTimeout.NoTimeout),
    )


def dedup_stream(pages: DataFrame, keys: list[str] | None = None,
                 ts_col: str = "warc_ts",
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup — the streaming analogue of
    ``operators.dedup.exact_dedup``: keep the first arrival per key
    (default key: content digest of html, so byte-identical recrawls
    collapse regardless of url).

    Uses ``dropDuplicatesWithinWatermark``, NOT ``dropDuplicates``:
    plain dropDuplicates on a stream keeps per-key state FOREVER, which
    on an unbounded crawl stream is an OOM with a delay.  The
    watermark form drops a key's state once the watermark passes its
    event time, bounding state to the late-data horizon — duplicates
    farther apart than the horizon are by definition the batch job's
    responsibility (keep-latest over the full table), not the stream's.

    The default digest falls back to the url for NULL html:
    dropDuplicatesWithinWatermark treats NULL as an equal key, so a
    bare md5(html) would collapse every html-less page into one
    retained row."""
    if keys is None:
        pages = pages.withColumn(
            "digest", F.coalesce(F.md5(F.col("html")), F.col("url"))
        )
        keys = ["digest"]
    return pages.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def run_stream_to_parquet(pages: DataFrame, out_path: str,
                          checkpoint_path: str,
                          available_now: bool = True):
    """Extract a pages stream and append to parquet with exactly-once
    file-sink semantics (checkpointed).  Returns the StreamingQuery;
    with ``available_now`` the caller can ``awaitTermination()`` for a
    bounded run."""
    extracted = extract_stream(pages)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
