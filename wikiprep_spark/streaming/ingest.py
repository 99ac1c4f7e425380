"""Incremental / streaming ingest of src_pages.

The reference is strictly batch (SURVEY.md §2.9) — incremental updates were
handled offline by tools/riffle.  Spark-natively, the same per-page
transform runs unchanged under Structured Streaming: readStream on the
src_pages directory -> the transform kernel, the same one python operator
that parses and transforms each record in batch pass 2 -> append-mode
edge sinks.  The prescan dictionaries are a batch artifact
(a tagged parquet table), matching the reference's prescan/transform split: new
pages are transformed against the latest published dictionary snapshot and
dictionaries are refreshed by periodic batch prescans.

Also provides windowed/watermarked event aggregation as the streaming
counterpart of q_events_hourly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from wikiprep_spark.operators.transform import transform_pages


def stream_src_pages(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """readStream over a parquet directory of src_pages rows."""
    return (
        spark.readStream.schema(
            "repo string, path string, commit string, lang string, "
            "content string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_transform(src_stream: DataFrame, dicts_path: str) -> DataFrame:
    """The batch pass-2 kernel (operators/transform.transform_pages),
    applied to a streaming DataFrame — mapInPandas is streaming-compatible
    as a stateless projection — and emitting transformed_pages rows.
    ``dicts_path`` is the dictionary parquet exactly as in batch (a
    run_pipeline result's "_dicts_path")."""
    return transform_pages(src_stream, dicts_path).drop("seq")


def start_edge_sink(transformed: DataFrame, out_dir: str,
                    checkpoint_dir: str, available_now: bool = False):
    """Append-mode parquet sink with checkpointing (exactly-once per file).
    ``available_now=True`` processes the current backlog then stops — the
    riffle-style catch-up mode (tools/riffle/riffle.cpp semantics: merge
    new pages into the existing output without recomputing it)."""
    writer = (
        transformed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_exact_dedup(docs_stream: DataFrame, id_col="doc_id",
                          text_col="text", ts_col: str | None = None,
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: first-seen row per normalized-content hash
    survives, later arrivals are dropped — the batch exact_dedup operator
    re-expressed with streaming state.

    With ``ts_col`` the state is BOUNDED via
    dropDuplicatesWithinWatermark: a duplicate arriving within the
    watermark horizon of its first sighting is dropped, and the hash's
    state is evicted once the watermark passes it — the only way a
    content-keyed dedup survives an unbounded stream.  Without ``ts_col``
    the state grows with the number of distinct documents (exact global
    dedup; use only on finite backlogs)."""
    from wikiprep_spark.operators.dedup import normalized_text

    keyed = docs_stream.withColumn(
        "content_md5", F.md5(normalized_text(text_col)))
    if ts_col is not None:
        keyed = keyed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return (
            keyed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["content_md5"])
        )
    return keyed.dropDuplicates(["content_md5"])


def sessionize_events(events_stream: DataFrame, gap_seconds: int = 1800,
                      user_col="user_id", ts_col="ts",
                      emit_timeouts: bool = False,
                      watermark: str = "0 seconds") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user SESSIONIZATION with gap semantics — a session is a maximal
    run of one user's events with consecutive gaps <= gap_seconds.

    Per-key state is the open session (start, last_ts, n_events), carried
    across micro-batches; a session is emitted the moment a later event
    breaks the gap.  With ``emit_timeouts=False`` the open tail session
    stays in state forever (emitted rows == CLOSED sessions; the batch
    lag-window twin in tests/test_streaming.py must agree row-for-row).
    With ``emit_timeouts=True`` the operator also registers an EVENT-TIME
    TIMEOUT at last_ts + gap: when the watermark passes it, the open
    session flushes and its state is REMOVED — bounded state on unbounded
    streams, and every session eventually emits exactly once.  State is
    one small tuple per active user; shuffle only on user_id.

    Cross-batch disorder (an event within the watermark but older than the
    stored session frontier) folds into the open session without ever
    decreasing ``last``; events older than start-gap emit as singleton
    sessions.  Timeout timestamps are clamped above the current watermark
    (Spark rejects a timeout <= watermark with a query-killing error)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("user_id long, session_start long, session_end long, "
                  "n_events long")
    state_schema = "start long, last long, n long"
    cols = ["user_id", "session_start", "session_end", "n_events"]

    def func(key, pdfs, state):
        (user_id,) = key
        if emit_timeouts and state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame([(user_id, start, last, n)], columns=cols)
            return
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        ts = []
        for pdf in pdfs:
            ts.extend(int(t) for t in pdf["ts_sec"])
        ts.sort()
        closed = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t <= last:
                # cross-batch disorder: a late-but-within-watermark event
                # older than the stored frontier.  Never let `last`
                # decrease (that would corrupt session_end / re-arm the
                # timeout into the past); fold the event into the open
                # session when it touches it (>= start - gap, possibly
                # extending the start backwards), else emit it as its own
                # already-elapsed singleton session.
                if t >= start - gap_seconds:
                    start, n = min(start, t), n + 1
                else:
                    closed.append((user_id, t, t, 1))
            elif t - last <= gap_seconds:
                last, n = t, n + 1
            else:
                closed.append((user_id, start, last, n))
                start, last, n = t, t, 1
        if start is not None:
            state.update((start, last, n))
            if emit_timeouts:
                # Spark rejects timeout timestamps at or below the current
                # watermark (a query-killing error); clamp to watermark+1ms
                # so a session whose gap already elapsed flushes on the
                # next micro-batch instead of failing the query
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    max((last + gap_seconds) * 1000, wm + 1))
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    from pyspark.sql import functions as F2

    keyed = events_stream.select(
        F2.col(user_col).alias("user_id"),
        F2.col(ts_col).cast("timestamp").alias("ts"),
    ).withColumn("ts_sec", F2.col("ts").cast("long"))
    if emit_timeouts:
        keyed = keyed.withWatermark("ts", watermark)
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    else:
        timeout_conf = GroupStateTimeout.NoTimeout
    return (
        keyed.groupBy("user_id")
        .applyInPandasWithState(func, out_schema, state_schema,
                                "append", timeout_conf)
    )


def windowed_event_counts(events_stream: DataFrame,
                          watermark: str = "1 hour",
                          window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream —
    late rows beyond the watermark are dropped, state is bounded."""
    return (
        # watermarks require TIMESTAMP (with timezone); parquet event data
        # often arrives as TIMESTAMP_NTZ
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )
