"""Structured Streaming ingestion for the KG pipeline.

The reference is batch-only (SURVEY §2.11), so streaming semantics are ours
to define, and the natural cut is exactly what the survey proposes:
``readStream`` on the documents table + ``foreachBatch`` running the SAME
staged batch plan per micro-batch, appending to the triples table. One code
path for batch and streaming — no drift between the two.

Also included: a watermarked event-time windowed aggregation over the
`events` stream (the canonical late-data pattern — 10-minute tumbling
windows, 30-minute watermark), since production corpora arrive with
`warc_ts` event time.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

DOCUMENTS_DDL = "doc_id string, text string, lang string, source string, n_chars long"


def stream_extract_triples(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """readStream(parquet documents) -> foreachBatch(batch KG plan) ->
    append parquet triples.

    `available_now=True` drains everything currently in the source then
    stops — the test/backfill trigger; production uses processingTime.

    foreachBatch itself is only AT-LEAST-ONCE: a crash between the sink
    write and the streaming commit log replays the whole micro-batch on
    restart. Exactly-once therefore comes from making the write
    idempotent — each batch lands in its own ``batch_id=`` partition via
    dynamic partition overwrite, so a replayed batch REPLACES its own
    partition instead of appending a duplicate copy.
    """
    from dere_spark.operators.frames import frames_from_spans
    from dere_spark.operators.spans import detect_spans
    from dere_spark.operators.tokenize import tokenize
    from dere_spark.operators.triples import frames_to_triples
    from dere_spark.webtext import (
        ENTITY_ALIASES,
        GAZETTEERS,
        MAX_TOKEN_DISTANCE,
        webtext_plan,
    )

    plan = webtext_plan()

    stream = (
        spark.readStream.schema(DOCUMENTS_DDL).parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select(
            F.col("doc_id").cast("string").alias("doc_id"), "text", "lang", "source"
        )
        spans = detect_spans(tokenize(docs), GAZETTEERS)
        frames = frames_from_spans(spans, plan, MAX_TOKEN_DISTANCE)
        triples = frames_to_triples(frames, ENTITY_ALIASES)
        (
            triples.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_event_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late-data-safe).

    events_stream must carry an event-time `ts`; rows later than the
    watermark are dropped, everything else lands in its event-time window.
    """
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def _merge_sessions(items: list, gap_ms: int) -> list:
    """Gap-merge a list of (start_ms, end_ms, n) intervals, sorted by
    start: adjacent intervals closer than ``gap_ms`` fuse (start extends
    DOWNWARD when a late event precedes the open session — a plain
    ``t - end <= gap`` test would swallow arbitrarily-early events and
    never lower the recorded start). Returns the merged intervals in
    time order; all but the last are complete sessions."""
    merged: list = []
    for s, e, c in sorted(items):
        if merged and s - merged[-1][1] <= gap_ms:
            merged[-1][1] = max(merged[-1][1], e)
            merged[-1][2] += c
        else:
            merged.append([s, e, c])
    return merged


def stream_stateful_sessions(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator: per-user session aggregation
    with ``applyInPandasWithState`` (the brief's custom-stateful-operator
    pattern) — sessions close when no event arrives within ``gap_seconds``
    of the session's end (state carries the open session; the event-time
    watermark bounds state and emits timed-out sessions).

    Emits one row per CLOSED session: (user_id, session_start, session_end,
    n_events).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType, TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_ms", LongType()),
            StructField("end_ms", LongType()),
            StructField("n", IntegerType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        user_id = key[0]
        closed = []
        if state.hasTimedOut:
            start_ms, end_ms, n = state.get
            closed.append((user_id, start_ms, end_ms, n))
            state.remove()
        else:
            items: list = []
            if state.exists:
                items.append(list(state.get))
            for pdf in pdf_iter:
                for t in pd.to_datetime(pdf["ts"]):
                    v = int(t.value // 10**6)
                    items.append([v, v, 1])
            merged = _merge_sessions(items, gap_seconds * 1000)
            if merged:
                # everything but the most recent interval is gap-isolated
                # on both sides -> a complete session (late events beyond
                # the gap close immediately rather than corrupting the
                # open session's boundaries)
                closed.extend((user_id, s, e, c) for s, e, c in merged[:-1])
                start_ms, end_ms, n = merged[-1]
                state.update((start_ms, end_ms, n))
                # a very late batch can put end+gap at or before the
                # current watermark, which setTimeoutTimestamp rejects
                # (and the exception kills the query) — clamp forward
                state.setTimeoutTimestamp(
                    max(
                        end_ms + gap_seconds * 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="ms") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="ms") for c in closed],
                    "n_events": [c[3] for c in closed],
                }
            )

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_web_pages(
    spark: SparkSession,
    warc_dir: str,
    markers=None,
    max_payload_bytes: int = 8 * 1024 * 1024,
    record_types: tuple = ("response",),
) -> DataFrame:
    """Streaming WARC ingest: new archives landing under ``warc_dir``
    become page rows continuously — the continuous-crawl front door.

    Returns the STREAMING DataFrame in the BASELINE input-hint shape
    ``(url, warc_ts, html, text, lang)``; the caller attaches the sink
    (tests drain with ``trigger(availableNow=True)``; production uses the
    idempotent ``foreachBatch`` pattern above).  File-source streaming
    gives exactly-once-per-archive semantics from the checkpoint's
    processed-file log, and the parse + projection are the SAME
    ``make_parse_kernel`` / ``page_table`` code the batch reader runs —
    one ingest path, no batch/stream drift (the stream_extract_triples
    design, applied to the front door).  The kernel/marker parameters
    mirror ``web_pages_from_warc`` exactly — a deployment that raises the
    payload cap or swaps markers for backfill MUST be able to configure
    the live path identically, or batch and stream would drift in CONFIG
    even though they share code."""
    from dere_spark.operators.text import DEFAULT_MARKERS
    from dere_spark.sources.warc import (
        WARC_RECORD_SCHEMA,
        make_parse_kernel,
        page_table,
    )

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .load(warc_dir)
        .select("path", "content")
    )
    records = files.mapInPandas(
        make_parse_kernel(record_types, max_payload_bytes), WARC_RECORD_SCHEMA
    )
    return page_table(records, markers or DEFAULT_MARKERS)
