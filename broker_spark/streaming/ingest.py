"""Structured Streaming ingest: the publish→store write path (M3).

Reference flow (SURVEY §3.3): WS/HTTP/MQTT adapters build a StreamMessage,
validate it (future-ts guard src/Publisher.ts:5-9,34-41; JSON-parse check
src/Publisher.ts:45-46), assign a partition from the partition key
(src/helpers/partition.ts), then batch-append to Cassandra buckets
(src/storage/BatchManager.ts).

Spark-first: one `readStream` per ingest topic -> the SAME validation
filters as column expressions -> `foreachBatch` into `Storage.store_idempotent`,
the one writer of the partitioned log (the same call the gateway's spool
retries through).  Micro-batch triggers subsume the reference's hand-rolled
size/time batch flushes; checkpoint + idempotent store subsume its retry
loop; derivable buckets subsume BucketManager (late rows just land in old
partitions — W2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from broker_spark.functions.partitioner import keyed_partition
from broker_spark.storage.store import Storage

# Reference rejects messages more than +300 s in the future
# (src/Publisher.ts:5-9) and non-storage nodes TTL at 3 days
# (src/storage/BatchManager.ts:12-14).
FUTURE_THRESHOLD_SECONDS = 300


def future_ts_guard(ts: Column, threshold_s: int = FUTURE_THRESHOLD_SECONDS) -> Column:
    """F7: `ts <= now + 300 s` (src/Publisher.ts:34-41)."""
    return ts <= F.current_timestamp() + F.expr(f"INTERVAL {threshold_s} SECONDS")


def json_validity_guard(content: Column) -> Column:
    """F8: content must parse as a JSON object/array (src/Publisher.ts:45-46).
    try_parse_json returns NULL on malformed input — JVM-side, no UDF."""
    return F.try_parse_json(content).isNotNull()


def validate(df: DataFrame) -> DataFrame:
    """Publish-time validation — same rejections as Publisher.validate."""
    return df.filter(future_ts_guard(F.col("ts")) & json_validity_guard(F.col("content")))


def assign_partition(df: DataFrame, partition_count: int, key_col: str = "partition_key") -> DataFrame:
    """W9: md5-keyed partition assignment, bit-exact with the reference,
    as a pure column expression (helpers/partition.ts:3-17)."""
    return df.withColumn(
        "partition", keyed_partition(F.col(key_col), partition_count)
    ).drop(key_col)


def start_ingest(
    source: DataFrame,
    storage: Storage,
    checkpoint: str,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Validated, checkpointed ingest into `storage`'s message log.

    `source` must already have the envelope columns (an adapter layer maps
    WS/HTTP/MQTT/Kafka payloads to them).  Validation stays in the
    streaming plan, so the future-ts guard compares against each
    micro-batch's timestamp.  Every micro-batch is committed by
    `storage.store_idempotent`, the log's one writer: a batch the
    checkpoint replays after a crash, or a message id re-published later,
    is a no-op (Cassandra's primary-key upsert, src/storage/
    BatchManager.ts:8-10) — replacing the reference's 1000-retry batch
    machinery (src/storage/BatchManager.ts:47).
    """
    writer = (
        validate(source)
        .writeStream.foreachBatch(lambda batch, _: storage.store_idempotent(batch))
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def session_rollup(
    source: DataFrame,
    gap: str = "30 seconds",
    watermark: str = "5 minutes",
) -> DataFrame:
    """W5 streaming form: gap-based session windows per (stream, publisher)
    — Spark's native `session_window` merges events closer than `gap` into
    one growing window and closes it when the watermark passes the gap, so
    session state is bounded; the batch catalog entry (`events_
    sessionization`) proves the same semantics via lag + running sum."""
    return (
        source.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap),
            F.col("stream_id"),
            F.col("publisher_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "stream_id",
            "publisher_id",
            "n_messages",
            "first_ts",
            "last_ts",
        )
    )


def streaming_user_sessions(
    source: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Gap-based per-user sessionization with the NATIVE `session_window`
    operator — the streaming twin of the batch `events_sessionization`
    catalog entry (lag + running sum).  Emits one row per closed session:
    (user_id, n_events, session_start=min ts, session_end=max ts).

    Append-mode sessions only flush once the watermark passes the
    session's window end (last event + gap), so each user's final session
    outlives any finite replay's watermark — flushing it needs a
    watermark-advancing event after the real data; see the
    `streaming_sessionization_replay` catalog entry for the two-run
    sentinel protocol."""
    return (
        source.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


def windowed_rates(
    source: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """A9/W3 streaming form: per-stream windowed message/byte rates with a
    watermark bounding state (the reference's VolumeLogger + StreamMetrics
    second-level rollup, src/VolumeLogger.ts:60-105)."""
    return (
        source.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("stream_id"))
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.sum(F.octet_length("content")).alias("n_bytes"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "stream_id",
            "n_messages",
            "n_bytes",
        )
    )
