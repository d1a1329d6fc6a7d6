"""Kafka ingest source: `format("kafka")` mapped onto the envelope.

The projection (`envelope_from_kafka`) is a pure batch/stream-agnostic
column expression over Kafka's fixed output schema (key/value binaries +
topic/partition/offset/timestamp), so it is unit-testable without a
broker; `kafka_stream` is the thin readStream wiring (spark-sql-kafka is
not in this container — the wrapper raises a clear error if the connector
jar is absent at load() time).

Payloads are newline-JSON with the reference HTTP-publish field names
(streamId/timestamp/sequenceNo/... — src/http/DataProduceEndpoints.ts
shapes); missing streamId falls back to the Kafka topic, missing ts to the
Kafka record timestamp — the same server-assigned defaulting the MQTT and
HTTP adapters apply (serving/publish.py).  Rows whose value is not valid
JSON are dropped by the same `try_parse_json` guard streaming ingest uses
(F8); everything is JVM expressions, so the hot path stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PAYLOAD_SCHEMA = (
    "streamId STRING, partition INT, timestamp LONG, sequenceNo INT, "
    "publisherId STRING, msgChainId STRING, content STRING"
)


def envelope_from_kafka(raw: DataFrame) -> DataFrame:
    """Project Kafka records onto the StreamMessage envelope.

    Works on any frame with Kafka's columns (`value` binary, `topic`,
    `timestamp`); batch and streaming alike."""
    payload = F.col("value").cast("string")
    parsed = F.from_json(payload, _PAYLOAD_SCHEMA)
    ok = F.try_parse_json(payload).isNotNull()
    return (
        raw.filter(ok)
        .select(
            parsed.alias("m"),
            F.col("topic"),
            F.col("timestamp").alias("kafka_ts"),
            payload.alias("raw_payload"),
        )
        .select(
            F.coalesce(F.col("m.streamId"), F.col("topic")).alias("stream_id"),
            F.coalesce(F.col("m.partition"), F.lit(0)).cast("int").alias("partition"),
            F.coalesce(
                F.timestamp_millis(F.col("m.timestamp")), F.col("kafka_ts")
            ).alias("ts"),
            F.coalesce(F.col("m.sequenceNo"), F.lit(0)).cast("int").alias("sequence_no"),
            F.coalesce(F.col("m.publisherId"), F.lit("")).alias("publisher_id"),
            F.coalesce(F.col("m.msgChainId"), F.lit("")).alias("msg_chain_id"),
            F.lit(None).cast("timestamp").alias("prev_ts"),
            F.lit(None).cast("int").alias("prev_sequence_no"),
            F.lit(0).alias("signature_type"),
            F.lit(None).cast("string").alias("signature"),
            F.lit(0).alias("encryption_type"),
            F.coalesce(F.col("m.content"), F.col("raw_payload")).alias("content"),
        )
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """`readStream.format("kafka")` → envelope columns (streaming frame).

    Requires the spark-sql-kafka connector on the session classpath; the
    returned frame is `streaming.ingest.start_ingest`'s `source`, so Kafka
    messages reach the log through `Storage.store_idempotent` like every
    other write (a redelivered offset range stores nothing twice)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return envelope_from_kafka(raw)
