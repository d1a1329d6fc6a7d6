"""Adapters mapping the driver's `events` fixture onto the StreamMessage
envelope so the real resend/metadata operators run unmodified on it.

Mapping (mirrored literally in the DuckDB oracle SQL):
    stream_id    = event_type
    partition    = int(user_id % 8)
    ts           = ts
    sequence_no  = int(event_id)          (unique -> deterministic ordering)
    publisher_id = 'u' || user_id
    msg_chain_id = '1'
    content      = props
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: SQL fragment equivalent of events_as_stream, used by the oracle strings.
EVENTS_AS_STREAM_SQL = (
    "SELECT event_type AS stream_id, "
    "CAST(user_id % 8 AS INT) AS partition, "
    "ts, "
    "CAST(event_id AS INT) AS sequence_no, "
    "concat('u', CAST(user_id AS VARCHAR)) AS publisher_id, "
    "'1' AS msg_chain_id, "
    "props AS content "
    "FROM events"
)


def events_as_stream(events: DataFrame) -> DataFrame:
    return events.select(
        F.col("event_type").alias("stream_id"),
        (F.col("user_id") % 8).cast("int").alias("partition"),
        F.col("ts"),
        F.col("event_id").cast("int").alias("sequence_no"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("publisher_id"),
        F.lit("1").alias("msg_chain_id"),
        F.col("props").alias("content"),
    )

