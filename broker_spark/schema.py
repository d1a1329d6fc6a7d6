"""Data model: the StreamMessage envelope and the derivable time bucket.

Reference data model (see SURVEY.md §1):
- identity columns `(stream_id, partition, ts, sequence_no, publisher_id,
  msg_chain_id)` — reference `src/storage/BatchManager.ts:8-10`
- ordering key `(ts, sequence_no)` within a stream-partition —
  reference `src/storage/Storage.ts:109-112`
- causality `prevMsgRef` — reference `src/http/DataProduceEndpoints.ts:86-89`
- opaque JSON `content` — reference `src/Publisher.ts:45-46`

Unlike the reference's TimeUUID bucket ids minted by a stateful
BucketManager (`src/storage/BucketManager.ts:205`), our bucket id is a pure
function of the timestamp: ``bucket = floor(unix_millis(ts) / bucket_ms)``.
That makes it a real Hive-style partition column: late data lands in the
right partition with no retry machinery (reference
`src/storage/Storage.ts:86-97`), and time-range predicates prune partitions
automatically in Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# int32 sequence-number domain — reference src/http/DataQueryEndpoints.ts:17-18
MIN_SEQUENCE_NUMBER_VALUE = 0
MAX_SEQUENCE_NUMBER_VALUE = 2_147_483_647

# Default bucket span. The reference rolls buckets at 100 MB / 500k records
# (src/storage/BucketManager.ts:50-51); a fixed time span is the idiomatic
# Spark equivalent — 1h of a busy stream is the same order of magnitude and
# gives deterministic, derivable partition values.
DEFAULT_BUCKET_MS = 3_600_000

STREAM_MESSAGE_SCHEMA = StructType(
    [
        StructField("stream_id", StringType(), False),
        StructField("partition", IntegerType(), False),
        StructField("ts", TimestampType(), False),
        StructField("sequence_no", IntegerType(), False),
        StructField("publisher_id", StringType(), False),
        StructField("msg_chain_id", StringType(), False),
        StructField("prev_ts", TimestampType(), True),
        StructField("prev_sequence_no", IntegerType(), True),
        StructField("signature_type", IntegerType(), True),
        StructField("signature", StringType(), True),
        StructField("encryption_type", IntegerType(), True),
        StructField("content", StringType(), True),
    ]
)

#: Total-order within a stream-partition — reference src/storage/Storage.ts:111
ORDERING_COLUMNS = ["ts", "sequence_no", "publisher_id", "msg_chain_id"]

#: Message identity — the reference's Cassandra primary key
#: (src/storage/BatchManager.ts:8-10): re-inserting the same id is a no-op.
MESSAGE_ID_COLUMNS = [
    "stream_id", "partition", "ts", "sequence_no", "publisher_id", "msg_chain_id",
]

#: Physical layout partition columns (replaces the Cassandra partition key
#: `(stream_id, partition, bucket_id)` — src/storage/Storage.ts:109-110).
PARTITION_COLUMNS = ["stream_id", "partition", "bucket"]


def bucket_of(ts: Column, bucket_ms: int = DEFAULT_BUCKET_MS) -> Column:
    """Derivable bucket id: ``floor(unix_millis(ts) / bucket_ms)``.

    Replaces the reference's TimeUUID bucket minted from the first message's
    timestamp (src/storage/BucketManager.ts:205).  Because it is a pure
    function of ``ts``, any predicate on ``ts`` implies a predicate on
    ``bucket`` — see :func:`bucket_range_predicate` — which Catalyst turns
    into partition pruning (the Spark analog of the reference's bucket-index
    lookup, src/storage/BucketManager.ts:228-264).
    """
    return F.floor(F.unix_millis(ts) / F.lit(bucket_ms)).cast(LongType())


def bucket_for_millis(epoch_ms: int, bucket_ms: int = DEFAULT_BUCKET_MS) -> int:
    """Python-side bucket id for a literal epoch-ms timestamp."""
    return epoch_ms // bucket_ms


def bucket_range_predicate(
    from_ms: int | None,
    to_ms: int | None,
    bucket_ms: int = DEFAULT_BUCKET_MS,
) -> Column:
    """Partition-pruning predicate on the `bucket` column for a ts range.

    The reference resolves candidate buckets with up to three CQL queries
    plus an "explicit first bucket" lookup (src/storage/BucketManager.ts:
    228-264).  With derivable buckets this collapses to a closed-form range
    check that Catalyst prunes on.
    """
    pred = F.lit(True)
    if from_ms is not None:
        pred = pred & (F.col("bucket") >= F.lit(bucket_for_millis(from_ms, bucket_ms)))
    if to_ms is not None:
        pred = pred & (F.col("bucket") <= F.lit(bucket_for_millis(to_ms, bucket_ms)))
    return pred


def millis_ts(epoch_ms: int) -> Column:
    """TimestampType literal from epoch milliseconds (reference timestamps
    are epoch-ms — test/integration/storage/Storage.test.ts:146)."""
    return F.timestamp_millis(F.lit(epoch_ms))


def with_bucket(df, ts_col: str = "ts", bucket_ms: int = DEFAULT_BUCKET_MS):
    """Attach the derived `bucket` partition column."""
    return df.withColumn("bucket", bucket_of(F.col(ts_col), bucket_ms))
