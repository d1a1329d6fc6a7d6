"""Metadata aggregates (SURVEY §2.4 A1-A8) as one rollup.

The reference answers count/bytes/first/last from the small `bucket`
counter table, kept as running sums (`src/storage/Storage.ts:452-576`,
`src/storage/BucketManager.ts:325-344`).  That summary — `records`,
`size`, `date_create`, `max_ts` per (stream, partition, bucket) — is a
monoid (sum, sum, min, max), so it is defined once here:

- `message_rows` reads each log message as a one-message summary row;
- `summarize` merges rows of that shape, grouped by whatever keys the
  caller passes.

Every metadata answer is `summarize` over one of two sources: the log's
one-message rows, or an already-summarized table (the streaming-maintained
summary, `streaming.maintenance`).  Both sources have the same columns, so
a mix of them — a stored summary plus a new micro-batch — merges the same
way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from broker_spark.schema import DEFAULT_BUCKET_MS, with_bucket

#: The summary table's grain — one row per (stream, partition, bucket).
BUCKET_KEYS = ("stream_id", "partition", "bucket")


def message_rows(df: DataFrame) -> DataFrame:
    """Each message of a bucketed frame (the log, or `schema.with_bucket`
    output) as a one-message summary row: `records = 1`,
    `size = octet_length(content)`, `date_create = max_ts = ts`.

    Built as one SQL parse: metadata requests build this per call, and a
    Column per field costs a Py4J round-trip each."""
    return df.selectExpr(
        "stream_id",
        "partition",
        "bucket",
        "1L AS records",
        "CAST(octet_length(content) AS BIGINT) AS size",
        "ts AS date_create",
        "ts AS max_ts",
    )


def summarize(rows: DataFrame, *keys: str) -> DataFrame:
    """The summary rollup over `message_rows`-shaped rows, grouped by `keys`
    (none: one row).  Counts and sizes add, `date_create` takes the min,
    `max_ts` the max — the reference's `records = records + ?` UPSERT as a
    groupBy.  LongType sums, so the reference's int-overflow re-sum
    (src/storage/Storage.ts:556-575) is unnecessary."""
    return rows.groupBy(*keys).agg(
        F.expr("sum(records) AS records"),
        F.expr("sum(size) AS size"),
        F.expr("min(date_create) AS date_create"),
        F.expr("max(max_ts) AS max_ts"),
    )


def bucket_index(df: DataFrame, bucket_ms: int = DEFAULT_BUCKET_MS) -> DataFrame:
    """A8: the `bucket` summary table of a log, derived instead of
    hand-maintained (reference columns `stream_id, partition, date_create,
    id, records, size`, src/storage/BucketManager.ts:232,302,325-344)."""
    return summarize(message_rows(with_bucket(df, bucket_ms=bucket_ms)), *BUCKET_KEYS)


def distinct_stream_partitions(df: DataFrame) -> DataFrame:
    """A7: `SELECT DISTINCT stream_id, partition`
    (src/storage/DeleteExpiredCmd.ts:73)."""
    return df.select("stream_id", "partition").distinct()
