"""Storage facade: the reference's `Storage` class as a thin API over the
partitioned parquet log + the resend/metadata operators.

Mirrors the public surface of src/storage/Storage.ts:
requestLast / requestFrom / requestRange (101-435) — each returning a
lazily-planned DataFrame over only its own stream-partition's directory,
delivered by `stream_rows` (one job for a one-partition answer, otherwise
`toLocalIterator()`, the analog of the reference's pause/resume row
streaming at 412-435) — and the metadata numbers (first/last message ts,
message count, total bytes, 452-576).

Stream ids are stored as directory names (`stream_id=<escaped id>`), so
any string round-trips unchanged: `/`, `:`, `%`, `=`, spaces, quotes,
unicode, and ids that look numeric.  The one exception is the literal
`__HIVE_DEFAULT_PARTITION__`, Spark's directory name for a NULL partition
value: its messages read back with a NULL stream id.

Metadata is one rollup (`operators.metadata.summarize`) with two sources:
the maintained bucket summary when `summary_path` can be read, otherwise
the log read as one-message summary rows.  Storage only picks the source.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broker_spark.operators import metadata, resend
from broker_spark.schema import (
    DEFAULT_BUCKET_MS,
    MESSAGE_ID_COLUMNS,
    PARTITION_COLUMNS,
    STREAM_LOG_SCHEMA,
    with_bucket,
)
from broker_spark.storage.writer import if_written, read_stream_data, write_stream_data


class Storage:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_ms: int = DEFAULT_BUCKET_MS,
        summary_path: str | None = None,
    ) -> None:
        """`summary_path`: optional bucket-index summary table maintained by
        `streaming.maintenance.foreach_batch_bucket_index`.  When it can be
        read, metadata queries roll up the summary (a few rows per bucket)
        instead of the log — the reference's bucket-counter strategy
        (src/storage/Storage.ts:520-576), and the only sane answer at
        100 TB."""
        self.spark = spark
        self.path = path
        self.bucket_ms = bucket_ms
        self.summary_path = summary_path

    # -- write path ---------------------------------------------------------
    def store(self, df: DataFrame) -> None:
        """Append a batch of messages (src/storage/Storage.ts:65-99; the
        bucket/batch machinery is subsumed by derivable partitions)."""
        write_stream_data(df, self.path, bucket_ms=self.bucket_ms)

    def store_idempotent(self, df: DataFrame) -> None:
        """Append with primary-key dedup — Cassandra INSERT semantics
        (re-publishing a message id is a no-op, src/storage/
        BatchManager.ts:8-10 primary key).  Streaming ingest commits every
        micro-batch through it, so a replayed batch stores nothing.

        Parquet append would duplicate, so: dedup within the batch, then
        anti-join against the stored ids of only the streams, partitions
        and buckets the batch touches — directory-pruned, so the read side
        is proportional to the buckets being written, never the log (a
        batch whose stream-partitions touch different buckets also reads
        the existing directories of their cross product).  Concurrent
        writers to the same bucket still need a table-format transaction
        (Delta/Iceberg) — single-writer-per-partition is this layout's
        contract, as in the reference.
        """
        incoming = with_bucket(df, bucket_ms=self.bucket_ms).dropDuplicates(
            MESSAGE_ID_COLUMNS
        )
        touched = incoming.select(*PARTITION_COLUMNS).distinct().collect()
        scope = F.lit(True)
        # one flat IN list per column: an OR term per directory overflows
        # the JVM stack at ~1000 directories
        for c in PARTITION_COLUMNS:
            scope &= F.col(c).isin(list({r[c] for r in touched}))
        stored = self._log().filter(scope).select(*MESSAGE_ID_COLUMNS)
        fresh = incoming.join(stored, MESSAGE_ID_COLUMNS, "left_anti")
        write_stream_data(fresh, self.path, bucket_ms=self.bucket_ms)

    # -- read path ----------------------------------------------------------
    def _written_log(self) -> DataFrame | None:
        """The message log, or None when nothing has been written to it."""
        return if_written(lambda: read_stream_data(self.spark, self.path))

    def _log(self) -> DataFrame:
        """The message log; a log with nothing written reads as an empty
        frame (a fresh broker answers resends with NoResend, it doesn't
        500 — cf. the reference's empty-result tests, Storage.test.ts:
        95-121).  Any other read failure raises."""
        log = self._written_log()
        if log is not None:
            return log
        return self.spark.createDataFrame([], STREAM_LOG_SCHEMA)

    def _partition_log(self, stream_id: str, partition: int) -> DataFrame:
        """The log opened at one stream-partition's directory, listed afresh
        on every call so each read sees every commit made before it.  A
        stream-partition with no directory yet falls back to the whole-log
        open: empty on a written log, and whatever `_log` answers on an
        unwritten or unreadable one."""
        log = if_written(
            lambda: read_stream_data(
                self.spark, self.path, stream_id=stream_id, partition=partition
            )
        )
        return self._log() if log is None else log

    def _ordered_source(self, stream_id: str, partition: int) -> DataFrame:
        """The source of a `from`/`range` answer.  When the stream-partition's
        files fit one split (`spark.sql.files.maxPartitionBytes`), it is
        read as one partition, so the answer's ordering is a sort within
        that partition: one job, no range-partitioning sample.  Larger
        stream-partitions keep the range-partitioned sort, which
        `stream_rows` delivers a partition at a time."""
        log = self._partition_log(stream_id, partition)
        size = int(log._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        return log.coalesce(1) if size <= split else log

    def request_last(self, stream_id: str, partition: int, n: int) -> DataFrame:
        return resend.request_last(
            self._partition_log(stream_id, partition),
            stream_id,
            partition,
            n,
            bucket_ms=self.bucket_ms,
        )

    def request_from(
        self,
        stream_id: str,
        partition: int,
        from_ms: int,
        from_seq: int = 0,
        publisher_id: str | None = None,
        msg_chain_id: str | None = None,
    ) -> DataFrame:
        return resend.request_from(
            self._ordered_source(stream_id, partition),
            stream_id,
            partition,
            from_ms,
            from_seq,
            publisher_id,
            msg_chain_id,
            bucket_ms=self.bucket_ms,
        )

    def request_range(
        self,
        stream_id: str,
        partition: int,
        from_ms: int,
        from_seq: int,
        to_ms: int,
        to_seq: int,
        publisher_id: str | None = None,
        msg_chain_id: str | None = None,
    ) -> DataFrame:
        return resend.request_range(
            self._ordered_source(stream_id, partition),
            stream_id,
            partition,
            from_ms,
            from_seq,
            to_ms,
            to_seq,
            publisher_id,
            msg_chain_id,
            bucket_ms=self.bucket_ms,
        )

    # -- delivery (W6 backpressure analog) ----------------------------------
    def stream_rows(self, df: DataFrame) -> Iterator:
        """The answer's rows.  A frame whose physical plan has one output
        partition (every `last`, and `from`/`range` over a stream-partition
        that fits one split) is collected in one job.  Any other is
        streamed with `toLocalIterator`, one partition in driver memory at
        a time — the engine-side equivalent of the reference's
        pause/resume streaming (src/storage/Storage.ts:418-429)."""
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # its current plan, exchanges included
        if plan.outputPartitioning().numPartitions() == 1:
            return iter(df.collect())
        return df.toLocalIterator(prefetchPartitions=True)

    # -- metadata (src/http/DataMetadataEndpoints.ts:21-26) -----------------
    def _summary_rows(self, open_log: Callable[[], DataFrame]) -> DataFrame:
        """The rollup's source: the maintained summary when `summary_path`
        can be read, otherwise the one-message summary rows (bucketed by
        the log's own `bucket` partition column) of `open_log()`."""
        if self.summary_path is not None:
            summary = if_written(lambda: self.spark.read.parquet(self.summary_path))
            if summary is not None:
                return summary
        return metadata.message_rows(open_log())

    def bucket_index(self) -> DataFrame:
        """One summary row per (stream, partition, bucket)."""
        return metadata.summarize(self._summary_rows(self._log), *metadata.BUCKET_KEYS)

    def partition_summary(self, stream_id: str, partition: int) -> DataFrame:
        """One row: the summary of one stream-partition — the frame behind
        `partition_metadata`.  Without a summary it reads only that
        stream-partition's directory."""
        rows = self._summary_rows(
            lambda: self._partition_log(stream_id, partition)
        ).filter((F.col("stream_id") == stream_id) & (F.col("partition") == partition))
        return metadata.summarize(rows)

    def partition_metadata(self, stream_id: str, partition: int) -> dict:
        """The metadata-endpoint payload (src/http/DataMetadataEndpoints.ts:
        21-26) in one aggregation pass — the reference issues four queries;
        values are plain Python for JSON."""
        row = self.partition_summary(stream_id, partition).selectExpr(
            "size",
            "records",
            "unix_millis(date_create) AS first",
            "unix_millis(max_ts) AS last",
        ).collect()[0]
        return {
            "totalBytes": row["size"] or 0,
            "totalMessages": row["records"] or 0,
            "firstMessage": row["first"],
            "lastMessage": row["last"],
        }
