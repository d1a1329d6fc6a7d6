"""Streaming maintenance of the bucket-index summary table (A8).

The reference UPSERTs running (records, size) counters per bucket every
500 ms (src/storage/BucketManager.ts:325-344) so metadata queries never
scan data (src/storage/Storage.ts:520-576).  The Spark analog: a
foreachBatch hook that folds each micro-batch into a small summary
parquet table with the one summary rollup (`operators.metadata.summarize`)
— the stored summary and the batch's one-message rows merge in a single
aggregation.  At 100 TB the summary is what count/bytes/first/last read —
a few rows per (stream, partition, bucket), not the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from broker_spark.operators.metadata import BUCKET_KEYS, message_rows, summarize
from broker_spark.schema import DEFAULT_BUCKET_MS, with_bucket
from broker_spark.storage.writer import if_written


def foreach_batch_bucket_index(summary_path: str, bucket_ms: int = DEFAULT_BUCKET_MS):
    """foreachBatch hook maintaining the summary at `summary_path`.

    The summary is tiny (one row per open bucket), so read-merge-overwrite
    per micro-batch is O(summary), not O(log).  Exactly-once caveat: a
    replayed batch double-counts; in production pair this with Delta MERGE
    keyed on (batch_id) or recompute-on-read (operators.metadata.
    bucket_index) when exactness matters.
    """

    def _run(batch: DataFrame, _batch_id: int) -> None:
        rows = message_rows(with_bucket(batch, bucket_ms=bucket_ms))
        existing = if_written(lambda: batch.sparkSession.read.parquet(summary_path))
        if existing is not None:  # None on the first batch: no summary yet
            rows = existing.unionByName(rows)
        merged = summarize(rows, *BUCKET_KEYS)
        # localCheckpoint breaks lineage so the overwrite doesn't read its
        # own output mid-write.
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(summary_path)

    return _run
