"""Message-log writer: partitioned parquet, the Cassandra replacement.

Layout: ``partitionBy(stream_id, partition, bucket)`` — directory
partitioning replaces the reference's Cassandra partition key
`(stream_id, partition, bucket_id)` (src/storage/Storage.ts:109-110) and
its hand-rolled batch machinery (src/storage/BatchManager.ts:44-157):
micro-batch triggers + task retries subsume batching/retry; the derivable
bucket column subsumes BucketManager entirely.

Scale notes: at 100 TB the partition count is
|streams| x |partitions| x |buckets| — keep bucket_ms large enough that a
partition holds >= ~128 MB (the reference's own bucket target is 100 MB,
src/storage/BucketManager.ts:50).  Files within a partition are written
sorted by the clustering key so parquet row-group min/max stats make
(ts, sequence_no) range scans skip pages, mirroring Cassandra clustering
order (src/storage/Storage.ts:111).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from broker_spark.operators.retention import escape_path_name
from broker_spark.schema import (
    DEFAULT_BUCKET_MS,
    ORDERING_COLUMNS,
    PARTITION_COLUMNS,
    STREAM_LOG_SCHEMA,
    with_bucket,
)

#: Spark's conditions for a location nothing has been written to yet: the
#: path does not exist, or its tree holds no data files (e.g. retention
#: dropped every bucket).
_NOTHING_WRITTEN = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

#: The partition columns a log's directories name, as Spark prints them.
_LOG_PARTITIONS = StructType([STREAM_LOG_SCHEMA[c] for c in PARTITION_COLUMNS]).simpleString()


def write_stream_data(
    df: DataFrame,
    path: str,
    bucket_ms: int = DEFAULT_BUCKET_MS,
    mode: str = "append",
) -> None:
    """Append messages to the log at `path`.

    sortWithinPartitions on the clustering key => parquet stats are tight,
    so resend range scans skip row groups (the Spark analog of Cassandra
    clustering-order reads, src/storage/Storage.ts:111).
    """
    out = with_bucket(df, bucket_ms=bucket_ms)
    (
        out.sortWithinPartitions(*PARTITION_COLUMNS, *ORDERING_COLUMNS)
        .write.mode(mode)
        .partitionBy(*PARTITION_COLUMNS)
        .parquet(path)
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    predicate: str | None = None,
    max_records_per_file: int = 500_000,
) -> None:
    """Maintenance job: rewrite (a subset of) the log's partitions with
    right-sized files.

    Streaming micro-batches leave one small file per trigger per open
    partition; at 100 TB the small-file problem dominates scan cost.  This
    reads the affected partitions (directory-pruned via `predicate`, e.g.
    "bucket < 475000"), re-sorts on the clustering key, and atomically
    replaces ONLY those partitions (dynamic partition overwrite).  The cap
    mirrors the reference's 500k-records bucket target
    (src/storage/BucketManager.ts:51).  Run it on closed (past) buckets so
    it never races the live writer.
    """
    # merged, so a column the envelope gained survives the rewrite
    df = read_stream_data(spark, path, merge_schema=True)
    if predicate is not None:
        df = df.filter(predicate)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.repartition(*PARTITION_COLUMNS)
            .sortWithinPartitions(*PARTITION_COLUMNS, *ORDERING_COLUMNS)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy(*PARTITION_COLUMNS)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def plan_compaction_groups(
    counts: DataFrame,
    key_cols: list[str],
    order_col: str,
    count_col: str,
    target_records: int,
) -> DataFrame:
    """The PLANNING half of compaction: assign each small unit (bucket /
    file) to an output group so every group holds ~`target_records` rows.

    Greedy in-order bin packing: within each (key_cols) partition, units
    are taken in `order_col` order and a unit joins group
    floor(records_before_it / target) — so groups respect the clustering
    order (merged files stay range-disjoint on the sort key, preserving
    min/max pruning) and every group except the last is >= target once
    closed.  This is the same decision `compact_partitions` makes
    implicitly via maxRecordsPerFile; materializing it as a plan lets an
    orchestrator schedule/parallelize rewrites per group and skip
    already-right-sized partitions.

    One window over (keys, order) — a single shuffle on key_cols, state
    per row O(1).  At 100 TB the input here is bucket METADATA (one row
    per bucket, ~millions of rows for billions of events), not data."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    records_before = F.coalesce(F.sum(count_col).over(w), F.lit(0))
    # integer division (not double floor) so a partition whose cumulative
    # count exceeds 2^53 records still groups exactly, matching the
    # oracle's // to the last row
    return (
        counts.withColumn("_records_before", records_before)
        .withColumn(
            "group_id",
            F.expr(f"_records_before div {int(target_records)}").cast("long"),
        )
        .drop("_records_before")
    )


def read_stream_data(
    spark: SparkSession,
    path: str,
    merge_schema: bool = False,
    stream_id: str | None = None,
    partition: int | None = None,
) -> DataFrame:
    """Open the message log; partition columns come back from directory
    names, so filters on (stream_id, partition, bucket) prune directories
    before any file is opened — the two-level bucket-index lookup
    (src/storage/BucketManager.ts:228-264) for free.

    Given `stream_id` and `partition`, only that stream-partition's
    directory is listed (`basePath` stays the log root, so the frame keeps
    every partition column): the reference's one-partition-key read
    (src/storage/Storage.ts:109-112), whose cost does not grow with the
    rest of the log.  A stream-partition with no directory raises
    `PATH_NOT_FOUND`, like a missing log.

    The log is read with its fixed schema (`STREAM_LOG_SCHEMA`), never
    an inferred one: opening lists files but reads no footer and runs no
    job, a log with no data files reads as empty, and a partition value
    that looks numeric stays what was written (inference would turn
    stream ids `007` and `7` into the one int 7).  A missing path raises
    `PATH_NOT_FOUND`; data files outside the stream_id=/partition=/
    bucket= directories raise ValueError.

    `merge_schema=True` unions the schemas of all parquet footers, so a
    log whose envelope gained columns over its lifetime (the Cassandra
    ALTER TABLE analog) reads as one frame with nulls for the old files'
    missing columns; the envelope and partition columns keep their fixed
    types.  Off by default: schema merging reads every footer, which
    matters at millions of files — flip it only after an envelope
    migration, then compact to rewrite old partitions at the new schema."""
    schema = STREAM_LOG_SCHEMA
    if merge_schema:
        merged = if_written(lambda: spark.read.option("mergeSchema", "true").parquet(path))
        if merged is not None:
            extra = [f for f in merged.schema.fields if f.name not in schema.fieldNames()]
            schema = StructType(schema.fields + extra)
    reader = spark.read.schema(schema)
    if stream_id is None:
        df = reader.parquet(path)
    else:
        where = f"{path}/stream_id={escape_path_name(stream_id)}/partition={partition}"
        df = reader.option("basePath", path).parquet(where)
    relation = df._jdf.queryExecution().analyzed().relation()
    if (
        relation.partitionSchema().simpleString() != _LOG_PARTITIONS
        and relation.sizeInBytes() > 0
    ):
        raise ValueError(
            f"{path} is not a message log: its data files are not all under "
            "stream_id=/partition=/bucket= directories"
        )
    return df


def if_written(read: Callable[[], DataFrame]) -> DataFrame | None:
    """`read()`, or None when it fails only because nothing has been
    written there yet.  Every other failure (an unreadable file, a
    filesystem error) raises: an empty answer must mean an empty log."""
    try:
        return read()
    except AnalysisException as e:
        if e.getCondition() in _NOTHING_WRITTEN:
            return None
        raise
