"""Compaction maintenance job: many small files -> right-sized files,
content and ordering preserved, untouched partitions left alone."""

from __future__ import annotations

import datetime as dt
import glob
import os

from broker_spark.storage.store import Storage
from broker_spark.storage.writer import compact_partitions

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int,"
    " publisher_id string, msg_chain_id string, content string"
)


def _rows(stream, ts_list):
    return [
        (stream, 0, dt.datetime.utcfromtimestamp(ts / 1000.0), i, "p", "1", f'{{"i":{i}}}')
        for i, ts in enumerate(ts_list)
    ]


def test_compaction_merges_files_preserves_data(spark, tmp_path):
    path = str(tmp_path / "log")
    st = Storage(spark, path, bucket_ms=10_000)
    # 6 tiny appends into the same bucket -> many small files
    for k in range(6):
        st.store(spark.createDataFrame(_rows("s", [1000 + k]), ENVELOPE))
    part_dir = f"{path}/stream_id=s/partition=0/bucket=0"
    files_before = glob.glob(f"{part_dir}/*.parquet")
    assert len(files_before) >= 6

    before = [(r["ts"], r["sequence_no"]) for r in st.request_last("s", 0, 100).collect()]
    compact_partitions(spark, path)
    files_after = glob.glob(f"{part_dir}/*.parquet")
    assert len(files_after) < len(files_before)
    after = [(r["ts"], r["sequence_no"]) for r in st.request_last("s", 0, 100).collect()]
    assert after == before


def test_compaction_predicate_leaves_other_partitions(spark, tmp_path):
    path = str(tmp_path / "log2")
    st = Storage(spark, path, bucket_ms=1_000)
    for k in range(3):
        st.store(spark.createDataFrame(_rows("a", [500 + k]), ENVELOPE))  # bucket 0
        st.store(spark.createDataFrame(_rows("b", [5500 + k]), ENVELOPE))  # bucket 5
    b_files_before = set(glob.glob(f"{path}/stream_id=b/partition=0/bucket=5/*.parquet"))
    compact_partitions(spark, path, predicate="bucket = 0")
    # stream b's partition untouched
    assert set(glob.glob(f"{path}/stream_id=b/partition=0/bucket=5/*.parquet")) == b_files_before
    # stream a compacted, data intact
    assert len(glob.glob(f"{path}/stream_id=a/partition=0/bucket=0/*.parquet")) < 3
    assert st.request_last("a", 0, 10).count() == 3
    assert st.request_last("b", 0, 10).count() == 3


def test_compaction_keeps_numeric_looking_stream_ids_apart(spark, tmp_path):
    """`007` and `7` are two streams: after compaction each message exists
    exactly once, in its own stream's directory."""
    path = str(tmp_path / "numeric-log")
    st = Storage(spark, path, bucket_ms=10_000)
    for sid, n in (("007", 3), ("7", 2)):
        for k in range(n):
            st.store(spark.createDataFrame(_rows(sid, [1000 + k]), ENVELOPE))
    compact_partitions(spark, path)
    assert sorted(d for d in os.listdir(path) if d.startswith("stream_id=")) == [
        "stream_id=007",
        "stream_id=7",
    ]
    for sid, n in (("007", 3), ("7", 2)):
        files = glob.glob(f"{path}/stream_id={sid}/partition=0/bucket=0/*.parquet")
        stored = spark.read.parquet(*files).select("ts").collect()
        assert sorted(r["ts"] for r in stored) == [
            dt.datetime.utcfromtimestamp((1000 + k) / 1000.0) for k in range(n)
        ]


def test_compaction_keeps_an_evolved_column(spark, tmp_path):
    """Compaction rewrites with the merged schema: a column only newer
    files carry survives, null for the older rows."""
    import pyspark.sql.functions as F

    from broker_spark.storage.writer import read_stream_data, write_stream_data

    path = str(tmp_path / "evo-compact")
    write_stream_data(spark.createDataFrame(_rows("s", [1000, 2000]), ENVELOPE), path)
    v2 = spark.createDataFrame(_rows("s", [3000]), ENVELOPE).withColumn(
        "trace_id", F.lit("t-1")
    )
    write_stream_data(v2, path)
    compact_partitions(spark, path)
    got = read_stream_data(spark, path, merge_schema=True).orderBy("ts").collect()
    assert [r["trace_id"] for r in got] == [None, None, "t-1"]


def test_schema_evolution_merge_schema(spark, tmp_path):
    """A log whose envelope gained a column mid-life reads as one frame
    with merge_schema=True (nulls for old files), and compaction then
    rewrites everything at the unified schema."""
    from broker_spark.storage.writer import read_stream_data, write_stream_data

    path = str(tmp_path / "evo-log")
    v1 = spark.createDataFrame(_rows("s", [1000, 2000]), ENVELOPE)
    write_stream_data(v1, path, bucket_ms=3_600_000)

    import pyspark.sql.functions as F

    v2 = spark.createDataFrame(_rows("s", [3000]), ENVELOPE).withColumn(
        "trace_id", F.lit("t-1")
    )
    write_stream_data(v2, path, bucket_ms=3_600_000)

    merged = read_stream_data(spark, path, merge_schema=True)
    assert "trace_id" in merged.columns
    got = merged.orderBy("ts").collect()
    assert [r["trace_id"] for r in got] == [None, None, "t-1"]
    # without merging, the first-listed footer wins and the column may
    # be absent — the documented default for untouched logs
    plain = read_stream_data(spark, path)
    assert plain.count() == 3
