"""Storage layout round trip: partitioned write, pruned read, metadata,
retention — the M1/M2 physical path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from broker_spark.operators import retention
from broker_spark.schema import STREAM_MESSAGE_SCHEMA
from broker_spark.storage.store import Storage
from tests.conftest import ids, make_msg


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_data") / "log")
    st = Storage(spark, path, bucket_ms=1000)  # forced small buckets, like
    # the reference's maxBucketRecords=20 trick (Storage.test.ts:13,81)
    rows = [
        make_msg("s1", 0, ts, seq, f"pub{seq % 2}")
        for ts in range(0, 10_000, 500)
        for seq in (0, 1)
    ] + [make_msg("s2", 3, 5_000, 0, content='{"other":1}')]
    st.store(spark.createDataFrame(rows, STREAM_MESSAGE_SCHEMA))
    return st


def test_round_trip_and_order(store):
    out = store.request_range("s1", 0, 1000, 0, 3000, 1).collect()
    got = ids(out)
    assert got == sorted(got)
    assert len(got) == 10  # ts 1000,1500,2000,2500,3000 x seq {0,1}
    assert all(1000 <= t <= 3000 for t, *_ in got)


def test_request_last_on_disk(store):
    out = store.request_last("s1", 0, 4)
    got = ids(out.collect())
    assert got == [(9000, 0, "pub0", "1"), (9000, 1, "pub1", "1"),
                   (9500, 0, "pub0", "1"), (9500, 1, "pub1", "1")]


def test_partition_pruning_in_plan(store):
    """The bucket predicate must reach the scan as partition filters —
    the Spark analog of the reference's bucket-index lookup (S6)."""
    df = store.request_range("s1", 0, 2000, 0, 2999, 0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # bucket_ms=1000 → buckets 2..2 for [2000, 2999]
    assert "bucket" in plan


def test_metadata_aggregates(store):
    assert store.partition_metadata("s1", 0) == {
        "totalBytes": 40 * len('{"hello":"world"}'),
        "totalMessages": 40,
        "firstMessage": 0,
        "lastMessage": 9500,
    }


def test_bucket_index_counters(store):
    idx = store.bucket_index().filter(F.col("stream_id") == "s1").collect()
    # 10s of data at 500ms spacing, 1s buckets → 10 buckets × 4 rows
    assert len(idx) == 10
    assert all(r["records"] == 4 for r in idx)


def test_retention_selects_and_drops(store, spark):
    cfg = spark.createDataFrame([("s1", 365), ("s2", 365)], ["stream_id", "storage_days"])
    # cutoff = 5000ms after epoch → s1 buckets 0..4 (max_ts <= 4500) expire;
    # s1 buckets 5..9 and s2's bucket (max_ts = 5000, not < cutoff) survive
    now_ms = 365 * 86_400_000 + 5000
    expired = retention.expired_buckets(store.bucket_index(), cfg, now_ms)
    n_expired = expired.count()
    assert n_expired == 5
    removed = retention.drop_expired_partitions(spark, store.path, expired)
    assert len(removed) == n_expired
    assert store._log().count() == 40 - 20 + 1


def test_retention_respects_per_stream_config(spark):
    bidx = spark.createDataFrame(
        [("a", 0, 1, 10, 100, None, None), ("b", 0, 1, 10, 100, None, None)],
        "stream_id string, partition int, bucket long, records long, size long, date_create timestamp, max_ts timestamp",
    ).withColumn("max_ts", F.timestamp_millis(F.lit(100 * 86_400_000)))
    cfg = spark.createDataFrame([("a", 10)], ["stream_id", "storage_days"])
    # now = day 200: stream a (10d retention) expired; stream b (default 365) not
    expired = retention.expired_buckets(bidx, cfg, 200 * 86_400_000)
    assert [r["stream_id"] for r in expired.collect()] == ["a"]


def test_empty_storage_reads_gracefully(spark, tmp_path):
    """A fresh node with no log answers empty, not 500 (the reference's
    empty-result behavior, Storage.test.ts:95-121)."""
    st = Storage(spark, str(tmp_path / "never-written"))
    assert st.request_last("s", 0, 5).collect() == []
    assert st.request_from("s", 0, 0).collect() == []
    meta = st.partition_metadata("s", 0)
    assert meta["totalMessages"] == 0 and meta["firstMessage"] is None


def test_emptied_log_reads_gracefully(spark, tmp_path):
    """A log tree whose every bucket retention dropped holds no data files:
    it reads as empty, and the next idempotent write starts it afresh."""
    st = Storage(spark, str(tmp_path / "emptied"), bucket_ms=1000)
    st.store(spark.createDataFrame([make_msg("s", 0, 1000, 0)], STREAM_MESSAGE_SCHEMA))
    cfg = spark.createDataFrame([("s", 1)], ["stream_id", "storage_days"])
    expired = retention.expired_buckets(st.bucket_index(), cfg, 10 * 86_400_000)
    assert len(retention.drop_expired_partitions(spark, st.path, expired)) == 1
    assert st.request_last("s", 0, 5).collect() == []
    assert st.partition_metadata("s", 0) == {
        "totalBytes": 0, "totalMessages": 0, "firstMessage": None, "lastMessage": None,
    }
    st.store_idempotent(
        spark.createDataFrame([make_msg("s", 0, 2000, 0)], STREAM_MESSAGE_SCHEMA)
    )
    assert st.partition_metadata("s", 0)["totalMessages"] == 1


def test_unreadable_log_raises(spark, tmp_path):
    """Only a missing or file-less log is empty; a log that cannot be
    opened raises instead of answering an empty resend."""
    path = tmp_path / "unreadable"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not parquet")
    st = Storage(spark, str(path), bucket_ms=1000)
    with pytest.raises(Exception):
        st.request_last("s", 0, 5)
    with pytest.raises(Exception):
        st.partition_metadata("s", 0)
    with pytest.raises(Exception):
        st.store_idempotent(
            spark.createDataFrame([make_msg("s", 0, 1000, 0)], STREAM_MESSAGE_SCHEMA)
        )
