"""Metadata as one rollup with two sources: when a maintained bucket
summary exists, Storage rolls it up instead of the log, and the answers
equal the log-scan answers."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from broker_spark.storage.store import Storage
from broker_spark.streaming.maintenance import foreach_batch_bucket_index
from tests.conftest import make_msg

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int, "
    "publisher_id string, msg_chain_id string, prev_ts timestamp, "
    "prev_sequence_no int, signature_type int, signature string, "
    "encryption_type int, content string"
)
EMPTY = {"totalBytes": 0, "totalMessages": 0, "firstMessage": None, "lastMessage": None}


def _scan_and_summary(spark, tmp_path, batches):
    """Store each batch in a log and fold it into a summary; returns a
    scan-backed and a summary-backed Storage over the same log."""
    log, summary = str(tmp_path / "log"), str(tmp_path / "summary")
    scan_st = Storage(spark, log, bucket_ms=1000)
    hook = foreach_batch_bucket_index(summary, bucket_ms=1000)
    for batch_id, rows in enumerate(batches):
        batch = spark.createDataFrame(rows, ENVELOPE)
        if rows:
            scan_st.store(batch)
        hook(batch, batch_id)
    return scan_st, Storage(spark, log, bucket_ms=1000, summary_path=summary)


def _sorted_index(st):
    return sorted(tuple(r) for r in st.bucket_index().collect())


def test_summary_answers_match_scan(spark, tmp_path):
    rows = [make_msg("s", i % 2, 500 + i * 700, i % 3) for i in range(12)]
    scan_st, sum_st = _scan_and_summary(spark, tmp_path, [rows[:5], rows[5:]])
    for partition in (0, 1, 7):
        assert sum_st.partition_metadata("s", partition) == scan_st.partition_metadata(
            "s", partition
        )
    assert scan_st.partition_metadata("s", 0) == {
        "totalBytes": 6 * len('{"hello":"world"}'),
        "totalMessages": 6,
        "firstMessage": 500,
        "lastMessage": 500 + 10 * 700,
    }
    assert scan_st.partition_metadata("s", 7) == EMPTY
    assert _sorted_index(sum_st) == _sorted_index(scan_st)


def test_null_content_counts_without_bytes(spark, tmp_path):
    rows = [
        make_msg("s", 0, 1000, 0, content=None),
        make_msg("s", 0, 2500, 0),
        make_msg("s", 1, 3000, 0, content=None),
    ]
    scan_st, sum_st = _scan_and_summary(spark, tmp_path, [rows])
    for st in (scan_st, sum_st):
        assert st.partition_metadata("s", 0) == {
            "totalBytes": len('{"hello":"world"}'),
            "totalMessages": 2,
            "firstMessage": 1000,
            "lastMessage": 2500,
        }
        assert st.partition_metadata("s", 1) == {
            "totalBytes": 0, "totalMessages": 1, "firstMessage": 3000, "lastMessage": 3000,
        }
    assert _sorted_index(sum_st) == _sorted_index(scan_st)


def test_never_written_log_is_empty(spark, tmp_path):
    # an empty micro-batch still writes a (row-less) summary
    scan_st, sum_st = _scan_and_summary(spark, tmp_path, [[]])
    assert sum_st.partition_metadata("s", 0) == scan_st.partition_metadata("s", 0) == EMPTY
    assert sum_st.bucket_index().collect() == scan_st.bucket_index().collect() == []


def test_summary_plan_does_not_touch_log(spark, tmp_path):
    _, st = _scan_and_summary(spark, tmp_path, [[make_msg("s", 0, 1000, 0)]])
    plan = st.partition_summary("s", 0)._jdf.queryExecution().executedPlan().toString()
    # the scan must read summary columns (records), not the log (content)
    assert "records:bigint" in plan
    assert "content" not in plan and f"{tmp_path}/log" not in plan


def test_scan_plan_has_one_exchange(spark, tmp_path):
    scan_st, _ = _scan_and_summary(
        spark, tmp_path, [[make_msg("s", p, 1000 * b, 0) for p in (0, 1) for b in range(3)]]
    )
    df = scan_st.partition_summary("s", 0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "PartitionFilters" in plan
    assert df.select(F.col("records")).collect()[0][0] == 3


def test_missing_summary_falls_back_to_scan(spark, tmp_path):
    st = Storage(
        spark, str(tmp_path / "log3"), bucket_ms=1000,
        summary_path=str(tmp_path / "nonexistent"),
    )
    st.store(spark.createDataFrame([make_msg("s", 0, 1000, 0)], ENVELOPE))
    assert st.partition_metadata("s", 0)["totalMessages"] == 1
