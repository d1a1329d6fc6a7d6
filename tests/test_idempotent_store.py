"""Primary-key write semantics: re-publishing a message id must be a
no-op (Cassandra INSERT upsert parity), batch and streaming."""

from __future__ import annotations

import datetime as dt

from broker_spark.storage.store import Storage
from tests.conftest import make_msg

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int, "
    "publisher_id string, msg_chain_id string, prev_ts timestamp, "
    "prev_sequence_no int, signature_type int, signature string, "
    "encryption_type int, content string"
)


def test_store_idempotent_skips_existing_ids(spark, tmp_path):
    st = Storage(spark, str(tmp_path / "log"), bucket_ms=1000)
    batch1 = [make_msg("s", 0, 1000 + i, 0) for i in range(5)]
    st.store_idempotent(spark.createDataFrame(batch1, ENVELOPE))
    assert st.request_last("s", 0, 100).count() == 5

    # overlap: 3 replays + 2 new
    batch2 = [make_msg("s", 0, 1002 + i, 0) for i in range(5)]
    st.store_idempotent(spark.createDataFrame(batch2, ENVELOPE))
    assert st.request_last("s", 0, 100).count() == 7

    # full replay -> no-op
    st.store_idempotent(spark.createDataFrame(batch1, ENVELOPE))
    assert st.request_last("s", 0, 100).count() == 7


def test_store_idempotent_dedups_within_batch(spark, tmp_path):
    st = Storage(spark, str(tmp_path / "log2"), bucket_ms=1000)
    rows = [make_msg("s", 0, 1000, 0)] * 3 + [make_msg("s", 0, 2000, 0)]
    st.store_idempotent(spark.createDataFrame(rows, ENVELOPE))
    assert st.request_last("s", 0, 100).count() == 2


def _scanned_files(df) -> list[str]:
    """The files the plan's parquet scans open after directory pruning."""
    plan = df._jdf.queryExecution().sparkPlan()
    leaves = plan.collectLeaves()
    files = []
    for i in range(leaves.size()):
        scan = leaves.apply(i)
        if scan.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        parts = scan.relation().location().listFiles(
            scan.partitionFilters(), scan.dataFilters()
        )
        for j in range(parts.size()):
            statuses = parts.apply(j).files()
            files += [statuses.apply(k).getPath().toString() for k in range(statuses.size())]
    return files


def test_store_idempotent_only_reads_touched_buckets(spark, tmp_path, monkeypatch):
    """The dedup read must prune to the (stream, partition, bucket)
    directories being written — not other streams' files in those buckets."""
    from broker_spark.storage import store

    st = Storage(spark, str(tmp_path / "log3"), bucket_ms=1000)
    st.store(spark.createDataFrame(
        [make_msg(sid, 0, b * 1000 + 1, 0) for b in range(20) for sid in ("s", "t")],
        ENVELOPE,
    ))
    written = []

    def spy(df, *args, **kwargs):
        written.append(df)
        write(df, *args, **kwargs)

    write = store.write_stream_data
    monkeypatch.setattr(store, "write_stream_data", spy)
    incoming = spark.createDataFrame([make_msg("s", 0, 5001, 0),  # replay, bucket 5
                                      make_msg("s", 0, 6002, 0)], ENVELOPE)
    st.store_idempotent(incoming)
    assert st.request_last("s", 0, 100).count() == 21
    assert st.request_last("t", 0, 100).count() == 20

    scanned = _scanned_files(written[0])
    assert scanned
    touched = {f"stream_id=s/partition=0/bucket={b}/" for b in (5, 6)}
    assert all(any(d in f for d in touched) for f in scanned), scanned


def test_streaming_dedup_watermark(spark, tmp_path):
    """Ids re-published within one micro-batch are stored once: ingest
    commits through `store_idempotent`, whose dedup needs no watermark."""
    from broker_spark.streaming import ingest

    src, log, ckpt = str(tmp_path / "src"), str(tmp_path / "slog"), str(tmp_path / "ckpt")
    now = int(dt.datetime.now(dt.timezone.utc).timestamp() * 1000)
    rows = [make_msg("s", 0, now - 5000 + i, 0) for i in range(10)]
    dup_rows = rows + rows[:4]  # 4 duplicates in the same batch
    spark.createDataFrame(dup_rows, ENVELOPE).write.mode("append").parquet(src)
    q = ingest.start_ingest(
        spark.readStream.schema(ENVELOPE).parquet(src), Storage(spark, log), ckpt,
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(log).count() == 10
