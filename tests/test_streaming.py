"""Streaming ingest pipeline tests (M3): validation guards, partition
assignment, checkpointed write into the partitioned log, windowed rates."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from broker_spark.operators import resend, retention
from broker_spark.storage.store import Storage
from broker_spark.storage.writer import compact_partitions
from broker_spark.streaming import ingest
from tests.conftest import make_msg

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int, "
    "publisher_id string, msg_chain_id string, prev_ts timestamp, "
    "prev_sequence_no int, signature_type int, signature string, "
    "encryption_type int, content string"
)


def _now_ms() -> int:
    return int(dt.datetime.now(dt.timezone.utc).timestamp() * 1000)


class TestValidation:
    def test_future_messages_dropped(self, spark):
        # broker-drops-future-messages.test.ts — +300s threshold
        now = _now_ms()
        rows = [
            make_msg("s", 0, now, 0),
            make_msg("s", 0, now + 200_000, 1),   # within threshold
            make_msg("s", 0, now + 400_000, 2),   # beyond +300s -> dropped
        ]
        df = spark.createDataFrame(rows, ENVELOPE)
        out = ingest.validate(df).collect()
        assert sorted(r["sequence_no"] for r in out) == [0, 1]

    def test_invalid_json_dropped(self, spark):
        # Publisher.ts:45-46 / broker-resistance-to-invalid-data.test.ts
        now = _now_ms()
        rows = [
            make_msg("s", 0, now, 0, content='{"ok":1}'),
            make_msg("s", 0, now, 1, content="not json {{"),
            make_msg("s", 0, now, 2, content="[1,2,3]"),
        ]
        df = spark.createDataFrame(rows, ENVELOPE)
        out = ingest.validate(df).collect()
        assert sorted(r["sequence_no"] for r in out) == [0, 2]


class TestPartitionAssignment:
    def test_keyed_assignment_matches_reference(self, spark):
        df = spark.createDataFrame([(f"key-{i}",) for i in range(10)], ["partition_key"])
        out = ingest.assign_partition(df, 10).collect()
        assert [r["partition"] for r in out] == [6, 7, 4, 4, 9, 1, 8, 0, 6, 6]


class TestStreamingWrite:
    def test_ingest_round_trip(self, spark, tmp_path):
        """file-source stream → validate → partitioned sink → resend query."""
        src_dir, out_dir, ckpt = (
            str(tmp_path / "src"),
            str(tmp_path / "log"),
            str(tmp_path / "ckpt"),
        )
        now = _now_ms()
        rows = [make_msg("live", 0, now - 10_000 + i * 100, i % 3) for i in range(300)]
        rows.append(make_msg("live", 0, now + 999_000, 0))  # future -> dropped
        rows.append(make_msg("live", 0, now, 7, content="broken{"))  # bad JSON
        spark.createDataFrame(rows, ENVELOPE).write.mode("overwrite").parquet(src_dir)

        source = spark.readStream.schema(ENVELOPE).parquet(src_dir)
        q = ingest.start_ingest(
            source, Storage(spark, out_dir, bucket_ms=1000), ckpt,
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        stored = spark.read.parquet(out_dir)
        assert stored.count() == 300  # 2 invalid rows dropped

        got = resend.request_last(stored, "live", 0, 5, bucket_ms=1000).collect()
        assert len(got) == 5
        ts_seq = [(r["ts"], r["sequence_no"]) for r in got]
        assert ts_seq == sorted(ts_seq)

    def test_exactly_once_on_restart(self, spark, tmp_path):
        """Re-running with the same checkpoint must not duplicate rows."""
        src_dir, out_dir, ckpt = (
            str(tmp_path / "src"),
            str(tmp_path / "log"),
            str(tmp_path / "ckpt"),
        )
        now = _now_ms()
        rows = [make_msg("s", 0, now - 5000 + i, 0) for i in range(50)]
        spark.createDataFrame(rows, ENVELOPE).write.mode("overwrite").parquet(src_dir)
        for _ in range(2):
            source = spark.readStream.schema(ENVELOPE).parquet(src_dir)
            q = ingest.start_ingest(
                source, Storage(spark, out_dir), ckpt, trigger_available_now=True
            )
            q.awaitTermination(120)
        assert spark.read.parquet(out_dir).count() == 50


class TestIngestedLogIsAStorageLog:
    """A log first written by `start_ingest` is an ordinary `Storage` log:
    the gateway's writes, compaction and retention all act on it.  One
    message per 10 s bucket: 5 ingested, then 3 committed by `store`."""

    @pytest.fixture()
    def log(self, spark, tmp_path):
        """(storage, ts of the first message, which opens its bucket)"""
        src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
        st = Storage(spark, str(tmp_path / "log"), bucket_ms=10_000)
        base = (_now_ms() - 120_000) // 10_000 * 10_000
        rows = [make_msg("s", 0, base + i * 10_000, 0) for i in range(8)]
        spark.createDataFrame(rows[:5], ENVELOPE).write.parquet(src)
        q = ingest.start_ingest(
            spark.readStream.schema(ENVELOPE).parquet(src), st, ckpt,
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        st.store(spark.createDataFrame(rows[5:], ENVELOPE))
        return st, base

    def test_store_rows_are_served(self, log):
        st, _ = log
        assert st.request_last("s", 0, 100).count() == 8
        assert st.partition_metadata("s", 0)["totalMessages"] == 8

    def test_compaction_keeps_every_row(self, spark, log):
        st, _ = log
        compact_partitions(spark, st.path)
        assert st.request_last("s", 0, 100).count() == 8

    def test_retention_drop_keeps_the_rest(self, spark, log):
        st, base = log
        first = spark.createDataFrame(
            [("s", 0, base // 10_000)], "stream_id string, partition int, bucket long"
        )
        assert len(retention.drop_expired_partitions(spark, st.path, first)) == 1
        got = st.request_last("s", 0, 100).collect()
        assert [int(r["ts"].timestamp() * 1000) for r in got] == [
            base + i * 10_000 for i in range(1, 8)
        ]


class TestWindowedRates:
    def test_windowed_rates_streaming_watermark(self, spark, tmp_path):
        """Real streaming run: append mode only emits a window once the
        watermark passes it — the first trigger's windows flush after the
        second trigger's newer data advances the watermark."""
        src, sink, ckpt = (
            str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
        )
        base = 1_700_000_040_000  # minute-aligned epoch -> exact windows

        def run():
            q = (
                ingest.windowed_rates(
                    spark.readStream.schema(ENVELOPE).parquet(src),
                    window="1 minute",
                    watermark="2 minutes",
                )
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        rows = [make_msg("w", 0, base + i * 1000, 0) for i in range(120)]  # 2 windows
        spark.createDataFrame(rows, ENVELOPE).write.mode("append").parquet(src)
        run()
        # watermark still at base+119s after trigger 1 -> nothing final yet;
        # push it past both windows with a much later message
        spark.createDataFrame(
            [make_msg("w", 0, base + 600_000, 0)], ENVELOPE
        ).write.mode("append").parquet(src)
        run()
        got = {
            r["window_start"]: r["n_messages"]
            for r in spark.read.parquet(sink).collect()
        }
        assert sorted(got.values()) == [60, 60]
        assert len(got) == 2

    def test_session_rollup_streaming(self, spark, tmp_path):
        """W5 via native session_window: two bursts of the same publisher
        separated by more than the gap close as two sessions once the
        watermark passes."""
        src, sink, ckpt = (
            str(tmp_path / "s-src"), str(tmp_path / "s-sink"), str(tmp_path / "s-ckpt")
        )
        base = 1_700_000_040_000

        def run():
            q = (
                ingest.session_rollup(
                    spark.readStream.schema(ENVELOPE).parquet(src),
                    gap="30 seconds",
                    watermark="1 minute",
                )
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        # burst 1: 5 msgs 10 s apart; burst 2: 90 s later (gap 30 s splits)
        rows = [make_msg("s", 0, base + i * 10_000, 0) for i in range(5)]
        rows += [make_msg("s", 0, base + 130_000 + i * 10_000, 0) for i in range(3)]
        spark.createDataFrame(rows, ENVELOPE).write.mode("append").parquet(src)
        run()
        # advance the watermark far past both sessions
        spark.createDataFrame(
            [make_msg("s", 0, base + 900_000, 0)], ENVELOPE
        ).write.mode("append").parquet(src)
        run()
        sessions = sorted(
            (r["session_start"], r["n_messages"])
            for r in spark.read.parquet(sink).collect()
        )
        assert [n for _, n in sessions] == [5, 3]

    def test_windowed_rates_batch_semantics(self, spark):
        """The aggregation itself, verified on a batch frame (streaming and
        batch share the same logical plan)."""
        rows = [make_msg("a", 0, t * 1000, 0) for t in range(0, 120)] + [
            make_msg("b", 0, t * 1000, 0) for t in range(0, 60)
        ]
        df = spark.createDataFrame(rows, ENVELOPE)
        out = ingest.windowed_rates(df, window="1 minute").collect()
        per_stream = {}
        for r in out:
            per_stream.setdefault(r["stream_id"], 0)
            per_stream[r["stream_id"]] += r["n_messages"]
        assert per_stream == {"a": 120, "b": 60}
        a_windows = [r for r in out if r["stream_id"] == "a"]
        assert len(a_windows) == 2  # two 1-minute windows
        assert all(r["n_bytes"] == r["n_messages"] * len('{"hello":"world"}') for r in out)


def test_ingest_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """Crash-recovery contract: re-running ingest over the SAME source +
    checkpoint re-processes nothing (no duplicate rows in the log), and a
    restart after new data arrives picks up exactly the new files — the
    checkpoint + idempotent-file-commit replacement for the reference's
    1000-retry batch machinery (src/storage/BatchManager.ts:47)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from broker_spark.streaming import ingest
    from tests.conftest import make_msg

    src, log, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "log"), str(tmp_path / "ckpt"),
    )
    now = int(dt.datetime.now(dt.timezone.utc).timestamp() * 1000)
    base = now - 60_000

    def run_once():
        q = ingest.start_ingest(
            spark.readStream.schema(ENVELOPE).parquet(src),
            Storage(spark, log, bucket_ms=10_000), ckpt, trigger_available_now=True,
        )
        q.awaitTermination(120)

    rows1 = [make_msg("rcv", 0, base + i * 100, i) for i in range(50)]
    spark.createDataFrame(rows1, ENVELOPE).write.mode("append").parquet(src)
    run_once()
    assert spark.read.parquet(log).count() == 50

    # "crash" and restart with NO new input: the checkpoint replays nothing
    run_once()
    assert spark.read.parquet(log).count() == 50

    # new batch after restart: exactly the 20 new rows are appended
    rows2 = [make_msg("rcv", 0, base + 10_000 + i * 100, i) for i in range(20)]
    spark.createDataFrame(rows2, ENVELOPE).write.mode("append").parquet(src)
    run_once()
    log_df = spark.read.parquet(log)
    assert log_df.count() == 70
    # no duplicate message ids anywhere in the log
    key = ["stream_id", "partition", "ts", "sequence_no", "publisher_id"]
    assert log_df.select(*key).distinct().count() == 70


def test_replayed_batch_is_stored_once(spark, tmp_path):
    """A batch the checkpoint replays (its commit record lost in a crash)
    is committed again through `store_idempotent`, which stores nothing
    twice; and the log carries no file-sink `_spark_metadata` index."""
    import os
    import shutil

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    st = Storage(spark, str(tmp_path / "log"), bucket_ms=10_000)
    base = _now_ms() - 60_000
    rows = [make_msg("rpl", 0, base + i * 1000, i) for i in range(50)]
    spark.createDataFrame(rows, ENVELOPE).write.parquet(src)

    def run():
        q = ingest.start_ingest(
            spark.readStream.schema(ENVELOPE).parquet(src), st, ckpt,
            trigger_available_now=True,
        )
        q.awaitTermination(120)

    run()
    shutil.rmtree(os.path.join(ckpt, "commits"))  # batch 0 ran, its commit is lost
    run()  # replays batch 0 from its logged offsets
    got = st.request_last("rpl", 0, 100).collect()
    assert sorted(r["sequence_no"] for r in got) == list(range(50))
    assert not any("_spark_metadata" in dirs for _, dirs, _ in os.walk(st.path))
