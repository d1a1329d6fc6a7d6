"""Rate-source envelope adapter, salted aggregation, and streaming
bucket-index maintenance."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from broker_spark.functions.skew import salted_agg
from broker_spark.operators.metadata import bucket_index
from broker_spark.schema import STREAM_MESSAGE_SCHEMA
from broker_spark.sources.rate import rate_stream, with_envelope
from broker_spark.streaming.maintenance import foreach_batch_bucket_index
from tests.conftest import make_msg

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int, "
    "publisher_id string, msg_chain_id string, prev_ts timestamp, "
    "prev_sequence_no int, signature_type int, signature string, "
    "encryption_type int, content string"
)


class TestRateSource:
    def test_streaming_frame_has_envelope_schema(self, spark):
        df = rate_stream(spark, rows_per_second=10)
        assert df.isStreaming
        assert [f.name for f in df.schema.fields] == [
            f.name for f in STREAM_MESSAGE_SCHEMA.fields
        ]

    def test_envelope_mapping_deterministic(self, spark):
        raw = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1), i) for i in range(12)], "timestamp timestamp, value long"
        )
        out = with_envelope(raw, n_streams=4, n_partitions=2).collect()
        assert [r["stream_id"] for r in out[:5]] == [
            "stream-0", "stream-1", "stream-2", "stream-3", "stream-0",
        ]
        assert all(0 <= r["partition"] < 2 for r in out)
        assert out[0]["content"] == '{"n":0}'


class TestSaltedAgg:
    def test_matches_unsalted(self, spark):
        rows = [make_msg("hot", 0, 1000 + i, i % 5) for i in range(200)] + [
            make_msg("cold", 1, 2000 + i, 0) for i in range(7)
        ]
        df = spark.createDataFrame(rows, ENVELOPE)
        got = {
            (r["stream_id"], r["partition"]): (r["records"], r["bytes"], r["max_seq"])
            for r in salted_agg(
                df,
                ["stream_id", "partition"],
                {
                    "records": ("count", F.lit(1)),
                    "bytes": ("sum", F.octet_length("content")),
                    "max_seq": ("max", F.col("sequence_no")),
                },
                n_salts=8,
            ).collect()
        }
        want = {
            (r["stream_id"], r["partition"]): (r["records"], r["bytes"], r["max_seq"])
            for r in df.groupBy("stream_id", "partition")
            .agg(
                F.count(F.lit(1)).alias("records"),
                F.sum(F.octet_length("content")).alias("bytes"),
                F.max("sequence_no").alias("max_seq"),
            )
            .collect()
        }
        assert got == want


class TestBucketIndexMaintenance:
    def test_merge_accumulates_counters(self, spark, tmp_path):
        summary = str(tmp_path / "summary")
        hook = foreach_batch_bucket_index(summary, bucket_ms=1000)
        b1 = spark.createDataFrame([make_msg("s", 0, 100 + i, i) for i in range(4)], ENVELOPE)
        b2 = spark.createDataFrame(
            [make_msg("s", 0, 150, 9), make_msg("s", 0, 1500, 0)], ENVELOPE
        )
        hook(b1, 0)
        hook(b2, 1)
        rows = {r["bucket"]: r for r in spark.read.parquet(summary).collect()}
        assert rows[0]["records"] == 5  # 4 + 1 merged into bucket 0
        assert rows[1]["records"] == 1
        assert rows[0]["size"] == 5 * len('{"hello":"world"}')
        assert rows[0]["max_ts"] < rows[1]["date_create"]

    def test_partials_shape(self, spark):
        b = spark.createDataFrame([make_msg("s", 2, 5000, 1)], ENVELOPE)
        out = bucket_index(b, bucket_ms=1000).collect()
        assert len(out) == 1 and out[0]["bucket"] == 5 and out[0]["partition"] == 2
        assert out[0]["records"] == 1 and out[0]["date_create"] == out[0]["max_ts"]

    def test_streaming_end_to_end(self, spark, tmp_path):
        """File stream -> foreachBatch maintenance -> summary answers the
        metadata query without scanning the log."""
        src, ckpt, summary = (
            str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "summary"),
        )
        spark.createDataFrame(
            [make_msg("s", 0, 1000 + i, i) for i in range(50)], ENVELOPE
        ).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(ENVELOPE).parquet(src)
            .writeStream.foreachBatch(foreach_batch_bucket_index(summary, bucket_ms=10_000))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(summary).agg(F.sum("records")).collect()[0][0]
        assert got == 50
