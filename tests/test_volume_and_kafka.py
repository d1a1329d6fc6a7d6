"""VolumeLogger legacy reporting loop (VolumeLogger.ts:107-230) and the
Kafka source envelope projection (batch-tested on Kafka-shaped frames —
no broker needed for the column logic)."""

from __future__ import annotations

import json

import pytest

from broker_spark.jobs.stream_metrics import MetricsContext
from broker_spark.jobs.volume_logger import VolumeLogger
from broker_spark.serving.publish import PublishSpool
from broker_spark.sources.kafka import envelope_from_kafka
from broker_spark.storage.store import Storage

T0 = 1_577_836_800_000


@pytest.fixture()
def stack(spark, tmp_path):
    st = Storage(spark, str(tmp_path / "volume-log"), bucket_ms=86_400_000)
    spool = PublishSpool(st, partition_count=1, close_timeout_s=60.0)
    yield st, spool
    spool.close()


class TestVolumeLogger:
    def test_summary_rates_from_counters(self, spark, tmp_path):
        """The storage rates read the counters the spool and the gateway
        record: a real flush and a real HTTP resend move them."""
        import urllib.request

        from broker_spark.serving import http as serving_http
        from broker_spark.serving.publish import PublishRequest

        ctx = MetricsContext()
        st = Storage(spark, str(tmp_path / "rates-log"), bucket_ms=86_400_000)
        spool = PublishSpool(st, partition_count=1, close_timeout_s=60.0, metrics=ctx)
        for i in range(10):
            spool.publish(PublishRequest("rates", '{"i":%d}' % i, T0 + i), now_ms=T0 + 10)
        spool.flush()
        server = serving_http.serve(st, metrics=ctx)
        host, port = server.server_address
        try:
            urllib.request.urlopen(
                f"http://{host}:{port}/streams/rates/data/partitions/0/last?count=10",
                timeout=120,
            ).read()
        finally:
            server.shutdown()
        ctx.record("publisher.messages", 100)
        ctx.record("publisher.bytes", 50_000)
        vl = VolumeLogger(ctx, node_address="0xnode")
        s = vl.report_and_reset(now_ms=T0)
        assert s["peerId"] == "0xnode" and s["timestamp"] == T0
        # rates are per-second over one window -> strictly positive, and kb
        # fields are exactly bytes/1000
        assert s["inPerSecond"] > 0
        assert s["kbInPerSecond"] == pytest.approx(
            ctx._last["publisher.bytes"] / 1000.0
            * (s["inPerSecond"] / ctx._last["publisher.messages"])
        )
        assert s["storageWritePerSecond"] > 0 and s["storageWriteKbPerSecond"] > 0
        assert s["storageReadPerSecond"] > 0 and s["storageReadKbPerSecond"] > 0
        assert s["outPerSecond"] == 0.0  # nothing recorded on the out side

    def test_sample_is_destructive(self):
        ctx = MetricsContext()
        ctx.record("publisher.messages", 5)
        vl = VolumeLogger(ctx)
        assert vl.report_and_reset(now_ms=T0)["inPerSecond"] > 0
        # second report with no new records -> zero rate (window reset)
        assert vl.report_and_reset(now_ms=T0 + 1000)["inPerSecond"] == 0.0

    def test_legacy_publish_lands_in_log(self, stack):
        st, spool = stack
        ctx = MetricsContext()
        ctx.record("publisher.messages", 7)
        vl = VolumeLogger(
            ctx, spool=spool, legacy_stream_id="legacy/metrics", node_address="0xn"
        )
        vl.report_and_reset(now_ms=T0)
        spool.flush()
        rows = st.request_last("legacy/metrics", 0, 10).collect()
        assert len(rows) == 1
        report = json.loads(rows[0]["content"])
        assert report["peerId"] == "0xn"
        assert report["rates"]["publisher.messages"] > 0
        assert report["timestamp"] == T0

    def test_disabled_interval_never_schedules(self):
        vl = VolumeLogger(MetricsContext(), reporting_interval_s=0)
        vl.start()  # VolumeLogger.ts:112 — no timer when interval <= 0
        assert vl._timer is None
        vl.stop()


KAFKA_COLS = "key BINARY, value BINARY, topic STRING, partition INT, offset LONG, timestamp TIMESTAMP"


def _kafka_frame(spark, payloads, topic="events"):
    import datetime as dt

    rows = [
        (
            None,
            p.encode() if isinstance(p, str) else p,
            topic,
            0,
            i,
            dt.datetime.fromtimestamp((T0 + i * 1000) / 1000.0, dt.timezone.utc),
        )
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, KAFKA_COLS)


class TestKafkaEnvelope:
    def test_full_payload_maps_to_envelope(self, spark):
        msg = {
            "streamId": "s1",
            "partition": 3,
            "timestamp": T0,
            "sequenceNo": 9,
            "publisherId": "pub",
            "msgChainId": "c",
            "content": json.dumps({"v": 1}),
        }
        out = envelope_from_kafka(_kafka_frame(spark, [json.dumps(msg)])).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.stream_id, r.partition, r.sequence_no) == ("s1", 3, 9)
        assert r.publisher_id == "pub" and r.msg_chain_id == "c"
        assert int(r.ts.timestamp() * 1000) == T0
        assert json.loads(r.content) == {"v": 1}

    def test_defaults_from_kafka_record(self, spark):
        # bare JSON object: stream falls back to topic, ts to the record ts
        out = envelope_from_kafka(
            _kafka_frame(spark, [json.dumps({"x": 1})], topic="t-7")
        ).collect()
        r = out[0]
        assert r.stream_id == "t-7" and r.partition == 0 and r.sequence_no == 0
        assert int(r.ts.timestamp() * 1000) == T0
        assert json.loads(r.content) == {"x": 1}  # raw payload carried through

    def test_invalid_json_dropped(self, spark):
        out = envelope_from_kafka(
            _kafka_frame(spark, ["not json {", json.dumps({"streamId": "ok"})])
        ).collect()
        assert [r.stream_id for r in out] == ["ok"]

    def test_projection_is_streaming_compatible(self, spark):
        # the same expressions must be analyzable on an unbounded frame
        raw = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .selectExpr(
                "CAST(NULL AS BINARY) AS key",
                "CAST(CAST(value AS STRING) AS BINARY) AS value",
                "'topic' AS topic",
                "CAST(0 AS INT) AS partition",
                "value AS offset",
                "timestamp",
            )
        )
        df = envelope_from_kafka(raw)
        assert df.isStreaming
        assert "stream_id" in df.columns and "ts" in df.columns
