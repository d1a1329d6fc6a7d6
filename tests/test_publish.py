"""Publish path tests: parsing/validation (DataProduceEndpoints.test.ts
semantics), spool batching, and the POST round-trip through the gateway
back out of a resend query."""

from __future__ import annotations

import json
import logging
import threading
import time
import urllib.error
import urllib.request

import pytest

from broker_spark.jobs.stream_metrics import MetricsContext
from broker_spark.serving import http as serving_http
from broker_spark.serving.publish import (
    PublishError,
    PublishRequest,
    PublishSpool,
    parse_positive_integer,
    parse_timestamp,
    validate_message,
    wrap_mqtt_payload,
)
from broker_spark.storage.store import Storage


class TestParsers:
    def test_parse_timestamp_number(self):
        assert parse_timestamp(1545144750494) == 1545144750494
        assert parse_timestamp("1545144750494") == 1545144750494

    def test_parse_timestamp_iso(self):
        assert parse_timestamp("2019-01-01T00:00:00Z") == 1546300800000

    def test_parse_timestamp_invalid(self):
        with pytest.raises(PublishError, match="Invalid timestamp: endoftheworld"):
            parse_timestamp("endoftheworld")

    def test_parse_positive_integer(self):
        assert parse_positive_integer("7") == 7
        with pytest.raises(PublishError, match="-3 is not a valid positive integer"):
            parse_positive_integer("-3")
        with pytest.raises(PublishError, match="six is not a valid positive integer"):
            parse_positive_integer("six")

    def test_future_ts_rejected(self):
        # src/Publisher.ts:34-41 — +300 s threshold
        with pytest.raises(PublishError, match=r"future timestamps are not allowed"):
            validate_message(1_000_000 + 300_001, "{}", now_ms=1_000_000)
        validate_message(1_000_000 + 299_999, "{}", now_ms=1_000_000)

    def test_invalid_json_rejected(self):
        with pytest.raises(PublishError, match="Invalid JSON"):
            validate_message(0, "not json {{", now_ms=0)

    def test_mqtt_wrapping(self):
        # src/mqtt/MqttServer.ts:21-30
        assert wrap_mqtt_payload('{"a":1}') == '{"a":1}'
        assert json.loads(wrap_mqtt_payload("plain text")) == {"mqttPayload": "plain text"}


class TestSpoolAndRoundTrip:
    def test_publish_round_trip_via_http(self, spark, tmp_path):
        st = Storage(spark, str(tmp_path / "log"), bucket_ms=3_600_000)
        spool = PublishSpool(st, partition_count=1, close_timeout_s=30.0)
        server = serving_http.serve(st, spool=spool)
        host, port = server.server_address
        base = f"http://{host}:{port}"
        try:
            for i in range(3):
                req = urllib.request.Request(
                    f"{base}/streams/pub-s/data?ts={1000 + i * 1000}&seq=0&address=u1&msgChainId=1",
                    data=json.dumps({"i": i}).encode(),
                    method="POST",
                )
                with urllib.request.urlopen(req, timeout=60) as r:
                    assert r.status == 200
            spool.flush()  # below batch thresholds -> force
            body = urllib.request.urlopen(
                f"{base}/streams/pub-s/data/partitions/0/last?count=10", timeout=120
            ).read()
            msgs = json.loads(body)
            assert [m[1][2] for m in msgs] == [1000, 2000, 3000]
            assert json.loads(msgs[0][6]) == {"i": 0}
            assert msgs[0][1][4] == "u1"
        finally:
            server.shutdown()

    def test_publish_error_texts_via_http(self, spark, tmp_path):
        st = Storage(spark, str(tmp_path / "log2"))
        spool = PublishSpool(st, partition_count=4, close_timeout_s=30.0)
        server = serving_http.serve(st, spool=spool)
        host, port = server.server_address
        base = f"http://{host}:{port}"

        def post(path, data=b"{}"):
            try:
                req = urllib.request.Request(f"{base}{path}", data=data, method="POST")
                with urllib.request.urlopen(req, timeout=60) as r:
                    return r.status, r.read().decode()
            except urllib.error.HTTPError as e:
                return e.code, e.read().decode()

        try:
            status, body = post("/streams/s/data", data=b"")
            assert status == 400
            assert json.loads(body) == {"error": "No request body or invalid request body."}

            status, body = post("/streams/s/data?ts=endoftheworld")
            assert (status, json.loads(body)) == (
                400,
                {"error": "Invalid timestamp: endoftheworld"},
            )

            status, body = post("/streams/s/data?seq=-5")
            assert json.loads(body) == {"error": "-5 is not a valid positive integer"}

            status, body = post("/streams/s/data?ts=1000", data=b"broken {{")
            assert status == 400
            assert "Invalid JSON" in json.loads(body)["error"]
        finally:
            server.shutdown()

    def test_spool_flushes_on_record_threshold(self, spark, tmp_path):
        st = Storage(spark, str(tmp_path / "log3"))
        spool = PublishSpool(st, partition_count=1, max_records=5, close_timeout_s=60.0)
        from broker_spark.serving.publish import PublishRequest

        for i in range(5):
            spool.publish(
                PublishRequest("s", '{"x":1}', timestamp=1000 + i, sequence_number=0),
                now_ms=10_000,
            )
        # threshold reached -> flushed without explicit flush()
        assert st.request_last("s", 0, 10).count() == 5

    def test_publish_ts_is_utc_regardless_of_host_tz(self, spark, tmp_path):
        """Stored ts must equal the epoch-ms from the API contract even on a
        non-UTC host: naive datetimes go through time.mktime (driver-local
        tz) in non-Arrow createDataFrame; tz-aware UTC ones convert
        offset-free."""
        import os
        import time as _time

        st = Storage(spark, str(tmp_path / "log5"))
        spool = PublishSpool(st, partition_count=1, close_timeout_s=60.0)
        from broker_spark.serving.publish import PublishRequest

        epoch_ms = 1_700_000_000_000
        old_tz = os.environ.get("TZ")
        os.environ["TZ"] = "America/New_York"
        _time.tzset()
        try:
            spool.publish(
                PublishRequest("tz-s", "{}", timestamp=epoch_ms, sequence_number=0),
                now_ms=epoch_ms,
            )
            spool.close()  # flush (createDataFrame conversion) inside the NY window
        finally:
            if old_tz is None:
                os.environ.pop("TZ", None)
            else:
                os.environ["TZ"] = old_tz
            _time.tzset()
        import datetime as dt

        row = st.request_last("tz-s", 0, 1).collect()[0]
        stored_ms = int(
            row["ts"].replace(tzinfo=dt.timezone.utc).timestamp() * 1000
        )
        assert stored_ms == epoch_ms

    def test_keyed_partition_assignment(self, spark, tmp_path):
        st = Storage(spark, str(tmp_path / "log4"))
        spool = PublishSpool(st, partition_count=10, close_timeout_s=60.0)
        from broker_spark.serving.publish import PublishRequest

        p = spool.publish(
            PublishRequest("s", "{}", timestamp=1000, partition_key="key-0"),
            now_ms=10_000,
        )
        assert p == 6  # golden vector (test/unit/Partitioner.test.ts)
        spool.flush()


class _FirstCommitFails(Storage):
    """A log whose first `store()` raises — before writing anything, or,
    with `lands=True`, after the batch was written (a commit that landed
    but reported failure)."""

    def __init__(self, *args, lands: bool, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.lands = lands
        self.stores = 0

    def store(self, df) -> None:
        self.stores += 1
        if self.stores == 1:
            if self.lands:
                super().store(df)
            raise OSError("injected commit failure")
        super().store(df)


@pytest.mark.parametrize("lands", [False, True], ids=["nothing_written", "batch_written"])
def test_failed_flush_keeps_every_acked_message(spark, tmp_path, lands):
    """A commit that raises on the close-timeout timer thread must not drop
    the acked batch: it is retried, and a partly landed commit is not
    duplicated.  The failure is counted for /volume."""
    metrics = MetricsContext()
    st = _FirstCommitFails(spark, str(tmp_path / "log"), lands=lands)
    spool = PublishSpool(st, close_timeout_s=0.2, metrics=metrics)
    for i in range(6):
        spool.publish(
            PublishRequest("s", json.dumps({"i": i}), timestamp=1000 + i, sequence_number=i),
            now_ms=10_000,
        )

    def counter(name):
        return metrics.report()["metrics"].get(name, {}).get("total", 0)

    deadline = time.monotonic() + 60
    while counter("storage.writeMessages") < 6 and time.monotonic() < deadline:
        time.sleep(0.1)
    spool.close()

    stored = [r["sequence_no"] for r in st.request_last("s", 0, 100).collect()]
    assert sorted(stored) == list(range(6))
    assert counter("storage.writeFailures") == 1


def test_failed_timer_flush_is_logged_not_raised(spark, tmp_path, monkeypatch, caplog):
    """A commit that fails on the close-timeout timer thread is logged once,
    with its traceback, instead of escaping as an unhandled thread
    exception; the retry still stores every acked message exactly once."""
    escaped = []
    monkeypatch.setattr(threading, "excepthook", escaped.append)
    metrics = MetricsContext()
    st = _FirstCommitFails(spark, str(tmp_path / "log"), lands=False)
    spool = PublishSpool(st, close_timeout_s=0.2, metrics=metrics)
    with caplog.at_level(logging.ERROR, logger="broker_spark.serving.publish"):
        for i in range(6):
            spool.publish(
                PublishRequest("s", json.dumps({"i": i}), timestamp=1000 + i, sequence_number=i),
                now_ms=10_000,
            )
        deadline = time.monotonic() + 60
        while (
            metrics.report()["metrics"].get("storage.writeMessages", {}).get("total", 0) < 6
            and time.monotonic() < deadline
        ):
            time.sleep(0.1)
        spool.close()

    assert escaped == []
    logged = [r for r in caplog.records if r.name == "broker_spark.serving.publish"]
    assert len(logged) == 1
    assert str(logged[0].exc_info[1]) == "injected commit failure"
    stored = [r["sequence_no"] for r in st.request_last("s", 0, 100).collect()]
    assert sorted(stored) == list(range(6))


def test_direct_flush_still_raises(spark, tmp_path):
    """Only the timer's call swallows a failed commit: `flush()` called
    directly raises, and the batch stays buffered for the next commit."""
    st = _FirstCommitFails(spark, str(tmp_path / "log"), lands=False)
    spool = PublishSpool(st, close_timeout_s=30.0)
    spool.publish(PublishRequest("s", "{}", timestamp=1000), now_ms=10_000)
    with pytest.raises(OSError, match="injected commit failure"):
        spool.flush()
    spool.close()
    assert st.request_last("s", 0, 10).count() == 1
