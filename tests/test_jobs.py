"""Job entrypoints: retention sweep (dry-run + real) and the gateway's
500 error path."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

from broker_spark.jobs import delete_expired
from broker_spark.storage.store import Storage
from tests.conftest import make_msg

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int, "
    "publisher_id string, msg_chain_id string, prev_ts timestamp, "
    "prev_sequence_no int, signature_type int, signature string, "
    "encryption_type int, content string"
)


def test_delete_expired_job(spark, tmp_path):
    path = str(tmp_path / "log")
    st = Storage(spark, path, bucket_ms=1000)
    rows = [make_msg("old", 0, 1000 + i, 0) for i in range(5)] + [
        make_msg("fresh", 0, 500_000 + i, 0) for i in range(5)
    ]
    st.store(spark.createDataFrame(rows, ENVELOPE))

    now_ms = 10 * 86_400_000 + 600_000  # day 10
    # dry run: 'old' expires under 5-day retention, 'fresh' is kept by 365d
    would = delete_expired.run(
        spark, path, bucket_ms=1000, retention_map={"old": 5}, now_ms=now_ms,
        dry_run=True,
    )
    assert len(would) == 1 and "stream_id=old" in would[0]

    removed = delete_expired.run(
        spark, path, bucket_ms=1000, retention_map={"old": 5}, now_ms=now_ms
    )
    assert len(removed) == 1
    assert st.request_last("old", 0, 10).count() == 0
    assert st.request_last("fresh", 0, 10).count() == 5


def test_delete_expired_default_days(spark, tmp_path):
    path = str(tmp_path / "log2")
    st = Storage(spark, path, bucket_ms=1000)
    st.store(spark.createDataFrame([make_msg("s", 0, 1000, 0)], ENVELOPE))
    # default_days=1, now = day 3 -> everything expired
    removed = delete_expired.run(
        spark, path, bucket_ms=1000, default_days=1, now_ms=3 * 86_400_000
    )
    assert len(removed) == 1


def test_delete_expired_escapes_special_chars(spark, tmp_path):
    """Reference stream ids routinely contain '/' and ':'; Spark escapes
    them in partition directory names on write, so the sweep must escape
    when reconstructing paths or it silently retains expired data."""
    path = str(tmp_path / "log4")
    st = Storage(spark, path, bucket_ms=1000)
    sid = "domain/stream:1"
    st.store(spark.createDataFrame([make_msg(sid, 0, 1000, 0)], ENVELOPE))

    would = delete_expired.run(
        spark, path, bucket_ms=1000, default_days=1, now_ms=3 * 86_400_000,
        dry_run=True,
    )
    assert len(would) == 1 and "stream_id=domain%2Fstream%3A1" in would[0]

    removed = delete_expired.run(
        spark, path, bucket_ms=1000, default_days=1, now_ms=3 * 86_400_000
    )
    assert len(removed) == 1
    assert st.request_last(sid, 0, 10).count() == 0


def test_delete_expired_reads_the_written_buckets(spark, tmp_path):
    """The sweep drops the buckets the log was written with, whatever
    `bucket_ms` it is run with: the paths come from the log's own `bucket`
    column, not from one re-derived from `ts`."""
    path = str(tmp_path / "log5")
    st = Storage(spark, path, bucket_ms=1000)
    st.store(spark.createDataFrame([make_msg("s", 0, 1000, 0)], ENVELOPE))

    removed = delete_expired.run(spark, path, default_days=1, now_ms=3 * 86_400_000)
    assert len(removed) == 1 and removed[0].endswith("bucket=1")
    assert st.request_last("s", 0, 10).count() == 0


def test_delete_expired_on_emptied_log_drops_nothing(spark, tmp_path):
    """Once retention has dropped every bucket, the next sweep finds
    nothing to drop instead of failing to read the empty log."""
    path = str(tmp_path / "log6")
    st = Storage(spark, path, bucket_ms=1000)
    st.store(spark.createDataFrame([make_msg("s", 0, 1000, 0)], ENVELOPE))
    kw = dict(bucket_ms=1000, default_days=1, now_ms=3 * 86_400_000)

    assert len(delete_expired.run(spark, path, **kw)) == 1
    assert st.request_last("s", 0, 10).count() == 0
    assert delete_expired.run(spark, path, **kw) == []


def test_gateway_500_on_storage_failure(spark, tmp_path):
    """A failing scan surfaces as the reference's 500 JSON, not a broken
    chunked response (DataQueryEndpoints.ts:86-93)."""
    from broker_spark.serving import http as serving_http

    st = Storage(spark, str(tmp_path / "log3"))
    st.store(spark.createDataFrame([make_msg("s", 0, 1000, 0)], ENVELOPE))

    class BrokenStorage:
        def request_last(self, *a, **k):
            return st.request_last("s", 0, 1)

        def stream_rows(self, df):
            raise RuntimeError("storage down")

    server = serving_http.serve(BrokenStorage())
    host, port = server.server_address
    try:
        urllib.request.urlopen(
            f"http://{host}:{port}/streams/s/data/partitions/0/last", timeout=60
        )
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 500
        assert json.loads(e.read()) == {"error": "Failed to fetch data!"}
    finally:
        server.shutdown()
