"""Serving-layer tests, mirroring the reference's unit suite:
test/unit/http/DataQueryEndpoints.test.ts (exact 400 error texts, format
round-trips) and the RequestHandler resend lifecycle
(Resending/Unicast/Resent/NoResend)."""

from __future__ import annotations

import datetime
import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from broker_spark.serving import http as serving_http
from broker_spark.serving.formats import frame, get_format
from broker_spark.serving.resend_lifecycle import resend_response
from broker_spark.storage.store import Storage

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int,"
    " publisher_id string, msg_chain_id string, content string"
)


def _dt(ms: int) -> datetime.datetime:
    return datetime.datetime.utcfromtimestamp(ms / 1000.0)


@pytest.fixture(scope="module")
def storage(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("serving") / "log")
    st = Storage(spark, path, bucket_ms=3_600_000)
    rows = [
        ("s1", 0, _dt(1000), 0, "pub", "1", '{"v": 1}'),
        ("s1", 0, _dt(2000), 0, "pub", "1", '{"v": 2}'),
        ("s1", 0, _dt(3000), 0, "pub", "1", '{"v": 3}'),
    ]
    st.store(spark.createDataFrame(rows, ENVELOPE))
    return st


@pytest.fixture(scope="module")
def base_url(storage):
    server = serving_http.serve(storage)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _get(url: str):
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, r.headers.get("Content-Type"), r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type"), e.read().decode()


# -- error texts (DataQueryEndpoints.test.ts:76-115) ------------------------

@pytest.mark.parametrize(
    "suffix,message",
    [
        ("last?count=sixsixsix", 'Query parameter "count" not a number: sixsixsix'),
        ("from", 'Query parameter "fromTimestamp" required.'),
        (
            "from?fromTimestamp=endoftheworld",
            'Query parameter "fromTimestamp" not a number: endoftheworld',
        ),
        ("range", 'Query parameter "fromTimestamp" required.'),
        (
            "range?fromTimestamp=1000",
            'Query parameter "toTimestamp" required as well. To request all messages since'
            " a timestamp, use the endpoint /streams/:id/data/partitions/:partition/from",
        ),
        (
            "range?fromOffset=1&toOffset=2",
            'Query parameters "fromOffset" and "toOffset" are no longer supported.'
            ' Please use "fromTimestamp" and "toTimestamp".',
        ),
        ("last?format=foobar", 'Query parameter "format" is invalid: foobar'),
        (
            "range?fromTimestamp=1000&toTimestamp=2000&publisherId=foo",
            'Invalid combination of "publisherId" and "msgChainId"',
        ),
        (
            "range?fromTimestamp=1000&toTimestamp=2000&msgChainId=bar",
            'Invalid combination of "publisherId" and "msgChainId"',
        ),
    ],
)
def test_error_texts(base_url, suffix, message):
    status, ctype, body = _get(f"{base_url}/streams/s1/data/partitions/0/{suffix}")
    assert status == 400
    assert "json" in ctype
    assert json.loads(body) == {"error": message}


def test_partition_not_a_number(base_url):
    status, _, body = _get(f"{base_url}/streams/s1/data/partitions/zero/last")
    assert status == 400
    assert json.loads(body) == {"error": 'Path parameter "partition" not a number: zero'}


# -- format round-trips ------------------------------------------------------

def test_object_format_default(base_url):
    status, ctype, body = _get(f"{base_url}/streams/s1/data/partitions/0/last?count=2")
    assert status == 200
    assert ctype == "application/json"
    msgs = json.loads(body)
    assert len(msgs) == 2
    # protocol array: [version, MessageID, prevRef, msgType, contentType, enc, content, sigType, sig]
    assert msgs[0][1] == ["s1", 0, 2000, 0, "pub", "1"]
    assert msgs[1][1] == ["s1", 0, 3000, 0, "pub", "1"]
    assert json.loads(msgs[0][6]) == {"v": 2}


def test_protocol_format(base_url):
    status, _, body = _get(
        f"{base_url}/streams/s1/data/partitions/0/last?count=1&format=protocol&version=30"
    )
    assert status == 200
    msgs = json.loads(body)
    assert len(msgs) == 1
    inner = json.loads(msgs[0])  # protocol entries are serialized strings
    assert inner[0] == 30
    assert inner[1] == ["s1", 0, 3000, 0, "pub", "1"]


def test_raw_format(base_url):
    status, ctype, body = _get(
        f"{base_url}/streams/s1/data/partitions/0/last?count=2&format=raw"
    )
    assert status == 200
    assert ctype == "text/plain"
    lines = body.split("\n")
    assert len(lines) == 2
    assert json.loads(lines[0])[1][2] == 2000


def test_empty_result_is_empty_array(base_url):
    status, _, body = _get(f"{base_url}/streams/nosuch/data/partitions/0/last")
    assert status == 200
    assert json.loads(body) == []


def test_seq_param_nan_falls_back_to_bound(base_url):
    """Non-numeric sequence params default to their bound, like the
    reference's `parseIntIfExists(x) || BOUND` where NaN is falsy
    (DataQueryEndpoints.ts:149,170-171).  A NaN leaking into the predicate
    would silently drop every boundary-timestamp row."""
    status, _, body = _get(
        f"{base_url}/streams/s1/data/partitions/0/from"
        "?fromTimestamp=1000&fromSequenceNumber=notanumber"
    )
    assert status == 200
    assert [m[1][2] for m in json.loads(body)] == [1000, 2000, 3000]

    status, _, body = _get(
        f"{base_url}/streams/s1/data/partitions/0/range?fromTimestamp=1000"
        "&toTimestamp=3000&fromSequenceNumber=foo&toSequenceNumber=bar"
    )
    assert status == 200
    assert [m[1][2] for m in json.loads(body)] == [1000, 2000, 3000]


def test_encoded_stream_id_in_path(spark, tmp_path):
    """Stream ids routinely contain '/' and ':' and arrive percent-encoded
    in the URL path; Express decodeURIComponent's path params, so must we."""
    st = Storage(spark, str(tmp_path / "enc-log"), bucket_ms=3_600_000)
    rows = [("domain/stream:1", 0, _dt(1000), 0, "pub", "1", '{"v": 1}')]
    st.store(spark.createDataFrame(rows, ENVELOPE))
    server = serving_http.serve(st)
    host, port = server.server_address
    try:
        status, _, body = _get(
            f"http://{host}:{port}/streams/domain%2Fstream%3A1/data/partitions/0/last"
        )
        assert status == 200
        assert [m[1][0] for m in json.loads(body)] == ["domain/stream:1"]
    finally:
        server.shutdown()


def test_special_stream_ids_round_trip_over_http(spark, tmp_path):
    """Stream ids with '/', ':', '%', '=', spaces, unicode and quotes arrive
    percent-encoded: publish -> flush -> resend last/from/range ->
    metadata must answer exactly that stream's messages, with the id
    unchanged.  (`__HIVE_DEFAULT_PARTITION__` reads back as NULL; see
    `Storage`.)"""
    from broker_spark.serving.publish import PublishSpool

    sids = ["a/b", "x:y", "p%20q", "k=v", "sp ace", "ünï", "q'uo\"te",
            "0xAbC/streamr/node/metrics/sec"]
    st = Storage(spark, str(tmp_path / "special-log"), bucket_ms=3_600_000)
    spool = PublishSpool(st, partition_count=1, close_timeout_s=30.0)
    server = serving_http.serve(st, spool=spool)
    host, port = server.server_address
    base = f"http://{host}:{port}/streams"

    def n_msgs(k):  # a different message count per stream
        return k % 3 + 1

    try:
        for k, sid in enumerate(sids):
            enc = urllib.parse.quote(sid, safe="")
            for i in range(n_msgs(k)):
                req = urllib.request.Request(
                    f"{base}/{enc}/data?ts={1000 + i * 1000}&seq={k}",
                    data=json.dumps({"sid": sid, "i": i}).encode(),
                    method="POST",
                )
                with urllib.request.urlopen(req, timeout=60) as r:
                    assert r.status == 200
        spool.flush()
        for k, sid in enumerate(sids):
            enc = urllib.parse.quote(sid, safe="")
            want_ts = [1000 + i * 1000 for i in range(n_msgs(k))]
            for suffix in (
                "last?count=10",
                "from?fromTimestamp=0",
                "range?fromTimestamp=0&toTimestamp=10000",
            ):
                status, _, body = _get(f"{base}/{enc}/data/partitions/0/{suffix}")
                assert status == 200, (sid, suffix)
                msgs = json.loads(body)
                assert [m[1][0] for m in msgs] == [sid] * len(want_ts), (sid, suffix)
                assert [m[1][2] for m in msgs] == want_ts, (sid, suffix)
                assert {json.loads(m[6])["sid"] for m in msgs} == {sid}
            status, _, body = _get(f"{base}/{enc}/metadata/partitions/0")
            assert status == 200
            meta = json.loads(body)
            assert (meta["totalMessages"], meta["firstMessage"], meta["lastMessage"]) == (
                len(want_ts), want_ts[0], want_ts[-1]
            ), sid
    finally:
        server.shutdown()


def test_glob_metacharacter_stream_ids_round_trip_over_http(spark, tmp_path):
    """A resend opens its own stream-partition's directory by path, so a
    stream id holding Hadoop glob metacharacters must still name exactly
    that directory: publish -> flush -> resend last/from/range ->
    metadata answer that stream's messages, with the id unchanged."""
    from broker_spark.serving.publish import PublishSpool

    sids = ["a}b", "c{d}", "e*f", "g[h]", "n?m", "x,y", "t\\u"]
    st = Storage(spark, str(tmp_path / "glob-log"), bucket_ms=3_600_000)
    spool = PublishSpool(st, partition_count=1, close_timeout_s=30.0)
    server = serving_http.serve(st, spool=spool)
    host, port = server.server_address
    base = f"http://{host}:{port}/streams"
    try:
        for k, sid in enumerate(sids):
            enc = urllib.parse.quote(sid, safe="")
            for i in range(k % 3 + 1):
                req = urllib.request.Request(
                    f"{base}/{enc}/data?ts={1000 + i * 1000}&seq={k}",
                    data=json.dumps({"sid": sid, "i": i}).encode(),
                    method="POST",
                )
                with urllib.request.urlopen(req, timeout=60) as r:
                    assert r.status == 200
        spool.flush()
        for k, sid in enumerate(sids):
            enc = urllib.parse.quote(sid, safe="")
            want_ts = [1000 + i * 1000 for i in range(k % 3 + 1)]
            for suffix in (
                "last?count=10",
                "from?fromTimestamp=0",
                "range?fromTimestamp=0&toTimestamp=10000",
            ):
                status, _, body = _get(f"{base}/{enc}/data/partitions/0/{suffix}")
                assert status == 200, (sid, suffix)
                msgs = json.loads(body)
                assert [m[1][0] for m in msgs] == [sid] * len(want_ts), (sid, suffix)
                assert [m[1][2] for m in msgs] == want_ts, (sid, suffix)
                assert {json.loads(m[6])["sid"] for m in msgs} == {sid}
            status, _, body = _get(f"{base}/{enc}/metadata/partitions/0")
            assert status == 200
            meta = json.loads(body)
            assert (meta["totalMessages"], meta["firstMessage"], meta["lastMessage"]) == (
                len(want_ts), want_ts[0], want_ts[-1]
            ), sid
    finally:
        server.shutdown()


def test_partition_without_directory_answers_empty(storage, base_url):
    """A stream-partition never written to, on a written log, has no
    directory: its resends answer `[]` (NoResend over the control
    lifecycle) and its metadata zero — not PATH_NOT_FOUND or a 500."""
    for suffix in (
        "data/partitions/7/last?count=5",
        "data/partitions/7/from?fromTimestamp=0",
        "data/partitions/7/range?fromTimestamp=0&toTimestamp=5000",
    ):
        status, _, body = _get(f"{base_url}/streams/s1/{suffix}")
        assert (status, json.loads(body)) == (200, []), suffix
    status, _, body = _get(f"{base_url}/streams/s1/metadata/partitions/7")
    assert (status, json.loads(body)) == (200, {
        "totalBytes": 0, "totalMessages": 0, "firstMessage": None, "lastMessage": None,
    })
    for df in (
        storage.request_last("s1", 7, 5),
        storage.request_from("s1", 7, 0),
        storage.request_range("s1", 7, 0, 0, 5000, 0),
    ):
        out = list(resend_response("req-7", "s1", 7, storage.stream_rows(df)))
        assert [m["type"] for m in out] == ["ResendResponseNoResend"]


def test_read_counters_count_delivered_messages(storage):
    """`storage.readMessages` counts the messages a resend delivers and
    `storage.readBytes` their content length — what the spool records
    for a commit on the write side."""
    from broker_spark.jobs.stream_metrics import MetricsContext

    ctx = MetricsContext()
    server = serving_http.serve(storage, metrics=ctx)
    host, port = server.server_address
    try:
        status, _, body = _get(
            f"http://{host}:{port}/streams/s1/data/partitions/0/last?count=3"
        )
    finally:
        server.shutdown()
    assert status == 200 and len(json.loads(body)) == 3
    totals = {k: v["total"] for k, v in ctx.report()["metrics"].items()}
    assert totals["storage.readMessages"] == 3
    assert totals["storage.readBytes"] == sum(len('{"v": %d}' % i) for i in (1, 2, 3))


BIG_MESSAGES = 10_500


@pytest.fixture(scope="module")
def big_storage(spark, tmp_path_factory):
    """One stream-partition past the resend-last clamp, over 18 buckets."""
    path = str(tmp_path_factory.mktemp("serving-big") / "log")
    st = Storage(spark, path, bucket_ms=60_000)
    rows = [
        ("big", 0, _dt(i * 100), i % 7, "pub", "c", json.dumps({"i": i, "pad": "x" * 40}))
        for i in range(BIG_MESSAGES)
    ]
    st.store(spark.createDataFrame(rows, ENVELOPE))
    return st


def _get_chunks(host: str, port: int, path: str) -> list[bytes]:
    """The chunks of a chunked 200 response, as sent, terminator included."""
    import socket

    with socket.create_connection((host, port), timeout=120) as s:
        s.sendall(f"GET {path} HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n".encode())
        raw = b""
        while data := s.recv(1 << 16):
            raw += data
    head, _, rest = raw.partition(b"\r\n\r\n")
    assert head.startswith(b"HTTP/1.1 200") and b"Transfer-Encoding: chunked" in head
    chunks = []
    while True:
        size, _, rest = rest.partition(b"\r\n")
        n = int(size, 16)
        chunks.append(rest[:n])
        assert rest[n:n + 2] == b"\r\n"
        rest = rest[n + 2:]
        if n == 0:
            return chunks


def test_resend_body_goes_out_in_64k_chunks(big_storage):
    """A 3,000-message resend is written in chunks of at least 64 KiB (the
    last may be shorter), not two chunks per message, and its decoded
    body is exactly `frame`'s output."""
    server = serving_http.serve(big_storage)
    host, port = server.server_address
    try:
        chunks = _get_chunks(host, port, "/streams/big/data/partitions/0/last?count=3000")
    finally:
        server.shutdown()
    want = "".join(
        frame(big_storage.stream_rows(big_storage.request_last("big", 0, 3000)),
              get_format(None))
    ).encode()
    body = b"".join(chunks)
    assert body == want
    assert len(json.loads(body)) == 3000
    assert len(chunks) <= -(-len(body) // (64 * 1024)) + 1


def test_last_past_the_clamp_returns_newest_10000(big_storage):
    """`last?count=20000` answers exactly the newest 10,000 messages, in
    order (the reference's clamp, Storage.ts:18,102-105)."""
    server = serving_http.serve(big_storage)
    host, port = server.server_address
    try:
        status, _, body = _get(
            f"http://{host}:{port}/streams/big/data/partitions/0/last?count=20000"
        )
    finally:
        server.shutdown()
    assert status == 200
    got = [json.loads(m[6])["i"] for m in json.loads(body)]
    assert got == list(range(BIG_MESSAGES - 10_000, BIG_MESSAGES))


def test_serving_ms_is_tz_independent(base_url):
    """Formatted epoch-ms must not shift on a non-UTC host: PySpark
    materializes naive *local-time* datetimes, and the formatter must
    invert exactly that (not re-interpret the wall time as UTC)."""
    import os
    import time as _time

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        status, _, body = _get(f"{base_url}/streams/s1/data/partitions/0/last?count=3")
        assert status == 200
        assert [m[1][2] for m in json.loads(body)] == [1000, 2000, 3000]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_range_with_publisher(base_url):
    status, _, body = _get(
        f"{base_url}/streams/s1/data/partitions/0/range?fromTimestamp=1000"
        "&toTimestamp=2500&publisherId=pub&msgChainId=1"
    )
    assert status == 200
    msgs = json.loads(body)
    assert [m[1][2] for m in msgs] == [1000, 2000]


def test_resend_survives_client_disconnect(base_url):
    """resends-cancelled-on-client-disconnect.test.ts: a client that drops
    mid-stream must not wedge the server — the chunked writer swallows the
    broken pipe and the next request is served normally."""
    import socket
    from urllib.parse import urlparse

    u = urlparse(base_url)
    s = socket.create_connection((u.hostname, u.port), timeout=30)
    s.sendall(
        b"GET /streams/s1/data/partitions/0/range?fromTimestamp=0&toTimestamp=9999999 HTTP/1.1\r\n"
        b"Host: x\r\n\r\n"
    )
    s.recv(16)  # read a few bytes of the response, then hang up mid-stream
    s.close()

    status, _, body = _get(f"{base_url}/streams/s1/data/partitions/0/last?count=1")
    assert status == 200
    assert len(json.loads(body)) == 1


def test_metadata_endpoint(base_url):
    status, _, body = _get(f"{base_url}/streams/s1/metadata/partitions/0")
    assert status == 200
    meta = json.loads(body)
    assert meta["totalMessages"] == 3
    assert meta["firstMessage"] == 1000
    assert meta["lastMessage"] == 3000
    assert meta["totalBytes"] == sum(len('{"v": 1}') for _ in range(3))


def test_unreadable_log_answers_500(spark, tmp_path):
    """A log that cannot be opened is a storage failure — the reference's
    500 — not an empty resend or `totalMessages: 0`."""
    path = tmp_path / "unreadable"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not parquet")
    server = serving_http.serve(Storage(spark, str(path)))
    host, port = server.server_address
    try:
        for suffix in (
            "data/partitions/0/last?count=5",
            "data/partitions/0/from?fromTimestamp=0",
            "data/partitions/0/range?fromTimestamp=0&toTimestamp=5000",
            "metadata/partitions/0",
        ):
            status, _, body = _get(f"http://{host}:{port}/streams/s1/{suffix}")
            assert (status, json.loads(body)) == (500, {"error": "Failed to fetch data!"})
    finally:
        server.shutdown()


def test_metadata_partition_not_a_number(base_url):
    status, _, body = _get(f"{base_url}/streams/s1/metadata/partitions/x")
    assert status == 400
    assert json.loads(body) == {"error": 'Path parameter "partition" not a number: x'}


# -- frame() unit behavior ---------------------------------------------------

def test_frame_empty_json():
    fmt = get_format("object")
    assert "".join(frame(iter([]), fmt)) == "[]"


def test_frame_empty_raw():
    fmt = get_format("raw")
    assert "".join(frame(iter([]), fmt)) == ""


# -- resend lifecycle (RequestHandler.ts:151-215) ----------------------------

def test_resend_lifecycle_with_data(storage):
    rows = storage.stream_rows(storage.request_last("s1", 0, 2))
    out = list(resend_response("req-1", "s1", 0, rows))
    assert [m["type"] for m in out] == [
        "ResendResponseResending",
        "UnicastMessage",
        "UnicastMessage",
        "ResendResponseResent",
    ]
    assert out[1]["streamMessage"][1][2] == 2000


def test_resend_lifecycle_no_resend(storage):
    rows = storage.stream_rows(storage.request_last("nosuch", 0, 2))
    out = list(resend_response("req-2", "nosuch", 0, rows))
    assert [m["type"] for m in out] == ["ResendResponseNoResend"]
    assert out[0]["requestId"] == "req-2"


def test_resend_lifecycle_error():
    def boom():
        yield from ()
        raise RuntimeError("storage down")

    def rows():
        raise RuntimeError("storage down")
        yield

    out = list(resend_response("req-3", "s1", 0, rows()))
    assert [m["type"] for m in out] == ["ErrorResponse"]
    assert out[0]["errorCode"] == "RESEND_FAILED"
    assert "storage down" in out[0]["errorMessage"]
