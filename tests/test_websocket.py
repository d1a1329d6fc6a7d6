"""WebSocket transport tests: RFC 6455 handshake/framing plus the control
dispatch and ping-pong liveness, mirroring the reference's
test/integration/ping-pong.test.ts and the WebsocketServer request flow."""

from __future__ import annotations

import json
import socket

import pytest

from broker_spark.serving import websocket as ws
from broker_spark.serving.publish import PublishSpool
from broker_spark.storage.store import Storage


def test_accept_key_rfc_vector():
    # RFC 6455 §1.3 worked example
    assert ws.accept_key("dGhlIHNhbXBsZSBub25jZQ==") == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="


def test_frame_roundtrip_masked():
    import io

    for payload in (b"", b"x", b"a" * 200, b"b" * 70000):
        buf = io.BufferedReader(io.BytesIO(ws.encode_frame(ws.OP_TEXT, payload, mask=True)))
        op, out = ws.read_frame(buf)
        assert (op, out) == (ws.OP_TEXT, payload)


class WsClient:
    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.rfile = self.sock.makefile("rb")
        self.sock.sendall(
            b"GET / HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n"
            b"Connection: Upgrade\r\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n"
            b"Sec-WebSocket-Version: 13\r\n\r\n"
        )
        status = self.rfile.readline()
        assert b"101" in status, status
        while self.rfile.readline() not in (b"\r\n", b"\n"):
            pass

    def send_json(self, obj) -> None:
        self.sock.sendall(ws.encode_frame(ws.OP_TEXT, json.dumps(obj).encode(), mask=True))

    def recv(self):
        frame = ws.read_frame(self.rfile)
        assert frame is not None, "connection closed"
        return frame

    def recv_json(self):
        op, payload = self.recv()
        assert op == ws.OP_TEXT, (op, payload)
        return json.loads(payload)

    def close(self):
        self.sock.close()


@pytest.fixture()
def spool(spark, tmp_path):
    st = Storage(spark, str(tmp_path / "ws-log"), bucket_ms=3_600_000)
    spool = PublishSpool(st, partition_count=1, close_timeout_s=60.0)
    yield spool
    spool.close()


@pytest.fixture()
def server(spool):
    srv = ws.serve_ws(spool.storage, spool=spool, ping_interval_s=3600.0)  # no auto-ping
    yield srv
    srv.shutdown()


def test_publish_subscribe_resend_over_ws(server, spool):
    port = server.server_address[1]
    c = WsClient(port)

    c.send_json({"type": "SubscribeRequest", "requestId": "r1", "streamId": "ws-s",
                 "streamPartition": 0})
    resp = c.recv_json()
    assert resp["type"] == "SubscribeResponse" and resp["requestId"] == "r1"

    c.send_json({"type": "PublishRequest", "streamId": "ws-s", "ts": 1000,
                 "content": {"v": 1}})
    resp = c.recv_json()
    assert resp["type"] == "PublishResponse"

    spool.flush()
    c.send_json({"type": "ResendLastRequest", "requestId": "r2", "streamId": "ws-s",
                 "streamPartition": 0, "numberLast": 10})
    msgs = [c.recv_json() for _ in range(3)]
    c.close()
    assert [m["type"] for m in msgs] == [
        "ResendResponseResending", "UnicastMessage", "ResendResponseResent",
    ]
    assert all(m["requestId"] == "r2" for m in msgs)
    assert msgs[1]["streamMessage"][1][2] == 1000  # the published ts


def test_client_ping_gets_pong(server):
    c = WsClient(server.server_address[1])
    c.sock.sendall(ws.encode_frame(ws.OP_PING, b"hello", mask=True))
    op, payload = c.recv()
    assert (op, payload) == (ws.OP_PONG, b"hello")
    c.close()


def test_close_frame_echoed(server):
    c = WsClient(server.server_address[1])
    c.sock.sendall(ws.encode_frame(ws.OP_CLOSE, b"\x03\xe8", mask=True))
    op, payload = c.recv()
    assert op == ws.OP_CLOSE
    c.close()


def test_ping_pong_liveness(spark, tmp_path):
    """ping-pong.test.ts: a client that answers server pings stays up; one
    that never pongs is force-closed after the second sweep."""
    st = Storage(spark, str(tmp_path / "ws-ping-log"))
    srv = ws.serve_ws(st, ping_interval_s=0.3)
    port = srv.server_address[1]
    try:
        good, bad = WsClient(port), WsClient(port)

        # good client: answer the first ping, still alive after 2 sweeps
        op, payload = good.recv()
        assert op == ws.OP_PING
        good.sock.sendall(ws.encode_frame(ws.OP_PONG, payload, mask=True))
        op, _ = good.recv()  # second sweep's ping arrives -> still connected
        assert op == ws.OP_PING

        # bad client: never pongs -> server force-closes the socket
        op, _ = bad.recv()
        assert op == ws.OP_PING
        bad.sock.settimeout(5)
        assert ws.read_frame(bad.rfile) is None  # EOF after force close
    finally:
        srv.shutdown()
