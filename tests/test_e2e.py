"""End-to-end micro-pipeline (the broker.test.ts analog): streaming
ingest -> partitioned log -> metadata upkeep -> HTTP resend -> TCP
subscribe/fan-out, all against one Storage."""

from __future__ import annotations

import datetime as dt
import json
import socket
import urllib.request

from broker_spark.serving import http as serving_http
from broker_spark.serving.tcp import serve_control
from broker_spark.storage.store import Storage
from broker_spark.streaming import ingest
from broker_spark.streaming.fanout import foreach_batch_fanout
from broker_spark.streaming.maintenance import foreach_batch_bucket_index
from tests.conftest import make_msg

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int, "
    "publisher_id string, msg_chain_id string, prev_ts timestamp, "
    "prev_sequence_no int, signature_type int, signature string, "
    "encryption_type int, content string"
)


def test_ingest_store_query_fanout(spark, tmp_path):
    now = int(dt.datetime.now(dt.timezone.utc).timestamp() * 1000)
    base_ts = now - 60_000
    src, log, ckpt, summary = (
        str(tmp_path / "src"), str(tmp_path / "log"),
        str(tmp_path / "ckpt"), str(tmp_path / "summary"),
    )

    # 1. publish 120 messages (3 invalid) through the streaming ingest
    rows = [make_msg("e2e", 0, base_ts + i * 100, i % 4) for i in range(117)]
    rows += [
        make_msg("e2e", 0, now + 999_000, 0),            # future -> dropped
        make_msg("e2e", 0, base_ts, 9, content="x{{"),   # bad JSON -> dropped
        make_msg("other", 1, base_ts, 0),                # different stream
    ]
    spark.createDataFrame(rows, ENVELOPE).write.mode("append").parquet(src)
    st = Storage(spark, log, bucket_ms=10_000)
    q = ingest.start_ingest(
        spark.readStream.schema(ENVELOPE).parquet(src), st, ckpt,
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    # 2. maintenance hook sees the stored batch (summary-side count)
    foreach_batch_bucket_index(summary, bucket_ms=10_000)(st._log(), 0)
    from pyspark.sql import functions as F

    assert (
        spark.read.parquet(summary).agg(F.sum("records")).collect()[0][0] == 118
    )

    # 3. HTTP resend over the stored log
    server = serving_http.serve(st)
    host, port = server.server_address
    try:
        body = urllib.request.urlopen(
            f"http://{host}:{port}/streams/e2e/data/partitions/0/last?count=3",
            timeout=120,
        ).read()
        msgs = json.loads(body)
        assert [m[1][2] for m in msgs] == [
            base_ts + 114 * 100, base_ts + 115 * 100, base_ts + 116 * 100,
        ]
        meta = json.loads(
            urllib.request.urlopen(
                f"http://{host}:{port}/streams/e2e/metadata/partitions/0", timeout=120
            ).read()
        )
        assert meta["totalMessages"] == 117
    finally:
        server.shutdown()

    # 4. TCP resend lifecycle + live fan-out on the same storage
    ctrl = serve_control(st)
    s = socket.create_connection(ctrl.server_address, timeout=120)
    f = s.makefile("rwb")

    def send(o):
        f.write((json.dumps(o) + "\n").encode())
        f.flush()

    def recv():
        return json.loads(f.readline())

    try:
        send({"type": "SubscribeRequest", "requestId": "s", "streamId": "e2e",
              "streamPartition": 0})
        assert recv()["type"] == "SubscribeResponse"
        send({"type": "ResendLastRequest", "requestId": "r", "streamId": "e2e",
              "streamPartition": 0, "numberLast": 2})
        got = [recv()["type"] for _ in range(4)]
        assert got == ["ResendResponseResending", "UnicastMessage",
                       "UnicastMessage", "ResendResponseResent"]
        # live message: new micro-batch fanned out to the subscriber
        live = spark.createDataFrame([make_msg("e2e", 0, now, 0)], ENVELOPE)
        foreach_batch_fanout(ctrl.registry)(live, 1)
        bc = recv()
        assert bc["type"] == "BroadcastMessage" and bc["streamMessage"][1][2] == now
    finally:
        s.close()
        ctrl.shutdown()


def test_http_core_api_ecdsa_publish_store_resend(spark, tmp_path):
    """The closed-gateway e2e (broker.test.ts:358-446 analog): a REAL
    HTTP core-API server answers stream/permission lookups over a socket,
    publishes are secp256k1-ECDSA-signed and validated against it, the
    accepted rows land in the partitioned log, and an HTTP resend returns
    them — with a wrong-key publish rejected 400 on the way."""
    import urllib.error

    from broker_spark.serving import ecdsa
    from broker_spark.serving import http as serving_http
    from broker_spark.serving.auth import HttpError, InMemoryCoreApi
    from broker_spark.serving.core_api import HttpCoreApi, serve_core_api
    from broker_spark.serving.publish import PublishSpool
    from broker_spark.serving.validator import ecdsa_validator, signature_payload

    # -- core API over a real socket: one stream, publish grant for 0xa
    registry = InMemoryCoreApi()
    registry.create_stream("sec-e2e", partitions=1)
    registry.grant("sec-e2e", "0xa", "stream_publish", "stream_subscribe")
    core = serve_core_api(registry)
    chost, cport = core.server_address
    api = HttpCoreApi(f"http://{chost}:{cport}")

    keys = {"0xa": 0xA11CE, "0xeve": 0xE5E5E5}
    pubkeys = {pid: ecdsa.pubkey(k) for pid, k in keys.items()}

    def get_stream(sid):
        # stream info fetched over HTTP; closed gateway requires signatures
        return {**api.get_stream(sid, None), "requireSignedData": True}

    def is_publisher(pub, sid):
        # permission list fetched over HTTP with the publisher's own token
        try:
            return any(
                p.get("operation") == "stream_publish"
                for p in api.get_permissions(sid, pub)
            )
        except HttpError:
            return False

    validator = ecdsa_validator(
        pubkeys, get_stream=get_stream, is_publisher=is_publisher
    )

    st = Storage(spark, str(tmp_path / "seclog"), bucket_ms=10_000)
    spool = PublishSpool(st, validator=validator)
    gw = serving_http.serve(st, spool=spool)
    host, port = gw.server_address
    base = 1_700_000_000_000

    def post(publisher, ts, content, priv=None, now_ms=None):
        payload = signature_payload(
            "sec-e2e", 0, ts, 0, publisher, "c1", content
        )
        sig = ecdsa.sign(priv or keys[publisher], payload)
        req = urllib.request.Request(
            f"http://{host}:{port}/streams/sec-e2e/data?ts={ts}"
            f"&address={publisher}&msgChainId=c1&signatureType=2"
            f"&signature={sig}",
            data=content.encode(),
            method="POST",
        )
        return urllib.request.urlopen(req, timeout=120)

    try:
        for i in range(3):
            assert post("0xa", base + i * 1000, json.dumps({"i": i})).status == 200

        # wrong key: signature does not verify against 0xa's registered pubkey
        try:
            post("0xa", base + 9000, '{"i":9}', priv=keys["0xeve"])
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and "Signature validation failed" in e.read().decode()

        # signed correctly but 0xeve holds no stream_publish grant (the
        # membership check goes over the HTTP permissions endpoint)
        try:
            post("0xeve", base + 9000, '{"i":9}')
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and "not a publisher" in e.read().decode()

        spool.close()

        # -- resend over the same gateway: exactly the 3 accepted messages
        body = urllib.request.urlopen(
            f"http://{host}:{port}/streams/sec-e2e/data/partitions/0/last?count=10",
            timeout=120,
        ).read()
        msgs = json.loads(body)
        assert [m[1][2] for m in msgs] == [base, base + 1000, base + 2000]
        # protocol array tail is [..., content, signatureType, signature]
        assert [json.loads(m[-3])["i"] for m in msgs] == [0, 1, 2]
        # the stored envelope carries the ECDSA signature through resend
        assert all(m[-2] == 2 and len(m[-1]) == 128 for m in msgs)
    finally:
        spool.close()
        gw.shutdown()
        core.shutdown()
