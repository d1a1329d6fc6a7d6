"""HTTP data-query gateway: the reference's REST read path on stdlib
http.server, backed by a `broker_spark.storage.store.Storage`.

Routes (src/http/DataQueryEndpoints.ts:65-105, DataMetadataEndpoints.ts):
    GET /streams/:id/data/partitions/:partition/last?count&format&version
    GET /streams/:id/data/partitions/:partition/from?fromTimestamp&
        fromSequenceNumber&publisherId&format&version
    GET /streams/:id/data/partitions/:partition/range?fromTimestamp&
        toTimestamp&fromSequenceNumber&toSequenceNumber&publisherId&
        msgChainId&format&version
    GET /streams/:id/metadata/partitions/:partition

Validation order and every 400 error text match the reference byte-for-
byte (asserted against test/unit/http/DataQueryEndpoints.test.ts:76-115).
Authentication (src/http/RequestAuthenticatorMiddleware.ts) is a call-out
to an external core API (`serving.auth.StreamFetcher`); without a fetcher
every request is allowed.

Results are streamed: the handler iterates `Storage.stream_rows`
(`toLocalIterator`) through `formats.frame`, chunk-encoding each message
— no `collect()`, so a 10k-message resend never materializes driver-side
(W6; the reference's pause/resume backpressure becomes HTTP flow
control).
"""

from __future__ import annotations

import functools
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from broker_spark.schema import MAX_SEQUENCE_NUMBER_VALUE, MIN_SEQUENCE_NUMBER_VALUE
from broker_spark.serving.formats import frame, get_format
from broker_spark.storage.store import Storage

_DATA_RE = re.compile(r"^/(?:api/v1/)?streams/([^/]+)/data/partitions/([^/]+)/(last|from|range)$")
_META_RE = re.compile(r"^/(?:api/v1/)?streams/([^/]+)/metadata/partitions/([^/]+)$")
_PRODUCE_RE = re.compile(r"^/(?:api/v1/)?streams/([^/]+)/data$")
_STORAGE_RE = re.compile(r"^/(?:api/v1/)?streams/([^/]+)/storage/partitions/([^/]+)$")


def _parse_int_if_exists(qs: dict, key: str):
    """parseIntIfExists: absent -> None; non-numeric -> NaN (str marker)."""
    if key not in qs:
        return None
    raw = qs[key][0]
    m = re.match(r"^[+-]?\d+", raw)
    return int(m.group(0)) if m else float("nan")


def _is_nan(x) -> bool:
    return isinstance(x, float) and x != x


def _first(qs: dict, key: str) -> str | None:
    return qs[key][0] if key in qs else None


def _seq_or_default(qs: dict, key: str, default: int) -> int:
    """Sequence-number params fall back to their bound when absent OR
    non-numeric (DataQueryEndpoints.ts:149,170-171 — `parseIntIfExists(x)
    || BOUND` falls back on NaN because NaN is falsy in JS; Python NaN is
    truthy, so the fallback must be explicit or `sequence_no >= NaN`
    silently drops every boundary-timestamp row)."""
    v = _parse_int_if_exists(qs, key)
    return default if v is None or _is_nan(v) else v


class DataQueryHandler(BaseHTTPRequestHandler):
    storage: Storage  # injected by serve()
    spool = None  # PublishSpool, injected by serve() for the write path
    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:  # quiet test servers
        pass

    def _send_json(self, status: int, obj) -> None:
        body = json.dumps(obj).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, message: str) -> None:
        """sendError (src/http/DataQueryEndpoints.ts:57-62): 400 + JSON."""
        self._send_json(400, {"error": message})

    stream_fetcher = None  # serving.auth.StreamFetcher, injected by serve()
    metrics = None  # jobs.stream_metrics.MetricsContext, injected by serve()
    storage_config = None  # storage.config.StorageConfig, injected by serve()

    def _authorize(self, stream_id: str, operation: str) -> bool:
        """Authenticator middleware (RequestAuthenticatorMiddleware.ts:11-53):
        Bearer-header parsing + memoized StreamFetcher permission check with
        the reference's status/error mapping.  Allows everything when no
        StreamFetcher is configured."""
        if self.stream_fetcher is None:
            return True
        from broker_spark.serving.auth import authenticate_request

        status, payload = authenticate_request(
            self.stream_fetcher,
            stream_id,
            self.headers.get("Authorization"),
            operation,
        )
        if status != 200:
            self._send_json(status, payload)
            return False
        return True

    def do_GET(self) -> None:  # noqa: N802 (stdlib API)
        url = urlparse(self.path)
        qs = parse_qs(url.query, keep_blank_values=True)
        # Express decodeURIComponent's path params; stream ids routinely
        # contain '/' and ':' and arrive percent-encoded in the path.
        m = _DATA_RE.match(url.path)
        if m:
            self._handle_data(unquote(m.group(1)), m.group(2), m.group(3), qs)
            return
        m = _META_RE.match(url.path)
        if m:
            self._handle_metadata(unquote(m.group(1)), m.group(2))
            return
        # GET /volume (src/http/VolumeEndpoint.ts): the metrics report
        if url.path in ("/volume", "/api/v1/volume") and self.metrics is not None:
            self._send_json(200, self.metrics.report())
            return
        # GET /streams/:id/storage/partitions/:p (StorageConfigEndpoints.ts):
        # is this stream-partition assigned to this storage node?
        m = _STORAGE_RE.match(url.path)
        if m and self.storage_config is not None:
            if not re.match(r"^[+-]?\d+", m.group(2)):
                body = f"Partition is not a number: {m.group(2)}".encode()
                self.send_response(400)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            found = self.storage_config.has_stream(
                unquote(m.group(1)), int(m.group(2))
            )
            if found:
                self._send_json(200, {})
            else:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
            return
        self._send_json(404, {"error": f"Not found: {url.path}"})

    # -- publish (DataProduceEndpoints.ts) ----------------------------------
    def do_POST(self) -> None:  # noqa: N802 (stdlib API)
        from broker_spark.serving.publish import (
            MAX_BODY_BYTES,
            PublishError,
            parse_publish_query,
        )

        url = urlparse(self.path)
        m = _PRODUCE_RE.match(url.path)
        if not m:
            self._send_json(404, {"error": f"Not found: {url.path}"})
            return
        stream_id = unquote(m.group(1))
        # middleware order matches the reference: authenticator runs before
        # the route handler (DataProduceEndpoints.ts router wiring)
        if not self._authorize(stream_id, "stream_publish"):
            return
        if self.spool is None:
            self._send_json(501, {"error": "Publishing not enabled on this node."})
            return
        length = int(self.headers.get("Content-Length") or 0)
        if length > MAX_BODY_BYTES:  # bodyParser limit '1024kb'
            self._send_json(413, {"error": "Request body too large."})
            return
        body = self.rfile.read(length) if length else b""
        if not body:
            self._error("No request body or invalid request body.")
            return
        qs = parse_qs(url.query, keep_blank_values=True)
        try:
            req = parse_publish_query(stream_id, body, qs)
            self.spool.publish(req)
        except PublishError as e:
            self._error(str(e))
            return
        except Exception as e:
            # validator rejections (signature/policy) are client errors,
            # like the reference's FailedToPublishError -> 400 path
            from broker_spark.serving.validator import ValidationError

            if isinstance(e, ValidationError):
                self._error(str(e))
                return
            raise
        self._send_json(200, {})

    # -- data queries -------------------------------------------------------
    def _handle_data(self, stream_id: str, partition_raw: str, name: str, qs: dict) -> None:
        # partition parsing middleware (DataQueryEndpoints.ts:118-129)
        pm = re.match(r"^[+-]?\d+", partition_raw)
        if not pm:
            self._error(f'Path parameter "partition" not a number: {partition_raw}')
            return
        partition = int(pm.group(0))
        if not self._authorize(stream_id, "stream_subscribe"):
            return
        fmt = get_format(_first(qs, "format"))
        if fmt is None:
            self._error(f'Query parameter "format" is invalid: {_first(qs, "format")}')
            return
        version = _parse_int_if_exists(qs, "version")
        version = None if version is None or _is_nan(version) else version

        if name == "last":
            count = _parse_int_if_exists(qs, "count")
            if count is None:
                count = 1
            if _is_nan(count):
                self._error(f'Query parameter "count" not a number: {_first(qs, "count")}')
                return
            request = functools.partial(
                self.storage.request_last, stream_id, partition, count
            )
        elif name == "from":
            from_ts = _parse_int_if_exists(qs, "fromTimestamp")
            from_seq = _seq_or_default(qs, "fromSequenceNumber", MIN_SEQUENCE_NUMBER_VALUE)
            publisher_id = _first(qs, "publisherId")
            if from_ts is None:
                self._error('Query parameter "fromTimestamp" required.')
                return
            if _is_nan(from_ts):
                self._error(
                    f'Query parameter "fromTimestamp" not a number: {_first(qs, "fromTimestamp")}'
                )
                return
            request = functools.partial(
                self.storage.request_from,
                stream_id, partition, from_ts, from_seq, publisher_id or None, None,
            )
        else:  # range
            from_ts = _parse_int_if_exists(qs, "fromTimestamp")
            to_ts = _parse_int_if_exists(qs, "toTimestamp")
            from_seq = _seq_or_default(qs, "fromSequenceNumber", MIN_SEQUENCE_NUMBER_VALUE)
            to_seq = _seq_or_default(qs, "toSequenceNumber", MAX_SEQUENCE_NUMBER_VALUE)
            publisher_id = _first(qs, "publisherId")
            msg_chain_id = _first(qs, "msgChainId")
            if "fromOffset" in qs or "toOffset" in qs:
                self._error(
                    'Query parameters "fromOffset" and "toOffset" are no longer supported.'
                    ' Please use "fromTimestamp" and "toTimestamp".'
                )
                return
            if from_ts is None:
                self._error('Query parameter "fromTimestamp" required.')
                return
            if _is_nan(from_ts):
                self._error(
                    f'Query parameter "fromTimestamp" not a number: {_first(qs, "fromTimestamp")}'
                )
                return
            if to_ts is None:
                self._error(
                    'Query parameter "toTimestamp" required as well. To request all messages'
                    " since a timestamp, use the endpoint"
                    " /streams/:id/data/partitions/:partition/from"
                )
                return
            if _is_nan(to_ts):
                self._error(
                    f'Query parameter "toTimestamp" not a number: {_first(qs, "toTimestamp")}'
                )
                return
            if bool(publisher_id) != bool(msg_chain_id):
                self._error('Invalid combination of "publisherId" and "msgChainId"')
                return
            request = functools.partial(
                self.storage.request_range,
                stream_id,
                partition,
                from_ts,
                from_seq,
                to_ts,
                to_seq,
                publisher_id or None,
                msg_chain_id or None,
            )

        # Build the query and pull the first frame chunk BEFORE committing
        # the 200 so a storage failure still yields the reference's 500 JSON
        # ('data.on("error")' before headersSent, DataQueryEndpoints.ts:86-93).
        try:
            pieces = frame(self.storage.stream_rows(request()), fmt, version)
            first = next(pieces)
        except StopIteration:
            first = None
        except Exception:
            self._send_json(500, {"error": "Failed to fetch data!"})
            return
        self.send_response(200)
        self.send_header("Content-Type", fmt.content_type)
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        out_bytes = 0
        try:
            for piece in ([first] if first is not None else []):
                data = piece.encode()
                if data:
                    self.wfile.write(b"%x\r\n%s\r\n" % (len(data), data))
                    out_bytes += len(data)
            for piece in pieces:
                data = piece.encode()
                if data:
                    self.wfile.write(b"%x\r\n%s\r\n" % (len(data), data))
                    out_bytes += len(data)
            self.wfile.write(b"0\r\n\r\n")
        except (BrokenPipeError, ConnectionResetError):
            pass  # client abort cancels the iteration (DataQueryEndpoints.ts:96-99)
        finally:
            if self.metrics is not None:  # storageRead counters (VolumeLogger)
                self.metrics.record("storage.readBytes", out_bytes)
                self.metrics.record("storage.readMessages", 1)

    # -- metadata (DataMetadataEndpoints.ts) --------------------------------
    def _handle_metadata(self, stream_id: str, partition_raw: str) -> None:
        pm = re.match(r"^[+-]?\d+", partition_raw)
        if not pm:
            self._error(f'Path parameter "partition" not a number: {partition_raw}')
            return
        partition = int(pm.group(0))
        try:
            meta = self.storage.partition_metadata(stream_id, partition)
        except Exception:
            self._send_json(500, {"error": "Failed to fetch data!"})
            return
        self._send_json(200, meta)


def serve(
    storage: Storage,
    host: str = "127.0.0.1",
    port: int = 0,
    spool=None,
    stream_fetcher=None,
    metrics=None,
    storage_config=None,
) -> ThreadingHTTPServer:
    """Start the gateway on a background thread; returns the server (use
    `.server_address` for the bound port, `.shutdown()` to stop).  Pass a
    `publish.PublishSpool` to enable the write path, an
    `auth.StreamFetcher` to enable the authenticator middleware, a
    `stream_metrics.MetricsContext` to enable GET /volume + counters, and
    a `storage.config.StorageConfig` for the assignment endpoint."""
    handler = type(
        "BoundDataQueryHandler",
        (DataQueryHandler,),
        {
            "storage": storage,
            "spool": spool,
            "stream_fetcher": stream_fetcher,
            "metrics": metrics,
            "storage_config": storage_config,
        },
    )
    server = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
