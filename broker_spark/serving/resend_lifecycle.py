"""Resend control-message lifecycle (W7) — transport-agnostic.

Mirrors src/websocket/RequestHandler.ts:137-215: a resend answers with
    ResendResponseResending -> UnicastMessage x N -> ResendResponseResent
or, when the query matches nothing,
    ResendResponseNoResend
and, on storage failure,
    ErrorResponse (errorCode RESEND_FAILED).

The reference runs this over uWS websockets; the lifecycle itself is
engine logic, so it is expressed as a generator over any row iterator
(`Storage.stream_rows` — a small answer collected in one Spark job, a
larger one fetched a partition at a time, the backpressure analog of the
reference's pause/resume).  A websocket/TCP transport just forwards the
yielded dicts.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from broker_spark.serving.formats import to_protocol_array


def resend_response(
    request_id: str,
    stream_id: str,
    stream_partition: int,
    rows: Iterator[Any],
    version: int = 2,
) -> Iterator[dict]:
    """Yield the control-message sequence for one resend request.

    Message shapes follow the public control-layer protocol (type tags:
    Unicast=1, ResendResponseResending=4, ResendResponseResent=5,
    ResendResponseNoResend=6)."""
    sent = 0
    try:
        for row in rows:
            if sent == 0:
                yield {
                    "type": "ResendResponseResending",
                    "version": version,
                    "requestId": request_id,
                    "streamId": stream_id,
                    "streamPartition": stream_partition,
                }
            sent += 1
            yield {
                "type": "UnicastMessage",
                "version": version,
                "requestId": request_id,
                "streamMessage": to_protocol_array(row),
            }
    except Exception as e:  # RequestHandler.ts:206-213
        yield {
            "type": "ErrorResponse",
            "version": version,
            "requestId": request_id,
            "errorMessage": (
                f"Failed to request resend from stream {stream_id} and partition"
                f" {stream_partition}: {e}"
            ),
            "errorCode": "RESEND_FAILED",
        }
        return
    tail = "ResendResponseResent" if sent else "ResendResponseNoResend"
    yield {
        "type": tail,
        "version": version,
        "requestId": request_id,
        "streamId": stream_id,
        "streamPartition": stream_partition,
    }
