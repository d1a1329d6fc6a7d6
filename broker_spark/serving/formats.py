"""Result formats for data-query responses (S9).

Mirrors src/http/DataQueryFormat.ts: three formats —
- ``object``   (default): JSON array of message objects
                (``createJsonFormat`` + ``StreamMessage.toObject()``)
- ``protocol``: JSON array of protocol-serialized strings
                (``streamMessage.serialize(version)``)
- ``raw``:      newline-delimited protocol strings, text/plain
                (``createPlainTextFormat``)

The protocol array layout follows the public streamr protocol v31/v32:
``[version, [streamId, streamPartition, timestamp, sequenceNumber,
publisherId, msgChainId], [prevTimestamp, prevSequenceNumber] | null,
messageType, contentType, encryptionType, content, signatureType,
signature]``.  Unlike the reference — which deserializes the stored blob
and re-serializes it per row (the double-serialization TODO at
src/http/DataQueryFormat.ts:35-40) — rows arrive as native columns, so
formatting is a single json.dumps per message.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

PROTOCOL_VERSION = 31
MESSAGE_TYPE_STREAM_MESSAGE = 27
CONTENT_TYPE_JSON = 0


def _ms(ts: Any) -> int:
    """Row `ts` -> epoch milliseconds.

    PySpark's TimestampType.fromInternal yields naive *local-time*
    datetimes; ``datetime.timestamp()`` applies the same local rules, so
    the round-trip is offset-free on any host tz (``calendar.timegm``
    would re-interpret the wall time as UTC and shift by the host offset).
    """
    if isinstance(ts, int):
        return ts
    return round(ts.timestamp() * 1000)


def message_id(row: Any) -> list:
    return [
        row["stream_id"],
        row["partition"],
        _ms(row["ts"]),
        row["sequence_no"],
        row["publisher_id"],
        row["msg_chain_id"],
    ]


def prev_ref(row: Any) -> list | None:
    prev_ts = row["prev_ts"] if "prev_ts" in row.__fields__ else None
    if prev_ts is None:
        return None
    return [_ms(prev_ts), row["prev_sequence_no"]]


def to_protocol_array(row: Any) -> list:
    return [
        PROTOCOL_VERSION,
        message_id(row),
        prev_ref(row),
        MESSAGE_TYPE_STREAM_MESSAGE,
        CONTENT_TYPE_JSON,
        row["encryption_type"] if "encryption_type" in row.__fields__ else 0,
        row["content"],
        row["signature_type"] if "signature_type" in row.__fields__ else 0,
        row["signature"] if "signature" in row.__fields__ else None,
    ]


def serialize_protocol(row: Any, version: int | None = None) -> str:
    """`streamMessage.serialize(version)` — JSON string of the array."""
    arr = to_protocol_array(row)
    if version is not None:
        arr[0] = version
    return json.dumps(arr, separators=(",", ":"))


def serialize_object(row: Any, version: int | None = None) -> str:
    """`streamMessage.toObject()` — the array itself (JSON value, not a
    double-encoded string)."""
    return json.dumps(to_protocol_array(row), separators=(",", ":"))


@dataclass(frozen=True)
class Format:
    get_message_as_string: Callable[[Any, int | None], str]
    content_type: str
    delimiter: str
    header: str
    footer: str


def _json_format(fn: Callable[[Any, int | None], str]) -> Format:
    return Format(fn, "application/json", ",", "[", "]")


def _plain_text_format(fn: Callable[[Any, int | None], str]) -> Format:
    return Format(fn, "text/plain", "\n", "", "")


FORMATS: dict[str, Format] = {
    # protocol strings are JSON-encoded *strings* inside the array
    "protocol": _json_format(
        lambda row, v: json.dumps(serialize_protocol(row, v), separators=(",", ":"))
    ),
    "object": _json_format(serialize_object),
    "raw": _plain_text_format(serialize_protocol),
}


def get_format(format_id: str | None) -> Format | None:
    """src/http/DataQueryFormat.ts:43-46 — None -> 'object', unknown -> None."""
    return FORMATS.get(format_id if format_id is not None else "object")


def frame(rows: Iterator[Any], fmt: Format, version: int | None = None) -> Iterator[str]:
    """Stream header / messages-with-delimiters / footer — the
    ResponseTransform framing (src/http/DataQueryEndpoints.ts:20-52),
    lazily over any row iterator (`Storage.stream_rows`), so a streamed
    answer is framed as its rows arrive."""
    first = True
    for row in rows:
        yield fmt.header if first else fmt.delimiter
        first = False
        yield fmt.get_message_as_string(row, version)
    if first:
        yield fmt.header
    yield fmt.footer
