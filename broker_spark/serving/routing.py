"""Storage-node routing (J4): streamId -> storage node -> re-issued HTTP
resend.

Mirrors src/StorageNodeRegistry.ts:31-64 (address->url table from config,
stream->addresses via the core API, random pick, the three error codes)
and src/websocket/historicalData.ts:21-66 (resend request -> data-query
URL with format=raw, re-issued over HTTP, response parsed line-by-line).

In SURVEY §3.2's single-engine topology the two-tier proxy collapses —
the engine both stores and serves — but a multi-node deployment still
needs the routing-table lookup, and a non-storage gateway node uses
`fetch_historical` to proxy resends to the owning storage node (which can
be another broker_spark gateway: its `raw` format is exactly the
newline-delimited protocol stream this parser consumes).
"""

from __future__ import annotations

import json
import random
import urllib.request
from collections.abc import Callable, Iterator
from urllib.parse import quote, urlencode

from broker_spark.schema import MAX_SEQUENCE_NUMBER_VALUE, MIN_SEQUENCE_NUMBER_VALUE


class GenericError(Exception):
    """src/errors/GenericError.ts — carries a machine-readable code."""

    def __init__(self, message: str, code: str):
        super().__init__(message)
        self.code = code


class StorageNodeRegistry:
    """Address->url config table + stream->address lookup.

    `get_storage_nodes(stream_id) -> list[address]` is the injectable
    core-API callout (`GET /streams/:id/storageNodes`); raise to model an
    upstream failure."""

    def __init__(
        self,
        url_by_address: dict[str, str],
        get_storage_nodes: Callable[[str], list[str]] | None = None,
        rng: random.Random | None = None,
    ):
        self.url_by_address = dict(url_by_address)
        self._get_storage_nodes = get_storage_nodes or (lambda stream_id: [])
        self._rng = rng or random.Random()

    @classmethod
    def create_instance(cls, config: dict, **kwargs) -> "StorageNodeRegistry | None":
        """StorageNodeRegistry.createInstance — None config disables routing."""
        items = config.get("storageNodeRegistry")
        if items is None:
            return None
        return cls({item["address"]: item["url"] for item in items}, **kwargs)

    def get_url_by_address(self, address: str) -> str | None:
        return self.url_by_address.get(address)

    def _get_storage_node_address(self, stream_id: str) -> str | None:
        try:
            addresses = self._get_storage_nodes(stream_id)
        except Exception:  # noqa: BLE001 — non-200 from the core API
            raise GenericError(
                f"Unable to list storage nodes: {stream_id}", "STORAGE_NODE_LIST_ERROR"
            ) from None
        if not addresses:
            return None
        # TODO-parity: the reference picks one at random and notes that
        # multi-node retry is future work (StorageNodeRegistry.ts:45-47)
        return addresses[self._rng.randrange(len(addresses))]

    def get_url_by_stream_id(self, stream_id: str) -> str:
        address = self._get_storage_node_address(stream_id)
        if address is None:
            raise GenericError(f"No storage nodes: {stream_id}", "NO_STORAGE_NODES")
        url = self.get_url_by_address(address)
        if url is None:
            raise GenericError(
                f"Storage node not in registry: {address}", "STORAGE_NODE_NOT_IN_REGISTRY"
            )
        return url


def data_query_endpoint_url(request: dict, base_url: str) -> str:
    """Resend request -> storage node data-query URL with format=raw
    (historicalData.ts:21-58).  `request` mirrors the control-layer shapes:
    {"type": "ResendLastRequest"|"ResendFromRequest"|"ResendRangeRequest",
     "streamId", "streamPartition", "numberLast"?, "fromTimestamp"?,
     "fromSequenceNumber"?, "toTimestamp"?, "toSequenceNumber"?,
     "publisherId"?, "msgChainId"?}."""
    kind = request["type"]
    sid = quote(request["streamId"], safe="")
    partition = request.get("streamPartition", 0)

    def url(suffix: str, query: dict) -> str:
        params = {k: v for k, v in query.items() if v is not None}  # skipNulls
        params["format"] = "raw"
        return (
            f"{base_url}/streams/{sid}/data/partitions/{partition}/{suffix}"
            f"?{urlencode(params)}"
        )

    if kind == "ResendLastRequest":
        return url("last", {"count": request["numberLast"]})
    if kind == "ResendFromRequest":
        return url(
            "from",
            {
                "fromTimestamp": request["fromTimestamp"],
                "fromSequenceNumber": request.get(
                    "fromSequenceNumber", MIN_SEQUENCE_NUMBER_VALUE
                ),
                "publisherId": request.get("publisherId"),
            },
        )
    if kind == "ResendRangeRequest":
        return url(
            "range",
            {
                "fromTimestamp": request["fromTimestamp"],
                "fromSequenceNumber": request.get(
                    "fromSequenceNumber", MIN_SEQUENCE_NUMBER_VALUE
                ),
                "toTimestamp": request["toTimestamp"],
                "toSequenceNumber": request.get(
                    "toSequenceNumber", MAX_SEQUENCE_NUMBER_VALUE
                ),
                "publisherId": request.get("publisherId"),
                "msgChainId": request.get("msgChainId"),
            },
        )
    raise ValueError(f"Assertion failed: request.type={kind}")


def fetch_historical(
    registry: StorageNodeRegistry,
    request: dict,
    session_token: str | None = None,
    timeout: float = 120.0,
) -> Iterator[list]:
    """createResponse (historicalData.ts:60-96): route the resend to the
    stream's storage node and yield protocol arrays parsed from its raw
    (newline-delimited) response.  Raises GenericError on routing failure;
    urllib.error.HTTPError surfaces non-200s (the reference maps those to
    an error response upstream)."""
    base = registry.get_url_by_stream_id(request["streamId"])
    url = data_query_endpoint_url(request, f"{base}/api/v1")
    headers = {}
    if session_token:
        headers["Authorization"] = f"Bearer {session_token}"
    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        for line in resp:
            text = line.decode("utf-8").strip()
            if text:
                yield json.loads(text)
