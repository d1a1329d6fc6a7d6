"""Broker configuration: JSON-schema validation + the node entrypoint.

Mirrors src/helpers/validateConfig.ts (ajv validation, joined error texts,
and the conditional requirements: a storage node must configure `storage`,
a non-storage node must configure `storageNodeRegistry`) and the
startBroker flow (src/broker.ts:28-160 + src/adapterRegistry.ts): validate,
open storage, then start each configured adapter by name.

The schema is this engine's own config surface — the partitioned parquet
log replaces the reference's `cassandra` section; adapters gain the `tcp`
transport; everything else keeps the reference's shape (network node
identity, per-node metrics reporting, storage-node registry)."""

from __future__ import annotations

import json
from typing import Any

CONFIG_SCHEMA: dict[str, Any] = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "description": "broker_spark configuration format",
    "type": "object",
    "required": ["adapters", "network"],
    "additionalProperties": False,
    "properties": {
        "adapters": {
            "type": "array",
            "description": "Protocol adapters to start",
            "items": {
                "type": "object",
                "required": ["name"],
                "properties": {
                    "name": {"enum": ["http", "ws", "tcp", "mqtt"]},
                    "port": {"type": "integer", "minimum": 0, "maximum": 65535},
                    "pingInterval": {"type": "integer", "minimum": 1},
                    "streamsTimeout": {"type": "integer", "minimum": 1},
                },
                "additionalProperties": False,
            },
        },
        "storage": {
            "type": ["object", "null"],
            "description": "Partitioned parquet log (the Cassandra analog)",
            "required": ["path"],
            "additionalProperties": False,
            "properties": {
                "path": {"type": "string"},
                "bucketMs": {"type": "integer", "minimum": 1},
                "partitionCount": {"type": "integer", "minimum": 1},
            },
        },
        "network": {
            "type": "object",
            "required": ["name", "isStorageNode"],
            "additionalProperties": False,
            "properties": {
                "name": {"type": "string"},
                "hostname": {"type": "string"},
                "isStorageNode": {"type": "boolean"},
                "location": {"type": ["object", "null"]},
            },
        },
        "reporting": {
            "type": ["object", "null"],
            "additionalProperties": False,
            "properties": {
                "perNodeMetrics": {
                    "type": ["object", "null"],
                    "required": ["enabled", "nodeAddress"],
                    "additionalProperties": False,
                    "properties": {
                        "enabled": {"type": "boolean"},
                        "nodeAddress": {"type": "string"},
                        "intervals": {"type": ["object", "null"]},
                    },
                },
            },
        },
        "storageNodeRegistry": {
            "type": ["array", "null"],
            "items": {
                "type": "object",
                "required": ["address", "url"],
                "additionalProperties": False,
                "properties": {
                    "address": {"type": "string"},
                    "url": {"type": "string"},
                },
            },
        },
        "retention": {
            "type": ["object", "null"],
            "additionalProperties": False,
            "properties": {
                "defaultDays": {"type": "integer", "minimum": 1},
                "overrides": {"type": "object"},
            },
        },
    },
}


def validate_config(config: dict) -> None:
    """validateConfig.ts:13-30: schema errors joined with newlines (the
    offending additionalProperty appended), then the conditional asserts."""
    import jsonschema

    validator = jsonschema.Draft7Validator(CONFIG_SCHEMA)
    errors = sorted(validator.iter_errors(config), key=lambda e: list(e.absolute_path))
    if errors:
        texts = []
        for e in errors:
            path = "/".join(str(p) for p in e.absolute_path) or "data"
            text = f"{path} {e.message}"
            texts.append(text)
        raise ValueError("\n".join(texts))
    if config["network"]["isStorageNode"]:
        if config.get("storage") is None:
            raise ValueError("Configuration must have required property 'storage'")
    else:
        if config.get("storageNodeRegistry") is None:
            raise ValueError(
                "Configuration must have required property 'storageNodeRegistry'"
            )


def load_config(path: str) -> dict:
    with open(path) as f:
        config = json.load(f)
    validate_config(config)
    return config


class Broker:
    """Handles for a started node (startBroker's return shape)."""

    def __init__(self, storage, spool, servers: dict, metrics_tiers: dict):
        self.storage = storage
        self.spool = spool
        self.servers = servers
        self.metrics_tiers = metrics_tiers

    def adapter_address(self, name: str):
        return self.servers[name].server_address

    def close(self) -> None:
        for tier in self.metrics_tiers.values():
            tier.stop()
        for server in self.servers.values():
            server.shutdown()
        if self.spool is not None:
            self.spool.close()


def start_broker(spark, config: dict) -> Broker:
    """Validate the config, open the log, start the configured adapters
    (src/broker.ts:28-160; per-adapter start mirrors adapterRegistry.ts).

    This engine runs storage nodes only: every node serves resends from
    its own log.  A config that validates as a non-storage node
    (`isStorageNode: false` plus a `storageNodeRegistry`) raises
    ValueError before any adapter starts — proxying resends to the
    registry's storage nodes is not implemented."""
    from broker_spark.jobs.stream_metrics import MetricsContext, start_cascade
    from broker_spark.serving import http as http_adapter
    from broker_spark.serving import mqtt as mqtt_adapter
    from broker_spark.serving import tcp as tcp_adapter
    from broker_spark.serving import websocket as ws_adapter
    from broker_spark.serving.publish import PublishSpool
    from broker_spark.storage.store import Storage

    validate_config(config)
    if not config["network"]["isStorageNode"]:
        raise ValueError("this engine runs storage nodes only (isStorageNode: false)")
    storage_cfg = config.get("storage") or {}
    metrics = MetricsContext()
    storage = Storage(
        spark,
        storage_cfg["path"],
        bucket_ms=storage_cfg.get("bucketMs", 3_600_000),
    )
    spool = PublishSpool(
        storage,
        partition_count=storage_cfg.get("partitionCount", 1),
        metrics=metrics,
    )
    servers: dict[str, Any] = {}
    for adapter in config["adapters"]:
        name = adapter["name"]
        port = adapter.get("port", 0)
        if name == "http":
            servers[name] = http_adapter.serve(
                storage, port=port, spool=spool, metrics=metrics
            )
        elif name == "ws":
            servers[name] = ws_adapter.serve_ws(
                storage,
                spool=spool,
                port=port,
                ping_interval_s=adapter.get("pingInterval", 60_000) / 1000.0,
            )
        elif name == "tcp":
            servers[name] = tcp_adapter.serve_control(storage, spool=spool, port=port)
        elif name == "mqtt":
            servers[name] = mqtt_adapter.serve_mqtt(spool, port=port)

    tiers: dict[str, Any] = {}
    per_node = (config.get("reporting") or {}).get("perNodeMetrics") or {}
    if per_node.get("enabled"):
        tiers = start_cascade(
            storage,
            spool,
            per_node["nodeAddress"],
            metrics=metrics,  # the sec tier samples the live node counters
            report_ms=per_node.get("intervals"),
        )
    broker = Broker(storage, spool, servers, tiers)
    broker.metrics = metrics
    return broker
