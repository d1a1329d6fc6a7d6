"""Config validation + broker entrypoint tests (validateConfig.ts
semantics: schema errors, conditional storage/storageNodeRegistry
requirements; startBroker wiring the adapters from config)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from broker_spark.config import load_config, start_broker, validate_config


def base_config(**overrides):
    cfg = {
        "adapters": [{"name": "http", "port": 0}],
        "network": {"name": "node-1", "isStorageNode": True},
        "storage": {"path": "/tmp/unused", "bucketMs": 3_600_000},
    }
    cfg.update(overrides)
    return cfg


class TestValidation:
    def test_valid_config_passes(self):
        validate_config(base_config())

    def test_unknown_property_rejected(self):
        with pytest.raises(ValueError, match="Additional properties"):
            validate_config(base_config(bogus=1))

    def test_unknown_adapter_rejected(self):
        with pytest.raises(ValueError, match="adapters"):
            validate_config(base_config(adapters=[{"name": "grpc"}]))

    def test_missing_network_rejected(self):
        cfg = base_config()
        del cfg["network"]
        with pytest.raises(ValueError, match="'network' is a required property"):
            validate_config(cfg)

    def test_storage_node_requires_storage(self):
        cfg = base_config()
        del cfg["storage"]
        with pytest.raises(
            ValueError, match="Configuration must have required property 'storage'"
        ):
            validate_config(cfg)

    def test_non_storage_node_requires_registry(self):
        cfg = base_config(network={"name": "n", "isStorageNode": False})
        del cfg["storage"]
        with pytest.raises(
            ValueError,
            match="Configuration must have required property 'storageNodeRegistry'",
        ):
            validate_config(cfg)
        cfg["storageNodeRegistry"] = [{"address": "0x1", "url": "http://n1"}]
        validate_config(cfg)

    def test_start_broker_rejects_non_storage_node(self):
        cfg = base_config(
            network={"name": "n", "isStorageNode": False},
            storageNodeRegistry=[{"address": "0x1", "url": "http://n1"}],
        )
        del cfg["storage"]
        with pytest.raises(ValueError, match="storage nodes only"):
            start_broker(None, cfg)

    def test_load_config_from_file(self, tmp_path):
        p = tmp_path / "broker.json"
        p.write_text(json.dumps(base_config()))
        assert load_config(str(p))["network"]["name"] == "node-1"


def test_volume_endpoint_reports_live_counters(spark, tmp_path):
    """GET /volume (VolumeEndpoint.ts): publish + resend traffic shows up
    in the metrics report's totals."""
    cfg = base_config(
        storage={"path": str(tmp_path / "vol-log"), "bucketMs": 3_600_000},
    )
    broker = start_broker(spark, cfg)
    try:
        host, port = broker.adapter_address("http")
        req = urllib.request.Request(
            f"http://{host}:{port}/streams/v-s/data?ts=1000",
            data=b'{"v": 1}', method="POST",
        )
        urllib.request.urlopen(req, timeout=60)
        broker.spool.flush()
        urllib.request.urlopen(
            f"http://{host}:{port}/streams/v-s/data/partitions/0/last", timeout=120
        ).read()
        report = json.loads(
            urllib.request.urlopen(f"http://{host}:{port}/volume", timeout=60).read()
        )
        m = report["metrics"]
        assert m["publisher.messages"]["total"] == 1
        assert m["publisher.bytes"]["total"] == len(b'{"v": 1}')
        assert m["storage.writeMessages"]["total"] == 1
        assert m["storage.readBytes"]["total"] > 0
    finally:
        broker.close()


def test_start_broker_wires_adapters(spark, tmp_path):
    cfg = base_config(
        adapters=[{"name": "http", "port": 0}, {"name": "tcp", "port": 0},
                  {"name": "ws", "port": 0}, {"name": "mqtt", "port": 0}],
        storage={"path": str(tmp_path / "broker-log"), "bucketMs": 3_600_000},
    )
    broker = start_broker(spark, cfg)
    try:
        assert set(broker.servers) == {"http", "tcp", "ws", "mqtt"}
        host, port = broker.adapter_address("http")
        # publish through HTTP, read back through HTTP
        req = urllib.request.Request(
            f"http://{host}:{port}/streams/cfg-s/data?ts=1000",
            data=b'{"v": 1}', method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert r.status == 200
        broker.spool.flush()
        body = urllib.request.urlopen(
            f"http://{host}:{port}/streams/cfg-s/data/partitions/0/last", timeout=120
        ).read()
        assert len(json.loads(body)) == 1
    finally:
        broker.close()
