"""Shared pytest fixtures: one SparkSession per test run, plus the golden
stream_data fixture mirroring the reference's integration corpus
(test/integration/storage/Storage.test.ts)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import SparkSession

from broker_spark.schema import STREAM_MESSAGE_SCHEMA
from broker_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def union_find_components(nodes, edges) -> dict:
    """Reference connected components: {node: min node id of its
    component} by plain union-find — what every CC operator must return."""
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def random_graph_with_chains(rng, n: int, n_random: int, chain_len: int) -> list:
    """Sorted undirected edges over nodes 0..n-1: up to `n_random` random
    edges plus one chain of `chain_len` edges through randomly ordered
    nodes, so a component's diameter spans many contraction rounds."""
    edges = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(n_random)}
    path = rng.sample(range(n), chain_len + 1)
    edges |= {tuple(sorted(p)) for p in zip(path, path[1:])}
    return sorted(edges)


@pytest.fixture(scope="session")
def spark(tmp_path_factory) -> SparkSession:
    # the session's own warehouse: tables the suite saves (e.g.
    # storage.bucketed's fixed-name bkt_* tables) never meet another
    # process's in the checkout's shared spark-warehouse/
    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        app_name="broker-spark-tests", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


def _ts(ms: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(ms / 1000.0, tz=dt.timezone.utc).replace(tzinfo=None)


def make_msg(
    stream_id: str,
    partition: int = 0,
    ts: int = 0,
    sequence_no: int = 0,
    publisher_id: str = "publisher",
    msg_chain_id: str = "1",
    content: str = '{"hello":"world"}',
    prev_ts: int | None = None,
    prev_seq: int | None = None,
):
    """One StreamMessage row, shaped like the reference's buildMsg
    (test/integration/storage/Storage.test.ts:123-152)."""
    return (
        stream_id,
        partition,
        _ts(ts),
        sequence_no,
        publisher_id,
        msg_chain_id,
        _ts(prev_ts) if prev_ts is not None else None,
        prev_seq,
        0,
        None,
        0,
        content,
    )


@pytest.fixture(scope="session")
def golden_messages():
    """The interleaved-publisher corpus from Storage.test.ts:180-229:
    messages at ts 0..4000 (step 1000); at ts=3000 three publishers with
    sequence numbers breaking the tie; decoy rows in another partition (666)
    and a near-miss stream id that queries must exclude."""
    sid = "stream-golden"
    rows = [
        make_msg(sid, 10, 0, 0, "publisher1"),
        make_msg(sid, 10, 1000, 0, "publisher2"),
        make_msg(sid, 10, 2000, 0, "publisher3"),
        make_msg(sid, 10, 2500, 0, "publisher2", "2"),
        make_msg(sid, 10, 3000, 0, "publisher1"),
        make_msg(sid, 10, 3000, 1, "publisher2"),
        make_msg(sid, 10, 3000, 2, "publisher3"),
        make_msg(sid, 10, 3000, 3, "publisher1", "4"),
        make_msg(sid, 10, 4000, 0, "publisher3"),
        # decoys — Storage.test.ts:168-169,196-197
        make_msg(sid, 666, 8000, 0),
        make_msg(f"{sid}-wrong", 10, 8000, 0),
    ]
    return sid, rows


@pytest.fixture(scope="session")
def golden_df(spark, golden_messages):
    _, rows = golden_messages
    return spark.createDataFrame(rows, STREAM_MESSAGE_SCHEMA)


def ids(result_rows):
    """Compact identity tuples for ordering assertions."""
    return [
        (int(r["ts"].timestamp() * 1000), r["sequence_no"], r["publisher_id"], r["msg_chain_id"])
        for r in result_rows
    ]
