"""Seeded inputs and the pure-Python answer oracle for the broker benchmark.

The load generator builds every input here from `--seed` and hands the
system under test (SUT) only the generated rows (a JSON-lines file) and the
HTTP requests.  The same rows stay in memory as the oracle: resend and
metadata answers are recomputed from them with the reference's semantics
(src/storage/Storage.ts ordering, boundary and clamp rules) and compared
with what the gateway returned.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

# An hour-aligned base (2023-11-14T22:00Z) so every run lays out the same
# buckets; the SUT buckets by the default 1 h span.
BASE_MS = 1_699_999_200_000
HOUR_MS = 3_600_000
MAX_RESEND_LAST = 10_000  # the reference's resend-last clamp
PUBLISHERS = ("0xpub-a", "0xpub-b", "0xpub-c")
CHAINS = ("chain-1", "chain-2")


@dataclass(frozen=True)
class LogShape:
    streams: int
    partitions: int
    buckets: int
    rows_per_bucket: tuple[int, int]  # inclusive range drawn per bucket
    # (stream, partition) -> rows-per-bucket range, for partitions that must
    # hold more than the resend-last clamp
    heavy: tuple[tuple[int, int, tuple[int, int]], ...] = ()


# Message tuple layout, shared with the SUT's input file.
STREAM, PARTITION, TS, SEQ, PUB, CHAIN, CONTENT = range(7)


def stream_name(k: int) -> str:
    return f"perf-stream-{k}"


def _content(rng: random.Random, n: int) -> str:
    return json.dumps(
        {
            "n": n,
            "value": round(rng.random() * 1000, 3),
            "kind": rng.choice(("tick", "quote", "trade", "heartbeat")),
            "payload": rng.getrandbits(480).to_bytes(60, "big").hex(),
        },
        separators=(",", ":"),
    )


def seeded_log(seed: int, shape: LogShape) -> list[tuple]:
    """Rows of the pre-built log.  Several rows share a timestamp (told
    apart by sequence number), with three publishers on two chains."""
    rng = random.Random(seed)
    heavy = {(s, p): r for s, p, r in shape.heavy}
    rows: list[tuple] = []
    n = 0
    for s in range(shape.streams):
        for p in range(shape.partitions):
            lo, hi = heavy.get((s, p), shape.rows_per_bucket)
            for b in range(shape.buckets):
                start = BASE_MS + b * HOUR_MS
                want = rng.randint(lo, hi)
                offsets = sorted(rng.sample(range(HOUR_MS), want))
                i = 0
                while i < want:
                    ts = start + offsets[i]
                    for seq in range(min(rng.choice((1, 1, 1, 2, 3)), want - i)):
                        rows.append(
                            (
                                stream_name(s),
                                p,
                                ts,
                                seq,
                                rng.choice(PUBLISHERS),
                                rng.choice(CHAINS),
                                _content(rng, n),
                            )
                        )
                        n += 1
                        i += 1
    return rows


def write_rows(rows: list[tuple], path: str) -> None:
    """The SUT's input file: one JSON object per message."""
    with open(path, "w") as f:
        for r in rows:
            f.write(
                json.dumps(
                    {
                        "stream_id": r[STREAM],
                        "partition": r[PARTITION],
                        "ts_ms": r[TS],
                        "sequence_no": r[SEQ],
                        "publisher_id": r[PUB],
                        "msg_chain_id": r[CHAIN],
                        "content": r[CONTENT],
                    },
                    separators=(",", ":"),
                )
            )
            f.write("\n")


def order_key(r: tuple) -> tuple:
    return (r[TS], r[SEQ], r[PUB], r[CHAIN])


class Oracle:
    """Expected answers over a fixed set of rows."""

    def __init__(self, rows: list[tuple]) -> None:
        self.by_partition: dict[tuple[str, int], list[tuple]] = {}
        for r in rows:
            self.by_partition.setdefault((r[STREAM], r[PARTITION]), []).append(r)
        for v in self.by_partition.values():
            v.sort(key=order_key)

    def rows(self, stream: str, partition: int) -> list[tuple]:
        return self.by_partition.get((stream, partition), [])

    def last(self, stream: str, partition: int, count: int) -> list[tuple]:
        n = max(0, min(count, MAX_RESEND_LAST))
        rows = self.rows(stream, partition)
        return rows[len(rows) - n:] if n else []

    def from_(self, stream, partition, from_ts, from_seq, publisher=None) -> list[tuple]:
        return [
            r
            for r in self.rows(stream, partition)
            if (r[TS] > from_ts or (r[TS] == from_ts and r[SEQ] >= from_seq))
            and (publisher is None or r[PUB] == publisher)
        ]

    def range_(self, stream, partition, from_ts, from_seq, to_ts, to_seq,
               publisher=None, chain=None) -> list[tuple]:
        return [
            r
            for r in self.from_(stream, partition, from_ts, from_seq, publisher)
            if (r[TS] < to_ts or (r[TS] == to_ts and r[SEQ] <= to_seq))
            and (chain is None or r[CHAIN] == chain)
        ]

    def metadata(self, stream: str, partition: int) -> dict:
        rows = self.rows(stream, partition)
        return {
            "totalBytes": sum(len(r[CONTENT].encode()) for r in rows),
            "totalMessages": len(rows),
            "firstMessage": rows[0][TS] if rows else None,
            "lastMessage": rows[-1][TS] if rows else None,
        }


def message_of(obj: list) -> tuple:
    """A message from the gateway's default `object` format
    (`[version, [stream, partition, ts, seq, publisher, chain], prevRef,
    type, contentType, encryption, content, signatureType, signature]`)
    back to the oracle's tuple."""
    stream, partition, ts, seq, pub, chain = obj[1]
    return (stream, partition, ts, seq, pub, chain, obj[6])
