"""Broker benchmark: publish -> log -> resend, driven over HTTP.

    python3 perfbench/run.py --workload resend_static --seed 1 --seconds 25 --trace 0

Run from the repository root.  The command builds the inputs from `--seed`
(`perfbench.model`), starts the system under test as a separate process on
a fresh log (`perfbench/sut.py`), warms it up, then drives it from this
single process over stdlib HTTP keep-alive connections: at most four
connections and four threads, this one included.  Every answer is checked
against the oracle; the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics` -- the end-to-end metrics
with `--trace 0`, the per-layer ones (from a run with spans recorded in the
SUT, `perfbench.tracing`) with `--trace 1`.

Workloads (why each was chosen: BENCHMARK.json and perfbench/DESIGN.md):

  resend_static  reads alone over a pre-built 4x2x24-bucket log with one
                 file per bucket, then open-loop and closed-loop publishes.
  publish_tail   open-loop publishes into 4 hot partitions of a small log
                 with hot-tail reads beside them, a closed publish loop,
                 then reads alone on the log the writes grew.

All latencies run from the request's due time on a fixed schedule to its
last body byte, so a stall counts against every request it delays.
"""

from __future__ import annotations

import argparse
import bisect
import http.client
import itertools
import json
import os
import random
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import model, tracing  # noqa: E402
from perfbench.model import (  # noqa: E402
    CHAINS,
    CONTENT,
    HOUR_MS,
    PARTITION,
    PUBLISHERS,
    SEQ,
    STREAM,
    TS,
    LogShape,
    Oracle,
)

# Rates and connections.  Reads alone run well under the SUT's capacity
# (warm, three connections serve about 4.5 reads/s on resend_static's log),
# so their latency is mostly service time, not queueing; at 4 reads/s on
# publish_tail the read latency spread 0.21 over ten seeds.
PHASES = (0.5, 0.38, 0.12)  # shares of --seconds: reads alone, writes, closed loop
READ_RATE, READ_CONNS = 2.4, 3  # reads alone, open loop
TAIL_READ_RATE = 1.0  # hot-tail reads beside writes, open loop, 1 connection
PUBLISH_RATE = 8.0  # open loop, 1 connection: about half its closed-loop rate
CLOSED_CONNS = 3
POLL_PERIOD_S = 0.1  # GET /volume cadence for publish-to-visible
# Fixed tail percentiles: the highest each run's sample count supports with
# at least ten samples beyond it (>= 30 reads alone and >= 76 open-loop
# publishes per run at --seconds 25).
READ_TAIL_Q = 0.65
PUBLISH_TAIL_Q = 0.8
HOT_STREAMS = 4  # publishes go to partition 0 of streams 0..3
READY_TIMEOUT_S = 120
STOP_TIMEOUT_S = 30


@dataclass(frozen=True)
class Workload:
    shape: LogShape
    read_mix: tuple[str, ...]  # kinds of the reads-alone phase, one cycle
    warm_reads: int  # untimed reads before timing: JIT and caches settle
    reads_first: bool  # reads alone before the writes (else after them)
    tail_mix: tuple[str, ...]  # kinds read beside the writes, if any


WORKLOADS = {
    "resend_static": Workload(
        shape=LogShape(streams=4, partitions=2, buckets=24, rows_per_bucket=(230, 270),
                       heavy=((0, 1, (440, 460)),)),
        read_mix=("last", "from", "range", "range_pub", "big", "metadata"),
        warm_reads=40,
        reads_first=True,
        tail_mix=(),
    ),
    "publish_tail": Workload(
        shape=LogShape(streams=4, partitions=2, buckets=6, rows_per_bucket=(90, 110)),
        read_mix=("last", "from", "range", "big", "metadata"),
        warm_reads=36,
        reads_first=False,
        tail_mix=("last", "from", "metadata"),
    ),
}


# -- HTTP ------------------------------------------------------------------------
class Conn:
    """One keep-alive connection; reconnects after a failure."""

    def __init__(self, port: int) -> None:
        self.port = port
        self.c = http.client.HTTPConnection("127.0.0.1", port, timeout=60)

    def call(self, method: str, path: str, body: bytes | None = None) -> dict:
        """Send one request; returns status, body and the monotonic times of
        send, first body byte and last body byte."""
        t_send = time.monotonic()
        try:
            self.c.request(method, path, body=body)
            resp = self.c.getresponse()
            first = resp.read1(65536)
            t_first = time.monotonic()
            data = first + resp.read()
            t_end = time.monotonic()
            return {"status": resp.status, "body": data, "send": t_send,
                    "first": t_first, "end": t_end}
        except (OSError, http.client.HTTPException) as e:
            self.c.close()
            self.c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            return {"status": None, "body": b"", "error": repr(e), "send": t_send,
                    "first": time.monotonic(), "end": time.monotonic()}

    def close(self) -> None:
        self.c.close()


def volume_total(conn: Conn) -> tuple[float, float]:
    """(receive time, committed messages) from GET /volume."""
    r = conn.call("GET", "/volume")
    if r["status"] != 200:
        raise RuntimeError(f"GET /volume failed: {r}")
    m = json.loads(r["body"])["metrics"]
    return r["end"], m.get("storage.writeMessages", {}).get("total", 0.0)


# -- load loops --------------------------------------------------------------------
@dataclass
class Op:
    kind: str  # read kind or "publish"
    method: str
    path: str
    body: bytes | None = None
    due: float = 0.0  # seconds after the phase start
    check: tuple = ()  # oracle arguments for reads, the message for publishes
    result: dict = field(default_factory=dict)


def open_loop(ops: list[Op], conns: list[Conn], t0: float) -> list:
    """Workers, one per connection: each takes the next op, waits for its
    due time (`t0 + op.due`), sends.  When every connection is busy the op
    is sent late; its latency still runs from its due time."""
    idx = itertools.count()

    def worker(conn: Conn) -> None:
        for i in idx:
            if i >= len(ops):
                return
            op = ops[i]
            op.due += t0
            wait = op.due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            op.result = conn.call(op.method, op.path, op.body)

    return [lambda c=c: worker(c) for c in conns]


def closed_loop(make_op, conns: list[Conn], seconds: float, done: list) -> list:
    """Workers, one per connection: each sends its next op as soon as the
    previous one is answered, until `seconds` have passed."""
    lock = threading.Lock()
    end = time.monotonic() + seconds

    def worker(conn: Conn) -> None:
        while time.monotonic() < end:
            with lock:
                op = make_op()
            op.result = conn.call(op.method, op.path, op.body)
            op.due = op.result["send"]
            done.append(op)

    return [lambda c=c: worker(c) for c in conns]


def run_workers(workers: list, poll_conn: Conn | None = None, polls: list | None = None) -> None:
    """Run the workers on their own threads.  With a poll connection, this
    thread meanwhile GETs /volume every POLL_PERIOD_S on a fixed schedule
    until the workers are done; otherwise it runs the last worker itself.
    Either way no more threads run than connections are used."""
    if poll_conn is None:
        workers, last = workers[:-1], workers[-1]
    threads = [threading.Thread(target=f, daemon=True) for f in workers]
    for t in threads:
        t.start()
    if poll_conn is None:
        last()
    else:
        t0 = time.monotonic()
        for i in itertools.count():
            if not any(t.is_alive() for t in threads):
                break
            wait = t0 + i * POLL_PERIOD_S - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            polls.append(volume_total(poll_conn))
    for t in threads:
        t.join()


# -- request generation ------------------------------------------------------------
def data_path(stream: str, partition: int, name: str, **params) -> str:
    q = "&".join(f"{k}={v}" for k, v in params.items())
    return f"/streams/{stream}/data/partitions/{partition}/{name}?{q}"


def read_op(kind: str, rng: random.Random, oracle: Oracle, targets: list, from_bound,
            due: float = 0.0) -> Op:
    """One read of `kind` on a target partition, with oracle arguments.
    `from_bound(stream, partition, due)` gives a `from` read's timestamp."""
    stream, partition = rng.choice(targets)
    rows = oracle.rows(stream, partition)
    if kind in ("last", "big"):
        count = 50 if kind == "last" else 5000
        return Op(kind, "GET", data_path(stream, partition, "last", count=count),
                  due=due, check=("last", stream, partition, count))
    if kind == "metadata":
        return Op(kind, "GET", f"/streams/{stream}/metadata/partitions/{partition}",
                  due=due, check=("metadata", stream, partition))
    if kind == "from":
        from_ts = from_bound(stream, partition, due)
        from_seq = rng.choice((0, 1))
        return Op(kind, "GET", data_path(stream, partition, "from", fromTimestamp=from_ts,
                                         fromSequenceNumber=from_seq),
                  due=due, check=("from", stream, partition, from_ts, from_seq))
    # range / range_pub: 10 minutes inside one bucket, bounded by stored
    # messages so both sequence-number boundaries cut
    start = rng.choice([r for r in rows if r[TS] % HOUR_MS < 50 * 60_000])
    to_ts = max(r[TS] for r in rows if start[TS] <= r[TS] <= start[TS] + 600_000)
    params = dict(fromTimestamp=start[TS], toTimestamp=to_ts, fromSequenceNumber=1,
                  toSequenceNumber=0)
    pub = chain = None
    if kind == "range_pub":
        pub, chain = rng.choice(PUBLISHERS), rng.choice(CHAINS)
        params.update(publisherId=pub, msgChainId=chain)
    return Op("range", "GET", data_path(stream, partition, "range", **params),
              due=due, check=("range", stream, partition, start[TS], 1, to_ts, 0, pub, chain))


def read_schedule(mix, rate, rng, oracle, targets, seconds, from_bound) -> list[Op]:
    """An open-loop read schedule: the mix in order at `rate`."""
    return [
        read_op(mix[i % len(mix)], rng, oracle, targets, from_bound, due=i / rate)
        for i in range(int(seconds * rate))
    ]


class Publisher:
    """Publish requests into the hot partitions with schedule-derived
    timestamps on a fixed hour-aligned base, so every run lays out the
    same buckets."""

    def __init__(self, rng: random.Random, base_ms: int, streams: list[str]) -> None:
        self.rng, self.base_ms, self.streams = rng, base_ms, streams
        self.seq = {s: 0 for s in streams}
        self.n = 0

    def op(self, offset_ms: int, due: float = 0.0) -> Op:
        stream = self.streams[self.n % len(self.streams)]
        self.n += 1
        seq = self.seq[stream]
        self.seq[stream] += 1
        msg = (stream, 0, self.base_ms + offset_ms, seq, self.rng.choice(PUBLISHERS),
               self.rng.choice(CHAINS), model._content(self.rng, self.n))
        path = (f"/streams/{stream}/data?ts={msg[TS]}&seq={seq}"
                f"&address={msg[model.PUB]}&msgChainId={msg[model.CHAIN]}")
        return Op("publish", "POST", path, msg[CONTENT].encode(), due=due, check=msg)


# -- checks ------------------------------------------------------------------------
def messages(body: bytes) -> list[tuple]:
    return [model.message_of(o) for o in json.loads(body)]


def expected(oracle: Oracle, check: tuple):
    name, *args = check
    if name == "last":
        return oracle.last(*args)
    if name == "from":
        return oracle.from_(*args)
    if name == "range":
        return oracle.range_(*args)
    return oracle.metadata(*args)


def check_static(op: Op, oracle: Oracle) -> str | None:
    """Exact answer check against the oracle of a log that does not change."""
    r = op.result
    if r.get("status") != 200:
        return f"status {r.get('status')} {r.get('error', '')}"
    want = expected(oracle, op.check)
    got = json.loads(r["body"]) if op.check[0] == "metadata" else messages(r["body"])
    if got != want:
        return f"answer differs from oracle ({len(got)} vs {len(want)} items)"
    return None


def check_fresh(op: Op, oracle: Oracle, known: dict, committed_before) -> str | None:
    """Check of a read beside writes: ordered, no duplicate, every row a
    stored or published message matching the request, every pre-loaded
    match present, and every publish committed before the read was sent
    present."""
    r = op.result
    if r.get("status") != 200:
        return f"status {r.get('status')} {r.get('error', '')}"
    name, stream, partition, *args = op.check
    fresh = [m for m in committed_before(r["send"]) if (m[STREAM], m[PARTITION]) == (stream, partition)]
    if name == "metadata":
        meta = json.loads(r["body"])
        base = oracle.metadata(stream, partition)
        lo = base["totalMessages"] + len(fresh)
        hi = base["totalMessages"] + sum(
            1 for m in known.values() if (m[STREAM], m[PARTITION]) == (stream, partition))
        if not lo <= meta["totalMessages"] <= hi or meta["firstMessage"] != base["firstMessage"]:
            return f"metadata {meta} outside [{lo}, {hi}]"
        return None
    got = messages(r["body"])
    keys = [model.order_key(m) for m in got]
    if keys != sorted(keys) or len(set(keys)) != len(keys):
        return "rows out of order or duplicated"
    stored = {model.order_key(m): m for m in oracle.rows(stream, partition)}
    for m in got:
        key = model.order_key(m)
        if (m[STREAM], m[PARTITION]) != (stream, partition) or (
                stored.get(key) != m and known.get((stream, partition, *key)) != m):
            return f"row {m[:4]} was never stored in this partition"
    if name == "range":  # ranges stay inside the pre-built log
        return None if got == expected(oracle, op.check) else "range differs from oracle"
    if name == "last":
        # the newest `count` of (stored + committed-before + maybe later)
        count = args[0]
        pool = sorted(list(stored.values()) + fresh, key=model.order_key)
        if not min(count, len(pool)) <= len(got) <= count:
            return f"last returned {len(got)} rows"
        must = [m for m in pool if keys and model.order_key(m) >= keys[0]]
    else:
        from_ts, from_seq = args
        must = [m for m in list(stored.values()) + fresh
                if m[TS] > from_ts or (m[TS] == from_ts and m[SEQ] >= from_seq)]
    got_keys = set(keys)
    if any(model.order_key(m) not in got_keys for m in must):
        return "a stored or committed message is missing"
    return None


# -- SUT process -------------------------------------------------------------------
def proc_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident set (VmHWM) over the SUT's process tree."""
    total = 0
    for p in proc_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under the log root, checksum files included."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return files, size


class Sut:
    def __init__(self, work: str, input_path: str, log_dir: str, trace_out: str | None):
        cmd = [sys.executable, os.path.join(HERE, "sut.py"), "--input", input_path,
               "--log-dir", log_dir, "--work-dir", work]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        env = dict(os.environ)
        env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
        env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
        env["TMPDIR"] = work
        # every JVM the SUT starts (the spark-submit launcher too) keeps its
        # temp files in the work directory and writes no perf-data file
        env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        self.log = open(os.path.join(work, "sut.log"), "w")
        self.t_launch = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log, text=True,
                                     start_new_session=True)

    def read_event(self, timeout: float) -> dict:
        end = time.monotonic() + timeout
        while True:
            left = end - time.monotonic()
            if left <= 0 or not select.select([self.proc.stdout], [], [], left)[0]:
                raise RuntimeError("SUT did not answer in time")
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"SUT exited with {self.proc.wait()}")
            if line.startswith("{"):
                return json.loads(line)

    def stop(self) -> None:
        """Ask the SUT to stop cleanly and wait until it has."""
        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()
        self.read_event(STOP_TIMEOUT_S)
        self.proc.wait(STOP_TIMEOUT_S)

    def kill(self) -> None:
        """Kill every process of the SUT's session (driver, JVM, workers)
        and wait until all of them are gone."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        self.log.close()




# -- one run -----------------------------------------------------------------------
def p50(values) -> float:
    return statistics.median(values)


def latency_ms(op: Op) -> float:
    return 1000 * (op.result["end"] - op.due)


def ok(op: Op) -> bool:
    return op.result.get("status") == 200


def run(w: Workload, seed: int, seconds: float, trace: bool, work: str) -> dict:
    rng = random.Random(seed)
    rows = model.seeded_log(seed, w.shape)
    oracle = Oracle(rows)
    input_path = os.path.join(work, "rows.jsonl")
    model.write_rows(rows, input_path)
    log_dir = os.path.join(work, "log")
    trace_out = os.path.join(work, "trace.json") if trace else None

    heavy = {(model.stream_name(s), p) for s, p, _ in w.shape.heavy}
    parts = [(model.stream_name(s), p) for s in range(w.shape.streams)
             for p in range(w.shape.partitions)]
    hot = [(model.stream_name(s), 0) for s in range(HOT_STREAMS)]
    log_end_ms = model.BASE_MS + w.shape.buckets * HOUR_MS
    pub = Publisher(random.Random(seed + 1), log_end_ms, [s for s, _ in hot])
    warm_pub = Publisher(random.Random(seed + 2), log_end_ms, ["perf-warmup"])
    # reads alone go to the partitions the writes grow when they follow them
    read_targets = [p for p in parts if p not in heavy] if w.reads_first else hot
    read_s, write_s, closed_s = (seconds * f for f in PHASES)

    def recent_from(oracle):
        def bound(stream, partition, due):
            """A few minutes before the partition's newest message."""
            return oracle.rows(stream, partition)[-1][TS] - rng.randint(60, 300) * 1000
        return bound

    def tail_from(stream, partition, due):
        """The last minute of the publish schedule's clock."""
        return log_end_ms + round(due * 1000) - 60_000

    def reads_alone(oracle) -> list[Op]:
        ops = read_schedule(w.read_mix, READ_RATE, rng, oracle, read_targets, read_s,
                            recent_from(oracle))
        run_workers(open_loop(ops, conns[:READ_CONNS], time.monotonic()))
        return ops

    sut = Sut(work, input_path, log_dir, trace_out)
    try:
        ready = sut.read_event(READY_TIMEOUT_S)
        conns = [Conn(ready["port"]) for _ in range(4)]

        # -- warm-up, part of setup: a fixed number of reads back to back on
        # three connections, beside one publish batch on the fourth, which
        # is then waited through its flush
        warm = [read_op(w.read_mix[i % len(w.read_mix)], rng, oracle, read_targets,
                        recent_from(oracle)) for i in range(w.warm_reads)]
        warm_pubs = [warm_pub.op(i) for i in range(8)]
        t = time.monotonic()
        run_workers(open_loop(warm, conns[:3], t) + open_loop(warm_pubs, conns[3:], t))
        t_warm_reads = time.monotonic()
        while volume_total(conns[0])[1] < warm_pub.n:
            time.sleep(POLL_PERIOD_S)
        t_timing = time.monotonic()
        setup_s = t_timing - sut.t_launch
        files0, bytes0 = dir_usage(log_dir)
        base_total = volume_total(conns[0])[1]

        # -- timed phases
        alone: list[Op] = []
        if w.reads_first:
            alone = reads_alone(oracle)
        t_write = time.monotonic()
        pub_ops = [pub.op(round(i / PUBLISH_RATE * 1000), due=i / PUBLISH_RATE)
                   for i in range(int(write_s * PUBLISH_RATE))]
        workers = open_loop(pub_ops, conns[:1], t_write)
        beside = read_schedule(w.tail_mix, TAIL_READ_RATE, rng, oracle, hot, write_s,
                               tail_from) if w.tail_mix else []
        if beside:
            workers += open_loop(beside, conns[1:2], t_write)
        polls: list[tuple[float, float]] = []
        run_workers(workers, conns[3], polls)
        closed: list[Op] = []
        closed_base = round(write_s * 1000) + 60_000
        t_closed = time.monotonic()
        run_workers(closed_loop(lambda: pub.op(closed_base + pub.n), conns[:CLOSED_CONNS],
                                closed_s, closed))
        t_closed_end = time.monotonic()

        # -- untimed: wait until every acked publish is committed
        all_pubs = pub_ops + closed
        acked = [op for op in all_pubs if ok(op)]
        deadline = time.monotonic() + 60
        polls.append(volume_total(conns[3]))
        while polls[-1][1] < base_total + len(acked) and time.monotonic() < deadline:
            time.sleep(POLL_PERIOD_S)
            polls.append(volume_total(conns[3]))
        final = Oracle(rows + [op.check for op in acked])
        if not w.reads_first:  # timed again: reads alone on the grown log
            alone = reads_alone(final)
        t_window_end = time.monotonic()
        files1, bytes1 = dir_usage(log_dir)

        # -- untimed: read the hot partitions back, and once past the clamp
        readback = []
        for stream, partition in hot:
            readback.append(Op("from", "GET", data_path(stream, partition, "from",
                                                       fromTimestamp=log_end_ms)))
            readback.append(Op("metadata", "GET",
                               f"/streams/{stream}/metadata/partitions/{partition}"))
        clamp = None
        for stream, partition in sorted(heavy)[:1]:
            clamp = Op("big", "GET", data_path(stream, partition, "last", count=20_000),
                       check=("last", stream, partition, 20_000))
            readback.append(clamp)
        for op in readback:
            op.result = conns[0].call(op.method, op.path)
        rss_mb = peak_rss_mb(sut.proc.pid)
        for c in conns:
            c.close()
        if trace:
            sut.stop()  # the SUT writes its spans on a clean stop
    finally:
        sut.kill()

    # -- answer checks, outside the timed region
    failures: list[str] = []
    for op in warm:
        if (e := check_static(op, oracle)):
            failures.append(f"warm-up {op.kind}: {e}")
    for op in alone:
        if (e := check_static(op, final if not w.reads_first else oracle)):
            failures.append(f"{op.kind}: {e}")
    failures += [f"publish not acked: {op.result.get('status')} {op.result.get('error', '')}"
                 for op in warm_pubs + all_pubs if not ok(op)]
    if polls[-1][1] < base_total + len(acked):
        failures.append(f"{polls[-1][1] - base_total:.0f} of {len(acked)} acked publishes committed")

    sends = sorted(op.result["send"] for op in all_pubs)
    for op in acked:
        # the spool is FIFO, so once `total` covers every publish sent
        # before this one's ack, this one is committed
        op.result["rank"] = base_total + bisect.bisect_left(sends, op.result["end"])

    def committed_before(t: float) -> list[tuple]:
        have = max((total for pt, total in polls if pt <= t), default=base_total)
        return [op.check for op in acked if op.result["rank"] <= have]

    known = {(m[STREAM], m[PARTITION], *model.order_key(m)): m
             for m in (op.check for op in all_pubs)}
    for op in beside:
        if (e := check_fresh(op, oracle, known, committed_before)):
            failures.append(f"{op.kind} beside writes: {e}")
    for i, (stream, partition) in enumerate(hot):
        frm, meta = readback[2 * i], readback[2 * i + 1]
        want = final.from_(stream, partition, log_end_ms, 0)
        if not ok(frm) or messages(frm.result["body"]) != want:
            failures.append(f"readback {stream}/{partition}: acked messages not stored once each")
        total = len(final.rows(stream, partition))
        if not ok(meta) or json.loads(meta.result["body"])["totalMessages"] != total:
            failures.append(f"metadata {stream}/{partition} does not count {total} messages")
    if clamp is not None and check_static(clamp, oracle):
        failures.append("resend-last is not clamped to the newest 10,000 messages")
    attempted = len(alone) + len(beside) + len(all_pubs) + len(readback)

    # -- metrics
    data = [op for op in alone if op.kind != "metadata"]
    ok_pubs = [op for op in pub_ops if ok(op)]
    visible = []
    for op in ok_pubs:
        t = next((pt for pt, total in polls if total >= op.result["rank"]), None)
        if t is not None:
            visible.append(1000 * (t - op.due))
    content_bytes = sum(len(r[CONTENT]) for r in rows) + sum(
        len(op.check[CONTENT]) for op in warm_pubs + acked)
    e2e = {
        "setup_s": (setup_s, "s"),
        "read_p50_ms": (p50(map(latency_ms, alone)), "ms"),
        "read_tail_ms": (tracing.percentile(list(map(latency_ms, alone)), READ_TAIL_Q), "ms"),
        "resend_ttfb_p50_ms": (p50(1000 * (op.result["first"] - op.due) for op in data), "ms"),
        "visible_p50_ms": (p50(visible), "ms"),
        "publish_saturated_msgs_per_s": (sum(map(ok, closed)) / (t_closed_end - t_closed),
                                         "msg/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "stored_bytes_per_user_byte": (bytes1 / content_bytes, "ratio"),
    }
    # Printed, not gated: per-kind medians rest on ~6-8 samples a run and
    # publish acks on ~6 flushes, too few to hold steady across seeds
    # (DESIGN.md has the measured spreads).
    shown = {f"{'resend_' if k != 'metadata' else ''}{k}_p50_ms": (
        p50(latency_ms(op) for op in alone if op.kind == k), "ms")
        for k in dict.fromkeys("range" if k == "range_pub" else k for k in w.read_mix)}
    if beside:
        shown["beside_writes_read_p50_ms"] = (p50(map(latency_ms, beside)), "ms")
    ack = list(map(latency_ms, ok_pubs))
    shown["publish_ack_p50_ms"] = (p50(ack), "ms")
    shown["publish_ack_mean_ms"] = (statistics.fmean(ack), "ms")
    shown["publish_ack_tail_ms"] = (tracing.percentile(ack, PUBLISH_TAIL_Q), "ms")
    shown["failed_ratio"] = (len(failures) / attempted, "ratio")
    late = [1000 * (op.result["send"] - op.due) for op in alone + beside + pub_ops]
    info = {
        "samples": {"reads_alone": len(alone), "beside_writes": len(beside),
                    "publishes": len(pub_ops), "closed": len(closed), "visible": len(visible)},
        "generator_late_ms": {"p50": p50(late), "p99": tracing.percentile(late, 0.99),
                              "max": max(late)},
        "setup_split_s": {"session": ready["session_s"], "log_write": ready["load_s"],
                          "warm_reads_done": t_warm_reads - sut.t_launch,
                          "warm_publish_done": setup_s},
        "log_files": {"timing_start": files0, "window_end": files1},
    }
    layers = None
    if trace:
        with open(trace_out) as f:
            spans = json.load(f)
        writes = {"rows": polls[-1][1] - base_total, "files": files1 - files0,
                  "bytes": bytes1 - bytes0}
        layers = tracing.layer_metrics(spans, t_timing, t_window_end, writes, PUBLISH_TAIL_Q)
        info["open_trend"] = tracing.open_trend(spans, t_timing, t_window_end)
    return {"failures": failures, "attempted": attempted, "e2e": e2e, "shown": shown,
            "layers": layers, "info": info}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="also write the full result as JSON here")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "broker_spark", "serving", "http.py")):
        print("perfbench: no broker_spark package beside perfbench/; run from the root"
              " of a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        res = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in res["failures"][:20]:
        print(f"FAILED {f}")
    print(f"{args.workload} (traced: {bool(args.trace)}):")
    for name, (value, unit) in (res["e2e"] | res["shown"]).items():
        print(f"  {name:34} {value:12.3f} {unit}")
    print(json.dumps({"info": res["info"]}))
    if args.detail:
        with open(args.detail, "w") as f:
            json.dump(res, f, indent=1)
    table = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": len(res["failures"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in table.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
