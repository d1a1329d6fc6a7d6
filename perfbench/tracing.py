"""Spans around each layer's public entry points, and the per-layer metrics
computed from them.

`Tracer.install()` runs inside the SUT process before the gateway starts.
It wraps, by attribute replacement and without touching program code:

| span / record      | wrapped entry point                                   |
|--------------------|-------------------------------------------------------|
| `http.get/post`    | `serving.http.DataQueryHandler.do_GET` / `do_POST`    |
| `spool.publish`    | `serving.publish.PublishSpool.publish`                |
| `spool.flush`      | `PublishSpool.flush` (the close-timeout timer's call) |
| `commit`           | `storage.store.Storage.store`                         |
| `open`             | `storage.store.read_stream_data` (opens the log)      |
| `resend.build`     | `Storage.request_last/from/range`                     |
| `metadata`         | `Storage.partition_metadata`                          |
| `exec.start`       | `Storage.stream_rows` (plans and starts the query)    |
| row fetch, frame   | the iterators `stream_rows` and `serving.formats.frame` return, timed per `next()` and summed on the request's root span |

Each span records id, parent, request id (the id of its root span), name,
start and end (`time.monotonic()`, which is system-wide on Linux, so the
generator can cut spans to its timed window).  Spans stay in memory and
are written once, by `dump`, when the SUT stops.  Each request runs under
its own Spark job group, read back through `statusTracker()` to count the
jobs and tasks it ran; work the tracer itself does inside a request is
wrapped in `trace.overhead` spans so it is not charged to any layer.

`layer_metrics` (generator side, no Spark import) turns a dump into the
per-layer metrics.  Self time is a span's duration minus its child spans'
durations; for `http.get` also minus the time spent inside `frame`, and
for `frame` minus the time spent fetching rows.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import math
import re
import statistics
import threading
import time
from urllib.parse import parse_qs, urlparse

BIG_COUNT = 1000  # a `last` resend at or above this count is the big kind
_KIND_RE = re.compile(r"/(last|from|range)$|/metadata/partitions/[^/]+$|^/volume$")


def request_kind(path: str) -> str:
    """last | big | from | range | metadata | volume | other, from a GET path."""
    url = urlparse(path)
    m = _KIND_RE.search(url.path)
    if not m:
        return "other"
    if m.group(1) == "last":
        count = parse_qs(url.query).get("count", ["1"])[0]
        return "big" if count.isdigit() and int(count) >= BIG_COUNT else "last"
    if m.group(1):
        return m.group(1)
    return "volume" if url.path == "/volume" else "metadata"


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[dict]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def root(self) -> dict | None:
        stack = self._stack()
        return stack[0] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "rid": parent["rid"] if parent else sid,
            "name": name,
            **attrs,
        }
        stack.append(rec)
        rec["t0"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["t1"] = time.monotonic()
            stack.pop()
            self.spans.append(rec)

    def _wrap(self, owner, attr: str, name: str, **attrs) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- per-request job accounting -------------------------------------------
    def _count_jobs(self, rec: dict, group: str) -> None:
        with self.span("trace.overhead"):
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    tasks += stage.numTasks if stage else 0
            rec["jobs"], rec["tasks"] = len(jobs), tasks

    def _handler(self, orig, name: str):
        tracer = self

        @functools.wraps(orig)
        def traced(handler):
            with tracer.span(name, kind=request_kind(handler.path)) as rec:
                rec.update(frame_s=0.0, rows_s=0.0, first_row_s=0.0, drain_s=0.0,
                           frame_bytes=0)
                group = f"perfbench-req-{rec['id']}"
                tracer.sc.setJobGroup(group, "perfbench request")
                try:
                    return orig(handler)
                finally:
                    tracer._count_jobs(rec, group)

        return traced

    # -- installation ----------------------------------------------------------
    def install(self) -> None:
        from broker_spark.serving import http
        from broker_spark.serving.publish import PublishSpool
        from broker_spark.storage import store
        from broker_spark.storage.store import Storage

        tracer = self
        H = http.DataQueryHandler
        H.do_GET = self._handler(H.do_GET, "http.get")
        H.do_POST = self._handler(H.do_POST, "http.post")
        self._wrap(PublishSpool, "publish", "spool.publish")
        self._wrap(PublishSpool, "flush", "spool.flush")
        self._wrap(Storage, "store", "commit")
        self._wrap(Storage, "partition_metadata", "metadata")
        self._wrap(Storage, "request_from", "resend.build", kind="from")
        self._wrap(Storage, "request_range", "resend.build", kind="range")

        orig_last = Storage.request_last

        @functools.wraps(orig_last)
        def request_last(storage, stream_id, partition, n):
            kind = "big" if n >= BIG_COUNT else "last"
            with tracer.span("resend.build", kind=kind):
                return orig_last(storage, stream_id, partition, n)

        Storage.request_last = request_last

        orig_open = store.read_stream_data

        @functools.wraps(orig_open)
        def read_stream_data(*args, **kwargs):
            with tracer.span("open") as rec:
                df = orig_open(*args, **kwargs)
            with tracer.span("trace.overhead"):
                rec["files"] = len(df.inputFiles())
            return df

        store.read_stream_data = read_stream_data

        orig_stream_rows = Storage.stream_rows

        @functools.wraps(orig_stream_rows)
        def stream_rows(storage, df):
            with tracer.span("exec.start"):
                it = orig_stream_rows(storage, df)
            return tracer._timed_rows(it, tracer.root())

        Storage.stream_rows = stream_rows

        orig_frame = http.frame

        @functools.wraps(orig_frame)
        def frame(rows, fmt, version=None):
            root = tracer.root()
            gen = orig_frame(rows, fmt, version)
            while True:
                t = time.monotonic()
                try:
                    piece = next(gen)
                except StopIteration:
                    root["frame_s"] += time.monotonic() - t
                    return
                root["frame_s"] += time.monotonic() - t
                root["frame_bytes"] += len(piece)
                yield piece

        http.frame = frame

    @staticmethod
    def _timed_rows(it, root: dict):
        first = True
        while True:
            t = time.monotonic()
            try:
                row = next(it)
            except StopIteration:
                row = None
            dt = time.monotonic() - t
            root["rows_s"] += dt
            if first:
                root["first_row_s"] = dt
                first = False
            else:
                root["drain_s"] += dt
            if row is None:
                return
            yield row

    # -- output ----------------------------------------------------------------
    def jvm_stats(self) -> dict:
        mf = self.jvm.java.lang.management.ManagementFactory
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return {"heap_used_mb": heap / 2**20, "gc_ms": gc_ms}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jvm": self.jvm_stats()}, f)


# -- generator side ------------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of a non-empty list: the value
    with `len - ceil(q * len)` samples above it."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def layer_metrics(trace: dict, t_start: float, t_end: float, writes: dict,
                  tail_q: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics, name -> (value, unit), from the spans that lie
    inside [t_start, t_end].

    `writes` carries what the generator measured from outside the SUT over
    the same window: committed messages (`rows`, from `GET /volume`) and the
    log's file count and bytes added (`files`, `bytes`)."""
    spans = [s for s in trace["spans"] if s["t0"] >= t_start and s["t1"] <= t_end]
    children: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["t1"] - s["t0"]

    def dur(s):
        return s["t1"] - s["t0"]

    def self_ms(s):
        return 1000 * (dur(s) - children.get(s["id"], 0.0) - s.get("frame_s", 0.0))

    def named(name, kinds=None):
        return [s for s in spans if s["name"] == name and (kinds is None or s["kind"] in kinds)]

    data_kinds = ("last", "big", "from", "range")
    gets = named("http.get", data_kinds + ("metadata",))
    data = named("http.get", data_kinds)
    posts = named("http.post")
    publishes = named("spool.publish")
    flushes = named("spool.flush")
    commits = named("commit")
    opens = named("open")

    def blocked(p):
        return any(f["t0"] < p["t1"] and p["t0"] < f["t1"] for f in flushes)

    med = statistics.median
    out = {
        "http.get_self_ms_p50": (med(self_ms(s) for s in gets), "ms"),
        "http.post_self_ms_p50": (med(self_ms(s) for s in posts), "ms"),
        "spool.publish_ms_p50": (med(1000 * dur(s) for s in publishes), "ms"),
        "spool.publish_ms_tail": (percentile([1000 * dur(s) for s in publishes], tail_q), "ms"),
        "spool.blocked_share": (sum(map(blocked, publishes)) / len(publishes), "ratio"),
        "commit.ms_p50": (med(1000 * dur(s) for s in commits), "ms"),
        "commit.flushes": (len(commits), "count"),
        "commit.rows_per_flush": (writes["rows"] / len(commits), "rows"),
        "commit.files_per_flush": (writes["files"] / len(commits), "files"),
        "commit.bytes_per_flush": (writes["bytes"] / len(commits), "B"),
        "open.ms_p50": (med(1000 * dur(s) for s in opens), "ms"),
        "open.files": (med(s["files"] for s in opens), "files"),
    }
    for kind in data_kinds:
        out[f"resend.build_ms_p50.{kind}"] = (
            med(self_ms(s) for s in named("resend.build", (kind,))), "ms")
    exec_start = {s["parent"]: dur(s) for s in named("exec.start")}
    out.update({
        "metadata.ms_p50": (med(self_ms(s) for s in named("metadata")), "ms"),
        "exec.first_row_ms_p50": (
            med(1000 * (exec_start.get(s["id"], 0.0) + s["first_row_s"]) for s in data), "ms"),
        "exec.drain_ms_p50": (med(1000 * s["drain_s"] for s in data), "ms"),
        "exec.jobs_per_request": (med(s["jobs"] for s in data), "jobs"),
        "exec.tasks_per_request": (med(s["tasks"] for s in data), "tasks"),
        "frame.self_ms_p50": (med(1000 * (s["frame_s"] - s["rows_s"]) for s in data), "ms"),
        "frame.bytes_per_request": (med(s["frame_bytes"] for s in data), "B"),
        "jvm.heap_used_mb_end": (trace["jvm"]["heap_used_mb"], "MB"),
        "jvm.gc_ms": (trace["jvm"]["gc_ms"], "ms"),
    })
    return out


def open_trend(trace: dict, t_start: float, t_end: float, parts: int = 3) -> list[dict]:
    """Median files listed and open time per equal share of the log opens
    inside [t_start, t_end], in time order: how open cost follows the
    log's file count."""
    opens = sorted((s for s in trace["spans"] if s["name"] == "open"
                    and s["t0"] >= t_start and s["t1"] <= t_end), key=lambda s: s["t0"])
    n = len(opens) // parts
    return [
        {"files": statistics.median(s["files"] for s in chunk),
         "ms": statistics.median(1000 * (s["t1"] - s["t0"]) for s in chunk)}
        for chunk in (opens[i * n:(i + 1) * n] for i in range(parts)) if chunk
    ]
