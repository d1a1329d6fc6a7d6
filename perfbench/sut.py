"""The system under test: one broker process built from the public API.

Starts a Spark session (`get_spark`), writes the generator's rows into a
fresh log through `Storage.store`, and serves it with `serving.http.serve`
plus a `PublishSpool`, both wired to one `MetricsContext` (so `GET /volume`
reports committed messages).  With `--trace-out`, `perfbench.tracing`
wraps each layer's public entry points first.

Protocol with the load generator: one JSON line `{"event": "ready", ...}`
on stdout once the gateway listens; the process then serves until a line
`stop` arrives on stdin, closes the spool (a final flush), writes the trace
if asked, stops Spark and exits.

Run from the repository root:
    python3 perfbench/sut.py --input rows.jsonl --log-dir DIR --work-dir DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INPUT_DDL = (
    "stream_id string, partition int, ts_ms long, sequence_no int,"
    " publisher_id string, msg_chain_id string, content string"
)


def load_log(spark, storage, input_path: str) -> None:
    """Write the generated rows as messages.  One task per
    (stream, partition) so every bucket directory gets exactly one file."""
    from pyspark.sql import functions as F

    rows = spark.read.schema(INPUT_DDL).json(input_path)
    df = rows.select(
        "stream_id",
        "partition",
        F.timestamp_millis("ts_ms").alias("ts"),
        "sequence_no",
        "publisher_id",
        "msg_chain_id",
        F.lit(None).cast("timestamp").alias("prev_ts"),
        F.lit(None).cast("int").alias("prev_sequence_no"),
        F.lit(0).alias("signature_type"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).alias("encryption_type"),
        "content",
    ).repartition("stream_id", "partition")
    storage.store(df)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="JSON-lines rows to pre-load")
    ap.add_argument("--log-dir", required=True, help="fresh directory for the log")
    ap.add_argument("--work-dir", required=True, help="scratch space for Spark")
    ap.add_argument("--trace-out", default=None, help="write spans here on stop")
    args = ap.parse_args()

    from broker_spark.jobs.stream_metrics import MetricsContext
    from broker_spark.serving.http import serve
    from broker_spark.serving.publish import PublishSpool
    from broker_spark.session import get_spark
    from broker_spark.storage.store import Storage

    t0 = time.monotonic()
    spark = get_spark(
        app_name="perfbench-sut",
        extra_conf={
            "spark.local.dir": os.path.join(args.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(args.work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={args.work_dir} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.monotonic()

    tracer = None
    if args.trace_out:
        from perfbench.tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()

    storage = Storage(spark, args.log_dir)
    load_log(spark, storage, args.input)
    t_loaded = time.monotonic()

    metrics = MetricsContext()
    spool = PublishSpool(storage, metrics=metrics)
    server = serve(storage, spool=spool, metrics=metrics)
    print(
        json.dumps(
            {
                "event": "ready",
                "port": server.server_address[1],
                "session_s": t_session - t0,
                "load_s": t_loaded - t_session,
            }
        ),
        flush=True,
    )
    for line in sys.stdin:
        if line.strip() == "stop":
            break
    spool.close()
    server.shutdown()
    server.server_close()
    if tracer is not None:
        tracer.dump(args.trace_out)
    spark.stop()
    print(json.dumps({"event": "stopped"}), flush=True)


if __name__ == "__main__":
    main()
