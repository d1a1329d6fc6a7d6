"""broker_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of streamr-dev/broker.

The reference (read-only at /root/reference) is a Node.js broker that
persists pub-sub stream messages into Cassandra time buckets and serves
ordered historical reads ("resends"), metadata aggregates, retention and
metrics rollups.  This package re-expresses those capabilities Spark-first:

- data model      -> broker_spark.schema      (envelope StructType, derivable buckets)
- storage layout  -> broker_spark.storage     (partitioned parquet writer + Storage API,
                     assignment config, bucketed tables)
- resend queries  -> broker_spark.operators.resend
- metadata aggs   -> broker_spark.operators.metadata
- retention       -> broker_spark.operators.retention
- metric rollups  -> broker_spark.operators.rollup (incl. EWMA stateful op)
- partitioner     -> broker_spark.functions.partitioner (bit-exact md5 parity)
- streaming ingest-> broker_spark.streaming.ingest (incl. session windows)
- transports      -> broker_spark.serving (HTTP + auth, WebSocket, TCP, MQTT,
                     storage-node routing, result formats)
- node entrypoint -> broker_spark.config (schema-validated config -> start_broker)
- metrics         -> broker_spark.jobs.stream_metrics (sec->min->hour->day
                     publish-back cascade, /volume counters)
- LLM-pipeline ops-> broker_spark.pipeline (dedup incl. connected components,
                     ann incl. trained IVF + int8 quantization, text)

Everything is declarative DataFrame code so Catalyst handles pushdown,
partition pruning, and join strategy; Python UDFs appear only where the
semantics genuinely require them (bit-exact md5 partitioner, EWMA state,
Arrow-batched embedding math).
"""

__version__ = "0.1.0"
