"""Retention sweep: drop log partitions whose newest row is past each
stream's retention — the reference's DeleteExpiredCmd
(src/storage/DeleteExpiredCmd.ts; cron entry in its README) as a
spark-submit job.

    python -m broker_spark.jobs.delete_expired --path /data/log \
        [--bucket-ms 3600000] [--default-days 365] \
        [--retention-csv stream_id,days[;stream_id,days...]] [--dry-run]

Per-stream retention comes from `--retention-csv` (the analog of the
reference's per-stream `storageDays` fetched from its core API); unlisted
streams use `--default-days`.
"""

from __future__ import annotations

import argparse
import time

from broker_spark.operators import retention
from broker_spark.schema import DEFAULT_BUCKET_MS
from broker_spark.session import get_spark
from broker_spark.storage.store import Storage


def run(
    spark,
    path: str,
    bucket_ms: int = DEFAULT_BUCKET_MS,
    default_days: int = retention.DEFAULT_STORAGE_DAYS,
    retention_map: dict[str, int] | None = None,
    now_ms: int | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Select + drop expired partitions; returns the dropped paths.

    The index groups by the log's physical `bucket` column, so the paths
    it names exist whatever `bucket_ms` the log was written with, and a
    log retention has already emptied yields no rows."""
    idx = Storage(spark, path, bucket_ms).bucket_index()
    cfg_rows = [(s, d) for s, d in (retention_map or {}).items()] or [("", default_days)]
    cfg = spark.createDataFrame(cfg_rows, "stream_id string, storage_days int")
    now = int(time.time() * 1000) if now_ms is None else now_ms
    expired = retention.expired_buckets(idx, cfg, now, default_days=default_days)
    if dry_run:
        return [
            retention.partition_path(path, r["stream_id"], r["partition"], r["bucket"])
            for r in expired.collect()
        ]
    return retention.drop_expired_partitions(spark, path, expired)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--path", required=True)
    p.add_argument("--bucket-ms", type=int, default=DEFAULT_BUCKET_MS)
    p.add_argument("--default-days", type=int, default=retention.DEFAULT_STORAGE_DAYS)
    p.add_argument("--retention-csv", default="")
    p.add_argument("--dry-run", action="store_true")
    args = p.parse_args(argv)
    rmap = {}
    for part in filter(None, args.retention_csv.split(";")):
        sid, days = part.rsplit(",", 1)
        rmap[sid] = int(days)
    spark = get_spark(app_name="delete-expired")
    removed = run(
        spark, args.path, args.bucket_ms, args.default_days, rmap, dry_run=args.dry_run
    )
    verb = "would drop" if args.dry_run else "dropped"
    print(f"{verb} {len(removed)} partitions")
    for r in removed:
        print(r)


if __name__ == "__main__":
    main()
