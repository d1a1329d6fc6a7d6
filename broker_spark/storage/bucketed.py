"""Bucketed-table layout: pre-shuffled, co-located join storage.

At 100 TB the single biggest repeated cost is re-shuffling fact tables on
the same join key query after query.  Spark's bucketed tables fix that
structurally: both sides are written pre-hash-partitioned (and per-file
sorted) on the join key, so a SortMergeJoin needs NO Exchange on either
side — the shuffle is paid once at write time and amortized over every
subsequent join.  This module materializes the orders/lineitem pair
bucketed by order key and is the backing for the `bucketed_join_*`
catalog entries; tests/test_round5c_ops asserts the no-Exchange plan
shape.  Reference parity: the reference co-locates message data with its
bucket index by (stream, partition) for the same reason
(`/root/reference/src/storage/BucketManager.ts` placement logic).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from broker_spark.tables import load

#: (sf_dir, n_buckets) -> (orders_table, lineitem_table) already written
#: this session.  The in-memory catalog does not survive a new
#: SparkSession, so the memo is per-process — exactly the lifetime of the
#: catalog entries that depend on it.
_BUCKETED: dict = {}


def _tag(sf_dir: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))


def clear_stale_locations(spark: SparkSession, *names: str) -> None:
    """The in-memory catalog forgets tables across processes but their
    warehouse directories survive; a CREATE over a stale location is a
    LOCATION_ALREADY_EXISTS error, so clear orphaned dirs first."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in names:
        loc = os.path.join(warehouse, name)
        if not spark.catalog.tableExists(name) and os.path.exists(loc):
            shutil.rmtree(loc, ignore_errors=True)


def bucketed_order_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Write `orders` and `lineitem` as bucketed tables on the order key
    (same bucket count, per-file sort) and return their catalog names.
    Idempotent per session via memo; `mode("overwrite")` truncates any
    stale warehouse directory from a previous process."""
    key = (sf_dir, n_buckets)
    if key in _BUCKETED:
        return _BUCKETED[key]
    tag = _tag(sf_dir)
    o_name = f"bkt_orders_{tag}_{n_buckets}"
    l_name = f"bkt_lineitem_{tag}_{n_buckets}"
    clear_stale_locations(spark, o_name, l_name)
    (
        load(spark, sf_dir, "orders")
        .write.bucketBy(n_buckets, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(o_name)
    )
    (
        load(spark, sf_dir, "lineitem")
        .write.bucketBy(n_buckets, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(l_name)
    )
    _BUCKETED[key] = (o_name, l_name)
    return o_name, l_name


def bucketed_join(spark: SparkSession, sf_dir: str, n_buckets: int = 8) -> DataFrame:
    """The co-located join itself: bucketed lineitem ⋈ bucketed orders on
    the order key, with no Exchange on either side (asserted by
    tests/test_plan_properties.py)."""
    o_name, l_name = bucketed_order_tables(spark, sf_dir, n_buckets)
    orders = spark.table(o_name)
    lineitem = spark.table(l_name)
    return lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    )
