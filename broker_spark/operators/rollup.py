"""Metric rollups: tumbling-window cascade (W3) + EWMA smoothing (W4).

The reference's StreamMetrics publishes sec->min->hour->day rollups, each
level averaging the previous level's messages
(src/StreamMetrics.ts:55-77,158-202), with a `0.8*avg + 0.2*sample`
smoothed per-second rate (src/StreamMetrics.ts:7-9,133-143).

Spark-first: each cascade level is ONE windowed aggregation (usable
identically under Structured Streaming with a watermark); EWMA is the one
genuinely stateful/iterative op -> applyInPandas recurrence per key, Arrow
batched, parallel across keys (the key count, not the row count, bounds
the python cost).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from broker_spark.pinning import pin
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

# src/StreamMetrics.ts:7-9 — EWMA coefficients
EWMA_PREV_WEIGHT = 0.8
EWMA_SAMPLE_WEIGHT = 0.2


def time_bucket(ts: Column, bucket_ms: int) -> Column:
    """Tumbling-window id as a derivable integer (epoch_ms // bucket_ms) —
    groupable, joinable, and identical under batch and streaming."""
    return F.floor(F.unix_millis(ts) / F.lit(bucket_ms)).cast("long")


def rollup_level(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    bucket_ms: int,
) -> DataFrame:
    """One cascade level: per (keys, window) count/sum/avg/min/max.
    Chain levels by feeding the output's `avg_value` into the next level
    with a coarser bucket — exactly the reference's min->hour->day resend-
    and-average loop (src/StreamMetrics.ts:158-202), minus the resends."""
    return (
        df.withColumn("bucket", time_bucket(F.col("ts"), bucket_ms))
        .groupBy(*key_cols, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.col(value_col).cast("decimal(28,6)")).cast("double").alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_samples"))
    )


def hopping_level(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    window_ms: int,
    slide_ms: int,
) -> DataFrame:
    """Hopping (sliding) window rollup: per (keys, window) count/sum over
    overlapping windows of `window_ms` advancing every `slide_ms` — the
    smoothing companion to the tumbling `rollup_level` (a reading every
    slide covering the trailing window, e.g. "last hour, refreshed every
    15 min").

    Spark-first: native `F.window(ts, window, slide)` — Catalyst expands
    each row into window_ms/slide_ms window assignments BEFORE the
    partial aggregation, so map-side combine still collapses per
    (keys, window) ahead of the single shuffle.  The same expression runs
    unmodified under Structured Streaming with a watermark (the tumbling
    form of which is certified by `streaming_hourly_rollup_replay`).

    At 100 TB the fan-out factor is window/slide: keep it small (4 here)
    or switch to the tumbling level + a trailing window-over-buckets
    (`sharded_trailing_window_stats`) when slides get fine."""
    if window_ms % slide_ms != 0:
        raise ValueError("window_ms must be a multiple of slide_ms")
    w = F.window("ts", f"{window_ms} milliseconds", f"{slide_ms} milliseconds")
    return (
        df.groupBy(w.alias("w"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.col(value_col).cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            *key_cols,
            F.unix_millis(F.col("w.start")).alias("window_start"),
            "n_samples",
            "sum_value",
        )
    )


def cascade(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    level_ms: list[int],
) -> dict[int, DataFrame]:
    """W3 multi-resolution cascade: level 0 aggregates the raw stream;
    every later level aggregates the PREVIOUS level's `avg_value` — the
    reference's resend-last-60-and-average loop (src/StreamMetrics.ts:
    158-202) without the resends.

    Aggregating avgs-of-avgs matches the reference exactly (each level
    weights its inputs equally regardless of sample counts).  Costs one
    shuffle per level on (keys, bucket), each input 60-24x smaller than
    the last — at 100 TB only level 0 touches raw data.
    """
    out: dict[int, DataFrame] = {}
    cur, cur_val = df, value_col
    for ms in level_ms:
        lvl = rollup_level(cur, key_cols, cur_val, ms)
        out[ms] = lvl
        cur = lvl.select(
            *key_cols,
            F.timestamp_millis(F.col("bucket") * ms).alias("ts"),
            F.col("avg_value"),
        )
        cur_val = "avg_value"
    return out


def _ewma_schema(key_col: str) -> StructType:
    return StructType(
        [
            StructField(key_col, StringType(), False),
            StructField("bucket", LongType(), False),
            StructField("value", DoubleType(), True),
            StructField("ewma", DoubleType(), True),
        ]
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_col: str = "bucket",
    value_col: str = "value",
    prev_weight: float = EWMA_PREV_WEIGHT,
    sample_weight: float = EWMA_SAMPLE_WEIGHT,
) -> DataFrame:
    """EWMA recurrence per key: e_0 = x_0; e_t = 0.8*e_{t-1} + 0.2*x_t.

    Iterative -> applyInPandas (grouped Arrow batches).  Each key's series
    must fit one executor's memory: fine, a series is one row per window.
    For unbounded streams use applyInPandasWithState with the same body.
    """

    def _one_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        out = []
        prev: float | None = None
        for x in pdf[value_col]:
            prev = x if prev is None else prev_weight * prev + sample_weight * x
            out.append(prev)
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                "bucket": pdf[order_col],
                "value": pdf[value_col],
                "ewma": out,
            }
        )

    return (
        df.select(key_col, order_col, value_col)
        .groupBy(key_col)
        .applyInPandas(_one_key, _ewma_schema(key_col))
    )


def hourly_gap_fill(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Telemetry gap-fill: a dense per-key hourly grid between each key's
    first and last observation, with missing hours carried forward from
    the last observed hourly average (the standard time-series
    regularization step before feature windows / model training).

    Spark-first: the grid is `sequence(min_hr, max_hr, 1 hour)` exploded
    per key (no driver-side loop, no cross join with a calendar table —
    each key materializes exactly its own span), the fill is ONE
    `last(ignorenulls)` window per key ordered by hour.  Two shuffles
    total (hourly agg, per-key window); both partition by the key, so AQE
    coalesces them into adjacent stages with co-located partitioning.
    """
    from pyspark.sql import Window

    hr = F.date_trunc("hour", F.col("ts"))
    hourly = events.groupBy(F.col(key_col), hr.alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.col(value_col).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value"),
    )
    spans = hourly.groupBy(key_col).agg(
        F.min("hour").alias("first_hr"), F.max("hour").alias("last_hr")
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.sequence(F.col("first_hr"), F.col("last_hr"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, [key_col, "hour"], "left")
        .select(
            key_col,
            "hour",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
            F.round(F.last("avg_value", ignorenulls=True).over(w), 6).alias(
                "filled_value"
            ),
        )
    )


def sharded_trailing_window_stats(
    events: DataFrame,
    value_col: str = "value",
    window_ms: int = 3_600_000,
    shard_ms: int = 86_400_000,
) -> DataFrame:
    """The SHARDED form of the trailing event-time RANGE window — the
    100 TB fix for the global window's single-task serialization
    (`events_rolling_hour_stats` documents the limitation; this operator
    removes it and is oracle-checked against the SAME global-window SQL).

    Construction: rows shard by a coarse time bucket (`shard_ms`, which
    must be >= `window_ms`); every row in the trailing `window_ms` of a
    shard boundary is ALSO copied into the next shard as a helper row, so
    each shard's RANGE window sees exactly the context the global window
    would.  After the window, helper copies are dropped (each row is
    owned by its own shard).  Exactness: a row's trailing window spans at
    most one shard boundary (window_ms <= shard_ms), and the helper
    copies from the previous shard are precisely the rows in that span —
    so every frame is identical to the global computation's.

    Scale shape: one shuffle on the shard key (parallelism = time range /
    shard_ms instead of 1), helper duplication bounded by
    window_ms/shard_ms (~4% at 1h/1day).  DECIMAL window sums keep the
    totals order-independent."""
    if window_ms > shard_ms:
        raise ValueError(
            "sharded_trailing_window_stats requires window_ms <= shard_ms "
            f"(got window_ms={window_ms}, shard_ms={shard_ms}): a trailing "
            "frame may span at most one shard boundary, else helper rows "
            "cannot reconstruct the global frame."
        )
    from pyspark.sql.window import Window

    ms = F.unix_millis(F.col("ts"))
    own = events.select(
        "event_id", "ts", F.col(value_col).alias("value"),
        F.floor(ms / shard_ms).cast("long").alias("shard"),
        F.lit(False).alias("helper"),
    )
    boundary = ((F.floor(ms / shard_ms) + 1) * shard_ms - ms) <= window_ms
    helpers = (
        events.filter(boundary)
        .select(
            "event_id", "ts", F.col(value_col).alias("value"),
            (F.floor(ms / shard_ms) + 1).cast("long").alias("shard"),
            F.lit(True).alias("helper"),
        )
    )
    both = own.unionByName(helpers)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.unix_millis(F.col("ts")))
        .rangeBetween(-window_ms, 0)
    )
    dec_sum = F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double")
    cnt = F.count(F.lit(1)).over(w)
    return (
        both.select(
            "event_id", "ts", "value", "helper",
            cnt.cast("long").alias("n_prev_hour"),
            dec_sum.alias("sum_prev_hour"),
            (dec_sum / cnt).alias("avg_prev_hour"),
        )
        .filter(~F.col("helper"))
        .select(
            "event_id", "ts", "value", "n_prev_hour", "sum_prev_hour",
            "avg_prev_hour",
        )
    )


def merge_rollup_partials(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental materialized-view maintenance: merge two PARTIAL
    rollups (each shaped like `rollup_level` output: n_samples,
    sum_value, min_value, max_value per key+bucket) into the rollup of
    the union of their inputs.

    Count/sum/min/max are commutative monoids, so the merged aggregate
    is exact — a daily refresh recomputes ONLY the delta partition and
    merges it with the stored base, never rescanning the history.  At
    100 TB this is the difference between a bounded nightly job and a
    full-table rescan; the certificate entry proves merge(base, delta)
    is hash-identical to the full recompute.  avg is re-derived from the
    merged sum/count (it is NOT mergeable directly)."""
    cols = base.columns
    keys = [c for c in cols if c not in
            ("n_samples", "sum_value", "min_value", "max_value", "avg_value")]
    both = base.select(cols).unionByName(delta.select(cols))
    return (
        both.groupBy(*keys)
        .agg(
            F.sum("n_samples").cast("long").alias("n_samples"),
            F.sum(F.col("sum_value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_samples"))
    )


def trailing_distinct_users(
    events: DataFrame,
    window_hours: int = 24,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Distinct users over a trailing `window_hours` window, evaluated at
    every hour that has at least one event.

    COUNT(DISTINCT) is not window-frameable, so the scalable shape is
    the hopping-window expand: each (hour, user) contributes to the
    `window_hours` buckets it influences (a bounded 24x fan-out of the
    DEDUPLICATED hour-user pairs, not the raw events), then one
    hash-agg counts distinct users per bucket.  Per-bucket state is the
    user set of one window — the same bound a streaming sliding-window
    distinct would hold — and no per-key history is ever sorted."""
    hours = events.select(
        F.floor(F.unix_millis(F.col(ts_col)) / F.lit(3_600_000))
        .cast("long")
        .alias("h"),
        F.col(user_col).alias("user_id"),
    ).distinct()
    hops = hours.select(
        F.explode(
            F.sequence(F.col("h"), F.col("h") + F.lit(window_hours - 1))
        ).alias("bucket"),
        "user_id",
    ).distinct()
    actual = hours.select(F.col("h").alias("bucket")).distinct()
    return (
        hops.join(actual, "bucket")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def trailing_distinct_users_interval(
    events: DataFrame,
    window_hours: int = 24,
    ts_col: str = "ts",
    user_col: str = "user_id",
    n_range_parts: int = 32,
) -> DataFrame:
    """Trailing-`window_hours` distinct users at every active hour — the
    INTERVAL-MERGE form of `trailing_distinct_users`, built for the case
    where the hop expansion is the bottleneck (VERDICT r6 #4: the 24x
    fan-out of user-hour pairs was the heaviest shape in BENCH_SCALE).

    Identity: user u is inside bucket b's trailing window iff u has an
    active hour a with b-(W-1) <= a <= b, i.e. b in [a, a+W-1].  Per
    user, the union of those spans collapses to disjoint intervals
    (consecutive active hours with gap <= W-1 chain into one), so the
    per-bucket distinct count is a sum of +1/-1 interval deltas — a
    prefix sum over sparse delta buckets, NEVER a 24x row expansion and
    never a per-bucket user set.

    Distributed prefix sum (no single-task global window): delta and
    probe rows are range-partitioned by bucket (localCheckpoint pins the
    sampled boundaries — one execution, deterministic thereafter), each
    partition cumsums locally, and the per-partition totals (exactly
    `n_range_parts` rows) are offset-cumsummed and broadcast back.  The
    shuffled volume is one row per (user, interval) bound + one per
    active hour — strictly smaller than the deduplicated (hour, user)
    pairs the hop form shuffles 24x.
    """
    from pyspark.sql.window import Window

    # ONE hash aggregation replaces the r7 shape's pinned distinct +
    # per-user lag window + interval groupBy + deltas/probes union +
    # probe distinct (guide §2.4, r14): collect_set dedups (user, hour)
    # map-side exactly like the old .distinct() shuffle, sort_array
    # recovers the window's per-user hour order IN-ROW, and a single
    # higher-order expression emits every interval's +1/-1 delta rows
    # AND the user's probe rows from the sorted set — so the frame has
    # ONE reader and the eager checkpoint (a separate job per bench run)
    # is gone, along with two of the four shuffles.  Interval identity
    # is unchanged: a new interval starts where the gap to the previous
    # active hour exceeds window_hours - 1; [min_h, max_h + W - 1] per
    # run; delta rows (+1 at lo, -1 at hi + 1) and probe rows (delta 0,
    # is_probe 1 at every active hour) sum per (bucket, is_probe) to
    # exactly the rows the union produced.  Built as one F.expr parse
    # (the r14 construction recipe).
    w1 = window_hours - 1
    st = (
        f"filter(sequence(1, size(hs)), i -> i = 1 OR "
        f"element_at(hs, i) - element_at(hs, i - 1) > {w1})"
    )
    rows_sql = (
        f"element_at(transform(array({st}), st -> concat("
        f"flatten(transform("
        f"transform(st, (s, k) -> named_struct("
        f"'lo', element_at(hs, s), "
        f"'hi', element_at(hs, IF(k = size(st) - 1, size(hs), "
        f"element_at(st, k + 2) - 1)) + {w1})), "
        f"iv -> array("
        f"named_struct('bucket', iv.lo, 'delta', CAST(1 AS BIGINT), 'is_probe', 0), "
        f"named_struct('bucket', iv.hi + 1, 'delta', CAST(-1 AS BIGINT), 'is_probe', 0)))), "
        f"transform(hs, h -> named_struct("
        f"'bucket', h, 'delta', CAST(0 AS BIGINT), 'is_probe', 1)))), 1)"
    )
    sets = (
        events.select(
            F.floor(F.unix_millis(F.col(ts_col)) / F.lit(3_600_000))
            .cast("long")
            .alias("h"),
            F.col(user_col).alias("user_id"),
        )
        # a user whose hours are all NULL would get an empty set, and
        # element_at(hs, 0) fails; NULL hours count in no window (as in
        # the hop form), so drop them first
        .where(F.col("h").isNotNull())
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("h")).alias("hs"))
    )
    # range-partition ONCE and pin the sampled boundaries (oracle-parity
    # rule: repartitionByRange boundaries differ per execution).  At equal
    # bucket, deltas sort before probes: a +1 opening at b and a -1
    # closing at b (= iv_end+1) both apply to bucket b's probe.
    allr = (
        sets.select(F.explode(F.expr(rows_sql)).alias("r"))
        .select("r.bucket", "r.delta", "r.is_probe")
        .groupBy("bucket", "is_probe")
        .agg(F.sum("delta").cast("long").alias("delta"))
        .repartitionByRange(n_range_parts, "bucket", "is_probe")
        .transform(pin)
    )
    allr = allr.withColumn("pid", F.spark_partition_id())
    w_pid = (
        Window.partitionBy("pid")
        .orderBy("bucket", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = allr.withColumn("cum", F.sum("delta").over(w_pid))
    totals = allr.groupBy("pid").agg(F.sum("delta").alias("ptotal"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("ptotal").over(w_off), F.lit(0))
    ).select("pid", "offset")
    from pyspark.sql.functions import broadcast

    return (
        local.filter(F.col("is_probe") == 1)
        .join(broadcast(offsets), "pid")
        .select(
            "bucket",
            (F.col("cum") + F.col("offset")).cast("long").alias("n_users"),
        )
    )
