"""Hypothesis properties for the round-9 eviction-horizon streaming LSH
dedup: random duplicate-text corpora with random event-time gaps (some
inside, some beyond the horizon) and random batch cuts, pushed through
the REAL EventTimeTimeout state store under in-order staging and checked
against a pure-Python fold of the documented retention contract — the
session-boundary / equal-timestamp / all-evicted edge cases the
hand-picked fixture rounds can't sweep.

Each example spins an availableNow streaming query, so max_examples
stays small; the shrink path still exercises single-doc, single-bucket,
and every-gap-wide degenerate corpora."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from broker_spark.streaming import stateful

_WORDS = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do".split()

HOUR_MS = 3_600_000
BASE_MS = 1_704_067_200_000
HORIZON_MS = 24 * HOUR_MS  # tight horizon so random gaps straddle it


def _ts(ms: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(
        (BASE_MS + ms) / 1000.0, tz=dt.timezone.utc
    ).replace(tzinfo=None)


def _horizon_reference(banded_rows):
    """Pure-Python fold of the retention contract over (doc_id, ts_ms,
    band_id, band_key) rows: per bucket, (ts, doc_id)-ordered, the first
    doc of each gap<=horizon session claims; later session members emit
    (doc, band, key, claimer)."""
    buckets: dict = {}
    for d, ms, bid, bkey in banded_rows:
        buckets.setdefault((bid, bkey), []).append((ms, d))
    expected = set()
    for (bid, bkey), members in buckets.items():
        first = last = None
        for ms, d in sorted(members):
            if first is None or ms - last > HORIZON_MS:
                first = d
            elif d != first:
                expected.add((d, bid, bkey, first))
            last = ms if last is None else max(last, ms)
    return expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    # (doc_id, text-rotation, gap-hours to previous doc) — gaps 0..72 h
    # around a 24 h horizon give both in-session and session-breaking
    # steps; rotation duplicates collide texts into shared buckets
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=72),
        ),
        min_size=2,
        max_size=16,
        unique_by=lambda t: t[0],
    ),
    n_batches=st.sampled_from([2, 3, 4]),
)
def test_horizon_state_store_matches_session_model(
    spark, tmp_path_factory, data, n_batches
):
    """Cross-mode property (the r9 analog of the r8 shuffled-LSH
    property): the horizon-evicting state store under in-order staging
    must emit exactly what the batch banding + pure-Python session fold
    predicts — including which duplicates are NOT matched because their
    gap exceeds the horizon, wherever the random batch cuts and the
    eviction timeouts happen to land."""
    from broker_spark.pipeline.dedup import _banded, minhash_signature
    from broker_spark.plans.catalog import _stage_ordered_batches

    # event time accumulates the random gaps in doc_id order, so arrival
    # (staged by ts rank) is event-time-ordered — the regime where the
    # contract equals exact sessionization
    ordered = sorted(data)
    ms_acc, rows = 0, []
    for doc_id, rot, gap_h in ordered:
        ms_acc += gap_h * HOUR_MS
        rows.append((doc_id, " ".join(_WORDS[rot:] + _WORDS[:rot]), ms_acc))
    df = spark.createDataFrame(
        [(d, t, _ts(ms)) for d, t, ms in rows],
        "doc_id long, text string, ts timestamp",
    )

    # batch-side banding + the documented session fold predict the output
    sig = df.select("doc_id", *minhash_signature("text", 4))
    ms_by_doc = {d: ms for d, _, ms in rows}
    banded = [
        (r["doc_id"], ms_by_doc[r["doc_id"]], r["band_id"], r["band_key"])
        for r in _banded(sig, 4, 2).collect()
        if r["band_key"]
    ]
    expected = _horizon_reference(banded)

    # stage by event-time rank so files arrive in ts order
    rank = {d: i for i, (d, _, _) in enumerate(rows)}
    per_batch = len(rows) // n_batches + 1
    mapping = F.create_map(
        *[x for d, i in rank.items() for x in (F.lit(d), F.lit(i // per_batch))]
    )
    tmp = tmp_path_factory.mktemp("lsh_hz_prop")
    _stage_ordered_batches(
        df, mapping[F.col("doc_id")], n_batches, str(tmp / "in")
    )
    src = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp / "in"))
    )
    q = (
        stateful.streaming_lsh_candidates_horizon(src, horizon_ms=HORIZON_MS)
        .writeStream.format("parquet")
        .option("path", str(tmp / "sink"))
        .option("checkpointLocation", str(tmp / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["doc_id"], r["band_id"], r["band_key"], r["dup_of"])
        for r in spark.read.parquet(str(tmp / "sink")).collect()
    }
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=2,
        max_size=24,
        unique_by=lambda t: t[0],
    ),
)
def test_guard_default_is_subset_of_census_and_hub_free(spark, data):
    """Guard-flip property (VERDICT r8 #2): on ANY corpus the default
    (guarded) candidate set is a subset of the explicit census, the
    difference consists only of pairs whose every shared bucket is hot,
    and corpora with no bucket over the cap are bit-identical."""
    from broker_spark.pipeline.dedup import (
        DEFAULT_MAX_BUCKET_SIZE,
        _banded,
        minhash_lsh_pairs,
        minhash_signature,
    )

    rows = [(d, " ".join(_WORDS[rot:] + _WORDS[:rot])) for d, rot in data]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    census = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, max_bucket_size=None).collect()
    }
    guarded = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(df).collect()
    }
    assert guarded <= census
    # cross-check the difference against the buckets themselves
    sig = df.select("doc_id", *minhash_signature("text", 4))
    buckets: dict = {}
    for r in _banded(sig, 4, 2).collect():
        if r["band_key"]:
            buckets.setdefault((r["band_id"], r["band_key"]), []).append(
                r["doc_id"]
            )
    cool_pairs = set()
    for members in buckets.values():
        if len(members) <= DEFAULT_MAX_BUCKET_SIZE:
            ms = sorted(members)
            cool_pairs.update(
                (a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]
            )
    assert guarded == census & cool_pairs
