"""Hypothesis properties for the round-8 order-defined replay machinery:
random keyed series pushed through the REAL state-store replay under the
deterministic batch schedule, checked against the pure-Python fold of the
documented late-data contract — the merge/duplicate/empty-batch edge
cases a few hand-picked examples can't sweep.

Each example spins an availableNow streaming query, so max_examples stays
small; the shrink path still exercises single-key / single-bucket /
all-late degenerate schedules."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from broker_spark.streaming import stateful


def _ewma_reference(rows, n_batches: int):
    out = {}
    by_key: dict = {}
    for k, b, v in rows:
        by_key.setdefault(k, []).append((b, v))
    for k, pairs in by_key.items():
        prev_e, prev_b = None, None
        for b, v in sorted(pairs, key=lambda p: (p[0] % n_batches, p[0])):
            if prev_b is not None and b <= prev_b:
                continue
            prev_e = v if prev_e is None else 0.8 * prev_e + 0.2 * v
            prev_b = b
            out[(k, b)] = (round(v, 6), round(prev_e, 6))
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cells=st.dictionaries(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=20),
        ),
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=30,
    ),
    n_batches=st.sampled_from([2, 3, 4]),
)
def test_shuffled_ewma_state_store_matches_reference(
    spark, tmp_path_factory, cells, n_batches
):
    from broker_spark.plans.catalog import _stage_ordered_batches

    tmp = tmp_path_factory.mktemp("ewma_prop")
    rows = [(k, b, float(v)) for (k, b), v in cells.items()]
    df = spark.createDataFrame(rows, "key string, bucket long, value double")
    _stage_ordered_batches(df, F.col("bucket") % n_batches, n_batches, str(tmp / "in"))
    src = (
        spark.readStream.schema("key string, bucket long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp / "in"))
    )
    q = (
        stateful.streaming_ewma(src)
        .writeStream.format("parquet")
        .option("path", str(tmp / "sink"))
        .option("checkpointLocation", str(tmp / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["key"], r["bucket"]): (round(r["value"], 6), round(r["ewma"], 6))
        for r in spark.read.parquet(str(tmp / "sink")).collect()
    }
    assert got == _ewma_reference(rows, n_batches)


_WORDS = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do".split()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),  # doc_id
            st.integers(min_value=0, max_value=4),  # text template index
        ),
        min_size=2,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    n_batches=st.sampled_from([2, 3, 4]),
)
def test_shuffled_lsh_state_store_matches_batch_banding(
    spark, tmp_path_factory, data, n_batches
):
    """Cross-mode property: the streaming first-seen state store under the
    deterministic schedule must emit exactly what the BATCH banding
    predicts — per (band_id, band_key) bucket, claimer = min
    (doc_id % n_batches, doc_id), every other member emits one row
    against it.  Random duplicate-text corpora generate colliding and
    non-colliding buckets."""
    from broker_spark.pipeline.dedup import _banded, minhash_signature
    from broker_spark.plans.catalog import _stage_ordered_batches

    rows = [(d, " ".join(_WORDS[t:] + _WORDS[:t])) for d, t in data]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # batch-side banding predicts the buckets
    sig = df.select("doc_id", *minhash_signature("text", 4))
    banded = [
        (r["doc_id"], r["band_id"], r["band_key"])
        for r in _banded(sig, 4, 2).collect()
        if r["band_key"]
    ]
    buckets: dict = {}
    for d, bid, bkey in banded:
        buckets.setdefault((bid, bkey), []).append(d)
    expected = set()
    for (bid, bkey), members in buckets.items():
        claimer = min(members, key=lambda d: (d % n_batches, d))
        for d in members:
            if d != claimer:
                expected.add((d, bid, bkey, claimer))

    tmp = tmp_path_factory.mktemp("lsh_prop")
    _stage_ordered_batches(
        df, F.col("doc_id") % n_batches, n_batches, str(tmp / "in")
    )
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp / "in"))
    )
    q = (
        stateful.streaming_lsh_candidates_backfill(src)
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
