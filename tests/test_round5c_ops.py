"""Round-5 third-session operators: prefix-filtered similarity join
(losslessness vs brute force), SCD2 interval builds, CDC changelog apply,
and the bucketed co-located join (no-Exchange plan shape)."""

from __future__ import annotations

import datetime as dt
import itertools

from pyspark.sql import functions as F

from broker_spark.operators.changelog import cdc_apply_final_state, scd2_intervals
from broker_spark.pipeline import dedup


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


# -- prefix-filtered Jaccard join --------------------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_prefix_filter_matches_bruteforce_jaccard(spark):
    """Losslessness: the prefix-filtered join returns EXACTLY the pairs a
    brute-force all-pairs Jaccard >= t returns, for every threshold."""
    texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy cat tonight",
        "a completely different sentence with other words entirely here",
        "the quick brown fox jumps over the lazy dog tonight",
        "numbers one two three four five six seven eight nine",
    ]

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    for t in (0.3, 0.5, 0.7, 0.9):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.prefix_filter_jaccard_pairs(
                _docs(spark, texts), threshold=t
            ).collect()
        }
        want = set()
        for a, b in itertools.combinations(range(len(texts)), 2):
            sa, sb = shingles(texts[a]), shingles(texts[b])
            j = round(len(sa & sb) / len(sa | sb), 6)
            if j >= t:
                want.add((a, b))
        assert got == want, f"threshold {t}: {got} != {want}"


def test_prefix_filter_prunes_hot_tokens_from_candidates(spark):
    """The point of the algorithm: a token shared by EVERY doc (a stop
    shingle) must not produce candidates on its own — docs that share
    only the universal boilerplate don't pair."""
    boiler = "copyright all rights reserved"
    texts = [
        f"alpha beta gamma delta epsilon {boiler}",
        f"one two three four five six {boiler}",
        f"red green blue yellow purple {boiler}",
    ]
    out = dedup.prefix_filter_jaccard_pairs(_docs(spark, texts), threshold=0.5)
    assert out.count() == 0


# -- SCD2 --------------------------------------------------------------------


def test_scd2_collapses_runs_with_effective_dates(spark):
    log = spark.createDataFrame(
        [
            (1, "click", _ts(1), 10),
            (1, "click", _ts(2), 11),
            (1, "view", _ts(3), 12),
            (1, "click", _ts(4), 13),
            (2, "signup", _ts(5), 14),
        ],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    rows = {
        (r["user_id"], r["effective_from"]): r
        for r in scd2_intervals(log).collect()
    }
    r1 = rows[(1, _ts(1))]
    assert r1["event_type"] == "click" and r1["n_events"] == 2
    assert r1["effective_to"] == _ts(3) and not r1["is_current"]
    r2 = rows[(1, _ts(3))]
    assert r2["event_type"] == "view" and r2["effective_to"] == _ts(4)
    r3 = rows[(1, _ts(4))]
    assert r3["event_type"] == "click" and r3["effective_to"] is None
    assert r3["is_current"]
    assert rows[(2, _ts(5))]["is_current"]
    assert len(rows) == 4


def test_scd2_breaks_timestamp_ties_on_event_id(spark):
    log = spark.createDataFrame(
        [(1, "a", _ts(1), 2), (1, "b", _ts(1), 1)],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    out = scd2_intervals(log).collect()
    cur = [r for r in out if r["is_current"]]
    assert len(cur) == 1 and cur[0]["event_type"] == "a"  # event_id 2 is last


# -- CDC apply ---------------------------------------------------------------


def test_cdc_last_upsert_wins_and_deletes_remove_keys(spark):
    log = spark.createDataFrame(
        [
            (1, _ts(1), 10, 5.0, "upsert"),
            (1, _ts(2), 11, 7.0, "upsert"),
            (2, _ts(1), 12, 3.0, "upsert"),
            (2, _ts(3), 13, 0.0, "delete"),
            (3, _ts(1), 14, 1.0, "delete"),
            (3, _ts(2), 15, 9.0, "upsert"),
        ],
        "user_id long, ts timestamp, event_id long, value double, op string",
    )
    rows = {r["user_id"]: r for r in cdc_apply_final_state(log).collect()}
    assert set(rows) == {1, 3}  # 2's last op is a delete
    assert rows[1]["value"] == 7.0 and rows[1]["n_ops"] == 2
    assert rows[3]["value"] == 9.0 and rows[3]["updated_at"] == _ts(2)


def test_cdc_ties_resolve_by_event_id(spark):
    log = spark.createDataFrame(
        [(1, _ts(1), 1, 5.0, "upsert"), (1, _ts(1), 2, 8.0, "upsert")],
        "user_id long, ts timestamp, event_id long, value double, op string",
    )
    [r] = cdc_apply_final_state(log).collect()
    assert r["value"] == 8.0


# -- bucketed join plan shape ------------------------------------------------


def test_bucketed_join_has_no_exchange_on_either_side(spark):
    """The layout's whole point: the bucketed orders x lineitem join must
    run WITHOUT a shuffle — no Exchange node anywhere below the join."""
    from broker_spark.storage.bucketed import bucketed_join

    # at test scale AQE would broadcast the tiny build side (also a fine
    # plan, but not the one under test); force the merge-join path the
    # layout exists for
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "/root/testdata/sf0.001")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_rows = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert n_rows > 0


# -- incremental rollup merge ------------------------------------------------


def test_merge_rollup_partials_equals_full_recompute(spark):
    from broker_spark.operators import rollup

    rows = [
        (1, "a", _ts(1, 10), 5.0),
        (2, "a", _ts(1, 40), 7.0),
        (3, "a", _ts(2, 5), 1.0),
        (4, "b", _ts(1, 0), 4.0),
        (5, "b", _ts(3, 0), 9.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    base = rollup.rollup_level(
        ev.filter(F.col("event_id") <= 2), ["event_type"], "value", 3_600_000
    )
    delta = rollup.rollup_level(
        ev.filter(F.col("event_id") > 2), ["event_type"], "value", 3_600_000
    )
    merged = rollup.merge_rollup_partials(base, delta)
    full = rollup.rollup_level(ev, ["event_type"], "value", 3_600_000)
    key = lambda r: (r["event_type"], r["bucket"])
    m = {key(r): r for r in merged.collect()}
    f = {key(r): r for r in full.collect()}
    assert set(m) == set(f)
    for k in f:
        for c in ("n_samples", "sum_value", "min_value", "max_value", "avg_value"):
            assert m[k][c] == f[k][c], (k, c)


def test_merge_rollup_with_empty_delta_is_identity(spark):
    from broker_spark.operators import rollup

    ev = spark.createDataFrame(
        [(1, "a", _ts(1), 2.0)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    base = rollup.rollup_level(ev, ["event_type"], "value", 3_600_000)
    merged = rollup.merge_rollup_partials(base, base.limit(0))
    [r] = merged.collect()
    assert r["n_samples"] == 1 and r["sum_value"] == 2.0 and r["avg_value"] == 2.0


# -- trailing distinct users -------------------------------------------------


def test_trailing_distinct_users_counts_window_not_hour(spark):
    from broker_spark.operators import rollup

    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0), 100),
            (2, dt.datetime(2024, 1, 1, 5), 200),
            (3, dt.datetime(2024, 1, 2, 2), 100),  # 26h after hour 0
        ],
        "event_id long, ts timestamp, user_id long",
    )
    out = {r["bucket"]: r["n_users"] for r in
           rollup.trailing_distinct_users(ev).collect()}
    h0 = dt.datetime(2024, 1, 1).timestamp() * 1000 // 3_600_000
    # hour 0: only user 100; hour 5: users 100+200; hour 26: user 100
    # (hour 0's visit left the 24h window; hour 5's user 200 has not)
    assert out[h0] == 1
    assert out[h0 + 5] == 2
    assert out[h0 + 26] == 2  # users 200 (h5, still inside) and 100 (h26)
    assert set(out) == {h0, h0 + 5, h0 + 26}  # only hours with events


def test_trailing_distinct_does_not_double_count_across_hours(spark):
    from broker_spark.operators import rollup

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0), 7), (2, dt.datetime(2024, 1, 1, 3), 7)],
        "event_id long, ts timestamp, user_id long",
    )
    out = {r["bucket"]: r["n_users"] for r in
           rollup.trailing_distinct_users(ev).collect()}
    assert set(out.values()) == {1}  # same user twice is one user


# -- table fingerprint -------------------------------------------------------


def test_table_fingerprint_is_partition_order_invariant(spark):
    from broker_spark.operators.profile import table_fingerprint

    rows = [(i, f"text {i}", "s" + str(i % 3)) for i in range(50)]
    a = spark.createDataFrame(rows, "doc_id long, text string, source string")
    b = (
        spark.createDataFrame(list(reversed(rows)), a.schema)
        .repartition(7)
    )
    fa = {r["source"]: (r["n_rows"], r["digest"]) for r in
          table_fingerprint(a, "source", "doc_id", "text").collect()}
    fb = {r["source"]: (r["n_rows"], r["digest"]) for r in
          table_fingerprint(b, "source", "doc_id", "text").collect()}
    assert fa == fb
    assert fa["ALL"][0] == 50


def test_table_fingerprint_detects_single_row_change(spark):
    from broker_spark.operators.profile import table_fingerprint

    rows = [(i, f"text {i}", "s") for i in range(10)]
    a = spark.createDataFrame(rows, "doc_id long, text string, source string")
    rows[4] = (4, "text 4 CHANGED", "s")
    b = spark.createDataFrame(rows, a.schema)
    da = table_fingerprint(a, "source", "doc_id", "text").collect()
    db = table_fingerprint(b, "source", "doc_id", "text").collect()
    assert {r["source"]: r["digest"] for r in da} != {
        r["source"]: r["digest"] for r in db
    }
    assert all(r["digest"].isdigit() for r in da)  # string digest, no exponent
