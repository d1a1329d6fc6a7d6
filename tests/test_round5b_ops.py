"""Round-5 second-session operators: hand-computed cases + properties for
table profiling, hopping windows, compaction planning, z-order locality,
the deterministic HLL (both estimator branches), weighted sampling, and
the triangle census."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pytest
from pyspark.sql import functions as F

from broker_spark.operators import rollup
from broker_spark.operators.profile import table_profile
from broker_spark.pipeline import dedup, sketch, text
from broker_spark.storage.layout import zorder_key, zorder_tiles
from broker_spark.storage.writer import plan_compaction_groups


# -- table profile -----------------------------------------------------------


def test_table_profile_counts_nulls_distincts_and_ranges(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "z")], "id long, tag string"
    )
    prof = {r["column_name"]: r for r in table_profile(df).collect()}
    assert prof["id"]["n_rows"] == 4
    assert prof["id"]["n_nulls"] == 0
    assert prof["id"]["n_distinct"] == 4
    assert prof["id"]["min_value"] == "1" and prof["id"]["max_value"] == "4"
    assert prof["tag"]["n_nulls"] == 1
    assert prof["tag"]["n_distinct"] == 2  # nulls excluded
    assert prof["tag"]["min_value"] == "a" and prof["tag"]["max_value"] == "z"


# -- hopping windows ---------------------------------------------------------


def test_hopping_level_assigns_each_row_to_window_over_slide_windows(spark):
    base = dt.datetime(2024, 1, 1, 12, 7)  # mid-slide, not aligned
    df = spark.createDataFrame(
        [("a", base, 10.0)], "event_type string, ts timestamp, value double"
    )
    out = rollup.hopping_level(df, ["event_type"], "value", 3_600_000, 900_000)
    rows = sorted(out.collect(), key=lambda r: r["window_start"])
    assert len(rows) == 4  # window/slide = 4 overlapping windows
    starts = [r["window_start"] for r in rows]
    tms = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert starts == [(tms // 900_000) * 900_000 - k * 900_000 for k in (3, 2, 1, 0)]
    for r in rows:
        assert r["window_start"] <= tms < r["window_start"] + 3_600_000
        assert r["n_samples"] == 1 and r["sum_value"] == 10.0


def test_hopping_level_rejects_non_divisible_slide(spark):
    df = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 1.0)],
        "event_type string, ts timestamp, value double",
    )
    with pytest.raises(ValueError):
        rollup.hopping_level(df, ["event_type"], "value", 3_600_000, 700_000)


# -- compaction planning -----------------------------------------------------


def test_compaction_groups_pack_in_order_toward_target(spark):
    counts = spark.createDataFrame(
        [("s", 0, b, n) for b, n in [(1, 30), (2, 30), (3, 30), (4, 30), (5, 100)]],
        "stream_id string, partition int, bucket long, n_records long",
    )
    out = plan_compaction_groups(
        counts, ["stream_id", "partition"], "bucket", "n_records", 50
    )
    got = {r["bucket"]: r["group_id"] for r in out.collect()}
    # cumsum-before: 0,30,60,90,120 -> //50 -> 0,0,1,1,2
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2}


def test_compaction_groups_are_contiguous_and_filled(spark):
    import random

    rng = random.Random(7)
    counts = spark.createDataFrame(
        [("s", 0, b, rng.randint(1, 40)) for b in range(60)],
        "stream_id string, partition int, bucket long, n_records long",
    )
    rows = sorted(
        plan_compaction_groups(
            counts, ["stream_id", "partition"], "bucket", "n_records", 100
        ).collect(),
        key=lambda r: r["bucket"],
    )
    gids = [r["group_id"] for r in rows]
    assert gids == sorted(gids)  # in-order packing never reopens a group
    assert gids[0] == 0
    # floor-cumsum invariant: everything packed BEFORE group g totals
    # >= g * target, so no group opens while earlier ones are underfull
    from collections import defaultdict

    per = defaultdict(int)
    for r in rows:
        per[r["group_id"]] += r["n_records"]
    for g in range(1, max(gids) + 1):
        assert sum(per[i] for i in range(g)) >= g * 100


# -- z-order -----------------------------------------------------------------


def _py_morton(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_pure_python_interleave(spark):
    pts = [(0, 0), (1, 0), (0, 1), (3, 5), (1023, 1023), (512, 7)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), 10).alias("z")
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _py_morton(x, y)


def test_zorder_tiles_have_bounded_rectangles(spark):
    # a full 64x64 grid: every coarse tile (z >> 8) must cover at most a
    # 16x16 rectangle — the locality property that makes min/max pruning
    # work on BOTH dimensions after a z-order layout.
    df = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    tiles = zorder_tiles(df, F.col("x"), F.col("y"), bits=10, tile_shift=8).collect()
    assert len(tiles) == 16  # 4096 points / 256 per tile
    for t in tiles:
        assert t["x_max"] - t["x_min"] <= 15
        assert t["y_max"] - t["y_min"] <= 15
        assert t["n_rows"] == 256


# -- deterministic HLL -------------------------------------------------------


def _py_hll(keys) -> float:
    regs = [0] * sketch.HLL_M
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        b = int(h[:3], 16)
        v = int(h[3:15], 16)
        rho = sketch.HLL_SUM_SCALE if v == 0 else sketch.HLL_SUM_SCALE - v.bit_length()
        regs[b] = max(regs[b], rho)
    s = sum(1 << (sketch.HLL_SUM_SCALE - m) for m in regs)
    raw = sketch.HLL_RAW_NUMERATOR / float(s)
    zeros = regs.count(0)
    if raw <= sketch.HLL_SMALL_RANGE and zeros > 0:
        return sketch.HLL_M * math.log(sketch.HLL_M / zeros)
    return raw


def test_hll_small_range_matches_pure_python_and_is_accurate(spark):
    keys = list(range(500))
    df = spark.createDataFrame([(k,) for k in keys], "user_id long").withColumn(
        "g", F.lit(1)
    )
    row = sketch.hll_estimate(df, "user_id", ["g"]).collect()[0]
    assert row["hll_estimate"] == pytest.approx(_py_hll(keys), abs=1e-9)
    assert abs(row["hll_estimate"] - 500) / 500 < 0.10


def test_hll_raw_branch_within_sketch_error_at_200k_keys(spark):
    n = 200_000  # >> 2.5m = 10240 -> raw estimator branch
    df = spark.range(n).select(F.col("id").alias("user_id"), F.lit(1).alias("g"))
    row = sketch.hll_estimate(df, "user_id", ["g"]).collect()[0]
    # raw branch really taken: far too few empty registers for linear counting
    assert row["n_empty_registers"] == 0 or row["hll_estimate"] > sketch.HLL_SMALL_RANGE
    # 1.04/sqrt(4096) ~ 1.6% std error; allow 5 sigma
    assert abs(row["hll_estimate"] - n) / n < 0.08


def test_hll_duplicates_do_not_move_the_estimate(spark):
    once = spark.range(1000).select(F.col("id").alias("user_id"), F.lit(1).alias("g"))
    thrice = once.unionAll(once).unionAll(once)
    a = sketch.hll_estimate(once, "user_id", ["g"]).collect()[0]["hll_estimate"]
    b = sketch.hll_estimate(thrice, "user_id", ["g"]).collect()[0]["hll_estimate"]
    assert a == b


# -- weighted sampling -------------------------------------------------------


def _py_draw_key(doc_id: int, w: int) -> float:
    u = (int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) + 1.0) / float(
        1 << 48
    )
    return u ** (1.0 / max(float(w), 1.0))


def test_weighted_sample_matches_pure_python_draw(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en", "src", (i % 5) * 100) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = text.weighted_sample(docs, k=10).collect()
    expect = sorted(
        ((_py_draw_key(i, (i % 5) * 100), i) for i in range(50)),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert [r["doc_id"] for r in got] == [i for _, i in expect]
    assert [r["draw_rank"] for r in got] == list(range(1, 11))
    for r, (k, _) in zip(got, expect):
        assert r["draw_key"] == pytest.approx(round(k, 6), abs=1e-9)


def test_weighted_sample_prefers_heavy_rows(spark):
    # one row with overwhelming weight is (essentially) always drawn
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1 if i else 10_000_000) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    top = text.weighted_sample(docs, k=5).collect()
    assert 0 in {r["doc_id"] for r in top}


# -- triangle census ---------------------------------------------------------


def test_triangle_stats_on_known_graph(spark):
    # triangle 1-2-3 plus pendant 3-4: degrees 2,2,3,1
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    row = dedup.triangle_stats(pairs).collect()[0]
    assert row["n_edges"] == 4
    assert row["n_triangles"] == 1
    # wedges: C(2,2)+C(2,2)+C(3,2)+C(1,2) = 1+1+3+0 = 5
    assert row["n_wedges"] == 5
    assert row["clustering_coeff"] == pytest.approx(round(3.0 * 1 / 5, 6))


def test_triangle_stats_empty_graph(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    row = dedup.triangle_stats(pairs).collect()[0]
    assert (
        row["n_edges"],
        row["n_wedges"],
        row["n_triangles"],
        row["clustering_coeff"],
    ) == (0, 0, 0, 0.0)


def test_triangle_stats_counts_each_triangle_once_in_clique(spark):
    # K5: C(5,3)=10 triangles, C(5,2)=10 edges, wedges = 5*C(4,2)=30
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    row = dedup.triangle_stats(pairs).collect()[0]
    assert row["n_edges"] == 10
    assert row["n_triangles"] == 10
    assert row["n_wedges"] == 30
    assert row["clustering_coeff"] == pytest.approx(1.0)


# -- decayed scores / PMI / KS / pareto --------------------------------------


def test_decayed_scores_weight_by_integer_weeks(spark):
    from broker_spark.operators.stats import decayed_user_scores

    base = dt.datetime(2024, 1, 29)  # max day anchor
    rows = [
        (1, base, 10.0),                       # age 0 weeks -> w=1
        (1, base - dt.timedelta(days=7), 8.0), # age 1 week  -> w=0.5
        (2, base - dt.timedelta(days=20), 4.0),# age 2 weeks -> w=0.25
    ]
    ev = spark.createDataFrame(
        [(i, t, u, "click", v, "{}") for i, (u, t, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r["user_id"]: r for r in decayed_user_scores(ev).collect()}
    assert got[1]["decayed_score"] == pytest.approx(10.0 + 8.0 * 0.5)
    assert got[2]["decayed_score"] == pytest.approx(4.0 * 0.25)
    assert got[1]["n_events"] == 2


def test_event_pmi_positive_for_cooccurring_negative_for_repelling(spark):
    from broker_spark.operators.stats import event_pmi_pairs

    day = dt.datetime(2024, 1, 1)
    # a+b always together (4 contexts); c alone in 4 other contexts,
    # except ONE context shared with a -> pmi(a,b) high, pmi(a,c) low
    rows = []
    for u in range(4):
        rows += [(u, "a", day), (u, "b", day)]
    for u in range(4, 8):
        rows += [(u, "c", day)]
    rows += [(0, "c", day + dt.timedelta(days=1)), (0, "a", day + dt.timedelta(days=1))]
    ev = spark.createDataFrame(
        [(i, t, u, et, 1.0, "{}") for i, (u, et, t) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {(r["type_a"], r["type_b"]): r for r in event_pmi_pairs(ev).collect()}
    # N=9 contexts; c_a=5, c_b=4, c_ab=4 -> pmi = ln(4*9/20) > 0
    assert got[("a", "b")]["pmi"] == pytest.approx(round(math.log(36 / 20), 6))
    # c_c=5, c_ac=1 -> pmi = ln(9/25) < 0
    assert got[("a", "c")]["pmi"] == pytest.approx(round(math.log(9 / 25), 6))


def test_ks_two_sample_known_distributions(spark):
    from broker_spark.operators.stats import ks_two_sample

    # A = {1,2,3,4}, B = {3,4,5,6}: D = 0.5 attained first at v=2
    rows = [(v, "A") for v in (1, 2, 3, 4)] + [(v, "B") for v in (3, 4, 5, 6)]
    df = spark.createDataFrame(rows, "v long, grp string")
    row = ks_two_sample(df, "v", "grp", "A").collect()[0]
    assert (row["n_a"], row["n_b"]) == (4, 4)
    assert row["ks_stat"] == pytest.approx(0.5)
    assert row["ks_at"] == 2


def test_ks_two_sample_identical_distributions_is_zero(spark):
    from broker_spark.operators.stats import ks_two_sample

    rows = [(v, g) for v in (1, 2, 3) for g in ("A", "B")]
    df = spark.createDataFrame(rows, "v long, grp string")
    row = ks_two_sample(df, "v", "grp", "A").collect()[0]
    assert row["ks_stat"] == 0.0


def test_pareto_frontier_excludes_dominated_keeps_ties(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c", "en", "s", 10),   # (10, 3) frontier
            (2, "a b", "en", "s", 20),     # (20, 2) frontier
            (3, "a", "en", "s", 15),       # (15, 1) dominated by doc 2
            (4, "x y z", "en", "s", 10),   # (10, 3) tie with doc 1
            (5, "a b c d", "en", "s", 5),  # (5, 4) frontier
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"] for r in text.pareto_frontier(docs).collect()}
    assert got == {1, 2, 4, 5}


# -- late-drop streaming certificate -----------------------------------------


def test_streaming_late_drop_excludes_pre_cutoff_windows(spark):
    """The two-batch-behind stragglers must be DROPPED (Spark's late
    filter uses the previous batch's watermark — SPARK-40925), so no
    window before the 2024-01-15 cutoff may appear, while on-time hours
    aggregate exactly."""
    from broker_spark.plans import catalog

    out = catalog.CATALOG["streaming_late_drop_replay"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    cutoff_bucket = 1_705_276_800_000 // 3_600_000  # 2024-01-15 00:00 UTC
    assert rows, "replay produced no windows"
    assert min(r["bucket"] for r in rows) >= cutoff_bucket
    # the on-time half really did aggregate (not everything was dropped)
    assert sum(r["n_samples"] for r in rows) > 100


def test_streaming_outer_join_emits_unmatched_clicks_with_sentinel_id(spark):
    """Every click must appear at least once; clicks with no purchase in
    their 6 h window carry the -1 no-match sentinel."""
    from broker_spark.plans import catalog

    out = catalog.CATALOG["streaming_outer_join_replay"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert rows
    unmatched = [r for r in rows if r["purchase_id"] == -1]
    matched = [r for r in rows if r["purchase_id"] != -1]
    assert unmatched, "outer join emitted no null-padded rows"
    for r in unmatched:
        assert r["value"] is None
    # matched pairs match the inner-join certificate's semantics
    for r in matched:
        assert r["value"] is not None


# -- review-fix regressions --------------------------------------------------


def test_triangle_stats_normalizes_reversed_and_doubled_edges(spark):
    # (1,2),(3,1),(2,3) reversed/mixed + a doubled edge: still ONE triangle
    pairs = spark.createDataFrame(
        [(1, 2), (3, 1), (2, 3), (2, 1)], "doc_a long, doc_b long"
    )
    row = dedup.triangle_stats(pairs).collect()[0]
    assert row["n_edges"] == 3
    assert row["n_triangles"] == 1
    assert row["n_wedges"] == 3
    assert row["clustering_coeff"] == pytest.approx(1.0)


def test_ks_two_sample_empty_group_returns_no_rows(spark):
    from broker_spark.operators.stats import ks_two_sample

    df = spark.createDataFrame([(1, "B"), (2, "B")], "v long, grp string")
    assert ks_two_sample(df, "v", "grp", "A").collect() == []


def test_hopping_level_supports_sub_second_slides(spark):
    # 6 s window / 1.5 s slide — the old whole-second truncation would
    # have built a 1 s slide (6 windows); milliseconds keep it exact (4)
    df = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 0, 0, 2), 1.0)],
        "event_type string, ts timestamp, value double",
    )
    rows = rollup.hopping_level(df, ["event_type"], "value", 6_000, 1_500).collect()
    assert len(rows) == 4


def test_weighted_sample_without_lang_column(spark):
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 9)], "doc_id long, n_chars long"
    )
    rows = text.weighted_sample(df, k=3, keep_cols=()).collect()
    assert len(rows) == 3
    assert [r["draw_rank"] for r in rows] == [1, 2, 3]


# -- real PNG decode ---------------------------------------------------------


def test_hll_merge_of_partial_sketches_equals_direct_sketch(spark):
    """Register-max merge is lossless: the estimate from merged per-part
    sketches equals the single-pass estimate over the union."""
    a = spark.range(0, 800).select(F.col("id").alias("user_id"), F.lit("p1").alias("part"))
    b = spark.range(400, 1200).select(F.col("id").alias("user_id"), F.lit("p2").alias("part"))
    df = a.unionAll(b)
    direct = sketch.hll_estimate(
        df.withColumn("g", F.lit(1)), "user_id", ["g"]
    ).collect()[0]["hll_estimate"]
    partial = sketch.hll_register_maxes(df, "user_id", ["part"])
    merged = (
        partial.groupBy("register").agg(F.max("m").cast("int").alias("m"))
        .withColumn("g", F.lit(1))
    )
    via_merge = sketch.hll_estimate_from_maxes(
        merged, merged.select("g").distinct(), ["g"]
    ).collect()[0]["hll_estimate"]
    assert via_merge == direct


# -- dynamic-gap sessionization / snapshot diff ------------------------------


def test_dynamic_gap_sessions_merge_by_interval_not_prev_row(spark):
    """A long-gap event keeps the session open past a short-gap event's
    timeout: purchase(t0, 60m) -> view(t0+40m, 10m) -> click(t0+55m)
    stays ONE session because the purchase's window still covers the
    click, even though the view's own 10 min window lapsed."""
    from broker_spark.plans import catalog

    base = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (1, base, 7, "purchase", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=40), 7, "view", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=55), 7, "click", 1.0, "{}"),
        # next event at t0+100m: beyond click's 30m (ends 85m) -> new session
        (4, base + dt.timedelta(minutes=100), 7, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as p:
        ev.write.parquet(f"{p}/events.parquet")
        orig = catalog.load
        catalog.load = lambda s_, sf, name: spark.read.parquet(f"{sf}/{name}.parquet")
        try:
            out = sorted(
                catalog.CATALOG["events_sessionization_dynamic_gap"]
                .fn(spark, p)
                .collect(),
                key=lambda r: r["session_start"],
            )
        finally:
            catalog.load = orig
    assert [r["n_events"] for r in out] == [3, 1]
    # session end = max over members of (ts + own gap): the click's
    # 12:55 + 30 min = 13:25 outlasts the purchase's 13:00
    assert out[0]["session_end"] == base + dt.timedelta(minutes=85)


def test_table_diff_classifies_all_four_states(spark):
    from broker_spark.operators.profile import table_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, payload string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "id long, payload string"
    )
    got = {
        r["id"]: r["change_type"]
        for r in table_diff(old, new, ["id"], ["payload"]).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_table_diff_null_and_separator_values_do_not_collide(spark):
    from broker_spark.operators.profile import table_diff

    old = spark.createDataFrame(
        [(1, None, "x"), (2, "a\x1fb", "c")], "id long, a string, b string"
    )
    new = spark.createDataFrame(
        [(1, "x", None), (2, "a", "b\x1fc")], "id long, a string, b string"
    )
    got = {
        r["id"]: r["change_type"]
        for r in table_diff(old, new, ["id"], ["a", "b"]).collect()
    }
    assert got == {1: "changed", 2: "changed"}


def test_cusum_accumulates_persistent_shift_into_alarm(spark):
    from broker_spark.operators.stats import cusum_daily_alarms

    # 10 quiet days at 10 events, then 5 shifted days at 14: no single
    # day is extreme, but the shift accumulates past 0.5*mu
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for d in range(15):
        n = 10 if d < 10 else 14
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(days=d), 1, "click", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = sorted(cusum_daily_alarms(ev).collect(), key=lambda r: r["day"])
    # pure-python replay
    mu = (10 * 10 + 5 * 14) / 15.0
    s, expect = 0.0, []
    for d in range(15):
        x = 10 if d < 10 else 14
        s = max(0.0, s + (x - mu - 0.1 * mu))
        expect.append((round(s, 6), s > 0.5 * mu))
    assert [(r["cusum"], r["alarm"]) for r in out] == expect
    assert not out[9]["alarm"] and out[-1]["alarm"]  # alarms only after the shift


def test_edit_distance_similarity_bounds(spark):
    from broker_spark.plans import catalog

    out = catalog.CATALOG["dedup_edit_distance_pairs"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out
    for r in out:
        assert 0 <= r["edit_similarity"] <= 1
        assert r["edit_distance"] >= 0
