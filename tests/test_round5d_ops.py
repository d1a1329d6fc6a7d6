"""Round-5 fourth/fifth-session operators: path trigrams, chi-square
independence, daily-count autocorrelation, Benford digit stats, the
key-skew audit, HLL intersection, incremental connected components,
centroid silhouette, day-of-week anomalies, cross-correlation,
referential integrity, unigram KL drift, and decile migration — each
pinned against a hand-computed or pure-Python reference on tiny
frames, plus regressions for the two session self-reviews."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from broker_spark.operators.profile import key_skew_stats
from broker_spark.operators.stats import (
    acf_daily_counts,
    benford_digit_stats,
    chisq_independence,
    event_path_trigrams,
)


def _ts(d, h=0):
    return dt.datetime(2024, 1, d, h)


# -- path trigrams -----------------------------------------------------------


def test_path_trigrams_counts_consecutive_triples(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts(1, 0), 7, "a"),
            (2, _ts(1, 1), 7, "b"),
            (3, _ts(1, 2), 7, "c"),
            (4, _ts(1, 3), 7, "a"),  # user 7: abc, bca
            (5, _ts(1, 0), 8, "a"),
            (6, _ts(1, 1), 8, "b"),
            (7, _ts(1, 2), 8, "c"),  # user 8: abc
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        (r["type_1"], r["type_2"], r["type_3"]): r["n_paths"]
        for r in event_path_trigrams(ev).collect()
    }
    assert out == {("a", "b", "c"): 2, ("b", "c", "a"): 1}


def test_path_trigrams_do_not_cross_users(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts(1, 0), 7, "a"),
            (2, _ts(1, 1), 7, "b"),
            (3, _ts(1, 0), 8, "c"),  # 2 events for u7, 1 for u8: no trigram
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    assert event_path_trigrams(ev).count() == 0


# -- chi-square independence -------------------------------------------------


def test_chisq_independent_columns_is_zero(spark):
    # perfectly balanced 2x2: observed == expected everywhere
    rows = [(i, "s1" if i % 2 else "s2", "en" if i % 4 < 2 else "de")
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, source string, lang string")
    [r] = chisq_independence(df, "source", "lang").collect()
    assert r["n"] == 40 and r["n_cells"] == 4 and r["dof"] == 1
    assert r["chi2"] == 0.0


def test_chisq_matches_textbook_value(spark):
    # contingency [[10, 20], [20, 10]]: chi2 = 60*(10*10-20*20)^2/(30*30*30*30)
    rows = (
        [(i, "a", "x") for i in range(10)]
        + [(i + 100, "a", "y") for i in range(20)]
        + [(i + 200, "b", "x") for i in range(20)]
        + [(i + 300, "b", "y") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "id long, source string, lang string")
    [r] = chisq_independence(df, "source", "lang").collect()
    expect = 0.0
    for o, rt, ct in [(10, 30, 30), (20, 30, 30), (20, 30, 30), (10, 30, 30)]:
        expect += round((60 * o - rt * ct) ** 2 / (60 * rt * ct), 6)
    assert abs(r["chi2"] - round(expect, 6)) < 1e-9
    # textbook n(ad-bc)^2/(r1 r2 c1 c2) = 20/3, up to the documented
    # per-cell 6-dp rounding (4 cells -> at most 2e-6 apart)
    assert abs(r["chi2"] - 20.0 / 3) < 4 * 5e-7


# -- autocorrelation ---------------------------------------------------------


def test_acf_alternating_series_is_minus_one_at_lag_one(spark):
    # daily counts 1,3,1,3,... -> r(1) = -1, r(2) = +1
    rows = []
    eid = 0
    for d in range(1, 11):
        for _ in range(1 if d % 2 else 3):
            eid += 1
            rows.append((eid, _ts(d)))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = {r["lag_days"]: r["acf"] for r in acf_daily_counts(ev, max_lag=2).collect()}
    assert out[1] == -1.0
    assert out[2] == 1.0


def test_acf_matches_pure_python_pearson(spark):
    counts = [5, 2, 7, 1, 9, 4, 6, 3, 8, 2, 5, 7]
    rows = []
    eid = 0
    for d, c in enumerate(counts, start=1):
        for _ in range(c):
            eid += 1
            rows.append((eid, _ts(d)))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = {r["lag_days"]: (r["n_pairs"], r["acf"])
           for r in acf_daily_counts(ev, max_lag=3).collect()}
    for k in (1, 2, 3):
        xs, ys = counts[:-k], counts[k:]
        n = len(xs)
        num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
        den = math.sqrt(
            (n * sum(x * x for x in xs) - sum(xs) ** 2)
            * (n * sum(y * y for y in ys) - sum(ys) ** 2)
        )
        assert out[k][0] == n
        assert abs(out[k][1] - round(num / den, 6)) < 1e-9


# -- Benford -----------------------------------------------------------------


def test_benford_digit_extraction_and_ratios(spark):
    vals = [1.23, 19.99, 2.50, 0.31, 950.00, 0.09]  # digits 1,1,2,3,9,9
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, price double"
    )
    out = {r["digit"]: r for r in benford_digit_stats(df, "price").collect()}
    assert {d: out[d]["n_obs"] for d in out} == {1: 2, 2: 1, 3: 1, 9: 2}
    assert out[1]["p_obs"] == round(2 / 6, 6)
    assert out[1]["p_benford"] == round(math.log10(2), 6)
    assert out[9]["abs_dev"] == round(
        abs(round(2 / 6, 6) - round(math.log10(1 + 1 / 9), 6)), 6
    )


def test_benford_ignores_nonpositive_values(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (2, -5.0), (3, 3.5)], "id long, price double"
    )
    out = benford_digit_stats(df, "price").collect()
    assert len(out) == 1 and out[0]["digit"] == 3 and out[0]["p_obs"] == 1.0


# -- key skew ----------------------------------------------------------------


def test_key_skew_stats_profile_and_top_key(spark):
    rows = (
        [(i, 100, "view") for i in range(6)]
        + [(i + 10, 200, "view") for i in range(2)]
        + [(20, 300, "click")]
    )
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    out = {r["key_col"]: r for r in
           key_skew_stats(ev, ["user_id", "event_type"]).collect()}
    u = out["user_id"]
    assert (u["n_rows"], u["n_keys"], u["max_count"]) == (9, 3, 6)
    assert u["avg_count"] == 3.0 and u["skew_factor"] == 2.0
    assert u["top_key"] == "100"
    t = out["event_type"]
    assert (t["n_keys"], t["max_count"], t["top_key"]) == (2, 8, "view")


def test_key_skew_top_key_tie_breaks_to_smallest(spark):
    ev = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "a"), (4, "b")], "event_id long, k string"
    )
    [r] = key_skew_stats(ev, ["k"]).collect()
    assert r["max_count"] == 2 and r["top_key"] == "a"


# -- HLL intersection --------------------------------------------------------


def test_hll_overlap_inclusion_exclusion_identity(spark):
    from broker_spark.plans.catalog import CATALOG
    import tempfile, os, shutil

    # synthetic events: users 0-99 click, 50-149 purchase -> overlap 50
    rows = [(i, dt.datetime(2024, 1, 1), i, "click", 0.0, "{}") for i in range(100)]
    rows += [
        (i + 1000, dt.datetime(2024, 1, 1), 50 + i, "purchase", 0.0, "{}")
        for i in range(100)
    ]
    tmp = tempfile.mkdtemp(prefix="hllov_")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(os.path.join(tmp, "events.parquet"))
    try:
        [r] = CATALOG["hll_click_purchase_overlap"].fn(spark, tmp).collect()
    finally:
        shutil.rmtree(tmp)
    assert r["n_exact_a"] == 100 and r["n_exact_b"] == 100
    assert r["n_exact_overlap"] == 50
    # inclusion-exclusion identity holds on the reported (rounded) fields
    assert abs(
        r["est_overlap"] - (r["est_a"] + r["est_b"] - r["est_union"])
    ) < 1e-5
    # with m=4096 registers and n=150 keys the estimates are near-exact
    assert abs(r["est_overlap"] - 50) < 10
    assert abs(r["rel_error"] - (r["est_overlap"] - 50) / 50) < 1e-5


# -- incremental connected components ----------------------------------------


def test_incremental_components_equals_full_cc(spark):
    import random

    from broker_spark.pipeline import dedup
    from tests.conftest import random_graph_with_chains, union_find_components

    rng = random.Random(7)
    n = 60
    edges = random_graph_with_chains(rng, n, 40, 15)
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    old = pairs.filter((F.col("doc_a") + F.col("doc_b")) % 2 == 0)
    new = pairs.filter((F.col("doc_a") + F.col("doc_b")) % 2 != 0)
    inc = {r["doc_id"]: r["component"] for r in
           dedup.incremental_components(docs, old, new).collect()}
    assert inc == union_find_components(range(n), edges)


def test_incremental_components_bridging_two_base_clusters(spark):
    from broker_spark.pipeline import dedup

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    old = spark.createDataFrame([(0, 1), (2, 3)], "doc_a long, doc_b long")
    new = spark.createDataFrame([(1, 2), (4, 5)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r["component"] for r in
           dedup.incremental_components(docs, old, new).collect()}
    # new edge 1-2 bridges {0,1} and {2,3} -> all labeled 0; 4-5 -> 4
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}


# -- centroid silhouette -----------------------------------------------------


def test_silhouette_separated_clusters_near_one(spark):
    from broker_spark.pipeline.ann import centroid_silhouette

    rows = [(i, [10.0 + (i % 3) * 0.01, 0.0], "a") for i in range(6)]
    rows += [(i + 10, [0.0, 10.0 + (i % 3) * 0.01], "b") for i in range(6)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {r["label"]: r for r in centroid_silhouette(emb).collect()}
    assert out["a"]["n_points"] == 6 and out["b"]["n_points"] == 6
    assert out["a"]["avg_silhouette"] > 0.99
    assert out["a"]["n_misassigned"] == 0 and out["b"]["n_misassigned"] == 0


def test_silhouette_flags_misassigned_point(spark):
    from broker_spark.pipeline.ann import centroid_silhouette

    rows = [(1, [10.0, 0.0], "a"), (2, [10.2, 0.0], "a"),
            (3, [0.0, 10.0], "b"), (4, [0.2, 10.0], "b"),
            (5, [0.1, 9.9], "a")]  # labeled a, sits in b's cluster
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {r["label"]: r for r in centroid_silhouette(emb).collect()}
    assert out["a"]["n_misassigned"] == 1
    assert out["b"]["n_misassigned"] == 0


# -- day-of-week-adjusted anomalies ------------------------------------------


def test_dow_anomaly_flags_spike_within_weekday_baseline(spark):
    from broker_spark.operators.stats import dow_adjusted_anomalies

    rows, eid = [], 0
    for week in range(4):
        for dow in range(7):
            # weekday-dependent base rate: 10 + dow; one spike on the
            # last Monday (dow index 0 of epoch-week)
            n = 10 + dow + (30 if (week == 3 and dow == 0) else 0)
            for _ in range(n):
                eid += 1
                rows.append((eid, dt.datetime(2024, 1, 1)
                             + dt.timedelta(days=week * 7 + dow), "view"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = dow_adjusted_anomalies(ev, z_threshold=1.4).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 40 and out[0]["zscore"] > 1.4


def test_dow_anomaly_constant_series_flags_nothing(spark):
    from broker_spark.operators.stats import dow_adjusted_anomalies

    rows, eid = [], 0
    for day in range(21):
        for _ in range(5):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1) + dt.timedelta(days=day), "view"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    assert dow_adjusted_anomalies(ev, z_threshold=0.5).count() == 0


# -- cross-correlation -------------------------------------------------------


def test_ccf_detects_exact_lag(spark):
    from broker_spark.operators.stats import ccf_daily_counts

    counts = [5, 2, 7, 1, 9, 4, 6, 3, 8, 2]
    rows, eid = [], 0
    for day, c in enumerate(counts):
        for _ in range(c):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1) + dt.timedelta(days=day), "click"))
        # purchases repeat the click series shifted 3 days later
        for _ in range(c):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 4) + dt.timedelta(days=day), "purchase"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r["lag_days"]: r["ccf"] for r in
           ccf_daily_counts(ev, max_lag=4).collect()}
    assert out[3] == 1.0  # exact copy at lag 3
    assert all(out[k] < 1.0 for k in out if k != 3)


# -- review-fix regressions --------------------------------------------------


def test_dow_anomaly_single_day_type_does_not_crash(spark):
    from broker_spark.operators.stats import dow_adjusted_anomalies

    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(days=i % 14), "view")
            for i in range(50)]
    rows.append((99, dt.datetime(2024, 1, 3), "launch_day_only"))  # n_base=1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = dow_adjusted_anomalies(ev, z_threshold=0.1).collect()  # must not raise
    assert all(r["event_type"] != "launch_day_only" for r in out)


def test_benford_subcent_values_are_excluded_not_crashing(spark):
    from broker_spark.operators.stats import benford_digit_stats

    df = spark.createDataFrame(
        [(1, 0.004), (2, 0.005), (3, 3.5)], "id long, price double"
    )
    out = {r["digit"]: r["n_obs"] for r in
           benford_digit_stats(df, "price").collect()}
    # 0.004 -> 0 cents, excluded; 0.005 -> 1 cent, digit 1; 3.5 -> digit 3
    assert out == {1: 1, 3: 1}


def test_table_fingerprint_null_content_skipped_identically(spark):
    from broker_spark.operators.profile import table_fingerprint

    a = spark.createDataFrame(
        [(1, "x", "s"), (2, None, "s")], "doc_id long, text string, source string"
    )
    b = spark.createDataFrame(
        [(1, "x", "s")], "doc_id long, text string, source string"
    )
    fa = {r["source"]: r for r in
          table_fingerprint(a, "source", "doc_id", "text").collect()}
    fb = {r["source"]: r for r in
          table_fingerprint(b, "source", "doc_id", "text").collect()}
    # NULL content contributes nothing to the digest (but does to n_rows)
    assert fa["s"]["digest"] == fb["s"]["digest"]
    assert fa["s"]["n_rows"] == 2 and fb["s"]["n_rows"] == 1


def test_table_fingerprint_null_group_does_not_collide_with_total(spark):
    from broker_spark.operators.profile import table_fingerprint

    df = spark.createDataFrame(
        [(1, "x", None), (2, "y", "s")], "doc_id long, text string, source string"
    )
    out = {r["source"] for r in
           table_fingerprint(df, "source", "doc_id", "text").collect()}
    assert out == {"ALL", "(null)", "s"}


def test_silhouette_id_col_is_parameterized(spark):
    from broker_spark.pipeline.ann import centroid_silhouette

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "b")],
        "my_id long, vec array<double>, cluster string",
    )
    out = centroid_silhouette(
        emb, label_col="cluster", vec_col="vec", id_col="my_id"
    ).collect()
    assert {r["cluster"] for r in out} == {"a", "b"}


# -- referential integrity ---------------------------------------------------


def test_referential_integrity_counts_orphans_and_null_fks(spark):
    from broker_spark.operators.profile import referential_integrity

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    [r] = referential_integrity(child, parent, "fk", "pk", "child.fk").collect()
    assert r["relationship"] == "child.fk"
    assert r["n_rows"] == 4 and r["n_keys"] == 3
    # fk=99 (1 row) and fk=NULL (1 row) are both orphaned
    assert r["n_orphan_rows"] == 2 and r["n_orphan_keys"] == 2


def test_referential_integrity_clean_table_audits_zero(spark):
    from broker_spark.operators.profile import referential_integrity

    child = spark.createDataFrame([(1, 10), (2, 20)], "id long, fk long")
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    [r] = referential_integrity(child, parent, "fk", "pk", "x").collect()
    assert r["n_orphan_rows"] == 0 and r["n_orphan_keys"] == 0


# -- unigram KL --------------------------------------------------------------


def test_unigram_kl_identical_sources_is_zero(spark):
    from broker_spark.pipeline.text import unigram_kl_by_source

    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in unigram_kl_by_source(docs).collect()}
    assert out["s1"]["kl_vs_corpus"] == 0.0
    assert out["s2"]["kl_vs_corpus"] == 0.0
    assert out["s1"]["token_share"] == 0.5


def test_unigram_kl_matches_pure_python(spark):
    import math
    from collections import Counter

    from broker_spark.pipeline.text import unigram_kl_by_source

    s1 = "a a a b"
    s2 = "b b c c d"
    docs = spark.createDataFrame(
        [(1, s1, "s1"), (2, s2, "s2")], "doc_id long, text string, source string"
    )
    corpus = Counter((s1 + " " + s2).split())
    n_tot = sum(corpus.values())
    out = {r["source"]: r for r in unigram_kl_by_source(docs).collect()}
    for src, text_ in (("s1", s1), ("s2", s2)):
        cnt = Counter(text_.split())
        n_s = sum(cnt.values())
        kl = sum(
            math.floor((c / n_s) * math.log((c * n_tot) / (n_s * corpus[w]))
                       * 1e12 + 0.5)
            for w, c in cnt.items()
        ) / 1e12
        assert abs(out[src]["kl_vs_corpus"] - round(kl, 6)) < 1e-9
        assert out[src]["n_tokens"] == n_s


# -- decile migration --------------------------------------------------------


def test_decile_migration_tracks_halves_and_inactive(spark):
    from broker_spark.operators.stats import user_decile_migration

    split = int(dt.datetime(2024, 1, 15).timestamp() * 1000)
    rows, eid = [], 0
    # user 1: active both halves; user 2: only first; user 3: only second
    for day, users in [(1, [1, 2]), (20, [1, 3])]:
        for u in users:
            for _ in range(5 if u == 1 else 2):
                eid += 1
                rows.append((eid, dt.datetime(2024, 1, day), u))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {(r["decile_before"], r["decile_after"]): r["n_users"] for r in
           user_decile_migration(ev, split).collect()}
    # half 1: user2 (2 events) -> decile 5, user1 (5) -> decile 10
    # half 2: user3 (2) -> decile 5, user1 (5) -> decile 10
    assert out[(10, 10)] == 1   # user 1 stays top band
    assert out[(5, 0)] == 1     # user 2 churned
    assert out[(0, 5)] == 1     # user 3 appeared
    assert sum(out.values()) == 3


def test_decile_migration_ties_share_a_band(spark):
    from broker_spark.operators.stats import user_decile_migration

    split = int(dt.datetime(2024, 1, 15).timestamp() * 1000)
    rows, eid = [], 0
    for u in range(10):  # all users identical activity in half 1
        for _ in range(3):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 2), u))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = user_decile_migration(ev, split).collect()
    assert len(out) == 1  # one cell: everyone in the same (value-based) band
    [r] = out
    assert r["decile_before"] == 10 and r["decile_after"] == 0
    assert r["n_users"] == 10


# -- PSI drift ---------------------------------------------------------------


def test_psi_identical_sources_near_zero_and_shift_detected(spark):
    from broker_spark.pipeline.text import psi_by_source

    rows = []
    # eight sources share the length distribution; one SMALL source is
    # shifted high.  The corpus blend is then ~99% normal, so normal
    # sources sit near it and the outlier stands out.  (PSI is vs the
    # BLEND: if the outlier were a large share of the corpus, every
    # normal source would legitimately drift from the blend too — so
    # the scenario keeps it small.)
    rid = 0
    for s in range(8):
        for i in range(60):
            rows.append((rid, "x", f"s{s}", 100 + (i % 10)))
            rid += 1
    for i in range(6):
        rows.append((rid, "x", "shifted", 900 + i))
        rid += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    out = {r["source"]: r["psi"] for r in psi_by_source(docs).collect()}
    assert out["shifted"] > 0.25     # conventional "action" threshold
    assert all(out[f"s{s}"] < 0.25 for s in range(8))
    assert out["shifted"] > 3 * max(out[f"s{s}"] for s in range(8))


def test_psi_matches_pure_python(spark):
    import math

    from broker_spark.pipeline.text import psi_by_source

    lengths = {"a": [5, 5, 7, 9, 20], "b": [20, 22, 25, 25]}
    rows = [(i * 100 + j, "x", s, L)
            for i, (s, ls) in enumerate(sorted(lengths.items()))
            for j, L in enumerate(ls)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    allv = [v for ls in lengths.values() for v in ls]
    mn, mx = min(allv), max(allv)
    def b(v):
        return min(9, (v - mn) * 10 // (mx - mn + 1))
    cb = [0] * 10
    for v in allv:
        cb[b(v)] += 1
    n_tot = len(allv)
    out = {r["source"]: r for r in psi_by_source(docs).collect()}
    for s, ls in lengths.items():
        cs = [0] * 10
        for v in ls:
            cs[b(v)] += 1
        n_s = len(ls)
        psi = 0
        for i, c in enumerate(cs):
            p = max(c / n_s, 1e-4)
            q = max(cb[i] / n_tot, 1e-4)
            psi += math.floor((p - q) * math.log(p / q) * 1e12 + 0.5)
        psi /= 1e12
        assert abs(out[s]["psi"] - round(psi, 6)) < 1e-9
        assert out[s]["n_docs"] == n_s
