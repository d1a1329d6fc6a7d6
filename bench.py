"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (the driver keeps only the LAST ~2000 chars of stdout and
parses the FINAL JSON line, so ordering matters):

1. a detailed JSON line with the per-query best-of-N map, per-query run
   spreads, the noise-floor probe record, and the composition delta vs
   the newest committed round detail — also written to BENCH_DETAIL.json
   at the repo root (a WORKING snapshot, gitignored; the committed record
   is the per-round BENCH_DETAIL_r{N}.json copy);
2. a compact FINAL JSON line guaranteed well under 500 bytes:
   {"metric", "value", "unit", "n_queries", "n_failed", "failed",
    "n_added", "n_removed", "noise_band", "n_flagged_regressions", "sf"}.

If any query failed, "value" is null in BOTH lines — a partial total must
never be mistaken for a full-run total (it would look *faster* exactly when
things break). The sum of the successful queries is still available as
"total_ok" in the detail record.

Noise attribution (VERDICT r7 #2): a fixed probe query (identical plan
every round) is timed at start/middle/end; sub-second entries extend from
best-of-3 to best-of-7; and per-query cross-round deltas are flagged as
regressions only when they exceed the probe-implied noise band PLUS an
absolute floor — so a noisy-neighbor window can no longer masquerade as an
engine regression (the r7 resend-family false alarm).

Timing covers plan + execute + collect-to-count, after JVM / Python-worker /
file-listing warm-up (session infrastructure, not query work).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from broker_spark.plans.catalog import CATALOG
from broker_spark.session import get_spark

#: The headline set: the resend family (the reference's core), metadata,
#: the relational surface, and the LLM-pipeline operators.
HEADLINE = [
    "resend_last",
    "resend_from",
    "resend_range",
    "resend_range_publisher",
    "resend_last_global",
    "metadata_counts",
    "stream_first_last",
    "bucket_index",
    "retention_selection",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q21_sole_returner",
    "asof_click_purchase",
    "top_orders_per_customer",
    "rollup_order_stats",
    "events_sessionization",
    "distinct_users_daily",
    "events_hourly_rollup",
    "ewma_hourly",
    "json_content_stats",
    "dedup_exact_groups",
    "dedup_cluster_keepers",
    "dedup_minhash_pairs_guarded",
    "dedup_ngram_jaccard_guarded",
    "dedup_simhash_pairs_guarded",
    "text_quality",
    "language_id",
    "token_stats",
    "ann_bruteforce_topk",
    "ann_grid_buckets",
    "ann_ivf_topk",
    "ann_multiprobe_topk",
    "ann_trained_ivf_multiprobe",
    "embedding_near_dup",
    "repetition_stats",
    "pack_sequences",
    "decontamination_overlap",
    "chunk_documents",
    "label_centroids",
    "funnel_counts",
    "cohort_retention",
    "event_transition_matrix",
    "bloom_decontamination",
    "perplexity_buckets",
    "robust_stats_mad",
    "topk_bigrams_per_lang",
    "source_overlap_matrix",
    "quality_percentile_filter",
    "user_session_features",
    "pq_quantization_error",
    "ann_ivf_pq_topk",
    "substring_dup_pairs",
    "gopher_filter_flags",
    "event_value_ranks",
    "dedup_kept_by_quality",
    "bpe_pair_counts",
    "training_manifest",
    "pack_sequences_sharded",
    "cms_heavy_hitters",
    "events_gap_fill",
    "minhash_estimate_error_guarded",
    "hard_negative_mining",
    "semantic_dedup_clusters",
    "domain_cap_sample",
    "vocab_coverage",
    "bigram_logprob_score",
    "dedup_graph_degrees",
    "ann_rp_lsh_topk",
    "embedding_pca_power_iter",
    "bm25_topk",
    "passage_dedup_stats",
    "quality_classifier_score",
    "temperature_mix_allocation",
    "doc_entropy_stats",
    "split_leakage_audit",
    "curated_mix_manifest",
    "events_rolling_hour_stats",
    "events_rolling_hour_sharded",
    # round 5
    "tfidf_cosine_pairs_guarded",
    "events_value_percentiles_exact",
    "funnel_conversion",
    "zscore_anomaly_events",
    "vocab_zipf_slope",
    "repetition_top2gram_share",
    "customer_rfm_scores",
    "orders_market_basket",
    "cross_source_dup_groups",
    "revenue_gini",
    "embedding_dim_stats",
    "events_equidepth_histogram",
    "wordpiece_fertility_by_lang",
    "langid_confusion_matrix",
    "int8_quant_error_stats",
    # round-5 second session
    "table_profile_documents",
    "events_hopping_rollup",
    "compaction_plan",
    "zorder_layout_keys",
    "hll_distinct_users_daily",
    "weighted_sample_docs",
    "dedup_graph_triangles_guarded",
    "user_decayed_scores",
    "event_pmi_pairs",
    "ks_drift_sources",
    "pareto_frontier_docs",
    "hll_monthly_merge",
    "events_sessionization_dynamic_gap",
    "snapshot_diff_counts",
    # round-5 third session
    "dedup_prefix_filter_pairs",
    "scd2_user_event_type",
    "cdc_apply_final_state",
    "bucketed_join_order_revenue",
    "rollup_incremental_merge",
    "table_fingerprint_documents",
    "event_path_trigrams",
    "chisq_source_lang",
    "acf_daily_counts",
    "benford_first_digit",
    "events_key_skew",
    "hll_click_purchase_overlap",
    "dedup_components_incremental",
    "clustering_silhouette",
    "dow_adjusted_anomalies",
    "ccf_click_purchase",
    "fk_integrity_audit",
    "unigram_kl_by_source",
    "user_decile_migration",
    "psi_length_by_source",
    # round-6 session 1
    "bpe_learn_merges",
    "bpe_vocab_after_merges",
    "record_linkage_pairs",
    "entity_resolution_names",
    "holt_trend_daily",
    "theil_sen_daily_trend",
    "seasonal_naive_mape",
    "multitouch_attribution",
    # round-6 session 2
    "seasonal_trend_anomalies",
    "link_prediction_adamic_adar",
    "heaps_vocab_growth",
    # round-6 session 3
    "matryoshka_recall",
    "layout_pruning_benefit",
    "k_anonymity_audit",
    # round-6 session 4
    "churn_label_features",
    "conversion_latency_quantiles",
    "bpe_fertility_by_lang",
    # round-7: the ADVICE/VERDICT backfill (layout_pruning_multidim had
    # shipped unbenched) + the interval-merge trailing distinct, whose
    # whole point is the measured win over the 24x hop expansion
    "layout_pruning_multidim",
    "events_trailing_distinct_interval",
    # round-11 (VERDICT r10 #3): the prefix-filter join's bounded
    # interactive twin — hot-posting cap + per-anchor top-K before
    # verify; the exact lossless form stays benched above as the batch
    # path (different threshold, different question — not a sibling
    # double-count)
    "dedup_prefix_filter_pairs_guarded",
    # round-12 (VERDICT r11 #2): the incremental join against the
    # MAINTAINED bucketed corpus index — a structurally new plan (stored
    # postings/df/token tables, shuffle-free stored side, no corpus
    # recompute), so it is benched in its own right; the build is
    # memoized per process and best-of-N measures the steady-state
    # query-only path, which is exactly the production shape (build once,
    # query per batch)
    "dedup_prefix_filter_maintained",
    # round-13 (VERDICT r12 #2): the maintained index's rebuild-decision
    # metric, oracle-certified end-to-end (the SQL replays epoch ranking,
    # prefix cut, and both mass sums); build+append memoized per process,
    # so best-of-N measures the drift query itself — the rebuild-cadence
    # path
    "dedup_prefix_index_drift",
]

#: Comparison tier (VERDICT r6 #3 / r7 #3): correct and oracle-certified,
#: but each is the MEASURED CONTRAST to a strictly better headline twin —
#: either a plan that goes quadratic on a hot key when its frequency guard
#: is off (vs the `_guarded` twin), or a superseded physical form whose
#: certified replacement answers the identical query (the 24x-hop trailing
#: distinct vs the interval-merge form: 34.0 s vs 4.2 s at 100x,
#: BENCH_SCALE.md).  Timed separately with the same best-of-N methodology;
#: never part of the headline total, so the headline surface contains only
#: the plans we'd actually run at 100 TB.
COMPARISON = [
    "tfidf_cosine_pairs",
    "dedup_ngram_jaccard",
    "dedup_minhash_pairs",
    "events_trailing_distinct_users",
    # round-8 densification contrast (VERDICT r7 #5): unguarded
    # candidate-graph certificates whose 100x growth tracks LSH pair-graph
    # density; the max_bucket_size=8 twins carry the headline
    "dedup_graph_triangles",
    "minhash_estimate_error",
    # round-9 (VERDICT r8 #2, guard default-on): the unguarded simhash
    # census — the sf0.1 fixture's hottest 15-bit band bucket holds 269
    # docs (a 36k-pair expansion from one key), so the exact census is the
    # measured contrast to the new dedup_simhash_pairs_guarded headline
    "dedup_simhash_pairs",
]

#: Accounting for every other catalog entry (the registered==swept guard in
#: tests/test_catalog_integrity.py asserts HEADLINE + COMPARISON +
#: NOT_BENCHED == CATALOG exactly, so an entry can never silently ship
#: outside the bench surface the way layout_pruning_multidim once did).
#: Two excluded families:
#: 1. Streaming-replay certificates (and the storage log roundtrip): each
#:    stages input files, runs 1-2 availableNow streaming queries against a
#:    checkpoint, and tears down state — their runtime measures the replay
#:    harness, not a query plan; correctness is certified by selfcheck +
#:    the driver window instead.
NOT_BENCHED_REPLAYS = [
    "streaming_holt_replay",
    "streaming_ewma_replay_shuffled",
    "streaming_lsh_replay_shuffled",
    "streaming_lsh_replay_horizon",
    "streaming_lsh_replay_horizon_shuffled",
    "streaming_outer_join_replay_shuffled",
    "streaming_trailing_distinct_replay_shuffled",
    "log_roundtrip_resend",
    "streaming_alerts_replay",
    "streaming_alerts_replay_horizon",
    "streaming_alerts_replay_horizon_shuffled",
    "streaming_cdc_upsert_replay",
    "streaming_cdc_upsert_replay_shuffled",
    "streaming_ewma_replay",
    "streaming_exact_dedup_replay",
    "streaming_funnel_replay",
    "streaming_hll_replay",
    "streaming_hopping_rollup_replay",
    "streaming_hourly_rollup_replay",
    "streaming_hourly_rollup_replay_shuffled",
    "streaming_join_replay",
    "streaming_late_drop_replay",
    "streaming_lsh_replay",
    "streaming_ewma_ttl_replay",
    "streaming_holt_ttl_replay",
    "streaming_outer_join_replay",
    "streaming_sessionization_replay",
    "streaming_sessionization_replay_shuffled",
    "streaming_trailing_distinct_replay",
]

#: 2. Sibling shapes: variants/components of a benched entry (the guarded
#:    twin, the exact-parity twin, a coarser/finer rollup of the same scan)
#:    plus no-oracle property-test-pinned certificates — benching both
#:    siblings would double-count the same plan in the headline total.
#:    Every sibling carries its one-line justification (VERDICT r8 #6) so
#:    the partition stays auditable: the value names the benched twin (or
#:    family) whose plan already covers it; tests/test_catalog_integrity
#:    asserts no entry sits here without a reason.
NOT_BENCHED_SIBLING_REASONS = {
    "ann_ivf_pq_agreement": "PQ-vs-exact agreement certificate over the same index benched as ann_ivf_pq_topk",
    "ann_ivf_pq_exact_parity": "exact-parity twin of benched ann_ivf_pq_topk (identical scan, parity check)",
    "ann_ivf_pq_rerank_topk": "rerank-stage variant of benched ann_ivf_pq_topk",
    "ann_label_ivf_topk": "label-filtered variant of benched ann_ivf_topk",
    "ann_recall_vs_nprobe": "recall sweep over the same trained index benched as ann_trained_ivf_multiprobe",
    "ann_trained_ivf_topk": "single-probe sibling of benched ann_trained_ivf_multiprobe",
    "anomaly_zscore": "same scan and window shape as benched zscore_anomaly_events",
    "approx_distinct_users_daily": "approx twin of benched distinct_users_daily / hll_distinct_users_daily",
    "approx_value_percentiles": "approx twin of benched events_value_percentiles_exact",
    "assignment_diff": "set-diff component certificate of the storage-assignment filter (F6), trivial scan",
    "corpus_hash_sample": "deterministic-sample sibling of benched weighted_sample_docs (same documents scan)",
    "corpus_histogram": "profile sibling of benched table_profile_documents",
    "cube_order_stats": "CUBE form of benched rollup_order_stats (same aggregation scan)",
    "customers_open_and_pending": "INTERSECT form of the same customer/orders semi-join family as the benched q13 shape",
    "customers_with_open_orders": "semi-join form of the same customer/orders family (EXCEPT/INTERSECT triplet)",
    "customers_without_pending_orders": "anti-join form of the same customer/orders family (EXCEPT/INTERSECT triplet)",
    "cusum_daily_alarms": "CUSUM variant over the same daily-counts scan as benched dow_adjusted_anomalies",
    "dedup_components_star": "star-CC form superseded by benched dedup_components_incremental",
    "dedup_containment": "containment variant of benched dedup_ngram_jaccard_guarded (same shingle explode)",
    "dedup_edit_distance_pairs": "edit-distance verify stage over the candidates benched as dedup_prefix_filter_pairs",
    "dedup_graph_pagerank": "pagerank over the same pair graph benched as dedup_graph_degrees",
    "dedup_incremental_pairs": "new-vs-corpus form of benched dedup_minhash_pairs_guarded",
    "dedup_prefix_filter_incremental": "new-vs-corpus form of benched dedup_prefix_filter_pairs (same prefix pipeline, split input)",
    "dedup_pagerank_keepers": "keeper selection over dedup_graph_pagerank's scores (same graph)",
    "distinct_stream_partitions": "DISTINCT projection of the scan benched as metadata_counts",
    "doc_winnow_fingerprints": "fingerprint-stage component of benched substring_dup_pairs (it calls text.winnow_fingerprints)",
    "events_lag_deltas": "lag-window sibling of benched events_gap_fill (same events scan)",
    "events_pivot_daily": "pivot form of benched events_hourly_rollup",
    "grouping_sets_order_stats": "GROUPING SETS form of benched rollup_order_stats",
    "json_parsed_projection": "projection component of benched json_content_stats",
    "lsh_precision_recall": "precision/recall census over benched dedup_minhash_pairs_guarded candidates",
    "lsh_s_curve": "analytic S-curve table for the banding parameters (constant-size, no data scan)",
    "moving_avg_daily": "window sibling of benched ewma_hourly (same rollup scan)",
    "pii_redaction": "regex-projection sibling of the benched text_quality scan",
    "range_join_clicks_before_purchase": "range-join sibling of benched asof_click_purchase",
    "resend_from_publisher": "composite-lower-bound sibling of benched resend_range_publisher",
    "resend_union_merge": "k-way sorted-merge sibling of the benched resend family (same pruned scan)",
    "rollup_daily_cascade": "cascade of benched events_hourly_rollup levels (re-aggregates its output)",
    "salted_stream_totals": "salted-aggregation demonstration twin of benched metadata_counts",
    "source_dedup_stats": "per-source rollup of benched cross_source_dup_groups",
    "stratified_sample_per_lang": "stratified sibling of benched weighted_sample_docs",
    "train_val_test_split": "hash-split sibling of benched training_manifest",
    "unigram_logprob_score": "unigram sibling of benched bigram_logprob_score (same token explode)",
    "wordpiece_encode_counts": "encode stage of benched wordpiece_fertility_by_lang",
}

NOT_BENCHED_SIBLINGS = sorted(NOT_BENCHED_SIBLING_REASONS)

NOT_BENCHED = NOT_BENCHED_REPLAYS + NOT_BENCHED_SIBLINGS

#: Adaptive sampling (VERDICT r7 #2): on this VM, noisy-neighbor windows
#: swing single runs by ±3x, and for sub-second queries even best-of-3 sits
#: below the noise floor (both committed r7 records showed the resend
#: family ~2x over r6 while a fresh rerun reproduced the r6 numbers).
#: Entries whose best is under SUB_SECOND keep sampling up to MAX_RUNS.
SUB_SECOND = 1.0
MAX_RUNS = 7


def time_entry(spark, sf_dir: str, fn, runs: int):
    """Best-of-N wall time for one catalog entry — the ONE timing loop
    both tiers share (ADVICE r7), so headline and comparison numbers can
    never drift methodologically.  Returns (best, sorted_samples, rows,
    best3) where best3 is the best of the FIRST `runs` chronological
    samples — the prior rounds' best-of-3 methodology, recorded alongside
    the extended best so a cross-round 'improvement' on a sub-second
    entry can be attributed to the engine, not to the extra sampling
    (ADVICE r8).  Best-of-N is monotone in N, so adaptive extension can
    only tighten a number, never inflate it — totals stay comparable."""
    samples: list[float] = []
    n = 0
    while len(samples) < runs or (
        min(samples) < SUB_SECOND and len(samples) < MAX_RUNS
    ):
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        samples.append(time.perf_counter() - t0)
    best3 = round(min(samples[:runs]), 3)
    samples.sort()
    return round(samples[0], 3), [round(s, 3) for s in samples], n, best3


#: A new best must exceed the previous run's own WORST sample by this
#: margin before it can be flagged: the committed per-query spreads are
#: the direct record of that query's run-to-run variance, which the
#: single global probe threshold under-models for multi-stage queries
#: (VERDICT r8 #3 — the r8 driver run flagged 11 queries, all noise).
SPREAD_MARGIN = 1.3

#: Sub-noise jitter: deltas smaller than this are never regressions.
ABS_FLOOR = 0.25

#: Interleaved probe cadence (VERDICT r12 #4): a machine-floor checkpoint
#: every this-many headline entries, so in-run drift localizes to the
#: stretch it happened in instead of hiding between start/middle/end.
PROBE_EVERY = 20


def effective_threshold(noise_band: float, machine_ratio: float | None) -> float:
    """Global flag threshold: probe band (floored at 1.5x) rescaled by the
    cross-round machine ratio, then floored at 1.0 — a probe that got
    FASTER (machine_ratio < 1) must never flag a query that absolutely
    improved (ADVICE r8: the probe is scan-bound; heavier shuffle-bound
    queries don't track machine conditions proportionally)."""
    return round(max(1.0, max(1.5, noise_band) * (machine_ratio or 1.0)), 3)


def flag_regressions(
    timings: dict[str, float | None],
    prev_queries: dict,
    prev_spreads: dict,
    threshold: float,
) -> list[str]:
    """Per-query regression flags (VERDICT r8 #3): flag only when the new
    best exceeds BOTH the global-threshold bar (threshold x previous
    best) AND the previous run's own worst sample x SPREAD_MARGIN.  The
    second bar is per-query: a query whose committed spread already
    showed 2x run-to-run variance needs a correspondingly larger delta
    before the flag means anything.  The absolute floor drops sub-noise
    jitter on sub-second entries."""
    flagged = []
    for name, t in timings.items():
        prev = prev_queries.get(name)
        if t is None or not isinstance(prev, (int, float)):
            continue
        spread = prev_spreads.get(name)
        prev_worst = max(spread) if spread else prev
        bar = max(prev * threshold, prev_worst * SPREAD_MARGIN)
        if t > bar and t - prev > ABS_FLOOR:
            flagged.append(name)
    return sorted(flagged)


def flag_regressions_normalized(
    timings: dict[str, float | None],
    floors: dict[str, float],
    prev_norm_queries: dict,
    prev_norm_spreads: dict,
    noise_band: float,
    prev_raw_queries: dict | None = None,
) -> list[str]:
    """Probe-normalized regression flags (VERDICT r11 #5): compare each
    query in PROBE UNITS against the previous round's committed probe
    units, so a globally slower or faster machine cancels BY CONSTRUCTION
    instead of via the machine_ratio rescale — rounds 10 and 11 both
    spent judge effort adjudicating flags that dissolved under exactly
    this normalization.  `floors[name]` is the query's NEAREST probe
    checkpoint floor (VERDICT r12 #4): a slowdown localized to one
    stretch of the run — the r12 driver's tail blow-up — normalizes
    against the probe that ran inside that stretch, not a fast probe
    half a run away.  The per-query spread bar carries over unchanged.
    The sub-noise jitter floor is applied in BOTH runs' own seconds
    (current: through this run's local floor; previous: against the
    committed raw seconds) — converting the normalized delta through
    only the current probe would scale the suppression with THIS
    machine's speed and let sub-second jitter flag on a much slower
    machine (ADVICE r12)."""
    threshold = max(1.5, noise_band)
    prev_raw_queries = prev_raw_queries or {}
    flagged = []
    for name, t in timings.items():
        prev = prev_norm_queries.get(name)
        if t is None or not isinstance(prev, (int, float)):
            continue
        floor = max(floors.get(name, 1e-9), 1e-9)
        tn = t / floor
        spread = prev_norm_spreads.get(name)
        prev_worst = max(spread) if spread else prev
        bar = max(prev * threshold, prev_worst * SPREAD_MARGIN)
        prev_raw = prev_raw_queries.get(name)
        raw_ok = (
            (t - prev_raw) > ABS_FLOOR
            if isinstance(prev_raw, (int, float))
            else True
        )
        if tn > bar and (tn - prev) * floor > ABS_FLOOR and raw_ok:
            flagged.append(name)
    return sorted(flagged)


def _noise_probe(spark, sf_dir: str, runs: int = 5) -> list[float]:
    """The fixed noise-floor probe (VERDICT r7 #2): one trivial,
    never-changing query — an events scan + small group-count — timed
    best-of-`runs` at bench start, middle, and end.  Its plan never
    changes across rounds, so any cross-round movement in the probe IS
    machine noise; per-query deltas smaller than the probe's swing are
    unattributable and must not be read as regressions."""
    from broker_spark.tables import load

    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        load(spark, sf_dir, "events").groupBy("event_type").count().count()
        samples.append(time.perf_counter() - t0)
    return [round(s, 3) for s in sorted(samples)]


def _prev_detail() -> tuple[str | None, dict]:
    """Newest committed BENCH_DETAIL_r{N}.json (repo root, then records/)
    — the baseline the current run describes its composition against."""
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, str] | None = None
    for d in (here, os.path.join(here, "records")):
        if not os.path.isdir(d):
            continue
        for f in os.listdir(d):
            m = re.fullmatch(r"BENCH_DETAIL_r(\d+)\.json", f)
            if m and (best is None or int(m.group(1)) > best[0]):
                best = (int(m.group(1)), os.path.join(d, f))
    if best is None:
        return None, {}
    try:
        with open(best[1]) as fh:
            return os.path.basename(best[1]), json.load(fh)
    except (OSError, json.JSONDecodeError):
        return os.path.basename(best[1]), {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="broker-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # JVM warm-up, not query work
    # Python-worker-pool warm-up (first pandas UDF of a session pays the
    # fork+Arrow init; that's session infrastructure, not query work)
    import pandas as _pd

    spark.createDataFrame([(1, 1.0)], "k int, v double").groupBy("k").applyInPandas(
        lambda pdf: pdf, "k int, v double"
    ).count()
    # warm file listings + parquet footers (schema + a 1-row touch)
    from broker_spark.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        _ = load(spark, sf_dir, t).limit(1).count()

    # base best-of-3, extended to best-of-7 while an entry stays
    # sub-second (time_entry; VERDICT r7 #2)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    probe_start = _noise_probe(spark, sf_dir)
    # Interleaved probe checkpoints (VERDICT r12 #4): start/middle/end
    # could not LOCALIZE in-run drift — the r12 driver's last four
    # headline entries ran ~7x slow while all three probes stayed fast.
    # A checkpoint every PROBE_EVERY entries gives each query a nearby
    # machine-floor reading; normalization below uses the NEAREST one.
    checkpoints: list[tuple[int, list[float]]] = [(0, probe_start)]
    timings: dict[str, float | None] = {}
    spreads: dict[str, list[float]] = {}
    best3s: dict[str, float] = {}
    entry_pos: dict[str, int] = {}
    for i, name in enumerate(HEADLINE):
        if i > 0 and i % PROBE_EVERY == 0:
            checkpoints.append((i, _noise_probe(spark, sf_dir, runs=3)))
        entry_pos[name] = i
        # Per-query isolation: one broken query must never zero the round's
        # bench record — record null and keep going, always emit the JSON.
        try:
            best, samples, n, best3 = time_entry(spark, sf_dir, CATALOG[name].fn, runs)
            timings[name] = best
            spreads[name] = samples
            best3s[name] = best3
            print(
                f"# {name}: {best:.3f}s ({n} rows) runs={samples}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 — isolate per-query failures
            timings[name] = None
            print(f"# {name}: FAILED {type(exc).__name__}: {exc}", file=sys.stderr)

    probe_middle = _noise_probe(spark, sf_dir)
    checkpoints.append((len(HEADLINE), probe_middle))
    # Comparison tier: timed for the record (the contrast its headline twin
    # is measured against), NEVER part of the headline total — same
    # time_entry loop, so the two tiers' methodology cannot drift.
    comparison: dict[str, float | None] = {}
    comparison_spreads: dict[str, list[float]] = {}
    comparison_best3s: dict[str, float] = {}
    for name in COMPARISON:
        try:
            best, samples, n, best3 = time_entry(spark, sf_dir, CATALOG[name].fn, runs)
            comparison[name] = best
            comparison_spreads[name] = samples
            comparison_best3s[name] = best3
            print(
                f"# [comparison] {name}: {best:.3f}s ({n} rows) runs={samples}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            comparison[name] = None
            print(
                f"# [comparison] {name}: FAILED {type(exc).__name__}: {exc}",
                file=sys.stderr,
            )
    probe_end = _noise_probe(spark, sf_dir)

    comparison_failed = sorted(k for k, v in comparison.items() if v is None)
    failed = sorted(k for k, v in timings.items() if v is None)
    total_ok = round(sum(t for t in timings.values() if t is not None), 3)
    # A partial total must never masquerade as a full-run total.
    value = None if failed else total_ok

    # Noise attribution: each probe checkpoint's BEST is the machine's
    # floor at that moment (best-of-5 damps scheduler hiccups the same
    # way per-query best-of-N does); the band is how far that floor
    # drifted across the run.  A per-query cross-round delta inside the
    # band is machine noise, not a regression.  When the previous round's
    # detail recorded a probe, its floor additionally normalizes the
    # cross-round comparison (a globally slower machine shifts the probe
    # and the queries together).  Empty flagged_regressions means "no
    # attributable per-query regression this run".
    checkpoint_bests = [cp[0] for _, cp in checkpoints] + [probe_end[0]]
    probe_best = min(checkpoint_bests)
    noise_band = round(max(checkpoint_bests) / max(probe_best, 1e-9), 3)
    # Per-query LOCAL floor: the nearest checkpoint's best (by headline
    # position; ties go to the earlier probe).  A query timed inside a
    # slow stretch divides by the probe that saw that stretch.
    def _local_floor(pos: int) -> float:
        nearest = min(checkpoints, key=lambda cp: (abs(cp[0] - pos), cp[0]))
        return max(nearest[1][0], 1e-9)

    floors = {name: _local_floor(pos) for name, pos in entry_pos.items()}
    prev_name, prev = _prev_detail()
    prev_q = prev.get("queries") or {}
    prev_probe = prev.get("probe") or {}
    prev_bests = [
        samples[0]
        for samples in (
            prev_probe.get("start"),
            prev_probe.get("middle"),
            prev_probe.get("end"),
        )
        if samples
    ]
    machine_ratio = (
        round(probe_best / min(prev_bests), 3) if prev_bests else None
    )
    # noise_band = the RAW probe-floor drift (reported as-is so a quiet
    # run reads ~1.0); the flag threshold floors it at 1.5x, rescales by
    # the cross-round machine ratio, and floors the result at 1.0 —
    # reported separately so telemetry can tell a quiet VM from one that
    # genuinely swung 1.5x.  Flags additionally respect each query's own
    # committed spread (flag_regressions; VERDICT r8 #3 + ADVICE r8).
    regression_threshold = effective_threshold(noise_band, machine_ratio)
    # Per-query probe units: best ÷ the query's NEAREST checkpoint floor
    # (VERDICT r12 #4; global probe_best in r12).  Committed in the
    # detail so the NEXT round's flagger (and any cross-round reader)
    # compares drift-immune numbers by construction (VERDICT r11 #5).
    queries_normalized = {
        name: (round(t / floors[name], 3) if t is not None else None)
        for name, t in timings.items()
    }
    spreads_normalized = {
        name: [round(s / floors[name], 3) for s in samples]
        for name, samples in spreads.items()
    }
    prev_q_norm = prev.get("queries_normalized") or {}
    if prev_q_norm:
        flag_basis = "probe_normalized"
        flagged_regressions = flag_regressions_normalized(
            timings,
            floors,
            prev_q_norm,
            prev.get("spreads_normalized") or {},
            noise_band,
            prev_raw_queries=prev_q,
        )
    else:
        # first round after the change: the previous detail has no probe
        # units yet — fall back to the raw machine-ratio-rescaled flagger
        flag_basis = "raw"
        flagged_regressions = flag_regressions(
            timings, prev_q, prev.get("spreads") or {}, regression_threshold
        )
    vs_prev = {
        "baseline": prev_name,
        "added": sorted(set(timings) - set(prev_q)),
        "removed": sorted(set(prev_q) - set(timings)),
        "noise_band": noise_band,
        "regression_threshold": regression_threshold,
        "machine_ratio_vs_prev_probe": machine_ratio,
        "flag_basis": flag_basis,
        "flagged_regressions": flagged_regressions,
    }

    # Same-HEAD run accumulation (VERDICT r9 #6): the committed detail
    # must carry EVERY total measured at this HEAD, not just the run
    # whose full per-query map happened to be written last — the r9
    # builder record's 91.4/101.8/96.0 s spread lived only in prose and
    # cross-round comparisons had to be adjudicated by narrative.  Each
    # bench run appends {total, total_ok, probe_best} keyed to the git
    # HEAD; a new HEAD starts the list over.
    import subprocess

    try:
        git_head = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=10,
        ).stdout.strip() or None
    except Exception:
        git_head = None
    run_totals = []
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path) as fh:
            prev_snapshot = json.load(fh)
        if git_head and prev_snapshot.get("git_head") == git_head:
            run_totals = list(prev_snapshot.get("run_totals") or [])
    except (OSError, ValueError):
        pass
    run_totals.append(
        {"total": value, "total_ok": total_ok, "probe_best": probe_best}
    )

    detail = {
        "metric": "headline_queries_total",
        "value": value,
        "total_ok": total_ok,
        "git_head": git_head,
        "run_totals": run_totals,
        "unit": "sec",
        "queries": timings,
        "spreads": spreads,
        "queries_best3": best3s,
        "queries_normalized": queries_normalized,
        "spreads_normalized": spreads_normalized,
        "comparison": comparison,
        "comparison_spreads": comparison_spreads,
        "comparison_best3": comparison_best3s,
        "comparison_failed": comparison_failed,
        "failed": failed,
        "runs_per_query": runs,
        "max_runs_sub_second": MAX_RUNS,
        "probe": {
            "query": "events.groupBy(event_type).count",
            "start": probe_start,
            "middle": probe_middle,
            "end": probe_end,
        },
        "probe_checkpoints": [
            {"after_entries": pos, "samples": cp} for pos, cp in checkpoints
        ],
        "normalization": "nearest_probe",
        "vs_prev": vs_prev,
        "sf": float(sf),
    }
    print(json.dumps(detail))
    try:  # committed artifact with the full per-query spread record
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    # FINAL line: compact, < 500 bytes, no per-query map — the driver's
    # 2000-char tail capture must always contain this line whole.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": value,
                "unit": "sec",
                "n_queries": len(HEADLINE),
                "n_failed": len(failed),
                "failed": failed[:8],
                "n_added": len(vs_prev["added"]),
                "n_removed": len(vs_prev["removed"]),
                "noise_band": noise_band,
                "regression_threshold": regression_threshold,
                "n_flagged_regressions": len(flagged_regressions),
                "sf": float(sf),
            }
        )
    )


if __name__ == "__main__":
    main()
