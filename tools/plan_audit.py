"""Physical-plan audit: dumps the scale-relevant properties of
representative catalog entries into PLANS_r{N}.md — committed, human-
readable evidence of plan discipline (what tests/test_plan_properties.py
asserts, made inspectable).

For each audited entry: which join strategies the plan uses, whether
parquet pushdown (PushedFilters) and partition pruning (PartitionFilters)
reach the scans, how many WholeStageCodegen spans cover the plan, and
flags that must never appear (CartesianProduct outside documented
baselines, BatchEvalPython anywhere).

Usage: python tools/plan_audit.py [round_no] [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from broker_spark.plans.catalog import CATALOG
from broker_spark.session import get_spark

#: One representative per plan family: scan+filter, broadcast join,
#: shuffled join, window, hash-agg, inverted-index self-join, pair
#: bucketing, streaming-shaped batch, composed lazy pipeline, top-k.
AUDITED = [
    "resend_range_publisher",      # pushdown + 4-col total order
    "q3_shipping_priority",        # broadcast dim joins + TakeOrdered
    "q9_product_profit",           # multi-join shuffle plan
    "q18_large_volume_customers",  # semi-join on agg subquery
    "metadata_counts",             # map-side partial hash-agg
    "events_rolling_hour_sharded", # sharded window w/ helper rows
    "dedup_minhash_pairs_guarded", # band-bucket pair generation
    "dedup_ngram_jaccard_guarded", # inverted-index self-join, df guard
    "tfidf_cosine_pairs_guarded",  # weighted inverted index + norms
    "funnel_conversion",           # staged broadcast joins
    "customer_rfm_scores",         # global deterministic ntile windows
    "orders_market_basket",        # co-partitioned self-join + top-k
    "curated_mix_manifest",        # composed pipeline, pinned stats frame
    "semantic_dedup_clusters",     # grid cells + applyInPandas + CC
    "dedup_graph_pagerank",        # iterative: 10 joined+agg rounds
    "embedding_pca_power_iter",    # mapInPandas Gram pass + power iteration
    # round-5 session 2
    "table_profile_documents",     # multi-distinct Expand, one scan
    "compaction_plan",             # metadata window over (keys, bucket)
    "zorder_layout_keys",          # codegen'd bit-interleave + hash-agg
    "hll_distinct_users_daily",    # register grid + exact BIGINT sum
    "dedup_graph_triangles",       # degree-oriented wedge closure
    "event_pmi_pairs",             # context equi-join + broadcast marginals
    "ks_drift_sources",            # per-value collapse + compact ECDF window
    "hll_monthly_merge",           # sketch rollup: daily register merge
    # round-5 session 3
    "dedup_prefix_filter_pairs",   # prefix-filtered similarity self-join
    "scd2_user_event_type",        # gaps-and-islands keyed windows
    "cdc_apply_final_state",       # last-op-wins changelog replay
    "bucketed_join_order_revenue", # co-located bucketed SortMergeJoin
    "rollup_incremental_merge",    # mergeable-partials union + re-agg
    "events_trailing_distinct_users",  # bounded hop expand + hash-agg
    "table_fingerprint_documents", # commutative digest, one ROLLUP pass
    "chisq_source_lang",           # contingency cells + broadcast marginals
    "events_key_skew",             # per-key agg + min_by hottest key
    "hll_click_purchase_overlap",  # register-table inclusion-exclusion
    "dedup_components_incremental",  # contract-solve-expand CC merge
    "clustering_silhouette",       # broadcast centroids, k-fan-out scoring
    "dow_adjusted_anomalies",      # broadcast 7-row weekday baselines
    "fk_integrity_audit",          # key-domain anti-join orphan probes
    "unigram_kl_by_source",        # shuffle-join word marginals, quantized sum
    "user_decile_migration",       # histogram-domain equi-depth banding
    "psi_length_by_source",        # grid-materialized smoothed-bin PSI
    # round-6 session 1
    "bpe_learn_merges",            # vocab-sized iterations, argmax driver rows
    "record_linkage_pairs",        # multi-blocked linkage, levenshtein verify
    "entity_resolution_names",     # bipartite match graph -> star CC
    "holt_trend_daily",            # applyInPandas recurrence on daily frame
    "theil_sen_daily_trend",       # calendar-bounded pairwise-slope join
    "multitouch_attribution",      # user equi-join + per-conversion window
    # round-6 session 2
    "seasonal_trend_anomalies",    # median seasonal + Theil-Sen + MAD gate
    "link_prediction_adamic_adar", # wedge equi-join + anti-join non-edges
    "heaps_vocab_growth",          # percentile boundaries + broadcast grid
    # round-6 session 3
    "matryoshka_recall",           # tiered truncated-cosine topk + overlap
    "layout_pruning_benefit",      # simulated manifests, minmax containment
    "k_anonymity_audit",           # QI-cell distinct-count privacy gate
    # round-7
    "layout_pruning_multidim",     # 2-dim layouts, distributed two-pass rank
    "events_trailing_distinct_interval",  # interval deltas + 2-pass prefix sum
    # round-8
    "dedup_graph_triangles_guarded",   # stop-bucket-capped candidate census
    "dedup_simhash_pairs_guarded",     # r9: default-on guard headline twin
    "minhash_estimate_error_guarded",  # bucket-guarded estimator certificate
    # round-11
    "dedup_prefix_filter_pairs_guarded",  # hot-posting cap + per-anchor top-K
    "dedup_prefix_filter_incremental",    # cross-side prefix join, shared df order
    # round-12
    "dedup_prefix_filter_maintained",  # batch vs stored bucketed corpus index
    # round-13
    "dedup_prefix_index_drift",        # stored postings ⋈ epoch/current df masses
]


def audit_one(spark, name: str, sf_dir: str) -> dict:
    import contextlib
    import io

    from broker_spark import pinning

    # Pass A — FULL LINEAGE: with pinning disabled the lazy plan exposes
    # everything a localCheckpoint would truncate to a `Scan ExistingRDD`
    # stub, so the pushdown/cartesian/python flags cover the whole
    # pipeline, not just the post-checkpoint tail.  The RETURNED plan is
    # never executed here; entries that execute actions during
    # construction (iterative loops, replays) keep their internal
    # pin_iter barriers, which the toggle deliberately does not strip
    # (ADVICE r7) — those plans truncate at the iteration boundary.
    with pinning.audit_lineage():
        df_full = CATALOG[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df_full.explain("formatted")
        formatted = buf.getvalue()
        full_initial = (
            df_full._jdf.queryExecution().executedPlan().toString()
        )

    # Pass B — the REAL (pinned) execution: collect drives AQE to the
    # final plan, whose codegen spans / exchange counts reflect what a
    # production run actually does (checkpoints included; exchange counts
    # therefore stay comparable with PLANS_r05/r06).
    df = CATALOG[name].fn(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    join_names = sorted(
        set(
            re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)",
                final + full_initial,
            )
        )
    )
    ex_lines = [l for l in final.splitlines() if "Exchange" in l]
    reused = sum(1 for l in ex_lines if "ReusedExchange" in l)
    return {
        "joins": join_names or ["(none)"],
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", formatted)),
        "pruned": bool(re.search(r"PartitionFilters: \[[^\]]", formatted)),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", final))),
        "python_eval": "BatchEvalPython" in final
        or "BatchEvalPython" in full_initial,
        "arrow_eval": any(
            m in final or m in full_initial
            for m in ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")
        ),
        "cartesian": "CartesianProduct" in final
        or "CartesianProduct" in full_initial,
        "exchanges": len(ex_lines) - reused,
        "reused": reused,
    }


def main() -> None:
    round_no = sys.argv[1] if len(sys.argv) > 1 else "05"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark(
        app_name="plan_audit",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        f"# PLANS_r{round_no} — physical-plan audit at {sf_dir}",
        "",
        "Generated by `tools/plan_audit.py`: the committed, inspectable form",
        "of the plan-shape guarantees `tests/test_plan_properties.py`",
        "asserts.  Legend: joins = strategies in the plan tree (each node",
        "counted once); pushdown = non-empty parquet `PushedFilters`;",
        "codegen = distinct WholeStageCodegen spans in the FINAL (post-AQE)",
        "executed plan; exch = Exchange/BroadcastExchange nodes (+ reused);",
        "python = row-at-a-time `BatchEvalPython` (must be none); arrow =",
        "vectorized pandas stages (allowed, by design).",
        "",
        "| entry | joins | pushdown | codegen | exch (+reused) | python | arrow |",
        "|---|---|---|---|---|---|---|",
    ]
    bad = []
    for name in AUDITED:
        a = audit_one(spark, name, sf_dir)
        if a["python_eval"]:
            bad.append(f"{name}: BatchEvalPython present")
        if a["cartesian"]:
            bad.append(f"{name}: CartesianProduct present")
        lines.append(
            f"| {name} | {', '.join(a['joins'])} | "
            f"{'yes' if a['pushed'] else '-'} | {a['codegen_spans']} | "
            f"{a['exchanges']} (+{a['reused']}) | "
            f"{'YES' if a['python_eval'] else 'none'} | "
            f"{'yes' if a['arrow_eval'] else '-'} |"
        )
        print(f"# {name}: ok", file=sys.stderr)
    lines.append("")
    lines.append(
        "Flags: " + ("; ".join(bad) if bad else
                     "none — no row-at-a-time Python, no cartesian products.")
    )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"PLANS_r{round_no}.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}" + (" WITH FLAGS" if bad else ""))


if __name__ == "__main__":
    main()
