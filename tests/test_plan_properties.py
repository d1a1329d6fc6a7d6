"""Physical-plan regression guards: the properties that make the engine
scale — filter pushdown to parquet, broadcast joins for dims, partition
pruning on the bucketed log, no cartesian blowups in pair generators —
asserted on the actual executed plans so a refactor can't silently lose
them."""

from __future__ import annotations

import pytest

from broker_spark.plans.catalog import CATALOG
from tests.conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    return CATALOG[name].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()


def test_tpch_dims_broadcast(spark):
    """Star joins broadcast their filtered dims; the fact side shuffles at
    most once per agg."""
    for name in ("q3_shipping_priority", "q5_nation_volume", "q10_returned_items"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_pair_generators_never_cartesian(spark):
    for name in (
        "dedup_minhash_pairs",
        "dedup_simhash_pairs",
        "dedup_ngram_jaccard",
        "embedding_near_dup",
        "ann_ivf_topk",
        "substring_dup_pairs",
        "source_overlap_matrix",
        "bloom_decontamination",
        # round-4 pair generators: inverted-index / bucket joins only
        "tfidf_cosine_pairs",
        "minhash_estimate_error",
        "semantic_dedup_clusters",
        "ann_rp_lsh_topk",
        "dedup_graph_degrees",
        "cms_heavy_hitters",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_no_row_at_a_time_python(spark):
    """Python appears only as Arrow-batched FlatMapGroupsInPandas /
    MapInPandas — never BatchEvalPython (row-at-a-time UDF).  Built with
    pinning disabled so the check sees the FULL lineage (a localCheckpoint
    would otherwise truncate everything above it to a Scan ExistingRDD
    stub and the assertion would be vacuous for the pinned stages).
    Self-executing entries (iterative CC/BPE loops, streaming replays)
    keep their internal barriers via pin_iter — the toggle strips only
    returned-plan pins, so construction-time actions never re-run a
    compounded unpinned lineage (ADVICE r7)."""
    from concurrent.futures import ThreadPoolExecutor

    from broker_spark import pinning

    # planning each of the 269 entries is independent driver work — run
    # it from a thread pool (guide §2.6; this test was 220 s of the
    # suite's wall sequential).  audit_lineage is THREAD-LOCAL, so the
    # toggle is entered inside each worker, not around the pool.
    def plan_one(item):
        name, entry = item
        with pinning.audit_lineage():
            return (
                name,
                entry.fn(spark, SF_SMALL)
                ._jdf.queryExecution()
                .executedPlan()
                .toString(),
            )

    from tests.test_oracle_parity import _SEQUENTIAL_SIDE_EFFECTS

    plans = [
        plan_one((n, CATALOG[n]))
        for n in _SEQUENTIAL_SIDE_EFFECTS
        if n in CATALOG
    ]
    rest = [
        (n, e) for n, e in CATALOG.items() if n not in _SEQUENTIAL_SIDE_EFFECTS
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        plans += list(pool.map(plan_one, rest))
    assert len(plans) == len(CATALOG)
    for name, plan in plans:
        assert "BatchEvalPython" not in plan, name


def test_bucketed_join_is_shuffle_free(spark):
    """Two tables bucketed on the join key join with ZERO Exchange — the
    pay-layout-once-at-write lever for repeated big-to-big joins — and
    the co-located join returns the same rows as the plain one."""
    from broker_spark.storage.bucketed import bucketed_order_tables

    o_name, l_name = bucketed_order_tables(spark, SF_SMALL)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li, o = spark.table(l_name), spark.table(o_name)
        joined = li.join(o, li["l_orderkey"] == o["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_bucketed = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # both sides arrive pre-bucketed
    plain_li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    plain_o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    n_plain = plain_li.join(
        plain_o, plain_li["l_orderkey"] == plain_o["o_orderkey"]
    ).count()
    assert n_bucketed == n_plain > 0


def test_log_scan_prunes_partitions(spark, tmp_path):
    """A (stream_id, partition, bucket) predicate on the written log shows
    up as PartitionFilters — directories are pruned before any file opens
    (the two-level bucket-index lookup, for free)."""
    from broker_spark.storage.store import Storage
    from tests.conftest import make_msg

    envelope = (
        "stream_id string, partition int, ts timestamp, sequence_no int, "
        "publisher_id string, msg_chain_id string, prev_ts timestamp, "
        "prev_sequence_no int, signature_type int, signature string, "
        "encryption_type int, content string"
    )
    st = Storage(spark, str(tmp_path / "plan-log"), bucket_ms=1000)
    rows = [make_msg(s, 0, 1000 + i, 0) for s in ("a", "b") for i in range(3)]
    st.store(spark.createDataFrame(rows, envelope))
    df = st.request_last("a", 0, 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "stream_id" in plan.split("PartitionFilters", 1)[1][:300]
