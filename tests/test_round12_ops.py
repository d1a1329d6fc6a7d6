"""Round-12 operators and invariants: the maintained prefix-filter corpus
index (VERDICT r11 #2 — batch dedup scales with the batch, not the
corpus), the TTL'd EWMA twin (VERDICT r11 #6 — bounded smoother state for
unbounded key spaces), the distributed quantizer init (VERDICT r11 #3),
and the ADVICE r11 numeric/strategy hardenings of the prefix family."""

from __future__ import annotations

from fractions import Fraction

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from broker_spark.operators.rollup import EWMA_PREV_WEIGHT, EWMA_SAMPLE_WEIGHT
from broker_spark.pipeline import dedup
from broker_spark.streaming import stateful

SF_SMALL = "/root/testdata/sf0.001"
HOUR_MS = 3_600_000
#: 2024-01-01T00:00Z as an hour-bucket index — synthetic streaming rows
#: sit in a realistic range (a bucket at epoch 0 equals the INITIAL
#: watermark and is dropped as late, an edge no real data has)
B0 = 1_704_067_200_000 // HOUR_MS


def _pairs(df, cols=("new_doc_id", "corpus_doc_id", "common", "jaccard")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------------
# VERDICT r11 #2: the maintained prefix-filter corpus index
# ---------------------------------------------------------------------------


class TestMaintainedPrefixIndex:
    THRESHOLD = 0.5

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.read.parquet(f"{SF_SMALL}/documents.parquet")

    def test_maintained_equals_recomputed(self, spark, docs):
        """The whole point: querying the materialized index returns the
        SAME exact pair set as the recomputing form — the final pairs do
        not depend on WHICH shared token order ranked the prefixes."""
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.build_prefix_filter_index(corpus, "t12_pfx_eq", self.THRESHOLD)
        got = dedup.prefix_filter_jaccard_pairs_maintained(
            spark, batch, "t12_pfx_eq", self.THRESHOLD
        )
        want = dedup.prefix_filter_jaccard_pairs_between(
            batch, corpus, self.THRESHOLD
        )
        assert _pairs(got) == _pairs(want) and len(_pairs(got)) > 0

    def test_append_then_query_equals_rebuilt(self, spark, docs):
        """Folding a batch into the index (under the FROZEN epoch order)
        must answer the next batch's query exactly like a from-scratch
        recompute over corpus ∪ batch — the frozen-order contract says
        staleness costs optimality, never a pair."""
        corpus = docs.filter(F.col("doc_id") % 5 > 1)
        b1 = docs.filter(F.col("doc_id") % 5 == 1)
        b2 = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.build_prefix_filter_index(corpus, "t12_pfx_app", self.THRESHOLD)
        dedup.append_prefix_filter_batch(b1, "t12_pfx_app", self.THRESHOLD)
        got = dedup.prefix_filter_jaccard_pairs_maintained(
            spark, b2, "t12_pfx_app", self.THRESHOLD
        )
        want = dedup.prefix_filter_jaccard_pairs_between(
            b2, corpus.unionByName(b1), self.THRESHOLD
        )
        assert _pairs(got) == _pairs(want) and len(_pairs(got)) > 0

    def test_append_leaves_epoch_order_untouched_and_merges_df(self, spark, docs):
        """The append must write the df update as a DELTA: the epoch
        snapshot (the ordering authority) stays byte-identical, and
        `current_prefix_df` (epoch ⊎ deltas, one groupBy) equals the df
        recomputed over corpus ∪ batch."""
        corpus = docs.filter(F.col("doc_id") % 5 > 1)
        b1 = docs.filter(F.col("doc_id") % 5 == 1)
        dedup.build_prefix_filter_index(corpus, "t12_pfx_df", self.THRESHOLD)
        epoch_before = sorted(
            map(tuple, spark.table("t12_pfx_df_df").collect())
        )
        dedup.append_prefix_filter_batch(b1, "t12_pfx_df", self.THRESHOLD)
        epoch_after = sorted(map(tuple, spark.table("t12_pfx_df_df").collect()))
        assert epoch_after == epoch_before, "epoch order must be frozen"
        got = sorted(
            map(tuple, dedup.current_prefix_df(spark, "t12_pfx_df").collect())
        )
        want = sorted(
            map(
                tuple,
                corpus.unionByName(b1)
                .select(
                    "doc_id",
                    F.explode(
                        F.array_distinct(dedup.word_shingles("text"))
                    ).alias("tok"),
                )
                .groupBy("tok")
                .agg(F.count(F.lit(1)).cast("long").alias("df"))
                .collect(),
            )
        )
        assert got == want

    def test_stored_side_plans_are_shuffle_free(self, spark, docs):
        """The layout claims, machine-checked: the postings table scans
        bucketed; a groupBy on its bucket key plans with no Exchange
        (the hot-posting census), and the maintained query's plan reads
        the bucketed tables."""
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.build_prefix_filter_index(corpus, "t12_pfx_plan", self.THRESHOLD)
        census = (
            spark.table("t12_pfx_plan_postings")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        census_plan = census._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in census_plan
        assert "Bucketed: true" in census_plan
        q = dedup.prefix_filter_jaccard_pairs_maintained(
            spark, batch, "t12_pfx_plan", self.THRESHOLD
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert "CartesianProduct" not in plan

    def test_posting_caps_match_recomputed_form(self, spark, docs):
        """The stop-bucket guards cut the same candidates whether the
        postings are stored or recomputed."""
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.build_prefix_filter_index(corpus, "t12_pfx_cap", self.THRESHOLD)
        got = dedup.prefix_filter_jaccard_pairs_maintained(
            spark,
            batch,
            "t12_pfx_cap",
            self.THRESHOLD,
            max_posting_size=2,
            max_new_posting_size=2,
        )
        want = dedup.prefix_filter_jaccard_pairs_between(
            batch,
            corpus,
            self.THRESHOLD,
            max_posting_size=2,
            max_new_posting_size=2,
        )
        assert _pairs(got) == _pairs(want)


# ---------------------------------------------------------------------------
# ADVICE r11: prefix-family numeric and strategy hardenings
# ---------------------------------------------------------------------------


class TestPrefixHardenings:
    def test_prefix_len_matches_exact_arithmetic(self, spark):
        """ADVICE r11 #1: the engine's prefix length must equal the
        EXACT-decimal pigeonhole bound for every (threshold, n_tok) a
        caller could reasonably pass — the DuckDB oracles evaluate the
        product exactly, so any divergence is a silent dropped pair."""
        import math

        thresholds = [0.3, 0.5, 0.7, 0.55, 0.61, 0.8, 0.9, 0.15]
        rows = [(n,) for n in range(1, 300)]
        df = spark.createDataFrame(rows, "n_tok long")
        for t in thresholds:
            got = {
                r["n_tok"]: r["plen"]
                for r in df.withColumn(
                    "plen", dedup._prefix_len_col(t)
                ).collect()
            }
            for n in range(1, 300):
                exact = n - math.ceil(Fraction(str(t)) * n) + 1
                assert got[n] == exact, (t, n, got[n], exact)

    def test_new_posting_cap_bounds_clone_heavy_batch(self, spark):
        """ADVICE r11 #4: a clone-heavy NEW batch fans out against corpus
        postings; max_new_posting_size must cut those candidates (subset
        semantics, and the clone family wider than the cap yields no
        pairs through the capped prefix)."""
        clones = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(100, 110)]
        fresh = [(200, "iota kappa lambda mu nu xi omicron pi")]
        corpus_rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "iota kappa lambda mu nu xi omicron pi"),
            (3, "rho sigma tau upsilon phi chi psi omega"),
        ]
        new = spark.createDataFrame(clones + fresh, "doc_id long, text string")
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        full = dedup.prefix_filter_jaccard_pairs_between(new, corpus, 0.5)
        capped = dedup.prefix_filter_jaccard_pairs_between(
            new, corpus, 0.5, max_new_posting_size=2
        )
        full_pairs, capped_pairs = set(_pairs(full)), set(_pairs(capped))
        assert capped_pairs <= full_pairs
        # the 10-clone family's prefix tokens exceed the cap of 2: its
        # candidates are gone; the unique doc survives
        assert not any(p[0] in range(100, 110) for p in capped_pairs)
        assert any(p[0] == 200 for p in capped_pairs)

    def test_hot_posting_guard_routes_through_caller_strategy(self, spark):
        """ADVICE r11 #3: on the big path the hot-token anti-join must
        not hard-broadcast — same values, no BroadcastExchange."""
        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        new = docs.filter(F.col("doc_id") % 7 == 0)
        corpus = docs.filter(F.col("doc_id") % 7 != 0)
        kw = dict(threshold=0.5, max_posting_size=3, max_new_posting_size=3)
        small = dedup.prefix_filter_jaccard_pairs_between(new, corpus, **kw)
        big = dedup.prefix_filter_jaccard_pairs_between(
            new, corpus, broadcast_below_docs=1, **kw
        )
        assert _pairs(big) == _pairs(small)
        plan = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan


# ---------------------------------------------------------------------------
# VERDICT r11 #6: the TTL'd EWMA twin
# ---------------------------------------------------------------------------


class TestStreamingEwmaTtl:
    def _run(self, spark, src, sink, ckpt, ttl_ms):
        source = spark.readStream.schema(
            "key string, bucket long, value double"
        ).parquet(str(src))
        q = (
            stateful.streaming_ewma_ttl(source, ttl_ms=ttl_ms)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        removed = sum(
            op["numRowsRemoved"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        rows = {
            (r["key"], r["bucket"]): r["ewma"]
            for r in spark.read.parquet(sink).collect()
        }
        return rows, removed

    def test_gap_past_ttl_restarts_cold(self, spark, tmp_path):
        """An event-time gap wider than the ttl restarts the level at the
        raw value — the row-local rule the eviction's answer-neutrality
        rests on."""
        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            [("a", B0, 10.0), ("a", B0 + 1, 20.0), ("a", B0 + 5, 40.0), ("a", B0 + 6, 50.0)],
            "key string, bucket long, value double",
        ).write.mode("append").parquet(str(src))
        rows, _ = self._run(
            spark, src, str(tmp_path / "sink"), str(tmp_path / "ckpt"), 2 * HOUR_MS
        )
        e1 = EWMA_PREV_WEIGHT * 10.0 + EWMA_SAMPLE_WEIGHT * 20.0
        assert rows[("a", B0)] == pytest.approx(10.0)
        assert rows[("a", B0 + 1)] == pytest.approx(e1)
        # bucket +1 -> +5 is a 4-hour gap > 2h ttl: cold restart
        assert rows[("a", B0 + 5)] == pytest.approx(40.0)
        assert rows[("a", B0 + 6)] == pytest.approx(
            EWMA_PREV_WEIGHT * 40.0 + EWMA_SAMPLE_WEIGHT * 50.0
        )

    def test_idle_key_state_is_evicted(self, spark, tmp_path):
        """A key silent past the ttl while the watermark advances on other
        keys must be REMOVED from the state store (numRowsRemoved > 0),
        and a live key's recurrence is unaffected."""
        src = tmp_path / "src"
        src.mkdir()
        sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
        spark.createDataFrame(
            [("a", B0, 10.0), ("b", B0, 1.0)],
            "key string, bucket long, value double",
        ).write.mode("append").parquet(str(src))
        _, r1 = self._run(spark, src, sink, ckpt, 1 * HOUR_MS)
        spark.createDataFrame(
            [("b", B0 + 10, 2.0)], "key string, bucket long, value double"
        ).write.mode("append").parquet(str(src))
        _, r2 = self._run(spark, src, sink, ckpt, 1 * HOUR_MS)
        spark.createDataFrame(
            [("b", B0 + 11, 3.0)], "key string, bucket long, value double"
        ).write.mode("append").parquet(str(src))
        rows, r3 = self._run(spark, src, sink, ckpt, 1 * HOUR_MS)
        assert r1 + r2 + r3 >= 1, "idle key 'a' was never evicted"
        e10 = 2.0  # b: +0 -> +10 is a 10h gap > 1h ttl: restart
        assert rows[("b", B0 + 10)] == pytest.approx(e10)
        assert rows[("b", B0 + 11)] == pytest.approx(
            EWMA_PREV_WEIGHT * e10 + EWMA_SAMPLE_WEIGHT * 3.0
        )


class TestStreamingHoltTtl:
    def _run(self, spark, src, sink, ckpt, ttl_ms):
        source = spark.readStream.schema(
            "key string, bucket long, value double"
        ).parquet(str(src))
        q = (
            stateful.streaming_holt_ttl(source, ttl_ms=ttl_ms)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        removed = sum(
            op["numRowsRemoved"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        rows = {
            (r["key"], r["bucket"]): (r["level"], r["trend"], r["forecast"])
            for r in spark.read.parquet(sink).collect()
        }
        return rows, removed

    def test_gap_past_ttl_restarts_series(self, spark, tmp_path):
        """A gap wider than the ttl restarts the SERIES: the row after the
        gap is held as a fresh first observation (emitted when its second
        point arrives, with the re-initialized lookahead trend), and a
        one-row run emits nothing — what its eviction would produce."""
        from broker_spark.streaming.stateful import HOLT_ALPHA, HOLT_BETA

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            [
                ("a", B0, 10.0),
                ("a", B0 + 1, 20.0),
                ("a", B0 + 5, 40.0),
                ("a", B0 + 6, 50.0),
                # a lone trailing point past another gap: held, never
                # emitted — the one-row-session contract
                ("a", B0 + 20, 99.0),
            ],
            "key string, bucket long, value double",
        ).write.mode("append").parquet(str(src))
        rows, _ = self._run(
            spark, src, str(tmp_path / "sink"), str(tmp_path / "ckpt"), 2 * HOUR_MS
        )
        # session 1: init level=10, trend=10 at the first row
        assert rows[(("a"), B0)] == pytest.approx((10.0, 10.0, 10.0))
        l1 = HOLT_ALPHA * 20.0 + (1 - HOLT_ALPHA) * 20.0
        t1 = HOLT_BETA * (l1 - 10.0) + (1 - HOLT_BETA) * 10.0
        assert rows[("a", B0 + 1)] == pytest.approx((l1, t1, 20.0))
        # session 2 (gap 4 > ttl 2): fresh lookahead init
        assert rows[("a", B0 + 5)] == pytest.approx((40.0, 10.0, 40.0))
        # the held trailing point emits nothing
        assert ("a", B0 + 20) not in rows

    def test_idle_key_state_is_evicted(self, spark, tmp_path):
        src = tmp_path / "src"
        src.mkdir()
        sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
        spark.createDataFrame(
            [("a", B0, 10.0), ("a", B0 + 1, 12.0), ("b", B0, 1.0), ("b", B0 + 1, 2.0)],
            "key string, bucket long, value double",
        ).write.mode("append").parquet(str(src))
        _, r1 = self._run(spark, src, sink, ckpt, 1 * HOUR_MS)
        spark.createDataFrame(
            [("b", B0 + 10, 5.0), ("b", B0 + 11, 6.0)],
            "key string, bucket long, value double",
        ).write.mode("append").parquet(str(src))
        _, r2 = self._run(spark, src, sink, ckpt, 1 * HOUR_MS)
        spark.createDataFrame(
            [("b", B0 + 12, 7.0)], "key string, bucket long, value double"
        ).write.mode("append").parquet(str(src))
        rows, r3 = self._run(spark, src, sink, ckpt, 1 * HOUR_MS)
        assert r1 + r2 + r3 >= 1, "idle key 'a' was never evicted"
        # b's restarted session emits with the fresh lookahead init
        assert rows[("b", B0 + 10)] == pytest.approx((5.0, 1.0, 5.0))


# ---------------------------------------------------------------------------
# VERDICT r11 #3: the distributed quantizer init
# ---------------------------------------------------------------------------


class TestDistributedStrideSample:
    def test_matches_global_window_selection(self, spark):
        """_stride_sample must pick the IDENTICAL rows the old global
        Window.orderBy form picked, without any single-partition
        exchange in its plan."""
        from broker_spark.pipeline.ann import _stride_sample

        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        e = emb.select(
            F.col("vec_id").alias("_id"),
            F.col("embedding").cast("array<double>").alias("_v"),
        ).persist()
        n = e.count()
        k = 7
        got = [tuple(r["_v"]) for r in _stride_sample(e, n, k)]
        stride = max(n // k, 1)
        want = [
            tuple(r["_v"])
            for r in e.withColumn(
                "_rn", F.row_number().over(Window.orderBy("_id"))
            )
            .filter((F.col("_rn") - 1) % stride == 0)
            .orderBy("_rn")
            .limit(k)
            .select("_v")
            .collect()
        ]
        e.unpersist()
        assert got == want and len(got) == k

    def test_no_single_partition_exchange(self, spark):
        """The rank stage must never collapse to one partition."""
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        e = emb.select(
            F.col("vec_id").alias("_id"),
            F.col("embedding").cast("array<double>").alias("_v"),
        )
        n_part = spark.sparkContext.defaultParallelism
        ranged = e.repartitionByRange(n_part, "_id").withColumn(
            "_p", F.spark_partition_id()
        )
        w = Window.partitionBy("_p").orderBy("_id")
        ranked = ranged.withColumn("_rn", F.row_number().over(w))
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert "rangepartitioning" in plan
