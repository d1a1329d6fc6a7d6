"""Round-13 invariants: the maintained prefix index's range-partitioned
file layout and lifecycle (VERDICT r12 #1/#2 — file-level pruning,
drift-driven rebuild, small-file compaction), the TTL smoother twins'
nonzero-watermark-delay contract (VERDICT r12 #5), and quantizer
train-cache coverage (VERDICT r12 #6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from broker_spark.operators.rollup import EWMA_PREV_WEIGHT, EWMA_SAMPLE_WEIGHT
from broker_spark.pipeline import dedup
from broker_spark.streaming import stateful

SF_SMALL = "/root/testdata/sf0.001"
HOUR_MS = 3_600_000
B0 = 1_704_067_200_000 // HOUR_MS


def _pairs(df, cols=("new_doc_id", "corpus_doc_id", "common", "jaccard")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _warehouse(spark) -> str:
    return spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")


def _parquet_files(spark, table: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(os.path.join(_warehouse(spark), table)):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


# ---------------------------------------------------------------------------
# VERDICT r12 #1: range-partitioned layout + file-level pruning
# ---------------------------------------------------------------------------


class TestPrefixRangeLayout:
    THRESHOLD = 0.5

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.read.parquet(f"{SF_SMALL}/documents.parquet")

    def test_range_of_matches_python_reference(self, spark):
        """`_range_of` is the ONE shared assignment rule; pin it against a
        direct python evaluation of 'greatest range whose lo <= tok'."""
        los = ["", "cat", "mango", "zebra"]
        toks = ["aardvark", "cat", "catalog", "lynx", "mango", "yak", "zebra", "zzz"]
        got = {
            r["tok"]: r["rid"]
            for r in spark.createDataFrame([(t,) for t in toks], "tok string")
            .select("tok", dedup._range_of(F.col("tok"), los).alias("rid"))
            .collect()
        }
        for t in toks:
            want = max(i for i, lo in enumerate(los) if lo <= t)
            assert got[t] == want, (t, got[t], want)

    def test_single_range_assignment_is_constant(self, spark):
        df = spark.createDataFrame([("x",)], "tok string").select(
            dedup._range_of(F.col("tok"), [""]).alias("rid")
        )
        assert df.collect()[0]["rid"] == 0

    def test_build_writes_one_file_per_bucket_per_range(self, spark, docs):
        """The r12 layout shattered each table into writer-tasks x buckets
        files (7,969 at 100x corpus) and the open cost dominated every
        batch query's stored-side scan; the bucket-aligned repartition
        caps the build at n_buckets files per table (x n_ranges for the
        range-partitioned ones)."""
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        dedup.build_prefix_filter_index(corpus, "t13_layout", self.THRESHOLD)
        los = dedup._read_prefix_ranges(spark, "t13_layout")
        for nm, factor in (
            ("t13_layout_df", len(los)),
            ("t13_layout_postings", len(los)),
            ("t13_layout_tokens", 1),
        ):
            assert _parquet_files(spark, nm) <= 32 * factor, nm

    def test_multirange_maintained_equals_recomputed_and_prunes(
        self, spark, docs, monkeypatch
    ):
        """Force a multi-range cut (vocab-per-range shrunk far below the
        fixture vocabulary), then (a) the maintained query still equals
        the recomputing form — the pruning is lossless under the shared
        `_range_of` rule — and (b) a tiny batch's postings scan carries a
        tok_range partition filter and READS fewer partitions than the
        table has: file-level pruning is real, not decorative."""
        monkeypatch.setattr(dedup, "_PREFIX_VOCAB_PER_RANGE", 500)
        monkeypatch.setattr(dedup, "_PREFIX_SMALL_CORPUS", 0)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.build_prefix_filter_index(corpus, "t13_ranges", self.THRESHOLD)
        los = dedup._read_prefix_ranges(spark, "t13_ranges")
        assert len(los) > 4, "fixture must actually cut multiple ranges"
        got = dedup.prefix_filter_jaccard_pairs_maintained(
            spark, batch, "t13_ranges", self.THRESHOLD
        )
        want = dedup.prefix_filter_jaccard_pairs_between(
            batch, corpus, self.THRESHOLD
        )
        assert _pairs(got) == _pairs(want) and len(_pairs(got)) > 0

        tiny = batch.orderBy("doc_id").limit(1)
        q = dedup.prefix_filter_jaccard_pairs_maintained(
            spark, tiny, "t13_ranges", self.THRESHOLD
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "tok_range" in plan, (
            "tok_range partition filter missing from the physical plan"
        )
        # the one-doc batch's token set cannot touch every range
        prefixes = {
            r["rid"]
            for r in tiny.select(
                "doc_id",
                F.explode(
                    F.array_distinct(dedup.word_shingles("text"))
                ).alias("tok"),
            )
            .select(dedup._range_of(F.col("tok"), los).alias("rid"))
            .distinct()
            .collect()
        }
        assert len(prefixes) < len(los), "tiny batch should not touch all ranges"

    def test_append_respects_range_assignment(self, spark, docs, monkeypatch):
        """Appended postings must land in the ranges the STORED boundaries
        assign — the exactness of a later batch's pruning depends on it."""
        monkeypatch.setattr(dedup, "_PREFIX_VOCAB_PER_RANGE", 500)
        monkeypatch.setattr(dedup, "_PREFIX_SMALL_CORPUS", 0)
        corpus = docs.filter(F.col("doc_id") % 5 > 1)
        b1 = docs.filter(F.col("doc_id") % 5 == 1)
        b2 = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.build_prefix_filter_index(corpus, "t13_app", self.THRESHOLD)
        dedup.append_prefix_filter_batch(b1, "t13_app", self.THRESHOLD)
        los = dedup._read_prefix_ranges(spark, "t13_app")
        post = spark.table("t13_app_postings")
        bad = post.filter(
            F.col("tok_range") != dedup._range_of(F.col("tok"), los)
        ).count()
        assert bad == 0
        got = dedup.prefix_filter_jaccard_pairs_maintained(
            spark, b2, "t13_app", self.THRESHOLD
        )
        want = dedup.prefix_filter_jaccard_pairs_between(
            b2, corpus.unionByName(b1), self.THRESHOLD
        )
        assert _pairs(got) == _pairs(want) and len(_pairs(got)) > 0


# ---------------------------------------------------------------------------
# VERDICT r12 #2: drift -> rebuild -> compaction lifecycle
# ---------------------------------------------------------------------------


class TestMaintainedIndexLifecycle:
    THRESHOLD = 0.5

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.read.parquet(f"{SF_SMALL}/documents.parquet")

    def test_drift_is_one_at_epoch_and_grows_with_appends(self, spark, docs):
        corpus = docs.filter(F.col("doc_id") % 5 > 1)
        b1 = docs.filter(F.col("doc_id") % 5 == 1)
        dedup.build_prefix_filter_index(corpus, "t13_drift", self.THRESHOLD)
        d0 = dedup.prefix_index_drift(spark, "t13_drift").collect()[0]
        assert d0["inflation"] == pytest.approx(1.0)
        assert d0["epoch_mass"] == d0["current_mass"]
        assert not d0["should_rebuild"]
        dedup.append_prefix_filter_batch(b1, "t13_drift", self.THRESHOLD)
        d1 = dedup.prefix_index_drift(spark, "t13_drift").collect()[0]
        assert d1["inflation"] > 1.0
        assert d1["should_rebuild"] == (
            d1["inflation"] >= dedup.PREFIX_REBUILD_INFLATION
        )

    def test_append_n_then_compact_then_query_values_unchanged(self, spark, docs):
        """The VERDICT r12 #2 done-criterion: append xN -> compact ->
        query is value-identical, and the compaction actually collapses
        the accumulated file sets back to one file per bucket."""
        corpus = docs.filter(F.col("doc_id") % 5 > 2)
        b1 = docs.filter(F.col("doc_id") % 5 == 1)
        b2 = docs.filter(F.col("doc_id") % 5 == 2)
        probe = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.build_prefix_filter_index(corpus, "t13_cmp", self.THRESHOLD)
        dedup.append_prefix_filter_batch(b1, "t13_cmp", self.THRESHOLD)
        dedup.append_prefix_filter_batch(b2, "t13_cmp", self.THRESHOLD)
        before = _pairs(
            dedup.prefix_filter_jaccard_pairs_maintained(
                spark, probe, "t13_cmp", self.THRESHOLD
            )
        )
        cur_before = sorted(
            map(tuple, dedup.current_prefix_df(spark, "t13_cmp").collect())
        )
        files_before = _parquet_files(spark, "t13_cmp_postings")
        dedup.compact_prefix_filter_index(spark, "t13_cmp")
        files_after = _parquet_files(spark, "t13_cmp_postings")
        assert files_after < files_before
        assert files_after <= 32 * len(dedup._read_prefix_ranges(spark, "t13_cmp"))
        after = _pairs(
            dedup.prefix_filter_jaccard_pairs_maintained(
                spark, probe, "t13_cmp", self.THRESHOLD
            )
        )
        cur_after = sorted(
            map(tuple, dedup.current_prefix_df(spark, "t13_cmp").collect())
        )
        assert after == before and len(before) > 0
        assert cur_after == cur_before

    def test_rebuild_epoch_equals_current_df_and_answers_stable(self, spark, docs):
        corpus = docs.filter(F.col("doc_id") % 5 > 1)
        b1 = docs.filter(F.col("doc_id") % 5 == 1)
        probe = docs.filter(F.col("doc_id") % 5 == 0)
        dedup.build_prefix_filter_index(corpus, "t13_rbl", self.THRESHOLD)
        dedup.append_prefix_filter_batch(b1, "t13_rbl", self.THRESHOLD)
        before = _pairs(
            dedup.prefix_filter_jaccard_pairs_maintained(
                spark, probe, "t13_rbl", self.THRESHOLD
            )
        )
        cur = sorted(map(tuple, dedup.current_prefix_df(spark, "t13_rbl").collect()))
        dedup.rebuild_prefix_filter_index(spark, "t13_rbl")
        epoch = sorted(
            map(tuple, spark.table("t13_rbl_df").select("tok", "df").collect())
        )
        assert epoch == cur, "rebuilt epoch df must equal the folded current df"
        after = _pairs(
            dedup.prefix_filter_jaccard_pairs_maintained(
                spark, probe, "t13_rbl", self.THRESHOLD
            )
        )
        assert after == before and len(before) > 0
        d = dedup.prefix_index_drift(spark, "t13_rbl").collect()[0]
        assert d["inflation"] == pytest.approx(1.0)
        # posting ROW COUNT is order-invariant (|x| - ceil(t|x|) + 1 per
        # doc); the rebuild re-chose WHICH tokens fill each prefix
        assert spark.table("t13_rbl_df_delta").count() == 0


# ---------------------------------------------------------------------------
# VERDICT r12 #5: the TTL twins at a NONZERO watermark delay
# ---------------------------------------------------------------------------


class TestTtlNonzeroWatermarkDelay:
    """Empirically pins the contract the docstrings state: eviction is
    answer-neutral at EVERY delay (an admitted row past eviction equals
    the gap rule's cold restart), and the twins' actual divergence is the
    WATERMARK dropping late rows — the TTL twin emits nothing for them
    while the NoTimeout op smooths through."""

    DELAY = "4 hours"
    TTL = 1 * HOUR_MS

    def _run_ttl(self, spark, src, sink, ckpt):
        source = spark.readStream.schema(
            "key string, bucket long, value double"
        ).parquet(str(src))
        q = (
            stateful.streaming_ewma_ttl(
                source, ttl_ms=self.TTL, watermark_delay=self.DELAY
            )
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

    def test_late_row_is_dropped_and_notimeout_twin_smooths_through(
        self, spark, tmp_path
    ):
        src = tmp_path / "src"
        src.mkdir()
        sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

        def add(*data):
            spark.createDataFrame(
                list(data), "key string, bucket long, value double"
            ).write.mode("append").parquet(str(src))

        add(("a", B0, 10.0), ("b", B0, 1.0))
        self._run_ttl(spark, src, sink, ckpt)
        add(("b", B0 + 6, 2.0))
        _, r2 = self._run_ttl(spark, src, sink, ckpt)
        add(("b", B0 + 7, 3.0))
        _, r3 = self._run_ttl(spark, src, sink, ckpt)
        assert r2 + r3 >= 1, "idle key 'a' was never evicted"
        # late row for the evicted key, INSIDE its old ttl window but
        # behind the watermark (B0+1h < wm B0+3h): dropped, no output
        add(("a", B0 + 1, 99.0))
        rows, _ = self._run_ttl(spark, src, sink, ckpt)
        assert ("a", B0 + 1) not in rows
        # admitted row past eviction: cold restart == the gap rule's
        # decision (8h gap > 1h ttl) — eviction changed nothing
        add(("a", B0 + 8, 77.0))
        rows, _ = self._run_ttl(spark, src, sink, ckpt)
        assert rows[("a", B0 + 8)] == pytest.approx(77.0)

        # the NoTimeout twin on the SAME source: no watermark, so it
        # smooths through the late row and on through the admitted one
        sink2, ckpt2 = str(tmp_path / "sink2"), str(tmp_path / "ckpt2")
        source = spark.readStream.schema(
            "key string, bucket long, value double"
        ).parquet(str(src))
        q = (
            stateful.streaming_ewma(source)
            .writeStream.format("parquet")
            .option("path", sink2)
            .option("checkpointLocation", ckpt2)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        nt = {
            (r["key"], r["bucket"]): r["ewma"]
            for r in spark.read.parquet(sink2).collect()
        }
        e1 = EWMA_PREV_WEIGHT * 10.0 + EWMA_SAMPLE_WEIGHT * 99.0
        assert nt[("a", B0 + 1)] == pytest.approx(e1)
        assert nt[("a", B0 + 8)] == pytest.approx(
            EWMA_PREV_WEIGHT * e1 + EWMA_SAMPLE_WEIGHT * 77.0
        )


# ---------------------------------------------------------------------------
# VERDICT r12 #6: quantizer train-cache coverage
# ---------------------------------------------------------------------------


class TestTrainCacheCoverage:
    TRAINED_ENTRIES = [
        "ann_trained_ivf_topk",
        "ann_trained_ivf_multiprobe",
        "ann_ivf_pq_topk",
        "ann_ivf_pq_exact_parity",
        "ann_recall_vs_nprobe",
    ]

    def test_second_call_hits_train_cache(self, spark):
        """Every catalog entry that trains (kmeans / IVF / PQ families)
        must pass cache_key=sf_dir so bench sampling never re-trains: the
        first call may add memo entries, the second call must add NONE."""
        from broker_spark.pipeline import ann
        from broker_spark.plans.catalog import CATALOG

        for name in self.TRAINED_ENTRIES:
            CATALOG[name].fn(spark, SF_SMALL).count()
            n_after_first = len(ann._TRAIN_CACHE)
            assert n_after_first > 0, f"{name} trained nothing into the memo"
            CATALOG[name].fn(spark, SF_SMALL).count()
            assert len(ann._TRAIN_CACHE) == n_after_first, (
                f"{name} re-trained on the second call"
            )


# ---------------------------------------------------------------------------
# PPJoin positional filter (round-13 perf): lossless on the exact path
# ---------------------------------------------------------------------------


class TestPositionalFilter:
    THRESHOLD = 0.5

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.read.parquet(f"{SF_SMALL}/documents.parquet")

    def test_cut_bound_arithmetic(self, spark):
        """Hand-checked instances of the overlap upper bound
        ``cnt + least(na - max(pa), nb - max(pb)) >= ceil(t/(1+t)(na+nb))``:
        a boundary pair that exactly reaches alpha is kept; a pair whose
        shared prefix token sits deep in both lists cannot reach it and
        is discarded."""
        rows = [
            # keep: cnt=1, ub = 1 + min(10-3, 10-4) = 7; alpha = ceil(20/3) = 7
            (1, 2, 10, 10, 3, 4),
            # reject: cnt=1, ub = 1 + min(1, 1) = 2 < 7
            (3, 4, 10, 10, 9, 9),
            # keep via two shared tokens: cnt=2, ub = 2 + min(8-3, 8-4) = 6
            # alpha for na=nb=8 -> ceil(16/3) = 6
            (5, 6, 8, 8, 2, 3),
            (5, 6, 8, 8, 3, 4),
        ]
        cand = spark.createDataFrame(
            rows, "doc_a long, doc_b long, na long, nb long, pa int, pb int"
        )
        got = sorted(
            (r["doc_a"], r["doc_b"])
            for r in dedup._positional_cut(
                cand, "doc_a", "doc_b", self.THRESHOLD, lambda d, *k: d
            ).collect()
        )
        assert got == [(1, 2), (5, 6)]

    def test_exact_forms_match_legacy_distinct_path(self, spark, docs):
        """A posting cap far above any real posting size routes the
        LEGACY distinct-based candidate path while cutting nothing —
        the positional-filter path must return the identical pair set
        for all three forms (losslessness against the pre-r13 pipeline,
        on top of the oracle's full-join certification)."""
        huge = 10**9
        new = docs.filter(F.col("doc_id") % 5 == 0)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)

        def p(df, cols):
            return sorted(tuple(r[c] for c in cols) for r in df.collect())

        sj_cols = ("doc_a", "doc_b", "common", "jaccard")
        bw_cols = ("new_doc_id", "corpus_doc_id", "common", "jaccard")
        assert p(
            dedup.prefix_filter_jaccard_pairs(docs, self.THRESHOLD), sj_cols
        ) == p(
            dedup.prefix_filter_jaccard_pairs(
                docs, self.THRESHOLD, max_posting_size=huge
            ),
            sj_cols,
        )
        assert p(
            dedup.prefix_filter_jaccard_pairs_between(new, corpus, self.THRESHOLD),
            bw_cols,
        ) == p(
            dedup.prefix_filter_jaccard_pairs_between(
                new, corpus, self.THRESHOLD, max_posting_size=huge
            ),
            bw_cols,
        )
        dedup.build_prefix_filter_index(corpus, "t13_pos", self.THRESHOLD)
        assert p(
            dedup.prefix_filter_jaccard_pairs_maintained(
                spark, new, "t13_pos", self.THRESHOLD
            ),
            bw_cols,
        ) == p(
            dedup.prefix_filter_jaccard_pairs_maintained(
                spark, new, "t13_pos", self.THRESHOLD, max_posting_size=huge
            ),
            bw_cols,
        )
