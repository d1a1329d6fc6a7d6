"""Round-9 operators: the eviction-horizon streaming LSH dedup
(VERDICT r8 #1) — retention semantics, state-store eviction — plus the
per-query bench regression flagger (VERDICT r8 #3) and the default-on
LSH densification guard (VERDICT r8 #2)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from broker_spark.streaming import stateful

#: the archived round-8 bench detail record, wherever pytest is started from
R8_DETAIL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "records",
    "BENCH_DETAIL_r08.json",
)

HOUR_MS = 3_600_000
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _ts(hours: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(
        (BASE_MS + hours * HOUR_MS) / 1000.0, tz=dt.timezone.utc
    ).replace(tzinfo=None)


DOC_SCHEMA = "doc_id long, text string, ts timestamp"
# long enough to shingle (k=3) and identical => identical band keys
TXT = "the quick brown fox jumps over the lazy dog again and again"


def _replay_horizon(spark, tmp_path, batches, horizon_ms):
    """Stage `batches` (list of row-lists) as one file per micro-batch
    with ascending mtimes, replay streaming_lsh_candidates_horizon, and
    return (dup rows, streaming query)."""
    import os
    import time

    src = tmp_path / "src"
    src.mkdir(exist_ok=True)
    now = time.time()
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.parquet(stage)
        import glob as glob_mod
        import shutil

        part = glob_mod.glob(f"{stage}/part-*.parquet")[0]
        target = str(src / f"batch{i:02d}.parquet")
        shutil.move(part, target)
        t = now - (len(batches) - i) * 10
        os.utime(target, (t, t))
        shutil.rmtree(stage, ignore_errors=True)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stateful.streaming_lsh_candidates_horizon(stream, horizon_ms=horizon_ms)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "horizon replay did not terminate"
    out = spark.read.parquet(str(tmp_path / "sink"))
    return {(r["doc_id"], r["band_id"]): r["dup_of"] for r in out.collect()}, q


class TestStreamingLshHorizon:
    def test_within_horizon_matches_beyond_reclaims(self, spark, tmp_path):
        """The retention contract: a duplicate within the horizon of the
        bucket's last touch matches the claimer; one separated by more
        than the horizon is NOT matched (it re-claims), and later docs
        match the NEW claimer — all across micro-batch boundaries."""
        horizon = 168 * HOUR_MS
        batches = [
            [(1, TXT, _ts(0)), (2, TXT, _ts(1))],  # 2 dup_of 1 (gap 1h)
            [(3, TXT, _ts(400))],  # gap 399h > 168h: re-claims, no row
            [(4, TXT, _ts(401))],  # dup_of 3 — the NEW claimer, never 1
        ]
        dups, _ = _replay_horizon(spark, tmp_path, batches, horizon)
        by_doc = {}
        for (doc, _band), dup_of in dups.items():
            by_doc.setdefault(doc, set()).add(dup_of)
        assert by_doc.get(2) == {1}
        assert 3 not in by_doc  # beyond the horizon: deliberately unmatched
        assert by_doc.get(4) == {3}  # stale claimer 1 was forgotten

    def test_sliding_chain_keeps_session_alive(self, spark, tmp_path):
        """The horizon slides with the LAST touch (sessionization), not
        the claim: touches 100 h apart chain a session under a 168 h
        horizon even when the last doc is 300 h past the claimer."""
        horizon = 168 * HOUR_MS
        batches = [
            [(1, TXT, _ts(0))],
            [(2, TXT, _ts(100))],  # within 168h of doc 1
            [(3, TXT, _ts(200))],  # within 168h of doc 2; 200h past claim
        ]
        dups, _ = _replay_horizon(spark, tmp_path, batches, horizon)
        by_doc = {}
        for (doc, _band), dup_of in dups.items():
            by_doc.setdefault(doc, set()).add(dup_of)
        assert by_doc.get(2) == {1}
        assert by_doc.get(3) == {1}  # chained through doc 2's touch

    def test_expired_bucket_state_rows_are_gone(self, spark, tmp_path):
        """VERDICT r8 #1 'done' condition: state rows for buckets idle
        past the horizon are REMOVED from the state store, not merely
        ignored — numRowsRemoved fires mid-replay and the final store
        holds fewer rows than the buckets-ever count (what NoTimeout
        would retain)."""
        horizon = 24 * HOUR_MS
        texts = [
            f"distinct document number {i} with plenty of words to shingle properly"
            for i in range(8)
        ]
        # 8 distinct docs -> distinct buckets; batch i sits 1000 h after
        # batch i-1, so every earlier batch's buckets expire
        batches = [
            [(i, texts[i], _ts(i * 1000)), (100 + i, texts[i], _ts(i * 1000 + 1))]
            for i in range(8)
        ]
        dups, q = _replay_horizon(spark, tmp_path, batches, horizon)
        # semantics unaffected by eviction: each batch's twin still matches
        assert all((100 + i, 0) in dups or (100 + i, 1) in dups for i in range(8))
        removed = 0
        final_total = None
        for p in q.recentProgress:
            for so in p["stateOperators"] or []:
                removed += so["numRowsRemoved"] or 0
                final_total = so["numRowsTotal"]
        buckets_ever = 8 * 2  # 8 distinct texts x 2 bands
        assert removed > 0, "no state rows were ever evicted"
        assert final_total is not None and final_total < buckets_ever
        # occupancy model: only the LAST batch's buckets can be alive
        # (every earlier batch is >= 1000 h stale); allow the penultimate
        # batch too (its timeout fires on the NEXT trigger, which may not
        # exist after the final file)
        assert final_total <= 2 * 2 * 2  # <= 2 batches x 1 text x 2 bands x 2 docs

    def test_default_guard_is_on(self, spark):
        """VERDICT r8 #2: the stop-bucket guard is the ZERO-CONFIG path —
        a hot bucket's quadratic pair expansion is dropped without any
        call-site argument; None is the documented census opt-out."""
        from broker_spark.pipeline import dedup

        assert dedup.DEFAULT_MAX_BUCKET_SIZE == 8
        flood = spark.createDataFrame(
            [(i, "boiler plate legal footer repeated verbatim again") for i in range(40)],
            "doc_id long, text string",
        )
        assert dedup.minhash_lsh_pairs(flood).count() == 0  # default guards
        census = dedup.minhash_lsh_pairs(flood, max_bucket_size=None).count()
        assert census == 40 * 39 // 2  # explicit opt-out: full C(40,2)
        # simhash: identical texts collide on every band -> same contract
        assert dedup.simhash_pairs(flood).count() == 0
        assert dedup.simhash_pairs(flood, max_bucket_size=None).count() > 0

    def test_default_guard_between_corpus_side(self, spark):
        """The batch-vs-corpus form guards the CORPUS side by default:
        a 40-doc boilerplate hub in the corpus contributes no candidates,
        while a genuine small bucket still matches."""
        from broker_spark.pipeline import dedup

        hub = [(100 + i, "boiler plate legal footer repeated verbatim again") for i in range(40)]
        small = [(200, "one genuinely unique sentence about marmots in spring")]
        corpus = spark.createDataFrame(hub + small, "doc_id long, text string")
        new = spark.createDataFrame(
            [
                (1, "boiler plate legal footer repeated verbatim again"),
                (2, "one genuinely unique sentence about marmots in spring"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r["new_doc_id"], r["corpus_doc_id"])
            for r in dedup.minhash_lsh_pairs_between(new, corpus).collect()
        }
        assert got == {(2, 200)}  # hub suppressed, organic pair kept

    def test_state_survives_checkpoint_restart(self, spark, tmp_path):
        """Exactly-once claim: the horizon state lives in the CHECKPOINT,
        not the process — a second availableNow run against the same
        checkpoint folds new files into the first run's claims (within
        the horizon) and re-claims across a wide gap, identically to one
        uninterrupted replay."""
        import glob as glob_mod
        import os
        import shutil
        import time

        horizon = 168 * HOUR_MS
        src = tmp_path / "src"
        src.mkdir()

        def stage(i, rows_):
            stage_dir = str(tmp_path / f"st{i}")
            spark.createDataFrame(rows_, DOC_SCHEMA).coalesce(1).write.parquet(
                stage_dir
            )
            part = glob_mod.glob(f"{stage_dir}/part-*.parquet")[0]
            target = str(src / f"b{i:02d}.parquet")
            shutil.move(part, target)
            t = time.time() - (10 - i) * 10
            os.utime(target, (t, t))
            shutil.rmtree(stage_dir, ignore_errors=True)

        def run():
            stream = (
                spark.readStream.schema(DOC_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            q = (
                stateful.streaming_lsh_candidates_horizon(
                    stream, horizon_ms=horizon
                )
                .writeStream.format("parquet")
                .option("path", str(tmp_path / "sink"))
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(180)

        stage(0, [(1, TXT, _ts(0))])
        run()  # first process: doc 1 claims
        stage(1, [(2, TXT, _ts(1)), (3, TXT, _ts(400))])
        run()  # restart: 2 matches the RECOVERED claim; 3 re-claims
        stage(2, [(4, TXT, _ts(401))])
        run()  # second restart: 4 matches the recovered re-claim
        out = {
            (r["doc_id"], r["band_id"]): r["dup_of"]
            for r in spark.read.parquet(str(tmp_path / "sink")).collect()
        }
        by_doc = {}
        for (doc, _b), dup in out.items():
            by_doc.setdefault(doc, set()).add(dup)
        assert by_doc.get(2) == {1}  # claim crossed the restart
        assert 3 not in by_doc  # horizon re-claim crossed the restart
        assert by_doc.get(4) == {3}  # and the re-claim itself recovered

    def test_output_schema_matches_unbounded_form(self, spark, tmp_path):
        """Horizon and NoTimeout forms share the output contract, so a
        pipeline can swap one in for the other."""
        dups, q = _replay_horizon(
            spark, tmp_path, [[(1, TXT, _ts(0)), (2, TXT, _ts(1))]], 168 * HOUR_MS
        )
        out = spark.read.parquet(str(tmp_path / "sink"))
        assert [f.name for f in out.schema.fields] == [
            "doc_id",
            "band_id",
            "band_key",
            "dup_of",
        ]


class TestRegressionFlagger:
    """bench.flag_regressions (VERDICT r8 #3): per-query spread-aware
    thresholds — the r8 driver run's 11 false flags replayed against the
    new rule, and a synthetic true regression that must still flag."""

    def test_noisy_rerun_within_spread_not_flagged(self):
        import bench

        prev_q = {"a": 0.25, "b": 2.4}
        prev_spreads = {"a": [0.25, 0.31, 0.52], "b": [2.4, 2.7, 3.2]}
        # a noisy box: every query reads ~1.6x over the committed best but
        # inside (or near) the run's own recorded worst x margin
        noisy = {"a": 0.55, "b": 3.9}
        assert bench.flag_regressions(noisy, prev_q, prev_spreads, 1.75) == []

    def test_true_3x_regression_still_flags(self):
        import bench

        prev_q = {"a": 0.25, "b": 2.4}
        prev_spreads = {"a": [0.25, 0.31, 0.52], "b": [2.4, 2.7, 3.2]}
        bad = {"a": 0.8, "b": 7.2}
        assert bench.flag_regressions(bad, prev_q, prev_spreads, 1.75) == ["a", "b"]

    def test_replay_r8_committed_detail_against_itself(self):
        """Identity replay: re-presenting the committed r8 timings against
        their own record must flag nothing (sanity for the rule's shape)."""
        import json

        import bench

        with open(R8_DETAIL) as fh:
            prev = json.load(fh)
        flags = bench.flag_regressions(
            prev["queries"], prev["queries"], prev.get("spreads") or {}, 1.5
        )
        assert flags == []

    def test_replay_r8_driver_noise_yields_no_flags(self):
        """The r8 adjudication, encoded: the driver's flagged queries sat
        1.2-1.8x over the builder's committed best on a box with a 6x
        intra-run outlier — under the spread-aware rule a uniform 1.7x
        noisy rerun of the committed record flags ~nothing (each query's
        own worst sample x margin absorbs it) while the old prev-best-only
        rule would have flagged every query whose spread was tight."""
        import json

        import bench

        with open(R8_DETAIL) as fh:
            prev = json.load(fh)
        noisy = {
            k: v * 1.7 for k, v in prev["queries"].items() if v is not None
        }
        flags = bench.flag_regressions(
            noisy, prev["queries"], prev.get("spreads") or {}, 1.75
        )
        # sub-1% of the headline may legitimately flag (queries whose
        # three samples were all near-identical); the r8 run flagged 7%
        assert len(flags) <= 2, flags

    def test_threshold_floor_never_flags_absolute_improvement(self):
        import bench

        # probe got 2x FASTER (machine_ratio 0.5): unfloored threshold
        # would be 0.75 and flag a query that improved; the floor forbids it
        assert bench.effective_threshold(1.0, 0.5) >= 1.0
        prev_q = {"a": 1.0}
        assert (
            bench.flag_regressions(
                {"a": 0.9}, prev_q, {"a": [1.0]}, bench.effective_threshold(1.0, 0.5)
            )
            == []
        )


class TestStagingRowGuard:
    def test_out_of_range_batch_expr_fails_loudly(self, spark, tmp_path):
        """ADVICE r8: a batch_expr value outside [0, n_batches) must raise
        at the staging step, not surface as a distant oracle mismatch
        (Spark's % keeps the dividend's sign, so negative keys vanish)."""
        from broker_spark.plans.catalog import _stage_ordered_batches

        df = spark.createDataFrame([(-3,), (1,), (2,)], "k long")
        with pytest.raises(RuntimeError, match="dropped rows"):
            _stage_ordered_batches(df, F.col("k") % 2, 2, str(tmp_path / "d"))

    def test_in_range_batch_expr_stages_all_rows(self, spark, tmp_path):
        from broker_spark.plans.catalog import _stage_ordered_batches

        df = spark.createDataFrame([(0,), (1,), (2,), (3,)], "k long")
        _stage_ordered_batches(df, F.col("k") % 2, 2, str(tmp_path / "d"))
        assert spark.read.parquet(str(tmp_path / "d")).count() == 4


class TestGuardConstantSync:
    def test_oracles_interpolate_the_default_cap(self):
        """The cap is ONE constant: every default-guarded entry's oracle
        must render `z.n <= DEFAULT_MAX_BUCKET_SIZE` — a change to the
        constant re-renders the SQL, so engine and oracle cannot drift."""
        from broker_spark.pipeline.dedup import DEFAULT_MAX_BUCKET_SIZE
        from broker_spark.plans.catalog import CATALOG

        pred = f"z.n <= {DEFAULT_MAX_BUCKET_SIZE}"
        for name in (
            "dedup_components_star",
            "dedup_cluster_keepers",
            "dedup_components_incremental",
            "dedup_graph_degrees",
            "dedup_graph_pagerank",
            "dedup_pagerank_keepers",
            "dedup_edit_distance_pairs",
            "dedup_incremental_pairs",
            "dedup_simhash_pairs_guarded",
            "dedup_graph_triangles_guarded",
            "minhash_estimate_error_guarded",
        ):
            assert pred in CATALOG[name].sql, name
        # and the explicit census opt-outs must NOT carry the cap
        for name in (
            "dedup_minhash_pairs",
            "dedup_simhash_pairs",
            "dedup_graph_triangles",
            "minhash_estimate_error",
            "lsh_precision_recall",
            "lsh_s_curve",
            "link_prediction_adamic_adar",
        ):
            assert "z.n <=" not in (CATALOG[name].sql or ""), name


class TestSiblingReasons:
    def test_every_not_benched_sibling_carries_a_reason(self):
        """VERDICT r8 #6: the NOT_BENCHED_SIBLINGS partition stays
        auditable — every sibling names the benched twin/family whose
        plan covers it, in a non-empty justification string."""
        import bench

        assert set(bench.NOT_BENCHED_SIBLINGS) == set(
            bench.NOT_BENCHED_SIBLING_REASONS
        )
        for name, reason in bench.NOT_BENCHED_SIBLING_REASONS.items():
            assert isinstance(reason, str) and len(reason) >= 15, name
