"""Unit tests for LLM-pipeline operators not fully covered by the oracle
parity suite: simhash properties, exact-dedup row semantics, EWMA
recurrence, ANN recall sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from broker_spark.operators import rollup
from broker_spark.pipeline import ann, dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat", "en", "s", 43),  # near dup
        (3, "completely different words entirely here now", "en", "s", 44),
        (4, "short doc", "en", "s", 9),  # < 3 words for trigram shingles? (2 words)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


class TestExactDedup:
    def test_groups(self, docs):
        g = dedup.exact_dedup_groups(docs).collect()
        by_hash = {r["content_hash"]: r for r in g}
        assert len(by_hash) == 4
        dup = [r for r in g if r["n_copies"] == 2]
        assert len(dup) == 1 and dup[0]["keeper_doc_id"] == 0

    def test_dedup_keeps_one_copy(self, docs):
        kept = dedup.exact_dedup(docs).collect()
        assert sorted(r["doc_id"] for r in kept) == [0, 2, 3, 4]


class TestMinhash:
    def test_identical_docs_identical_signature(self, docs):
        sig = {r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
               for r in dedup.minhash_signatures(docs).collect()}
        assert sig[0] == sig[1]
        assert sig[0] != sig[3]

    def test_short_doc_null_signature(self, docs):
        sig = {r["doc_id"]: r["mh0"] for r in dedup.minhash_signatures(docs).collect()}
        assert sig[4] is None  # 2 words -> no trigram shingles

    def test_lsh_pairs_find_exact_dup(self, docs):
        # GUARDED intent, stated explicitly (ADVICE r9): recall through
        # the zero-config path must survive the default-on bucket cap
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(
                docs, max_bucket_size=dedup.DEFAULT_MAX_BUCKET_SIZE
            ).collect()
        }
        assert (0, 1) in pairs
        assert (0, 3) not in pairs and (1, 3) not in pairs


class TestGuardedDedup:
    """Hot-bucket / stop-shingle guards must preserve near-dup recall:
    true near-dups share many *rare* shingles, so dropping high-frequency
    keys removes quadratic boilerplate buckets, not the dup signal."""

    def test_guards_preserve_near_dup_recall_on_fixture(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        truth = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
        }
        assert truth, "fixture must contain high-jaccard near-dups"

        # stop-shingle guard: recall vs ground truth survives intact
        guarded_jacc = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.5, max_doc_freq=4
            ).collect()
        }
        jacc_recall = len(truth & guarded_jacc) / len(truth)
        assert jacc_recall >= 0.9, f"jaccard guard lost recall: {jacc_recall}"

        # stop-bucket guard: flood the corpus with a degenerate boilerplate
        # group (the 100 TB failure mode: one band key collecting a huge id
        # list whose C(n,2) expansion goes quadratic).  A cap above the
        # largest GENUINE near-dup group (size 4 here) kills the flood's
        # quadratic pair expansion while keeping every true pair.
        spark_ = docs.sparkSession
        flood = spark_.createDataFrame(
            [(100_000 + i, "boiler plate legal footer repeated verbatim")
             for i in range(60)],
            "doc_id long, text string",
        )
        combined = docs.select("doc_id", "text").unionByName(flood)

        unguarded_base = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(docs, max_bucket_size=None).collect()
        }
        found = truth & unguarded_base
        assert found, "unguarded LSH must find true pairs"

        guarded = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(combined, max_bucket_size=10).collect()
        }
        # every true pair unguarded LSH finds survives the guard...
        assert found <= guarded, f"guard lost true pairs: {sorted(found - guarded)}"
        # ...and the flood's C(60,2)=1770 boilerplate pairs are gone
        flood_pairs = {p for p in guarded if p[0] >= 100_000 and p[1] >= 100_000}
        assert not flood_pairs, f"{len(flood_pairs)} boilerplate pairs leaked"

    def test_guard_actually_drops_buckets(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        unguarded = dedup.minhash_lsh_pairs(docs, max_bucket_size=None).count()
        guarded = dedup.minhash_lsh_pairs(docs, max_bucket_size=2).count()
        assert guarded < unguarded  # the cap bites on this fixture


class TestConnectedComponents:
    def test_transitive_clustering_and_keepers(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in range(7)], "doc_id long"
        )
        # chain 0-1-2 (transitive), pair 4-5, singletons 3 and 6
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (4, 5)], "doc_a long, doc_b long"
        )
        from broker_spark.pipeline.dedup import (
            connected_components_star,
            dedup_cluster_keepers,
        )

        comp = {r["doc_id"]: r["component"]
                for r in connected_components_star(docs, pairs).collect()}
        assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}

        keepers = {r["keeper_doc_id"]: r["cluster_size"]
                   for r in dedup_cluster_keepers(docs, pairs).collect()}
        assert keepers == {0: 3, 3: 1, 4: 2, 6: 1}


class TestConnectedComponentsProperty:
    def test_matches_union_find_on_random_graphs(self, spark):
        """CC labels == exact connected components (min node id per
        component), checked against a plain union-find on random graphs
        that include a chain deeper than one contraction round."""
        import random

        from broker_spark.pipeline.dedup import connected_components_star
        from tests.conftest import random_graph_with_chains, union_find_components

        rng = random.Random(7)
        for trial in range(2):
            n = 24
            edges = random_graph_with_chains(rng, n, rng.randint(5, 18), 3)
            expected = union_find_components(range(n), edges)
            docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
            pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
            got = {
                r["doc_id"]: r["component"]
                for r in connected_components_star(docs, pairs).collect()
            }
            assert got == expected, f"trial {trial}: {got} != {expected}"


class TestStarContractionProperty:
    def test_star_equals_propagation_on_random_graphs(self, spark):
        """Large-star/small-star contraction reaches the labels min-label
        propagation converges to (min node id per component, computed by
        union-find) on random graphs with deep chains, where the O(log n)
        contraction needs several rounds — on both execution paths: the
        local union-find and, with local_threshold=0, the distributed
        star rounds."""
        import random

        from broker_spark.pipeline.dedup import connected_components_star
        from tests.conftest import random_graph_with_chains, union_find_components

        rng = random.Random(13)
        for trial in range(2):
            n = 30
            edges = random_graph_with_chains(rng, n, rng.randint(4, 20), 8)
            expected = union_find_components(range(n), edges)
            docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
            pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
            for threshold in (dedup.CC_LOCAL_EDGE_THRESHOLD, 0):
                got = {
                    r["doc_id"]: r["component"]
                    for r in connected_components_star(
                        docs, pairs, local_threshold=threshold
                    ).collect()
                }
                assert got == expected, f"trial {trial}, threshold {threshold}"


class TestQuantization:
    def test_int8_roundtrip_error_bound(self, spark):
        """Dequantized values are within scale/2 of the originals, codes
        fit int8's [-127, 127], and the zero-vector-free fixture has
        positive scales."""
        from broker_spark.pipeline.ann import quantize_int8

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = quantize_int8(emb).collect()
        originals = {r["vec_id"]: r["embedding"] for r in emb.collect()}
        assert len(out) == len(originals)
        for r in out:
            scale = r["scale"]
            assert scale > 0
            codes = [int(c) for c in r["codes"].split(",")]
            assert len(codes) == r["n_dims"] == 64
            assert all(-127 <= c <= 127 for c in codes)
            vec = originals[r["vec_id"]]
            # scale is rounded to 6dp for the hashable output; allow for it
            for x, c in zip(vec, codes):
                assert abs(c * scale - float(x)) <= scale / 2 + 1e-4


class TestSimhash:
    def test_properties(self, docs):
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
        assert sh[0] == sh[1]  # identical text -> identical simhash
        # near-dup differs in few bits; unrelated differs in many
        def hamming(a, b):
            return bin(a ^ b).count("1")
        assert hamming(sh[0], sh[2]) < hamming(sh[0], sh[3])
        assert all(0 <= v < (1 << 60) for v in sh.values())


class TestNgramJaccard:
    def test_near_dup_scored(self, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
        d = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
        assert d[(0, 1)] == 1.0
        assert 0.1 < d[(0, 2)] < 1.0
        assert (0, 3) not in d


class TestAnn:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import math
        rows = []
        for i in range(50):
            angle = (i % 10) * 0.1
            rows.append((i, [math.cos(angle), math.sin(angle), float(i % 3), 0.5]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_brute_force_topk_self_excluded_and_ranked(self, emb):
        out = ann.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
        assert all(r["query_id"] != r["cand_id"] for r in out)
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
        for q, lst in by_q.items():
            lst.sort()
            assert len(lst) == 5
            cosines = [c for _, c in lst]
            assert cosines == sorted(cosines, reverse=True)

    def test_grid_topk_subset_of_bruteforce_space(self, emb):
        grid = ann.grid_lsh_topk(emb, k=3, dims=2, width=0.5)
        rows = grid.collect()
        assert len(rows) > 0
        assert all(r["query_id"] != r["cand_id"] for r in rows)


class TestEwma:
    def test_recurrence_exact(self, spark):
        df = spark.createDataFrame(
            [("k", 0, 10.0), ("k", 1, 20.0), ("k", 2, 30.0)],
            "key string, bucket long, value double",
        )
        out = sorted(
            rollup.ewma(df, "key", value_col="value").collect(), key=lambda r: r["bucket"]
        )
        assert out[0]["ewma"] == 10.0
        assert out[1]["ewma"] == 0.8 * 10.0 + 0.2 * 20.0
        assert out[2]["ewma"] == 0.8 * (0.8 * 10.0 + 0.2 * 20.0) + 0.2 * 30.0

    def test_rollup_level_cascade(self, spark):
        import datetime as dt
        rows = [
            ("p", dt.datetime(2024, 1, 1, 0, 0, s), 10.0) for s in range(0, 60, 10)
        ] + [("p", dt.datetime(2024, 1, 1, 0, 1, s), 20.0) for s in range(0, 60, 10)]
        df = spark.createDataFrame(rows, "peer_id string, ts timestamp, v double")
        minute = rollup.rollup_level(df, ["peer_id"], "v", 60_000)
        got = sorted(minute.collect(), key=lambda r: r["bucket"])
        assert [r["avg_value"] for r in got] == [10.0, 20.0]
        # second level consumes the first level's averages at a coarser bucket
        hour = rollup.rollup_level(
            minute.select(
                "peer_id",
                F.timestamp_millis(F.col("bucket") * 60_000).alias("ts"),
                F.col("avg_value").alias("v"),
            ),
            ["peer_id"],
            "v",
            3_600_000,
        )
        h = hour.collect()
        assert len(h) == 1 and h[0]["avg_value"] == 15.0


class TestBlockTopkLossless:
    """The per-block top-(k+1) emission must be an exact superset of what
    the full q x c pair matrix contributes to any global top-k merge —
    including when identical vectors produce exact score ties."""

    def _full_pairs(self, q, c, k):
        import numpy as np

        c = c.sort_values("vec_id").reset_index(drop=True)
        qm = np.stack(q["embedding"].to_numpy()).astype("float64")
        cm = np.stack(c["embedding"].to_numpy()).astype("float64")
        sims = (qm @ cm.T) / np.outer(
            np.sqrt((qm * qm).sum(axis=1)), np.sqrt((cm * cm).sum(axis=1))
        )
        out = []
        for i in range(len(q)):
            row = sorted(
                (
                    (-sims[i, j], c["vec_id"][j])
                    for j in range(len(c))
                    if c["vec_id"][j] != q["vec_id"].iloc[i]
                ),
            )[:k]
            out.extend((q["vec_id"].iloc[i], cid, -s) for s, cid in row)
        return set((a, b) for a, b, _ in out)

    def test_matches_brute_force_with_ties(self):
        import numpy as np
        import pandas as pd

        from broker_spark.pipeline.ann import _block_topk_arrays

        rng = np.random.default_rng(7)
        base = rng.random((12, 8))
        base[5] = base[2]  # identical vectors -> exact cosine ties
        base[9] = base[2]
        vecs = [base[i] for i in range(len(base))]
        df = pd.DataFrame({"vec_id": np.arange(12, dtype="int64"), "embedding": vecs})
        for k in (1, 3, 5, 20):
            qid, cid, cos = _block_topk_arrays(df, df, "vec_id", "embedding", k)
            got = set(zip(qid.tolist(), cid.tolist()))
            expect = self._full_pairs(df, df, k)
            # emitted set must cover the exact global top-k pairs
            assert expect <= got, f"k={k}: missing {expect - got}"
            # and never more than (k+1) per query
            from collections import Counter

            assert max(Counter(qid.tolist()).values()) <= k + 1


class TestRepetitionAndPacking:
    def test_repetition_stats_match_python(self, spark):
        import collections

        from broker_spark.pipeline import text as T

        rows = [
            (0, "a a a a"),            # fully repetitive
            (1, "a b c d"),            # all distinct
            (2, "x y x y x"),          # top bigram 'x y' twice / 4 bigrams
            (3, "solo"),               # single token, no bigrams
        ]
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        got = {r.doc_id: r for r in T.repetition_stats(df).collect()}
        for doc_id, txt in rows:
            words = txt.split(" ")
            uni = collections.Counter(words)
            bigs = collections.Counter(
                " ".join(words[i : i + 2]) for i in range(len(words) - 1)
            )
            r = got[doc_id]
            assert r.n_tokens == len(words)
            assert r.n_distinct == len(uni)
            assert r.top_unigram_frac == pytest.approx(
                max(uni.values()) / len(words), abs=1e-6
            )
            expect_big = (max(bigs.values()) / sum(bigs.values())) if bigs else 0.0
            assert r.top_bigram_frac == pytest.approx(expect_big, abs=1e-6)

    def test_pack_sequences_invariants(self, spark):
        from broker_spark.pipeline import text as T

        rows = [(i, "en", "w " * (i % 7 + 1)) for i in range(40)]
        df = spark.createDataFrame(
            [(i, lang, t.strip()) for i, lang, t in rows],
            "doc_id LONG, lang STRING, text STRING",
        )
        out = T.pack_sequences(df, budget=10).collect()
        # every doc assigned exactly once; pack ids contiguous from 0
        assert len(out) == 40
        by_pack: dict = {}
        for r in out:
            by_pack.setdefault(r.pack_id, []).append(r)
            assert 0 <= r.pack_offset < 10  # offset always inside the budget
        packs = sorted(by_pack)
        assert packs == list(range(len(packs)))
        # deterministic: same input -> same packing
        again = {(r.doc_id, r.pack_id) for r in T.pack_sequences(df, budget=10).collect()}
        assert again == {(r.doc_id, r.pack_id) for r in out}

    def test_funnel_is_monotone(self, spark):
        from broker_spark.plans.catalog import CATALOG
        from tests.conftest import SF_SMALL

        rows = {r.stage: r.users for r in CATALOG["funnel_counts"].fn(spark, SF_SMALL).collect()}
        assert rows["view"] >= rows["click_after_view"] >= rows["purchase_after_click"]
