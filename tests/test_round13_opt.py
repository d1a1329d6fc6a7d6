"""Round-13 OPTIMIZATION invariants: restructured operators must return
exactly what their pre-optimization forms returned (the oracle re-check
is the outer gate; these pin the equivalences the restructures rely on
so a future edit can't silently break them).

Covered:
- matryoshka_recall's fused tier pass == the per-tier brute-force loop
  it replaced (same slices, same window order, same grid semantics);
- quality_features/quality_classifier_score `carry` == the join-back on
  doc_id it replaced (pure projection, doc_id unique);
- connected_components_star's local-union-find label lift is a pure-JVM
  local relation (no Python-RDD scan) with unchanged labels;
- bpe_learn_merges' JVM local relation carries the same rows as the
  createDataFrame(list) form it replaced.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from broker_spark.pipeline import ann, dedup, text

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestMatryoshkaFusion:
    def test_fused_equals_per_tier_loop(self, embeddings):
        """The fused (one corpus pass, one window) form must equal the
        per-tier brute_force_topk loop it replaced, value-exact."""
        dims, k, n_queries = (4, 8, 16), 10, 10
        fused = ann.matryoshka_recall(embeddings, dims=dims, k=k)

        from broker_spark.pinning import pin

        full = (
            ann.brute_force_topk(
                embeddings, embeddings.filter(F.col("vec_id") < n_queries), k=k
            )
            .select("query_id", "cand_id")
            .transform(pin)
        )
        all_q = full.select("query_id").distinct()
        ref = None
        for d in dims:
            trunc = embeddings.select(
                F.col("vec_id"), F.slice(F.col("embedding"), 1, d).alias("embedding")
            )
            tier = ann.brute_force_topk(
                trunc, trunc.filter(F.col("vec_id") < n_queries), k=k
            ).select("query_id", "cand_id")
            hits = (
                tier.join(full, ["query_id", "cand_id"])
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
            )
            tier_out = all_q.join(hits, "query_id", "left").select(
                F.lit(d).cast("int").alias("dim"),
                "query_id",
                F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
                F.round(
                    F.coalesce("n_overlap", F.lit(0)).cast("double")
                    / F.lit(float(k)),
                    6,
                ).alias("recall"),
            )
            ref = tier_out if ref is None else ref.unionByName(tier_out)
        assert _rows(fused) == _rows(ref)


class TestCarryProjection:
    def test_quality_features_carry_equals_join_back(self, docs):
        carried = text.quality_features(
            docs, carry=(F.col("lang"), F.md5("text").alias("th"))
        )
        joined = text.quality_features(docs).join(
            docs.select("doc_id", "lang", F.md5("text").alias("th")), "doc_id"
        )
        assert _rows(carried) == _rows(joined)

    def test_quality_classifier_carry_equals_join_back(self, docs):
        carried = text.quality_classifier_score(docs, carry=(F.col("source"),))
        joined = text.quality_classifier_score(docs).join(
            docs.select("doc_id", "source"), "doc_id"
        )
        assert _rows(carried) == _rows(joined)


class TestLocalLabelLift:
    def test_local_cc_labels_are_jvm_only_and_correct(self, docs):
        pairs = dedup.minhash_lsh_pairs(docs)
        labels = dedup.connected_components_star(docs, pairs)
        # small fixture -> the bounded-collect union-find path
        plan = labels._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "PythonRDD" not in plan
        assert "Scan ExistingRDD" not in plan
        # labels == a plain union-find over the same pairs
        from tests.conftest import union_find_components

        want = union_find_components(
            [r["doc_id"] for r in docs.select("doc_id").collect()],
            [(r["doc_a"], r["doc_b"]) for r in pairs.collect()],
        )
        got = {r["doc_id"]: r["component"] for r in labels.collect()}
        assert got == want

    def test_string_ids_roundtrip_exactly(self, spark):
        rows = [("c:a\"b\\c", "d:x y"), ("d:x y", "c:ünï¢ødé")]
        e = spark.createDataFrame(rows, "doc_a string, doc_b string")
        docs = (
            e.select(F.col("doc_a").alias("doc_id"))
            .union(e.select("doc_b"))
            .distinct()
        )
        labels = dedup.connected_components_star(docs, e)
        got = {r["doc_id"]: r["component"] for r in labels.collect()}
        # one chain component labelled by its min id
        want_comp = min(got)
        assert set(got) == {"c:a\"b\\c", "d:x y", "c:ünï¢ødé"}
        assert set(got.values()) == {want_comp}


class TestBpeLocalRelation:
    def test_merge_table_rows(self, docs):
        merges, _ = text.bpe_learn(docs, 4)
        df = text.bpe_learn_merges(docs, 4)
        assert df.columns == ["rank", "pair", "merged", "n"]
        got = sorted(tuple(r) for r in df.collect())
        want = sorted((m["rank"], m["pair"], m["merged"], m["n"]) for m in merges)
        assert got == want
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "Scan ExistingRDD" not in plan


class TestLocalPagerank:
    """pagerank's bounded-collect driver loop (round-13 batch 2) must be
    value-IDENTICAL to the distributed iteration it short-circuits: the
    local path replicates double division, the DECIMAL(38,18) cast
    (shortest-decimal-string quantize), the exact decimal sum, and the
    damping expression order."""

    def test_local_equals_distributed(self, docs):
        from broker_spark.pinning import pin

        pairs = dedup.minhash_lsh_pairs(docs).transform(pin)
        loc = dedup.pagerank(docs, pairs)  # small fixture -> local path
        dist = dedup.pagerank(docs, pairs, local_threshold=0)
        assert _rows(loc) == _rows(dist)

    def test_local_path_is_jvm_local_relation(self, docs):
        pairs = dedup.minhash_lsh_pairs(docs)
        pr = dedup.pagerank(docs, pairs)
        plan = pr._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "PythonRDD" not in plan
        assert "Scan ExistingRDD" not in plan


class TestTfidfDfDerivation:
    """tfidf_cosine_pairs (round-13 batch 3) derives document frequency
    from the pinned tf frame instead of re-exploding the corpus
    (terms.distinct()): tf holds exactly one row per (doc, term), so the
    per-term row count IS the document frequency."""

    def test_df_from_tf_equals_distinct_reexplode(self, docs):
        from broker_spark.pipeline.dedup import word_shingles

        terms = docs.select(
            "doc_id", F.explode(word_shingles("text", 3)).alias("term")
        )
        tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        via_tf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        via_distinct = terms.distinct().groupBy("term").agg(
            F.count(F.lit(1)).alias("df")
        )
        assert _rows(via_tf) == _rows(via_distinct)


class TestBm25SinglePass:
    """bm25_topk (round-13 batch 3) filters the words ARRAY to the query
    vocabulary before the explode; that must be row-identical to
    filtering the exploded terms, and doc length must equal the
    token_count of the unfiltered text."""

    def test_array_filter_equals_exploded_filter(self, docs):
        from broker_spark.pipeline.text import BM25_QUERIES, words_col

        vocab = sorted({t for _, terms in BM25_QUERIES for t in terms})
        words = words_col(F.col("text"))
        via_array = docs.select(
            "doc_id",
            F.explode(F.filter(words, lambda t: t.isin(vocab))).alias("term"),
        )
        via_explode = docs.select(
            "doc_id", F.explode(words).alias("term")
        ).filter(F.col("term").isin(vocab))
        assert _rows(via_array) == _rows(via_explode)


def _round6(x: float) -> float:
    """Spark F.round semantics on DOUBLE: BigDecimal.valueOf(d) (i.e. the
    shortest-decimal string) setScale(6, HALF_UP)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


class TestLayoutPruningFusion:
    """layout_pruning_benefit / _multidim (round-13 batch 5) derive
    n_files/np_u/np_t as driver-side literals (rank is a permutation of
    1..n, so file ids are exactly 0..(n-1) DIV rows_per_file) and fuse
    the probe workloads into one kind-tagged crossJoin.  Pin the whole
    output against an independent pure-Python simulation of the file
    manifests, probes, and scan fractions."""

    RPF = 50
    DAY = 86_400_000

    def _events(self, spark):
        n = 600
        return spark.range(n).select(
            F.col("id").alias("event_id"),
            ((F.col("id") * 7) % 50).alias("user_id"),
            F.timestamp_millis(
                F.lit(1_600_000_000_000) + F.col("id") * 17_000_000
            ).alias("ts"),
        )

    def _rows_py(self):
        return [
            (i, (i * 7) % 50, 1_600_000_000_000 + i * 17_000_000)
            for i in range(600)
        ]

    @staticmethod
    def _files(rows, keyfn, rpf, stats):
        ordered = sorted(rows, key=keyfn)
        out = []
        for f0 in range(0, len(ordered), rpf):
            chunk = ordered[f0 : f0 + rpf]
            out.append(tuple(fn(chunk) for fn in stats))
        return out

    def test_benefit_matches_simulation(self, spark):
        from broker_spark.operators.profile import layout_pruning_benefit

        got = {
            r["layout"]: r
            for r in layout_pruning_benefit(
                self._events(spark), rows_per_file=self.RPF
            ).collect()
        }
        rows = self._rows_py()
        probes = sorted({u for _, u, _ in rows if u % 10 == 0})
        n_files = (len(rows) - 1) // self.RPF + 1
        for layout, keyfn in (
            ("arrival", lambda r: r[0]),
            ("clustered", lambda r: (r[1], r[2], r[0])),
        ):
            files = self._files(
                rows,
                keyfn,
                self.RPF,
                (
                    lambda c: min(u for _, u, _ in c),
                    lambda c: max(u for _, u, _ in c),
                ),
            )
            scanned = sum(
                1 for lo, hi in files for p in probes if lo <= p <= hi
            )
            r = got[layout]
            assert r["n_files"] == n_files
            assert r["n_probes"] == len(probes)
            assert r["files_scanned"] == scanned
            assert r["scan_fraction"] == _round6(
                scanned / float(n_files * len(probes))
            )

    def test_multidim_matches_simulation(self, spark):
        from broker_spark.operators.profile import layout_pruning_multidim

        got = {
            r["layout"]: r
            for r in layout_pruning_multidim(
                self._events(spark), rows_per_file=self.RPF
            ).collect()
        }

        def zkey(ux, tx):
            z = 0
            for i in range(8):
                z |= ((ux >> i) & 1) << (2 * i)
                z |= ((tx >> i) & 1) << (2 * i + 1)
            return z

        rows = [
            (e, u, t, zkey(u % 256, (t % 2_678_400_000) // 14_400_000))
            for e, u, t in self._rows_py()
        ]
        probes_u = sorted({u for _, u, _, _ in rows if u % 10 == 0})
        probes_t = sorted({t // self.DAY for _, _, t, _ in rows})
        n_files = (len(rows) - 1) // self.RPF + 1
        stats = (
            lambda c: min(u for _, u, _, _ in c),
            lambda c: max(u for _, u, _, _ in c),
            lambda c: min(t for _, _, t, _ in c),
            lambda c: max(t for _, _, t, _ in c),
        )
        for layout, keyfn in (
            ("by_user", lambda r: (r[1], r[2], r[0])),
            ("by_time", lambda r: (r[2], r[0])),
            ("zorder", lambda r: (r[3], r[0])),
        ):
            files = self._files(rows, keyfn, self.RPF, stats)
            s_user = sum(
                1
                for ulo, uhi, _, _ in files
                for p in probes_u
                if ulo <= p <= uhi
            )
            s_time = sum(
                1
                for _, _, tlo, thi in files
                for d in probes_t
                if tlo < (d + 1) * self.DAY and thi >= d * self.DAY
            )
            r = got[layout]
            assert r["n_files"] == n_files
            assert r["user_scan_fraction"] == _round6(
                s_user / float(n_files * len(probes_u))
            )
            assert r["time_scan_fraction"] == _round6(
                s_time / float(n_files * len(probes_t))
            )


class TestWedgeJoinCoPartitioning:
    """adamic_adar_scores / graph_triangle_stats (round-13 batch 6) pin
    their wedge self-joins at core width with an explicit repartition on
    the wedge key: the expansion is compute-bound per-row fan-out over a
    byte-tiny input, so AQE's size-based coalescing would otherwise run
    the heaviest stage nearly serial.  Pin (a) the explicit exchange is
    in the plan at defaultParallelism, and (b) values are unchanged by
    the partitioning (independent pure-Python recompute)."""

    def _pairs(self, spark):
        rows = [(a, b) for a in range(20) for b in range(a + 1, 20)
                if (a * b) % 3 == 0]
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    def test_explicit_core_width_exchange(self, spark):
        from broker_spark.pipeline.dedup import adamic_adar_scores

        plan = (
            adamic_adar_scores(self._pairs(spark), k=10)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = spark.sparkContext.defaultParallelism
        assert f"hashpartitioning(nbr#" in plan
        assert f", {n}), REPARTITION_BY_NUM" in plan

    def test_values_unchanged_by_partitioning(self, spark):
        import math

        from broker_spark.pipeline.dedup import adamic_adar_scores

        edges = {(a, b) for a, b in self._pairs(spark).collect()}
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        quant = 1_000_000_000_000
        scored = {}
        for a in adj:
            for b in adj:
                if a < b and (a, b) not in edges:
                    common = adj[a] & adj[b]
                    if common:
                        aa = sum(
                            math.floor(1.0 / math.log(len(adj[v])) * quant + 0.5)
                            for v in common
                        )
                        scored[(a, b)] = (len(common), aa)
        top = sorted(
            scored.items(), key=lambda kv: (-kv[1][1], kv[0][0], kv[0][1])
        )[:10]
        expected = [
            (i + 1, a, b, c, round(aa / quant, 6))
            for i, ((a, b), (c, aa)) in enumerate(top)
        ]
        got = [
            (r["rank"], r["doc_a"], r["doc_b"], r["common_neighbors"],
             r["adamic_adar"])
            for r in adamic_adar_scores(self._pairs(spark), k=10)
            .orderBy("rank")
            .collect()
        ]
        assert got == expected


class TestMarketBasketCoPartitioning:
    """orders_market_basket (round-13, after batch 6's pattern) pins its
    basket build at core width with an explicit repartition on
    l_orderkey: the collect_set + in-row pair expansion is compute-bound
    fan-out over byte-tiny (orderkey, partkey) rows, so AQE's size-based
    coalescing would otherwise fold the heavy stage to a handful of
    tasks.  Pin (a) the explicit exchange at defaultParallelism is in
    the executed plan, and (b) values equal the naive distinct self-join
    recompute."""

    def _li(self, spark):
        rows = []
        for o in range(40):
            for p in range(o % 5 + 1):
                rows.append((o, 100 + (o + p) % 7))
                rows.append((o, 100 + (o + p) % 7))  # duplicate lines
        return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")

    def _entry(self, spark, li, tmp_path, monkeypatch):
        from broker_spark.plans import catalog

        p = str(tmp_path / "mb")
        li.write.mode("overwrite").parquet(f"{p}/lineitem.parquet")
        monkeypatch.setattr(
            catalog,
            "load",
            lambda spark_, sf, name: spark.read.parquet(f"{p}/{name}.parquet"),
        )
        return catalog.CATALOG["orders_market_basket"].fn(spark, p)

    def test_explicit_core_width_exchange(self, spark, tmp_path, monkeypatch):
        df = self._entry(spark, self._li(spark), tmp_path, monkeypatch)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = spark.sparkContext.defaultParallelism
        assert "hashpartitioning(l_orderkey#" in plan
        assert f", {n}), REPARTITION_BY_NUM" in plan

    def test_values_match_self_join_recompute(self, spark, tmp_path, monkeypatch):
        li = self._li(spark)
        got = [
            (r["part_a"], r["part_b"], r["n_orders"])
            for r in self._entry(spark, li, tmp_path, monkeypatch).collect()
        ]
        op = {(o, p) for o, p in li.collect()}
        from collections import Counter

        c = Counter()
        for o1, p1 in op:
            for o2, p2 in op:
                if o1 == o2 and p1 < p2:
                    c[(p1, p2)] += 1
        expected = sorted(
            ((a, b, n) for (a, b), n in c.items() if n >= 2),
            key=lambda t: (-t[2], t[0], t[1]),
        )[:20]
        assert got == expected


class TestQ21SingleAggRewrite:
    """q21_sole_returner (round-13): the correlated EXISTS / NOT EXISTS
    pair is rewritten as ONE per-order min/max aggregate (>= 2 distinct
    suppliers <=> min != max; exactly one distinct R-supplier <=> the
    R-conditional min and max coincide non-null) semi-joined back to the
    R-lines — 3 lineitem passes -> 2, two orderkey self-joins -> one
    aggregate join.  Pin the rewrite against a brute-force recompute of
    the original semi/anti semantics on a fixture that exercises every
    branch: sole-R multi-supplier (qualifies, with row multiplicity),
    single-supplier (EXISTS fails), two R-suppliers (NOT EXISTS fails),
    non-final order status, and a filtered-out nation."""

    def test_matches_bruteforce_semantics(self, spark, tmp_path, monkeypatch):
        from broker_spark.plans import catalog

        li_rows = [
            # (orderkey, suppkey, returnflag)
            (1, 1, "R"), (1, 2, "N"),              # qualifies: supp 1
            (2, 1, "R"),                            # single supplier: no
            (3, 1, "R"), (3, 2, "R"),              # two R-suppliers: no
            (4, 2, "R"), (4, 2, "R"), (4, 3, "N"),  # supp 2, TWO l1 rows
            (5, 1, "R"), (5, 2, "N"),              # order not 'F': no
            (6, 4, "R"), (6, 1, "N"),              # supp 4 nation out
        ]
        o_rows = [(k, "F" if k != 5 else "O") for k in range(1, 7)]
        # nation 9 is outside NATION_0..4: supplier 4 sits in a
        # filtered-out nation explicitly
        s_rows = [(1, "Supplier#1", 0), (2, "Supplier#2", 1),
                  (3, "Supplier#3", 2), (4, "Supplier#4", 9)]
        n_rows = [(i, f"NATION_{i}") for i in range(5)] + [(9, "NATION_9")]

        p = str(tmp_path / "q21")
        spark.createDataFrame(
            li_rows, "l_orderkey long, l_suppkey long, l_returnflag string"
        ).write.parquet(f"{p}/lineitem.parquet")
        spark.createDataFrame(
            o_rows, "o_orderkey long, o_orderstatus string"
        ).write.parquet(f"{p}/orders.parquet")
        spark.createDataFrame(
            s_rows, "s_suppkey long, s_name string, s_nationkey long"
        ).write.parquet(f"{p}/supplier.parquet")
        spark.createDataFrame(
            n_rows, "n_nationkey long, n_name string"
        ).write.parquet(f"{p}/nation.parquet")
        monkeypatch.setattr(
            catalog,
            "load",
            lambda spark_, sf, name: spark.read.parquet(f"{p}/{name}.parquet"),
        )
        got = sorted(
            (r["s_name"], r["numwait"])
            for r in catalog.CATALOG["q21_sole_returner"].fn(spark, p).collect()
        )

        # brute-force original semantics
        final_orders = {k for k, st in o_rows if st == "F"}
        nations_in = {i for i in range(5)}
        supp = {k: (nm, nk) for k, nm, nk in s_rows}
        from collections import Counter

        c = Counter()
        for o, s1, rf in li_rows:
            if rf != "R" or o not in final_orders:
                continue
            nm, nk = supp[s1]
            if nk not in nations_in:
                continue
            exists = any(ok == o and sk != s1 for ok, sk, _ in li_rows)
            not_exists = not any(
                ok == o and sk != s1 and rf2 == "R" for ok, sk, rf2 in li_rows
            )
            if exists and not_exists:
                c[nm] += 1
        assert got == sorted(c.items())
