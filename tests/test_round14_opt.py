"""Round-14 optimization pins: the scale-adaptive core-width guard
(ADVICE r13 — the r13 explicit repartitions on q17/q18/q21/market-basket
and the brute-force cosine scorers must fire at fixture scale but skip
once the input scan is already wide)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from broker_spark.tables import _size_bytes, est_scan_splits


class TestSizeBytes:
    def test_suffixes(self):
        assert _size_bytes("128m") == 128 * 1024**2
        assert _size_bytes("4mb") == 4 * 1024**2
        assert _size_bytes("1g") == 1024**3
        assert _size_bytes("16k") == 16 * 1024
        assert _size_bytes("134217728") == 134217728
        assert _size_bytes("512b") == 512


class TestEstScanSplits:
    def test_in_memory_frame_is_narrow(self, spark):
        df = spark.range(10).select(F.col("id").alias("k"))
        assert est_scan_splits(df) == 1

    def test_small_file_is_one_split(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        spark.range(100).write.parquet(p)
        assert est_scan_splits(spark.read.parquet(p)) == 1

    def test_wide_scan_detected(self, spark, tmp_path):
        """Lowering maxPartitionBytes makes the same file 'wide': the
        estimate is pure driver-side arithmetic over conf + file sizes,
        so no query runs."""
        p = str(tmp_path / "wide.parquet")
        spark.range(50_000).write.parquet(p)
        df = spark.read.parquet(p)
        old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
        old_open = spark.conf.get(
            "spark.sql.files.openCostInBytes", "4194304"
        )
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
            spark.conf.set("spark.sql.files.openCostInBytes", "0")
            wide = est_scan_splits(df)
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
            spark.conf.set("spark.sql.files.openCostInBytes", old_open)
        assert wide >= spark.sparkContext.defaultParallelism
        assert est_scan_splits(df) == 1  # restored conf: narrow again


def _py_dot(a, b):
    """Left-to-right double fold; NULL on a NULL side or element, or on
    unequal lengths (zip_with pads the shorter side with NULL)."""
    if a is None or b is None or len(a) != len(b) or None in a + b:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _py_norm(a):
    if a is None or None in a:
        return None
    acc = 0.0
    for x in a:
        acc += x * x
    return math.sqrt(acc)


def _py_cosine(a, b):
    d, na, nb = _py_dot(a, b), _py_norm(a), _py_norm(b)
    if d is None or na is None or nb is None or na * nb == 0.0:
        return None
    return d / (na * nb)


def _py_shingles(text, k):
    if text is None:
        return []
    w = text.split(" ")
    return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]


def _py_minhash(text, j, k=3):
    digests = [
        hashlib.md5(s.encode("utf-8")).hexdigest() for s in _py_shingles(text, k)
    ]
    return min((d[8 * j : 8 * j + 8] for d in digests), default=None)


class TestExprConstructionEquivalence:
    """The single-parse expression helpers (one F.expr per expression,
    not ~30-60 ms of Py4J round-trips of higher-order-function
    construction), each pinned against a plain-Python reference on
    hostile inputs."""

    def test_cosine_dot_norm(self, spark):
        from broker_spark.pipeline.ann import cosine, dot_sql, norm_sql

        rows = [
            ([0.1 * i, -0.5, 2.5, 0.0], [1.0, 0.25 * i, -2.0, 3.5])
            for i in range(1, 20)
        ] + [
            ([0.0, 0.0], [1.0, 2.0]),  # zero vector: cosine NULL
            ([0.0, 0.0], [0.0, 0.0]),
            ([], []),  # empty: dot 0, cosine NULL
            ([1.0, 2.0], [1.0, 2.0, 3.0]),  # unequal lengths: dot NULL
            (None, [1.0, 2.0]),
            ([1e-200, 3.0], [2.0, None]),  # NULL element: all NULL but norm(a)
        ]
        df = spark.createDataFrame(rows, "a array<double>, b array<double>")
        got = df.select(
            "a",
            "b",
            cosine("a", "b").alias("c"),
            F.expr(dot_sql("a", "b")).alias("d"),
            F.expr(norm_sql("a")).alias("n"),
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            a, b = r["a"], r["b"]
            assert r["d"] == _py_dot(a, b), (a, b)
            assert r["n"] == _py_norm(a), a
            assert r["c"] == _py_cosine(a, b), (a, b)

    def test_cosine_over_slices(self, spark):
        from broker_spark.pipeline.ann import cosine

        rows = [([0.5 * i, -1.0, 2.0, 0.25, -0.75, 1.5, 0.0, 3.0],) for i in range(12)]
        rows.append(([0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0],))
        df = spark.createDataFrame(rows, "v array<double>")
        for d in (2, 4, 8, 16):
            got = df.select(
                "v", cosine(f"slice(v, 1, {d})", f"slice(v, 1, {d})").alias("c")
            ).collect()
            for r in got:
                assert r["c"] == _py_cosine(r["v"][:d], r["v"][:d]), (d, r["v"])

    def test_word_shingles_and_minhash(self, spark):
        from broker_spark.pipeline.dedup import minhash_signature, word_shingles

        texts = [
            None,
            "",
            "one",
            "one two",
            "one two three",
            "a b c d e f g h i j",
            "runs  of   spaces ",
            " leading and trailing ",
            "répé titioñ unicode 😀 words here",
            "x " * 200,
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        for k in (2, 3, 5):
            got = df.select("text", word_shingles("text", k).alias("s")).collect()
            for r in got:
                assert r["s"] == _py_shingles(r["text"], k), (k, r["text"])
        got = df.select("text", *minhash_signature("text")).collect()
        for r in got:
            for j in range(4):
                assert r[f"mh{j}"] == _py_minhash(r["text"], j), (j, r["text"])

    def test_zero_vector_scores_null(self, spark):
        """A zero embedding is legal input: it scores NULL (as in the
        DuckDB oracle) instead of raising DIVIDE_BY_ZERO, and the other
        candidates still rank, NULL last."""
        from broker_spark.pipeline.ann import brute_force_topk

        vecs = {
            0: [1.0, 0.5, -0.25],
            1: [0.5, 1.0, 0.0],
            2: [0.0, 0.0, 0.0],
            3: [-1.0, 0.25, 2.0],
            4: [2.0, 1.0, -0.5],
        }
        df = spark.createDataFrame(
            sorted(vecs.items()), "vec_id long, embedding array<double>"
        )
        got = sorted(
            tuple(r)
            for r in brute_force_topk(
                df, df.filter(F.col("vec_id").isin(0, 2)), k=5
            ).collect()
        )
        want = []
        for q in (0, 2):
            scored = sorted(
                ((_py_cosine(vecs[q], v), c) for c, v in vecs.items() if c != q),
                key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]),
            )
            for rank, (s, c) in enumerate(scored, 1):
                want.append((q, c, rank, None if s is None else round(s, 6)))
        assert got == sorted(want)
        assert (0, 2, 4, None) in got

    @pytest.mark.parametrize("vec_col", ["my vec", "vec-1"])
    def test_rp_lsh_quotes_vec_col(self, spark, vec_col):
        """rp_lsh_topk takes a column NAME: one needing quotes in SQL must
        give the same top-k as a plain one."""
        from broker_spark.pipeline.ann import rp_lsh_topk

        planes = [[[1.0, -1.0, 1.0], [-1.0, 1.0, 1.0]]]
        rows = [(i, [0.3 * i - 1.0, -0.5 * i + 0.2, 1.0]) for i in range(12)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        odd = df.withColumnRenamed("embedding", vec_col)

        def topk(frame, col):
            q = frame.filter(F.col("vec_id") < 3)
            return sorted(
                tuple(r) for r in rp_lsh_topk(frame, q, planes, k=3, vec_col=col).collect()
            )

        assert topk(odd, vec_col) == topk(df, "embedding")

    def test_rp_lsh_bucket_matches_python_tree(self, spark):
        """The expr-built sign-LSH bucket must equal the Python HOF tree
        it replaced (rebuilt inline here as the reference)."""
        from broker_spark.pipeline.ann import lit_matrix, rp_lsh_topk

        planes = [
            [[1.0, -1.0, 1.0], [-1.0, 1.0, 1.0]],
            [[1.0, 1.0, -1.0], [-1.0, -1.0, -1.0]],
        ]
        rows = [(i, [0.3 * i - 1.0, -0.5 * i + 0.2, 1.0 * ((-1) ** i)]) for i in range(24)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        def py_bucket(vec, table):
            mat = lit_matrix(planes[table])
            nplanes, dim = len(planes[table]), len(planes[table][0])
            dots = F.aggregate(
                F.sequence(F.lit(1), F.lit(dim)),
                F.array_repeat(F.lit(0.0), nplanes),
                lambda acc, i: F.zip_with(
                    acc,
                    F.transform(
                        mat,
                        lambda prow: F.element_at(prow, i)
                        * F.element_at(vec, i).cast("double"),
                    ),
                    lambda a, b: a + b,
                ),
            )
            return F.array_join(
                F.transform(dots, lambda d: F.when(d >= 0, "1").otherwise("0")), ""
            )

        ref = df.select(
            "vec_id",
            *[py_bucket(F.col("embedding"), t).alias(f"b{t}") for t in range(2)],
        ).collect()
        # the operator's expr route, observed through its candidate set:
        # identical buckets <=> identical top-k result
        got = sorted(
            (r["query_id"], r["cand_id"], r["rank"], r["cosine"])
            for r in rp_lsh_topk(df, df.filter(F.col("vec_id") < 4), planes, k=3).collect()
        )
        # reference recompute of the same top-k from the python buckets
        import itertools

        by_table = {}
        for r in ref:
            for t in range(2):
                by_table.setdefault((t, r[f"b{t}"]), []).append(r["vec_id"])
        cands = set()
        qids = [r["vec_id"] for r in ref if r["vec_id"] < 4]
        for (t, b), ids in by_table.items():
            for q, c in itertools.permutations(ids, 2):
                if q in qids and q != c:
                    cands.add((q, c))
        vecs = {r[0]: r[1] for r in rows}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = sum(x * x for x in a) ** 0.5
            nb = sum(x * x for x in b) ** 0.5
            return d / (na * nb)

        want = []
        for q in qids:
            scored = sorted(
                ((cos(vecs[q], vecs[c]), c) for (qq, c) in cands if qq == q),
                key=lambda t: (-t[0], t[1]),
            )[:3]
            for rank, (s, c) in enumerate(scored, 1):
                want.append((q, c, rank, round(s, 6)))
        assert got == sorted(want)


class TestTextExprEquivalence:
    """The r14 expr-construction conversion of text.py's hot projections:
    each new single-parse expression must equal the Python-built tree it
    replaced, reproduced here as the reference."""

    DOCS = [
        (1, "", "s1"),
        (2, "the", "s1"),
        (3, "the a of and to in is xyz!!!", "s2"),
        (4, "word " * 150, "s2"),
        (5, "a! b? c. d, e; f:", "s3"),
        (6, "über naïve café — emoji 😀 text", "s3"),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(
            self.DOCS, "doc_id long, text string, source string"
        )

    def test_quality_classifier_score(self, spark):
        from broker_spark.pipeline.text import (
            QC_BIAS,
            QC_WEIGHTS,
            STOPWORDS,
            punct_len,
            quality_classifier_score,
            words_col,
        )

        docs = self._docs(spark)
        all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
        words = words_col(F.col("text"))
        n_tokens = F.size(words).cast("double")
        n_len = F.length(F.col("text")).cast("double")
        n_len_d = F.greatest(n_len, F.lit(1.0))
        n_tok_d = F.greatest(n_tokens, F.lit(1.0))
        punct_ratio = punct_len(F.col("text")).cast("double") / n_len_d
        f_len = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        f_alpha = F.lit(1.0) - punct_ratio
        n_stop = F.size(F.filter(words, lambda x: x.isin(all_stop))).cast("double")
        f_stop = n_stop / n_tok_d
        mean_wordlen = (n_len - (n_tokens - F.lit(1.0))) / n_tok_d
        f_wordlen = F.least(mean_wordlen / F.lit(10.0), F.lit(1.0))
        logit = (
            F.lit(QC_WEIGHTS["f_len"]) * f_len
            + F.lit(QC_WEIGHTS["f_alpha"]) * f_alpha
            + F.lit(QC_WEIGHTS["f_stop"]) * f_stop
            + F.lit(QC_WEIGHTS["f_wordlen"]) * f_wordlen
            + F.lit(QC_BIAS)
        )
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
        ref = docs.select(
            "doc_id",
            F.round(f_len, 6).alias("f_len"),
            F.round(f_stop, 6).alias("f_stop"),
            F.round(score, 6).alias("quality_prob"),
            (score >= F.lit(0.5)).alias("keep"),
        ).collect()
        got = quality_classifier_score(docs).collect()
        assert sorted(got) == sorted(ref)

    def test_stopword_hits(self, spark):
        from broker_spark.pipeline.text import (
            LANG_PRIORITY,
            STOPWORDS,
            _stopword_hits_sql,
        )

        docs = self._docs(spark).union(
            spark.createDataFrame(
                [(8, None, "s5"), (9, "the  the of  ", "s5")],
                "doc_id long, text string, source string",
            )
        )
        for lang in LANG_PRIORITY:
            got = docs.select(
                "text",
                F.expr(_stopword_hits_sql("split(text, ' ')", lang)).alias("s"),
            ).collect()
            for r in got:
                want = (
                    None
                    if r["text"] is None
                    else sum(w in STOPWORDS[lang] for w in r["text"].split(" "))
                )
                assert r["s"] == want, (lang, r["text"])

    def test_repetition_bigram_and_passages(self, spark):
        from broker_spark.pipeline.text import (
            PASSAGE_WORDS,
            passage_dedup_stats,
            repetition_stats,
            words_col,
        )

        docs = self._docs(spark).union(
            spark.createDataFrame(
                [(7, "dup dup dup dup " * 40, "s4")],
                "doc_id long, text string, source string",
            )
        )
        words = words_col(F.col("text"))

        def _bigram_arr(w):
            n = F.size(w)
            return F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(w, i), F.element_at(w, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))

        ref_bg = docs.select(
            "doc_id",
            F.element_at(F.transform(F.array(words), _bigram_arr), 1).alias("bg"),
        ).collect()
        from broker_spark.pipeline import text as text_mod

        got_bg = docs.select(
            "doc_id",
            F.expr(
                "element_at(transform(array(split(text, ' ')), w -> "
                "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
                "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1))) "
                "ELSE CAST(array() AS array<string>) END), 1)"
            ).alias("bg"),
        ).collect()
        assert sorted(ref_bg) == sorted(got_bg)

        n_blocks = F.ceil(F.size(words) / F.lit(PASSAGE_WORDS)).cast("int")
        ref_ps = docs.select(
            "doc_id",
            F.when(
                F.size(words) > 0,
                F.transform(
                    F.sequence(F.lit(0), n_blocks - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(words, i * PASSAGE_WORDS + 1, PASSAGE_WORDS)
                    ),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("ps"),
        ).collect()
        pw = int(PASSAGE_WORDS)
        got_ps = docs.select(
            "doc_id",
            F.expr(
                f"CASE WHEN size(split(text, ' ')) > 0 THEN "
                f"transform(sequence(0, CAST(ceil(size(split(text, ' ')) / {pw}) AS INT) - 1), "
                f"i -> concat_ws(' ', slice(split(text, ' '), i * {pw} + 1, {pw}))) "
                f"ELSE CAST(array() AS array<string>) END"
            ).alias("ps"),
        ).collect()
        assert sorted(ref_ps) == sorted(got_ps)
        # and the full operators still produce sane decision tables
        assert repetition_stats(docs).count() == 7
        assert passage_dedup_stats(docs).count() == 7


class TestTrailingIntervalRewrite:
    """r14: trailing_distinct_users_interval's single-aggregation form
    (collect_set + one in-row HOF emitting interval deltas AND probe
    rows) must equal a brute-force per-bucket distinct count."""

    def test_matches_bruteforce(self, spark):
        import datetime as dt

        from broker_spark.operators.rollup import trailing_distinct_users_interval

        W = 24
        # crafted hours: duplicates, exact-gap-23 chain, gap-24 split,
        # singleton, cross-user overlaps
        user_hours = {
            1: [0, 0, 5, 28, 52],        # chains: 0..5 gap 23 merges? 5-0=5<=23 chain; 28-5=23 chain; 52-28=24 split
            2: [10],
            3: [0, 24, 48],              # consecutive gap-24 splits
            4: [100, 101, 102],
        }
        rows = []
        eid = 0
        for u, hs in user_hours.items():
            for h in hs:
                rows.append(
                    (eid, u, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h))
                )
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
        got = {
            r["bucket"]: r["n_users"]
            for r in trailing_distinct_users_interval(df, window_hours=W).collect()
        }
        base_h = int(
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() // 3600
        )
        active = sorted({base_h + h for hs in user_hours.values() for h in hs})
        want = {}
        for b in active:
            n = sum(
                1
                for u, hs in user_hours.items()
                if any(b - (W - 1) <= base_h + h <= b for h in hs)
            )
            want[b] = n
        assert got == want


class TestWidthGuard:
    def test_reduce_width_fires_when_narrow(self, spark):
        from broker_spark.plans.catalog import _reduce_width

        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        out = _reduce_width(df, spark, "k")
        assert "RepartitionByExpression" in out._jdf.queryExecution().logical().toString()
        # values unchanged
        assert sorted(r["k"] for r in out.collect()) == list(range(100))

    def test_reduce_width_skips_when_wide(self, spark, tmp_path):
        from broker_spark.plans.catalog import _reduce_width

        p = str(tmp_path / "w.parquet")
        spark.range(50_000).write.parquet(p)
        df = spark.read.parquet(p)
        old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
        old_open = spark.conf.get(
            "spark.sql.files.openCostInBytes", "4194304"
        )
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
            spark.conf.set("spark.sql.files.openCostInBytes", "0")
            out = _reduce_width(df, spark, "id")
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
            spark.conf.set("spark.sql.files.openCostInBytes", old_open)
        assert out is df  # wide scan: partial-agg path kept, no shuffle added

    def test_core_width_guard_same_rule(self, spark, tmp_path):
        from broker_spark.pipeline.ann import _core_width

        narrow = spark.range(10).select(
            F.col("id").alias("cand_id"), F.array(F.lit(1.0)).alias("v")
        )
        assert (
            "RepartitionByExpression"
            in _core_width(narrow, "cand_id")
            ._jdf.queryExecution()
            .logical()
            .toString()
        )
        p = str(tmp_path / "c.parquet")
        spark.range(50_000).write.parquet(p)
        df = spark.read.parquet(p).select(F.col("id").alias("cand_id"))
        old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
        old_open = spark.conf.get(
            "spark.sql.files.openCostInBytes", "4194304"
        )
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
            spark.conf.set("spark.sql.files.openCostInBytes", "0")
            assert _core_width(df, "cand_id") is df
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
            spark.conf.set("spark.sql.files.openCostInBytes", old_open)
