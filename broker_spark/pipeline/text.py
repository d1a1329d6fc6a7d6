"""Text-analysis operators for training-data pipelines over `documents`.

All hot-path expressions are JVM built-ins (split/transform/filter/
aggregate/regexp) — no Python UDFs — so they stay inside whole-stage
codegen and scale linearly with executors.  Shapes chosen to be
oracle-checkable: every function here has a DuckDB-equivalent SQL in
broker_spark.plans.catalog.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from broker_spark.pinning import pin, pin_iter
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately small and deterministic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "fr": ["le", "la", "de", "et", "est", "un", "une"],
}

LANG_PRIORITY = ["de", "en", "es", "fr"]  # deterministic tie-break: name asc


def words_col(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    """Whitespace token count (the reference never tokenizes — this is the
    training-pipeline extension surface)."""
    return F.size(words_col(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish proxy: count of word + punctuation + digit-run tokens."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0))


def punct_len(text: Column) -> Column:
    """Number of non-alphanumeric, non-space characters."""
    return F.length(F.regexp_replace(text, r"[a-zA-Z0-9 ]", ""))


def quality_features(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """Per-document quality features: lengths, token stats, punctuation
    ratio, and a [0,1] quality score (length/punct heuristics).

    `carry` appends extra columns/expressions of `docs` to the output —
    a pure projection, so callers that need features PLUS source columns
    take them in the same scan instead of re-joining this frame back to
    `docs` on doc_id (guide §2.4: that join was a second corpus scan +
    an exchange that a projection never needed; doc_id is unique, so the
    join was 1:1 and the fused projection is row-identical)."""
    text = F.col("text")
    n_tokens = token_count(text)
    n_len = F.length(text)
    punct = punct_len(text)
    punct_ratio = punct.cast("double") / n_len.cast("double")
    quality = F.round(
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
        + (F.lit(1.0) - punct_ratio) * F.lit(0.5),
        6,
    )
    return docs.select(
        "doc_id",
        n_len.alias("n_len"),
        n_tokens.alias("n_tokens"),
        bpe_ish_token_count(text).alias("n_bpe_tokens"),
        punct.alias("n_punct"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        quality.alias("quality_score"),
        *carry,
    )


def token_stats(docs: DataFrame, group_col: str = "lang") -> DataFrame:
    """Corpus token statistics per group (training-data sizing: how many
    whitespace/BPE-ish tokens per language).  One hash-agg shuffle with
    map-side partials — the per-doc token counting never leaves the scan."""
    text = F.col("text")
    return docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text).cast("long")).alias("total_tokens"),
        F.sum(bpe_ish_token_count(text).cast("long")).alias("total_bpe_tokens"),
        F.round(
            F.sum(token_count(text).cast("long")) / F.count(F.lit(1)), 6
        ).alias("avg_tokens"),
    )


def hash_sample(docs: DataFrame, threshold: int = 6554, id_col: str = "doc_id") -> DataFrame:
    """Deterministic corpus sampling: keep rows whose md5(id) prefix (first
    4 hex chars as an int in [0, 65536)) falls under `threshold` — 6554 is
    ~10%.  Hash-based sampling is reproducible across runs/engines and
    stratifies uniformly regardless of id distribution; it's the standard
    way to cut a training-mix subset that's stable under re-runs."""
    return docs.withColumn("sample_bucket", hash_bucket(F.col(id_col))).filter(
        F.col("sample_bucket") < threshold
    )


#: md5-prefix uniform: 12 hex chars = 48 bits of the digest.
_U48_DENOM = float(1 << 48)


def weighted_draw_key(id_col: Column, weight: Column) -> Column:
    """Deterministic weighted-sampling key u^(1/w) (Efraimidis-Spirakis
    A-ES): u is a md5-derived uniform in (0, 1], w the row's weight.
    Taking the k LARGEST keys draws a weighted sample without
    replacement — inclusion probability proportional to w — yet the draw
    is a pure function of the row id: reproducible across runs, engines,
    and partitionings (unlike rand()-based weighted sampling).
    Weights are floored at 1 so degenerate rows stay total."""
    u = (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 12), 16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(_U48_DENOM)
    return F.pow(u, F.lit(1.0) / F.greatest(weight.cast("double"), F.lit(1.0)))


def weighted_sample(
    docs: DataFrame,
    k: int = 20,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Top-k by the A-ES key: a deterministic weighted sample (longer /
    higher-quality docs proportionally likelier), the quality-weighted
    counterpart of `hash_sample`.  orderBy().limit(k) plans as
    TakeOrderedAndProject — each partition keeps its local top-k, the
    driver merges k rows per partition; no global sort, no single-task
    window, scale-safe at any corpus size."""
    keyed = docs.withColumn(
        "draw_key", weighted_draw_key(F.col(id_col), F.col(weight_col))
    )
    top = keyed.orderBy(F.desc("draw_key"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("draw_key"), F.asc(id_col))
    return top.select(
        id_col,
        *keep_cols,
        weight_col,
        F.round("draw_key", 6).alias("draw_key"),
        F.row_number().over(w).alias("draw_rank"),
    )


def stratified_sample(
    docs: DataFrame, k: int = 10, group_col: str = "lang", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic stratified sample: exactly k rows per group, chosen by
    md5(id) order — a reproducible 'random' draw (hash order is uniform
    but stable across runs/engines), the per-stratum counterpart of
    hash_sample.  One window shuffle on the group key."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        docs.select(id_col, group_col)
        .withColumn("draw_rank", F.row_number().over(w))
        .filter(F.col("draw_rank") <= k)
    )


def unigram_logprob_score(docs: DataFrame) -> DataFrame:
    """Per-document mean negative log-probability under an add-one-smoothed
    unigram model trained on the corpus itself — the cheap stand-in for
    KenLM-style perplexity filtering (high score = improbable tokens =
    likely junk; low = repetitive boilerplate).

    score(d) = -(1/|d|) * sum_t ln((tf(t) + 1) / (N + V))
    with tf = corpus token frequency, N = total tokens, V = vocab size.

    Shape: one explode + a term-key agg for the model, then a term-key
    join back and a per-doc agg — the model table is the only medium side
    and would be bucketed on term at corpus scale."""
    terms = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("term"))
    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    totals = terms.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("term").alias("vocab"),
    )
    scored = (
        terms.join(tf, "term")
        .crossJoin(broadcast(totals))
        .withColumn(
            "nll",
            -F.log(
                (F.col("tf") + 1).cast("double")
                / (F.col("n_total") + F.col("vocab")).cast("double")
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("mean_nll"),
    )


def corpus_histogram(docs: DataFrame, bucket_chars: int = 200) -> DataFrame:
    """Training-mix accounting: docs / tokens / mean quality per
    (language, length-bucket) cell — the table a data-mixture design reads.
    One hash-agg shuffle; all token math stays in the scan stage."""
    text = F.col("text")
    feats = quality_features(docs, carry=(F.col("lang"),))
    return feats.groupBy(
        "lang",
        F.floor(F.col("n_len") / bucket_chars).cast("long").alias("len_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters: per-document duplicate-word
    fraction, most-frequent-unigram fraction, and most-frequent-bigram
    fraction — the standard boilerplate / degenerate-text signals a
    training-data pipeline thresholds on (Rae et al. 2021, §A1.1).

    Shape: explode words once, hash-agg on (doc_id, term) then (doc_id)
    with map-side partials; bigrams are built as an in-row array transform
    (O(n) concat per row) and take the same two-level agg.  Both paths
    shuffle only on doc_id — scale-safe, no global state."""
    words = words_col(F.col("text"))
    terms = docs.select("doc_id", F.explode(words).alias("term"))
    unic = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    us = unic.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_tf"),
    )
    # bind the split once (outer lambda variable): no CSE inside lambda
    # bodies, so referencing `words` directly re-splits per bigram.
    # Built as ONE F.expr parse — the identical analyzed tree cost ~100
    # Py4J round-trips through the HOF builders (r14 construction
    # recipe; value identity pinned by tests/test_round14_opt.py).
    bigram_arr = F.expr(
        "element_at(transform(array(split(text, ' ')), w -> "
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1))) "
        "ELSE CAST(array() AS array<string>) END), 1)"
    )
    bigrams = docs.select("doc_id", F.explode(bigram_arr).alias("bg"))
    bgc = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bs = bgc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("max_bg")
    )
    return (
        us.join(bs, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens"), 6
            ).alias("dup_word_frac"),
            F.round(F.col("max_tf") / F.col("n_tokens"), 6).alias(
                "top_unigram_frac"
            ),
            F.round(
                F.coalesce(F.col("max_bg") / F.col("n_bigrams"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
        )
    )


def pack_sequences(docs: DataFrame, budget: int = 256) -> DataFrame:
    """Sequence packing for training: assign documents to fixed token-budget
    packs by running token count, contiguous within (lang, doc_id order).
    `pack_id` = floor(tokens-before / budget); `pack_offset` = position of
    the doc's first token inside its pack.  Deterministic — the same corpus
    always packs identically, so shard manifests are reproducible.

    Shape: one window cumsum partitioned by lang.  At 100 TB a per-lang
    window serializes each language onto one task; shard first by a
    hash-bucket column (e.g. md5(doc_id) % n_shards) and pack within
    (lang, shard) — identical plan, partition key widened."""
    n_tokens = token_count(F.col("text")).cast("long")
    sel = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    sel = sel.withColumn("cum_before", cum_before)
    pack = F.floor(F.col("cum_before") / budget).cast("long")
    return sel.select(
        "doc_id",
        "lang",
        "n_tokens",
        pack.alias("pack_id"),
        (F.col("cum_before") - pack * budget).cast("long").alias("pack_offset"),
    )


def decontamination_overlap(
    docs: DataFrame, threshold: int = 3277, shingle: int = 3
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    k-gram shingles with a held-out benchmark set (here: the ~5%
    md5-bucket sample standing in for an eval set).  The standard
    n-gram-overlap test-set contamination check (GPT-3 appx C shape).

    Shape: benchmark shingle set is distinct + broadcast (eval sets are
    small by construction); the corpus side explodes distinct shingles and
    left-joins on the shingle key, then one doc_id agg.  Corpus side never
    self-joins — cost is linear in corpus shingles."""
    from broker_spark.pipeline.dedup import word_shingles

    base = docs.withColumn("bucket", hash_bucket(F.col("doc_id")))
    sh = F.array_distinct(word_shingles("text", shingle))
    bench_sh = (
        base.filter(F.col("bucket") < threshold)
        .select(F.explode(sh).alias("sh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus_sh = base.filter(F.col("bucket") >= threshold).select(
        "doc_id", F.explode(sh).alias("sh")
    )
    joined = corpus_sh.join(broadcast(bench_sh), "sh", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("contamination_frac"),
        (F.sum(F.coalesce(F.col("hit"), F.lit(0))) > 0).alias("contaminated"),
    )


def chunk_documents(
    docs: DataFrame, chunk: int = 32, stride: int = 24
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap
    (chunk=32, stride=24 → 8-token overlap) — the context-window chunking
    step of a training/RAG pipeline.  Deterministic: chunk_id is derived
    from the window start, so re-runs shard identically.

    Shape: per-row `sequence(1, n, stride)` + one explode; the slice and
    join stay in the scan stage — no shuffle at all (narrow op), so it
    scales embarrassingly at 100 TB."""
    words = words_col(F.col("text"))
    n = F.size(words)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    ex = docs.select(
        "doc_id", words.alias("w"), F.explode(starts).alias("start")
    )
    piece = F.slice(F.col("w"), F.col("start"), chunk)
    return ex.select(
        "doc_id",
        F.floor((F.col("start") - 1) / stride).cast("long").alias("chunk_id"),
        F.col("start").cast("int").alias("start_token"),
        F.size(piece).cast("int").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def source_dedup_stats(docs: DataFrame) -> DataFrame:
    """Per-source duplication accounting: documents, distinct texts (by
    md5), duplicate rate, and token volume per `source` — the table that
    decides which crawl/source needs aggressive dedup in the mix.
    One hash-agg shuffle on source; md5 stays in the scan stage."""
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).cast("long").alias("n_unique_texts"),
        F.round(
            F.lit(1.0) - F.countDistinct(F.md5(F.col("text"))) / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
        F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
    )


#: PII patterns kept to the regex subset Java (Spark) and RE2 (engines
#: like DuckDB) implement identically: character classes, bounded
#: repetition, \b word boundaries — no lookarounds, no backrefs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}",
}
PII_ORDER = ["email", "ipv4", "phone"]  # email first: it may contain digits/dots


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: count and redact emails, IPv4
    addresses, and phone numbers, replacing each match with a typed token
    ([EMAIL]/[IP]/[PHONE]).  Pure regexp built-ins — counting and
    replacement both stay in the scan stage (no shuffle, no Python), so
    the operator is embarrassingly parallel at 100 TB.

    Redaction order is fixed (email, ip, phone) so overlapping matches
    resolve deterministically across engines."""
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(PII_PATTERNS[k])).cast("long").alias(f"n_{k}")
        for k in PII_ORDER
    ]
    red = text
    for k in PII_ORDER:
        red = F.regexp_replace(red, PII_PATTERNS[k], f"[{k.upper()}]")
    return df.select(
        *[c for c in df.columns if c != text_col],
        *counts,
        red.alias("redacted_text"),
    )


#: md5-bucket thresholds out of 65536: 90% train / 5% val / 5% test.
SPLIT_TRAIN_MAX = 58982
SPLIT_VAL_MAX = 62259


def hash_bucket(col: Column) -> Column:
    """md5-prefix bucket in [0, 65536): the deterministic basis shared by
    hash sampling, decontamination-sample selection, and the
    train/val/test split — one definition so the boundaries can never
    drift apart between operators."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("int")


def split_col(id_col: str = "doc_id") -> Column:
    """The canonical train/val/test CASE over `hash_bucket` — every
    operator that reasons about splits must use THIS column so they all
    audit the same assignment."""
    bucket = hash_bucket(F.col(id_col))
    return (
        F.when(bucket < SPLIT_TRAIN_MAX, F.lit("train"))
        .when(bucket < SPLIT_VAL_MAX, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_assignment(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment by md5(id) bucket
    (90/5/5) — the reproducible split every training pipeline needs:
    stable across runs, engines, and corpus growth (a document's split
    never changes when other documents are added).

    Returns per (lang, split) accounting.  The split expression is a pure
    column (md5 prefix -> int bucket -> CASE), evaluated in the scan."""
    split = split_col(id_col)
    return docs.groupBy(F.col("lang"), split.alias("split")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
    )


def _stopword_hits_sql(words: str, lang: str) -> str:
    """SQL fragment: how many elements of the string array `words` (a SQL
    fragment) are `lang` stopwords.  One F.expr parse instead of ~25 Py4J
    round-trips per language through Column functions (r14
    construction recipe; pinned against a plain-Python count by
    tests/test_round14_opt.py)."""
    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter({words}, w -> array_contains(array({arr}), w)))"


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language ID: score per language = number of word tokens
    found in that language's stopword list; argmax with name-ascending
    tie-break; 'und' (undetermined) when all scores are 0."""
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            F.expr(_stopword_hits_sql("split(text, ' ')", lang)).alias(
                f"score_{lang}"
            )
            for lang in LANG_PRIORITY
        ],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_PRIORITY])
    pred = F.lit("und")
    for lang in reversed(LANG_PRIORITY):  # earlier name wins ties
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scored.withColumn("predicted_lang", pred)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every character k-gram,
    keep the minimum hash of each sliding window of `window` consecutive
    k-grams, emit the distinct minima per document.

    The standard local-fingerprinting algorithm (Schleimer/Wilkerson/Aiken
    winnowing): guarantees a shared fingerprint for any sufficiently long
    shared substring, at ~1/window the storage of all k-gram hashes.  Pure
    column expressions — k-gram extraction and window minima are array
    ops inside the scan, one shuffle only if the caller aggregates.
    """
    text = F.col("text")
    n = F.length(text)
    starts = F.when(
        n >= k, F.sequence(F.lit(1), n - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(starts, lambda i: text.substr(i, F.lit(k)))
    hashes = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 8))

    # bind the hash array once: referencing `hashes` inside the window
    # lambda would recompute every gram's md5 per window position —
    # O(windows x grams) hashing instead of O(grams)
    def _minima(hs: Column) -> Column:
        win_starts = F.when(
            F.size(hs) >= window,
            F.sequence(F.lit(1), F.size(hs) - window + 1),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(win_starts, lambda i: F.array_min(F.slice(hs, i, window)))

    minima = F.element_at(F.transform(F.array(hashes), _minima), 1)
    return docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(minima)).alias("fingerprints"),
        F.size(F.array_distinct(minima)).alias("n_fingerprints"),
    )


def bloom_decontamination(
    docs: DataFrame,
    threshold: int = 3277,
    shingle: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 7,
) -> DataFrame:
    """Decontamination with a Bloom prefilter — the 100 TB shape of
    `decontamination_overlap`: instead of joining every corpus shingle
    against the benchmark shingle set, a ~128 KB bit array broadcast to
    every task drops (1 - fpp) of the clean shingles before any shuffle,
    and only the survivors hit the exact confirm join.

    Build: benchmark shingles hash JVM-side (xxhash64 twice, Kirsch-
    Mitzenmacher double hashing makes k positions from two hashes); the
    driver ORs them into a numpy bit array (collect is bounded by the
    eval-set size — the same boundedness the broadcast join relies on)
    and broadcasts it.  Probe: a vectorized pandas UDF tests k bits per
    corpus shingle from the two precomputed hash columns — no string
    hashing in Python.  The exact semi-join confirm removes the bloom's
    false positives, so the result is EXACT (bloom only prunes) and the
    DuckDB oracle is the plain overlap join.

    Returns one row per contaminated corpus doc:
    (doc_id, n_contaminated_shingles)."""
    import numpy as np
    import pandas as pd

    from broker_spark.pipeline.dedup import word_shingles

    spark = docs.sparkSession
    base = docs.withColumn("bucket", hash_bucket(F.col("doc_id")))
    sh = F.array_distinct(word_shingles("text", shingle))
    bench_sh = (
        base.filter(F.col("bucket") < threshold)
        .select(F.explode(sh).alias("sh"))
        .distinct()
    )
    hrows = bench_sh.select(
        F.xxhash64("sh").alias("h1"), F.xxhash64("sh", F.lit(1)).alias("h2")
    ).collect()
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    if hrows:
        h1 = np.array([r["h1"] for r in hrows], dtype=np.int64).astype(np.uint64)
        h2 = np.array([r["h2"] for r in hrows], dtype=np.int64).astype(np.uint64)
        for i in range(k_hashes):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            np.bitwise_or.at(
                bits, (pos >> np.uint64(3)).astype(np.int64),
                (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
            )
    bc = spark.sparkContext.broadcast(bits)
    m = np.uint64(m_bits)
    k = k_hashes

    def _probe_bits(h1s, h2s):
        b = bc.value
        a1 = h1s.to_numpy().astype(np.uint64)
        a2 = h2s.to_numpy().astype(np.uint64)
        ok = np.ones(len(a1), dtype=bool)
        for i in range(k):
            pos = (a1 + np.uint64(i) * a2) % m
            byte = b[(pos >> np.uint64(3)).astype(np.int64)]
            ok &= (byte & (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8)) != 0
        return pd.Series(ok)

    _maybe_contaminated = F.pandas_udf(_probe_bits, "boolean")

    corpus_sh = (
        base.filter(F.col("bucket") >= threshold)
        .select("doc_id", F.explode(sh).alias("sh"))
        .withColumn("h1", F.xxhash64("sh"))
        .withColumn("h2", F.xxhash64("sh", F.lit(1)))
    )
    survivors = corpus_sh.filter(_maybe_contaminated("h1", "h2"))
    confirmed = survivors.join(broadcast(bench_sh), "sh", "left_semi")
    return confirmed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_contaminated_shingles")
    )


def perplexity_buckets(docs: DataFrame, n_buckets: int = 10) -> DataFrame:
    """CCNet-style perplexity bucketing: rank documents per language by
    unigram-LM mean NLL, cut into `n_buckets` ntiles (head = most probable
    text, tail = junk), and emit per-(lang, bucket) accounting — the table
    a head/middle/tail data-mixture policy reads.

    Ordering ties break by doc_id so both engines ntile identically.
    Shape: the LM scoring's two shuffles, then one window over the lang
    key and one hash-agg — no new scale hazards."""
    scored = unigram_logprob_score(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("mean_nll").asc(), F.col("doc_id").asc()
    )
    b = scored.withColumn("bucket", F.ntile(n_buckets).over(w))
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("mean_nll"), 6).alias("avg_nll"),
        F.round(F.min("mean_nll"), 6).alias("min_nll"),
        F.round(F.max("mean_nll"), 6).alias("max_nll"),
    )


def substring_dup_pairs(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 5,
    max_fp_freq: int | None = 20,
) -> DataFrame:
    """Cross-document substring duplication via the winnowing inverted
    index — the tractable Spark shape of exact-substring dedup ("docs
    sharing long verbatim character runs"), complementing the word-level
    MinHash/Jaccard family.

    Winnowing guarantees any shared substring of length >= k + window - 1
    chars shares at least one fingerprint; requiring `min_shared`
    fingerprints selects structural overlap over single coincidental
    grams.  `max_fp_freq` drops fingerprints present in more than that
    many documents (boilerplate guard — hot posting lists go quadratic in
    the self-join, same rationale as the guarded MinHash/Jaccard
    entries).  One explode + one fingerprint-keyed self-join; no
    text-by-text comparison ever happens."""
    fps = winnow_fingerprints(docs, k, window).select(
        "doc_id", F.explode("fingerprints").alias("fp")
    )
    if max_fp_freq is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_fp_freq)
            .select("fp")
        )
        fps = fps.join(broadcast(hot), "fp", "left_anti")
    # lazy persist, NOT an eager localCheckpoint: the r13 pin experiment
    # measured the checkpoint WRITE of this corpus-sized fingerprint
    # frame at 10x the entry's whole runtime — the in-memory persist
    # dedups the self-join sides at task level without paying a
    # materialization job
    fps = fps.persist()  # both self-join sides
    pairs = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )
    return pairs


def gopher_filter_flags(
    docs: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 20_000,
    max_dup_word_frac: float = 0.30,
    max_top_bigram_frac: float = 0.18,
) -> DataFrame:
    """The filter DECISION table: Gopher-style repetition/length rules
    evaluated into per-document boolean flags plus the final keep bit —
    what a pipeline materializes so every drop is attributable to a rule
    (and thresholds can be re-tuned without re-scanning the corpus).
    Rides repetition_stats' two-level agg; the flag evaluation is free
    column arithmetic."""
    stats = repetition_stats(docs)
    too_short = F.col("n_tokens") < min_tokens
    too_long = F.col("n_tokens") > max_tokens
    dup_words = F.col("dup_word_frac") > max_dup_word_frac
    top_bigram = F.col("top_bigram_frac") > max_top_bigram_frac
    return stats.select(
        "doc_id",
        "n_tokens",
        "dup_word_frac",
        "top_bigram_frac",
        too_short.alias("flag_too_short"),
        too_long.alias("flag_too_long"),
        dup_words.alias("flag_dup_words"),
        top_bigram.alias("flag_top_bigram"),
        (~(too_short | too_long | dup_words | top_bigram)).alias("keep"),
    )


def pack_sequences_sharded(
    docs: DataFrame, budget: int = 256, n_shards: int = 8
) -> DataFrame:
    """`pack_sequences` with the partition key widened for 100 TB: packing
    runs within (lang, shard) where shard = md5(doc_id) prefix mod
    n_shards, so each language spreads across `n_shards` parallel window
    tasks instead of serializing onto one.  Pack ids are globally unique
    via (lang, shard, local pack) and the assignment stays deterministic
    and growth-stable within a shard.  The trade: packs never span
    shards, so up to one partially-filled pack per (lang, shard) instead
    of per lang — the waste bound is n_shards x budget tokens per
    language, negligible against shard sizes."""
    n_tokens = token_count(F.col("text")).cast("long")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % n_shards
    ).cast("int")
    sel = docs.select(
        "doc_id", "lang", shard.alias("shard"), n_tokens.alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    sel = sel.withColumn("cum_before", cum_before)
    pack = F.floor(F.col("cum_before") / budget).cast("long")
    return sel.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        pack.alias("pack_id"),
        (F.col("cum_before") - pack * budget).cast("long").alias("pack_offset"),
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join: document pairs whose TF-IDF
    vectors have cosine >= threshold — the classic IR near-match operator,
    complementary to shingle Jaccard (which needs exact n-gram overlap;
    TF-IDF cosine catches paraphrase-ish bag-of-words similarity and
    weights rare terms up).

    Features are word 3-gram shingles, not single words: the fixture's
    word vocabulary is ~31 types, so single-word posting lists would make
    the inverted-index join a cartesian product — and the same failure
    mode exists on any real corpus for stop-words, which is why
    `max_doc_freq` additionally drops hot posting lists whose quadratic
    cost carries no discriminative signal (idf already ranks them lowest).
    Norms are computed over the SAME retained term space so the guarded
    variant stays a true cosine.  One explode, two term-key aggs, one
    term-key self-join, one pair agg; only documents sharing a shingle
    ever meet.

    ONE shingle pass (r13, guide §2.4): document frequency derives from
    the pinned tf frame — tf already holds exactly one row per
    (doc, term), so ``df = count per term over tf`` is row-identical to
    the old ``terms.distinct()`` re-explode, which ran the corpus scan +
    shingle explode a second time as a racing broadcast future
    (qprofile: two ~0.9 s single-task jobs per run).  The weighted
    frame is pinned too: its three readers (norms, both self-join
    sides) otherwise re-run the tf/df join per stage."""
    from broker_spark.pipeline.dedup import word_shingles

    terms = docs.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("term")
    )
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(pin)
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_doc_freq is not None:
        df_ = df_.filter(F.col("df") <= max_doc_freq)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = (
        tf.join(df_, "term")  # inner join = guard drops stop terms here
        .crossJoin(broadcast(n_docs))
        .withColumn(
            "w",
            F.col("tf")
            * (
                F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
                + F.lit(1.0)
            ),
        )
        .select("doc_id", "term", "w")
        .transform(pin)
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    dots = (
        weighted.alias("a")
        .join(
            weighted.alias("b"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb")), "doc_b")
        .withColumn("cosine", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def vocab_coverage(docs: DataFrame, top_n: int = 1000) -> DataFrame:
    """Tokenizer-planning metric: per language, the fraction of token
    OCCURRENCES covered by that language's top-`top_n` vocabulary — the
    number that says how large a per-language vocab budget must be before
    OOV rates become acceptable.

    One explode + (lang, term) hash-agg; the per-lang top-N is a window
    over the lang key; coverage is a conditional sum — no second scan."""
    terms = docs.select("lang", F.explode(words_col(F.col("text"))).alias("term"))
    counts = terms.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term").asc())
    ranked = counts.withColumn("rank", F.row_number().over(w))
    return ranked.groupBy("lang").agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("rank") <= top_n, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("covered_tokens"),
        F.round(
            F.sum(F.when(F.col("rank") <= top_n, F.col("n")).otherwise(F.lit(0)))
            / F.sum("n"),
            6,
        ).alias("coverage"),
    )


def bigram_logprob_score(docs: DataFrame) -> DataFrame:
    """Per-document mean negative log-probability under an add-one-smoothed
    BIGRAM model trained on the corpus — one conditioning order above
    `unigram_logprob_score`, so repetitive-but-locally-coherent junk that
    a unigram model scores well (common words in nonsense order) surfaces.

    score(d) = -(1/(|d|-1)) * sum_i ln((c(w_{i-1}, w_i) + 1)
                                       / (c(w_{i-1}) + V))
    with c = corpus counts and V = unigram vocab size.

    Shape: one bigram explode feeding BOTH the model agg and the score
    join (bigram-key), plus a broadcast unigram-count join on the
    predecessor token.  Docs with < 2 tokens are excluded (no bigrams)."""
    w = F.col("w")
    bigram_arr = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = (
        docs.select("doc_id", words_col(F.col("text")).alias("w"))
        .select("doc_id", F.explode(bigram_arr).alias("bigram"))
        .withColumn("prev", F.split(F.col("bigram"), " ").getItem(0))
        # eager pin (r13, guide §2.4): the model agg arrives as a join
        # build next to the score join's map stage — without the pin the
        # docs scan + bigram explode executed once per reader
        .transform(pin)
    )
    bg_counts = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bg"))
    terms = docs.select(F.explode(words_col(F.col("text"))).alias("term"))
    uni_counts = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_uni"))
        # two readers (vocab agg + predecessor join) — pin so the second
        # docs scan + unigram agg runs once; vocab is the aggregate's own
        # row count (== COUNT(DISTINCT term)), not a third scan
        .transform(pin)
    )
    vocab = uni_counts.agg(F.count(F.lit(1)).alias("vocab"))
    scored = (
        bg.join(bg_counts, "bigram")
        .join(uni_counts.withColumnRenamed("term", "prev"), "prev")
        .crossJoin(broadcast(vocab))
        .withColumn(
            "nll",
            -F.log(
                (F.col("c_bg") + 1).cast("double")
                / (F.col("c_uni") + F.col("vocab")).cast("double")
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("mean_bigram_nll"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval, passage dedup, learned quality scoring, temperature mix
# ---------------------------------------------------------------------------

#: BM25 free parameters (the Robertson/Sparck-Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75

#: Fixed benchmark query set (terms drawn from the fixture vocabulary so
#: every query has matches at every scale factor).
BM25_QUERIES = [
    ("q1", ["spark", "join", "order"]),
    ("q2", ["window", "hash", "scan"]),
    ("q3", ["stream", "batch"]),
]


def bm25_topk(docs: DataFrame, queries=None, k: int = 10) -> DataFrame:
    """Per-query BM25 top-k retrieval over the corpus — the ranking
    function behind Lucene/Elasticsearch-style sparse retrieval, used in
    training pipelines to mine retrieval-positive pairs and to audit
    contamination against eval queries.

    score(q, d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    with idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)).

    Scale shape: the term postings (doc_id, term, tf) are filtered to the
    query vocabulary AT THE SCAN (predicate on the exploded term before
    the agg), so the shuffled postings volume is |query vocab| * df, not
    the corpus; df/N/avgdl are broadcast scalars.  Per-term partial
    scores go through DECIMAL(28,12) so the cross-engine sum is
    order-independent.  Top-k per query is one window over query_id.

    ONE corpus pass (r13, guide §2.4): doc length and the vocab-filtered
    term array come out of the same projection, pinned eagerly — the
    corpus-stats, document-frequency, and query-terms broadcast builds
    race as independent futures, and un-pinned each re-ran the docs scan
    + tokenization (qprofile: four ~0.4 s single-task jobs for one
    logical scan).  Filtering the words ARRAY before the explode is
    row-wise identical to filtering the exploded terms."""
    queries = queries if queries is not None else BM25_QUERIES
    spark = docs.sparkSession
    qt = spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in terms],
        "query_id string, term string",
    )
    vocab = sorted({t for _, terms in queries for t in terms})

    words = words_col(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("dl"),
        F.filter(words, lambda t: t.isin(vocab)).alias("qts"),
    ).transform(pin)
    dl = base.select("doc_id", "dl")
    corpus = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    postings = (
        base.select("doc_id", F.explode("qts").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_t = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        postings.join(broadcast(df_t), "term")
        .join(broadcast(qt), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(corpus))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
    )
    part = (idf * tf * F.lit(BM25_K1 + 1.0) / denom).cast("decimal(28,12)")
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(part).cast("double"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


#: Passage granularity for exact passage-level dedup (words per passage).
PASSAGE_WORDS = 8


def passage_dedup_stats(
    docs: DataFrame, passage_words: int = PASSAGE_WORDS, max_dup_ratio: float = 0.5
) -> DataFrame:
    """RefinedWeb/CCNet-style exact duplicate-passage accounting: split
    each document into consecutive `passage_words`-word passages, mark
    every passage whose content already occurred earlier in the corpus
    (first occurrence = smallest (doc_id, position)), and emit the
    per-document duplication decision table.

    Scale shape: passages explode in the scan stage; corpus-first
    detection is ONE window shuffle keyed on the passage hash
    (row_number over (doc_id, pos)); the per-doc rollup re-shuffles on
    doc_id.  No joins, no collect; hot keys are boilerplate passages,
    which the hash key spreads across partitions at corpus scale only as
    single-key windows — AQE skew handling applies."""
    # one F.expr parse — identical tree to the HOF-built form (r14
    # construction recipe; pinned by tests/test_round14_opt.py)
    pw = int(passage_words)
    passages = F.expr(
        f"CASE WHEN size(split(text, ' ')) > 0 THEN "
        f"transform(sequence(0, CAST(ceil(size(split(text, ' ')) / {pw}) AS INT) - 1), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i * {pw} + 1, {pw}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    exploded = docs.select(
        "doc_id", F.posexplode(passages).alias("pos", "passage")
    ).select("doc_id", "pos", F.md5(F.col("passage")).alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    flagged = exploded.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_passages"),
        F.sum("is_dup").cast("long").alias("n_dup_passages"),
    )
    dup_ratio = F.round(
        F.col("n_dup_passages").cast("double") / F.col("n_passages").cast("double"),
        6,
    )
    return per_doc.select(
        "doc_id",
        "n_passages",
        "n_dup_passages",
        dup_ratio.alias("dup_ratio"),
        (dup_ratio <= F.lit(max_dup_ratio)).alias("keep"),
    )


#: Fixed public weights for the linear quality classifier (a fastText-like
#: model shape: hand-set weights standing in for trained ones — the Spark
#: plumbing is identical either way).
QC_WEIGHTS = {"f_len": 1.2, "f_alpha": 0.8, "f_stop": 1.5, "f_wordlen": -0.3}
QC_BIAS = -1.0


def quality_classifier_score(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """Linear quality classifier (fastText-style): four scan-stage
    features -> fixed-weight logit -> sigmoid score -> keep decision.
    `carry` appends extra columns of `docs` in the same projection (see
    `quality_features` — saves callers a 1:1 join-back on doc_id).
    This is the 'learned filter' companion to the rule-based
    `gopher_filter_flags`: same decision-table shape, but a single
    continuous score a pipeline can threshold per mixture.

    Features (all [0,1], all JVM built-ins, zero shuffles):
      f_len     = min(n_tokens / 100, 1)         -- length prior
      f_alpha   = 1 - punct_ratio                -- alphanumeric-ness
      f_stop    = stopword_hits / n_tokens       -- natural-language-ness
      f_wordlen = min(mean_word_len / 10, 1)     -- gibberish penalty arm
    """
    # Built as SQL fragments assembled into four F.expr parses — the
    # identical analyzed trees cost ~600 Py4J round-trips (~0.25 s per
    # bench run, paid by SIX catalog entries that reuse this projection)
    # through the Column builders (r14 construction recipe; value
    # identity pinned by tests/test_round14_opt.py).  greatest(x, 1): an
    # empty/degenerate doc must score, not emit a NULL (Spark Divide) vs
    # NaN/inf (DuckDB IEEE) divergence — guard BOTH denominators
    # identically here and in the catalog oracle SQL.  0.5D etc. are the
    # DOUBLE literals F.lit built (bare decimals would parse as DECIMAL).
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    in_list = ", ".join(f"'{w}'" for w in all_stop)
    words = "split(text, ' ')"
    n_tokens = f"CAST(size({words}) AS DOUBLE)"
    n_len = "CAST(length(text) AS DOUBLE)"
    n_len_d = f"greatest({n_len}, 1.0D)"
    n_tok_d = f"greatest({n_tokens}, 1.0D)"
    punct_ratio = (
        f"(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '')) AS DOUBLE)"
        f" / {n_len_d})"
    )
    f_len = f"least(({n_tokens} / 100.0D), 1.0D)"
    f_alpha = f"(1.0D - {punct_ratio})"
    n_stop = f"CAST(size(filter({words}, x -> x IN ({in_list}))) AS DOUBLE)"
    f_stop = f"({n_stop} / {n_tok_d})"
    mean_wordlen = f"(({n_len} - ({n_tokens} - 1.0D)) / {n_tok_d})"
    f_wordlen = f"least(({mean_wordlen} / 10.0D), 1.0D)"
    logit = (
        f"({QC_WEIGHTS['f_len']}D * {f_len} + {QC_WEIGHTS['f_alpha']}D * {f_alpha}"
        f" + {QC_WEIGHTS['f_stop']}D * {f_stop}"
        f" + {QC_WEIGHTS['f_wordlen']}D * {f_wordlen} + {QC_BIAS}D)"
    )
    score = f"(1.0D / (1.0D + exp(-{logit})))"
    return docs.select(
        "doc_id",
        F.expr(f"round({f_len}, 6)").alias("f_len"),
        F.expr(f"round({f_stop}, 6)").alias("f_stop"),
        F.expr(f"round({score}, 6)").alias("quality_prob"),
        F.expr(f"{score} >= 0.5D").alias("keep"),
        *carry,
    )


#: Multinomial sampling temperature (the mT5/CCNet upsampling rule).
MIX_ALPHA = 0.3


def temperature_mix_allocation(
    docs: DataFrame, alpha: float = MIX_ALPHA, group_col: str = "source"
) -> DataFrame:
    """Temperature-based mixture allocation: p_temp(s) ∝ p_nat(s)^alpha
    (alpha=0.3, the mT5 low-resource upsampling rule), plus the repeat
    factor p_temp/p_nat each source needs to hit its target share.
    Temperature interpolates between the natural mix (alpha=1) and a
    uniform one across sources (alpha=0).

    Scale shape: one hash-agg to per-source stats (a handful of rows),
    two broadcast scalar attaches — nothing here grows with the corpus."""
    # stats is a handful of rows but read by THREE downstream consumers
    # (tot, with_nat via z, and the final select) — without pinning, each
    # re-runs the whole upstream corpus scan (VERDICT r6 #7: this chain
    # put 67 exchanges in curated_mix_manifest's plan).
    stats = (
        docs.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(token_count(F.col("text")).cast("long"))
            .cast("long")
            .alias("total_tokens"),
        )
        .transform(pin)
    )
    tot = stats.agg(F.sum("total_tokens").cast("long").alias("corpus_tokens"))
    with_nat = stats.crossJoin(broadcast(tot)).withColumn(
        "p_nat", F.col("total_tokens").cast("double") / F.col("corpus_tokens")
    )
    z = with_nat.agg(
        F.sum(F.pow(F.col("p_nat"), F.lit(alpha)).cast("decimal(28,12)")).alias("z")
    )
    out = with_nat.crossJoin(broadcast(z)).withColumn(
        "p_temp", F.pow(F.col("p_nat"), F.lit(alpha)) / F.col("z").cast("double")
    )
    return out.select(
        group_col,
        "n_docs",
        "total_tokens",
        F.round("p_nat", 6).alias("p_nat"),
        F.round("p_temp", 6).alias("p_temp"),
        F.round(F.col("p_temp") / F.col("p_nat"), 6).alias("repeat_factor"),
    )


def doc_entropy_stats(docs: DataFrame) -> DataFrame:
    """Per-document word-distribution statistics: Shannon entropy of the
    within-document unigram distribution plus type-token ratio — the
    information-theoretic quality signal next to `repetition_stats`'
    rule-based fractions (low entropy = repetitive/boilerplate, and a
    near-zero TTR catches keyword-stuffing that per-rule fractions miss).

    entropy(d) = -sum_w p_w ln p_w,  p_w = c_w / |d|.

    Shape: one explode + (doc, word) hash-agg; the doc-total reuses the
    SAME doc_id partitioning via a window (no extra shuffle) and the final
    doc rollup shuffles doc-keyed rows only.  Per-word entropy terms go
    through DECIMAL(28,12) so the cross-engine sum is order-independent."""
    terms = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
    counts = terms.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    part = (-(p * F.log(p))).cast("decimal(28,12)")
    return (
        counts.withColumn("n", n)
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(F.sum(part).cast("double"), 6).alias("word_entropy"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("n").cast("double"), 6
            ).alias("ttr"),
        )
    )


def split_leakage_audit(docs: DataFrame) -> DataFrame:
    """Train/test leakage audit: canonical-content fingerprints (same
    bag of words) that land in MORE THAN ONE split of the deterministic
    md5-bucket assignment — exactly the contamination a random split
    invites and a content-hash split would prevent.  Every training
    pipeline should run this after splitting; output is one row per
    leaking fingerprint with the splits it spans.

    Shape: fingerprint + split are scan-stage expressions; one hash-agg
    on the fingerprint; output is bounded by the number of duplicate
    groups, not the corpus."""
    words = words_col(F.col("text"))
    canon = F.array_join(F.array_sort(F.array_distinct(words)), " ")
    fp = docs.select(
        "doc_id", F.md5(canon).alias("fingerprint"), split_col().alias("split")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("split").cast("long").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias("splits"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_splits") >= 2)
    )


#: Fixed public WordPiece-style vocabulary: multi-char pieces plus every
#: single lowercase letter (so greedy matching can always advance).
WORDPIECE_PIECES = [
    "the", "bat", "ch", "or", "der", "col", "umn", "vec", "tor", "sc", "an",
    "ta", "ble", "me", "rge", "win", "dow", "jo", "in", "qu", "ery", "str",
    "eam", "gro", "up", "sp", "ark", "cus", "tom", "er", "va", "lue", "ha",
    "sh", "fil", "ter", "da", "key", "agg", "row", "part", "li", "ne", "sma",
    "ll", "fa", "st", "big", "du", "slow", "sort", "val",
]


def _wordpiece_encoder(pieces=None):
    """Greedy longest-match encoder closure shared by the wordpiece
    entries: returns `one(word) -> [tokens]`, total via the '[unk]'
    single-char fallback (see wordpiece_encode_counts)."""
    import string

    vocab = sorted(set(pieces or WORDPIECE_PIECES) | set(string.ascii_lowercase))
    by_len = sorted(vocab, key=lambda p: (-len(p), p))

    def one(w: str) -> list[str]:
        out, pos = [], 0
        while pos < len(w):
            for p in by_len:
                if w.startswith(p, pos):
                    out.append(p)
                    pos += len(p)
                    break
            else:
                # TOTAL behavior, matching the oracle's contract: a
                # character outside the vocabulary (digit, uppercase,
                # punctuation inside a whitespace token) emits an explicit
                # '[unk]' token and advances one position — the
                # recursive-CTE walk does the identical coalesce, so the
                # two engines stay comparable on unsanitized corpora
                # instead of the job hard-failing mid-flight.
                out.append("[unk]")
                pos += 1
        return out

    return one


def wordpiece_encode_counts(docs: DataFrame, pieces=None) -> DataFrame:
    """Tokenizer APPLICATION: greedy longest-match (WordPiece-style)
    encoding of the corpus against a fixed vocabulary, rolled up to
    per-token corpus counts — the apply-side companion to the train-side
    `bpe_pair_counts`.  At each position the longest matching vocabulary
    piece wins (equal-length matches at one position are the same string,
    so the choice is unique and engine-portable); single-letter pieces
    guarantee progress.

    Scale shape: the corpus contributes ONE hash-agg to (word, count);
    only the DISTINCT word table is encoded (an Arrow-batched pandas UDF
    over a table bounded by vocabulary size, not corpus size) and counts
    join back — exactly how production tokenizer jobs amortize encoding
    over repeated words.  The oracle replays the same greedy walk as a
    recursive CTE."""
    one = _wordpiece_encoder(pieces)

    # explicit functionType form: the module uses lazy annotations, which
    # the hint-based pandas_udf signature parser cannot resolve here
    enc = F.pandas_udf(lambda ws: ws.map(one), "array<string>")

    wc = (
        docs.select(F.explode(words_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    per_word = (
        wc.withColumn("toks", enc(F.col("w")))
        .select("w", "n", F.explode("toks").alias("token"))
        .groupBy("w", "n", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return per_word.groupBy("token").agg(
        F.sum(F.col("c") * F.col("n")).cast("long").alias("n_occurrences"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
    )


def vocab_zipf_slope(docs: DataFrame, min_types: int = 3) -> DataFrame:
    """Zipf-law fit per language: OLS slope of ln(frequency) against
    ln(rank) over the word frequency table — the corpus-health diagnostic
    (natural language sits near -1; templated/generated text flattens
    toward 0, a strong synthetic-data signal for pipeline QA).

    Slope uses the closed form (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) with every
    sum accumulated in DECIMAL(28,12), so the cross-engine value is
    order-independent and bit-comparable at 6 dp.  One explode + one
    (lang, word) hash-agg + one lang-keyed window for ranks + one lang
    hash-agg — nothing quadratic, no collect."""
    terms = docs.select("lang", F.explode(words_col(F.col("text"))).alias("w"))
    freq = terms.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("n"))
    win = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("w").asc())
    ranked = freq.withColumn("rank", F.row_number().over(win))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))
    dec = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")  # noqa: E731
    stats = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        dec(x).alias("sx"),
        dec(y).alias("sy"),
        dec(x * y).alias("sxy"),
        dec(x * x).alias("sxx"),
    )
    n = F.col("n_types").cast("double")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    # total under ANSI mode: a single-type (or otherwise log-degenerate)
    # language has denom == 0 and no defined slope — NULL, not a
    # DIVIDE_BY_ZERO job failure, for callers who lower min_types
    slope = F.when(
        denom != 0, (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    )
    return stats.filter(F.col("n_types") >= min_types).select(
        "lang", "n_types", F.round(slope, 6).alias("zipf_slope")
    )


def repetition_top2gram_share(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signal: per document, the share of tokens
    accounted for by the single most frequent word 2-gram (ties broken by
    the lexicographically smallest 2-gram, so the winner is deterministic
    on both engines).  High shares flag boilerplate/templated docs that
    length or stopword filters miss.

    One explode to (doc, bigram), one hash-agg, then a doc-keyed min_by
    argmax (r13: the row_number window this replaces re-sorted the whole
    counts frame; min_by is a hash-agg with map-side partials and the
    identical (c desc, bigram asc) winner via the (-c, bigram) ordering
    struct) — all JVM built-ins, doc-bounded state.

    The words array is PROJECTED before the per-index transform: built
    inline, every element_at re-evaluates split(text) and the bigram
    construction goes quadratic in document length (measured 4.0 s ->
    0.4 s at sf0.1)."""
    w = F.col("w")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = docs.select(
        "doc_id", words_col(F.col("text")).alias("w")
    ).select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.explode(bigrams).alias("bigram"),
    )
    counts = bg.groupBy("doc_id", "n_tokens", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = counts.groupBy("doc_id", "n_tokens").agg(
        F.min_by(
            F.struct("bigram", "c"),
            F.struct((-F.col("c")).alias("nc"), F.col("bigram")),
        ).alias("t")
    )
    return top.select(
        "doc_id",
        "n_tokens",
        F.col("t.bigram").alias("top_bigram"),
        F.col("t.c").cast("long").alias("top_count"),
        F.round(
            (F.col("t.c") * F.lit(2.0)) / F.col("n_tokens").cast("double"), 6
        ).alias("top2gram_share"),
    )


def wordpiece_fertility_by_lang(docs: DataFrame, pieces=None) -> DataFrame:
    """Tokenizer fertility (pieces per word) by language — THE number a
    multilingual tokenizer budget is planned around: languages whose
    fertility is high relative to others are under-served by the shared
    vocabulary and pay more sequence length per unit of text.

    Scale shape mirrors `wordpiece_encode_counts`: word occurrences
    hash-agg to (lang, word, count); only the DISTINCT word table runs
    the encode UDF (vocabulary-bounded, Arrow-batched) and the per-word
    piece counts broadcast-join back onto the per-language counts."""
    one = _wordpiece_encoder(pieces)
    n_pieces = F.pandas_udf(
        lambda ws: ws.map(lambda w: len(one(w))), "long"
    )
    lw = (
        docs.select("lang", F.explode(words_col(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    per_word = (
        lw.select("w").distinct().withColumn("pieces", n_pieces(F.col("w")))
    )
    joined = lw.join(broadcast(per_word), "w")
    return joined.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_words"),
        F.sum(F.col("n") * F.col("pieces")).cast("long").alias("n_pieces"),
        F.round(
            F.sum(F.col("n") * F.col("pieces")).cast("double")
            / F.sum("n").cast("double"),
            6,
        ).alias("fertility"),
    )


def pareto_frontier(
    docs: DataFrame, x_col: str = "n_chars"
) -> DataFrame:
    """Skyline of the corpus in (length, lexical richness) space: docs
    for which NO other doc is >= on both axes and > on at least one —
    the candidate set "longest AND most lexically diverse", the 2-D
    generalization of every top-k-by-one-score curation rule.

    Scale shape: never the O(n^2) dominance anti-join.  Collapse to one
    row per distinct x (max y per x — anything below is dominated
    within its own column), then a running max over STRICTLY GREATER x
    (window on the compact per-x frame) marks the frontier: a point
    survives iff its best y beats every y at larger x.  The window runs
    over |distinct x| rows, not |docs|; the only full-data pass is the
    per-x max aggregation.  Docs join back on (x, y) so ties on both
    axes all surface."""
    richness = F.size(F.array_distinct(F.split(F.col("text"), " ")))
    pts = docs.select(
        "doc_id", F.col(x_col).alias("x"), richness.alias("y")
    )
    per_x = pts.groupBy("x").agg(F.max("y").alias("best_y"))
    w = (
        Window.orderBy(F.desc("x"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_x.withColumn("max_above", F.max("best_y").over(w))
        .filter(F.col("max_above").isNull() | (F.col("best_y") > F.col("max_above")))
        .select("x", F.col("best_y").alias("y"))
    )
    return (
        pts.join(broadcast(frontier), ["x", "y"])
        .select(
            "doc_id",
            F.col("x").alias("n_chars_dim"),
            F.col("y").alias("n_distinct_words"),
        )
    )


def unigram_kl_by_source(docs: DataFrame, quant: int = 10**12) -> DataFrame:
    """Per-source distribution drift against the whole corpus: KL(P_s ||
    P_corpus) and the source's share of corpus tokens, over whitespace
    unigrams — "which ingest source speaks a different language than the
    mix" as ONE number per source, the multi-class generalization of the
    two-sample KS gate.

    KL is finite by construction (every source word exists in the corpus
    distribution).  Cross-engine exactness: each term is
    p_s * ln((c_sw * N) / (N_s * c_w)) where the inner ratio is a
    quotient of exact 128-bit integer products (the PMI pattern) and p_s
    is an exact BIGINT ratio — identical doubles — then quantized to
    integer picounits (floor(x*1e12 + 0.5), the centroid-quantization
    pattern) so the per-source SUM is an exact integer in any partition
    order.  Scale shape: one (source, word) agg with map-side combine,
    word marginals attach by shuffle join on the word (vocabulary is
    corpus-sized — NOT broadcast, the prefix-filter lesson), scalar
    totals by broadcast."""
    tok = docs.select(
        "source", F.explode(words_col(F.col("text"))).alias("w")
    )
    sw = (
        tok.groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_sw"))
        # eager pin (r13, guide §2.4): cw/ns/tot and the probe join race
        # as independent readers and each re-ran the corpus scan +
        # explode + (source, word) agg un-pinned (scan audit: docs x4)
        .transform(pin)
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").cast("long").alias("c_w"))
    ns = sw.groupBy("source").agg(F.sum("c_sw").cast("long").alias("n_s"))
    tot = cw.agg(F.sum("c_w").cast("long").alias("n_tot"))
    d = lambda c: F.col(c).cast("decimal(38,0)")
    j = (
        sw.join(cw.hint("merge"), "w")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(tot))
    )
    p_s = F.col("c_sw").cast("double") / F.col("n_s").cast("double")
    ratio = (d("c_sw") * d("n_tot")).cast("double") / (
        d("n_s") * d("c_w")
    ).cast("double")
    term_q = F.floor(p_s * F.log(ratio) * F.lit(float(quant)) + F.lit(0.5)).cast(
        "long"
    )
    return (
        j.select("source", "n_s", "n_tot", term_q.alias("tq"))
        .groupBy("source", "n_s", "n_tot")
        .agg(F.sum(F.col("tq").cast("decimal(38,0)")).alias("klq"))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.round(
                F.col("klq").cast("double") / F.lit(float(quant)), 6
            ).alias("kl_vs_corpus"),
            F.round(
                F.col("n_s").cast("double") / F.col("n_tot").cast("double"), 6
            ).alias("token_share"),
        )
    )


def psi_by_source(
    docs: DataFrame,
    value_col: str = "n_chars",
    bins: int = 10,
    eps: float = 1e-4,
    quant: int = 10**12,
) -> DataFrame:
    """Population Stability Index of `value_col` per source vs the whole
    corpus — the standard MLOps drift score (PSI < 0.1 stable, > 0.25
    action): PSI = sum_i (p_i - q_i) * ln(p_i / q_i) over `bins`
    equi-width bins of the value range, with the conventional
    epsilon-CLIP on proportions (p_i = max(c_i/n, eps)) so empty bins
    stay finite.  Clip, not add-one smoothing: add-one gives every
    empty bin 1/(n+bins) pseudo-mass, which for a small source reads as
    ~1% mass where the corpus has ~0% and inflates PSI from the
    smoothing alone; the clip floor is shared by both sides, so an
    empty-vs-nearly-empty bin contributes ~nothing while an
    empty-vs-heavy bin still flags hard.  Completes the drift-gate
    family: KS (numeric, two-sample), chi-square (categorical), KL
    (vocabulary), PSI (binned numeric score with conventional
    thresholds).

    Exactness: bin ids are exact integer arithmetic on the broadcast
    min/max; p and q are exact-ratio doubles clipped against an exact
    constant, so both engines compute identical doubles through the one
    division, ln, and product; each term quantizes to integer picounits
    (floor(x*1e12 + 0.5)) so the per-source sum is
    partition-order-exact.  The (source x bin) grid is materialized
    (HLL-grid pattern) so zero-count bins contribute their clipped
    mass.  One scan, two domain-bounded aggs."""
    rng = docs.agg(
        F.min(value_col).cast("long").alias("mn"),
        F.max(value_col).cast("long").alias("mx"),
    )
    b = F.least(
        F.lit(bins - 1),
        F.floor(
            (F.col(value_col) - F.col("mn"))
            * F.lit(bins)
            / (F.col("mx") - F.col("mn") + 1)
        ),
    ).cast("int")
    binned = docs.crossJoin(broadcast(rng)).select(
        "source", b.alias("bin")
    )
    sb = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c_sb")
    )
    cb = sb.groupBy("bin").agg(F.sum("c_sb").cast("long").alias("c_b"))
    ns = sb.groupBy("source").agg(F.sum("c_sb").cast("long").alias("n_s"))
    tot = cb.agg(F.sum("c_b").cast("long").alias("n_tot"))
    spark = docs.sparkSession
    grid = ns.select("source", "n_s").crossJoin(
        broadcast(spark.range(bins).select(F.col("id").cast("int").alias("bin")))
    )
    full = (
        grid.join(sb, ["source", "bin"], "left")
        .withColumn("c0", F.coalesce(F.col("c_sb"), F.lit(0)))
        # left join: a bin no document falls in still contributes its
        # smoothed mass (c_b = 0), it must not drop the grid row
        .join(broadcast(cb), "bin", "left")
        .withColumn("c_b", F.coalesce(F.col("c_b"), F.lit(0)))
        .crossJoin(broadcast(tot))
    )
    p = F.greatest(
        F.col("c0").cast("double") / F.col("n_s").cast("double"), F.lit(eps)
    )
    q = F.greatest(
        F.col("c_b").cast("double") / F.col("n_tot").cast("double"), F.lit(eps)
    )
    tq = F.floor((p - q) * F.log(p / q) * F.lit(float(quant)) + F.lit(0.5)).cast(
        "long"
    )
    return (
        full.select("source", "n_s", tq.alias("tq"))
        .groupBy("source", "n_s")
        .agg(F.sum(F.col("tq").cast("decimal(38,0)")).alias("pq"))
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            F.round(F.col("pq").cast("double") / F.lit(float(quant)), 6).alias(
                "psi"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge learning (the tokenizer-training inner loop, distributed)
# ---------------------------------------------------------------------------


def _bpe_char_tokens(word: Column) -> Column:
    """Space-join the characters of a word: 'abc' -> 'a b c'."""
    return F.trim(F.regexp_replace(word, r"(.)", r"$1 "))


def _bpe_apply_merge(toks: Column, pair: str, merged: str) -> Column:
    """Apply one learned merge to a spaced token string.

    Semantics (shared with the DuckDB oracle, which uses the identical
    expression): sentinel-pad with spaces, then TWO passes of
    left-to-right non-overlapping literal replace of ' left right ' with
    ' leftright ', then trim.  One pass alone under-merges runs of the
    same token (the trailing space of a match consumes the leading space
    of the next occurrence); two passes are exact for runs of up to five
    identical tokens, and equal to textbook greedy left-to-right BPE
    application on this corpus (asserted by a pure-Python property test).
    Both engines execute the same two passes, so engine parity holds on
    ANY input regardless of run length.
    """
    pat = F.lit(f" {pair} ")
    rep = F.lit(f" {merged} ")
    s = F.concat(F.lit(" "), toks, F.lit(" "))
    s = F.replace(F.replace(s, pat, rep), pat, rep)
    return F.trim(s)


def _bpe_adjacent_pairs(toks: Column) -> Column:
    """All adjacent token pairs of a spaced token string, as 'a b' strings
    (overlapping occurrences each counted, as in classic BPE get_stats)."""
    arr = F.split(toks, " ")
    return F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(arr, i + 1), F.element_at(arr, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_learn(
    docs: DataFrame, n_merges: int = 4
) -> tuple[list[dict], DataFrame]:
    """Learn `n_merges` BPE merges over the corpus, distributed.

    Returns (merges, wf) where merges is a list of
    {rank, pair, merged, n} dicts (rank 1-based, ties broken by pair
    string ascending) and wf is the distinct-word frequency frame with
    the final spaced `toks` column after all merges applied.

    100 TB design: the corpus is touched ONCE (the word-count shuffle);
    every merge iteration then runs over the distinct-word vocabulary —
    orders of magnitude smaller than the corpus and independent of
    corpus scale (Heaps' law) — which is exactly why BPE training is
    feasible on 100 TB of text.  Driver traffic is one row per merge
    (the argmax pair).  The vocabulary frame is localCheckpoint'ed once
    so per-iteration lineage stays flat.
    """
    wf = (
        docs.select(F.explode(words_col(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .withColumn("toks", _bpe_char_tokens(F.col("word")))
        # pin_iter: every merge round's argmax collect executes this
        # frame in-function — the barrier must hold under plan audits too
        .transform(pin_iter)
    )
    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        pc = (
            wf.select("freq", F.explode(_bpe_adjacent_pairs(F.col("toks"))).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("n"))
        )
        top = pc.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1).collect()
        if not top:
            break
        pair, n = top[0]["pair"], top[0]["n"]
        merged = pair.replace(" ", "")
        merges.append({"rank": rank, "pair": pair, "merged": merged, "n": n})
        wf = wf.withColumn("toks", _bpe_apply_merge(F.col("toks"), pair, merged))
    return merges, wf


def bpe_learn_merges(docs: DataFrame, n_merges: int = 4) -> DataFrame:
    """The learned merge table itself: (rank, pair, merged, n)."""
    import json as _json

    spark = docs.sparkSession
    merges, _ = bpe_learn(docs, n_merges)
    # pure-JVM local relation (guide §4: no Python boundary): a
    # createDataFrame(list) here is parallelize-backed — every read of
    # this 4-row frame paid defaultParallelism pickled-Python tasks
    arr = F.from_json(
        F.lit(
            _json.dumps(
                [
                    {
                        "rank": m["rank"],
                        "pair": m["pair"],
                        "merged": m["merged"],
                        "n": m["n"],
                    }
                    for m in merges
                ]
            )
        ),
        "array<struct<rank:int,pair:string,merged:string,n:bigint>>",
    )
    return (
        spark.range(0, len(merges), 1, 1)
        .select(F.element_at(arr, F.col("id").cast("int") + 1).alias("s"))
        .select("s.rank", "s.pair", "s.merged", F.col("s.n").alias("n"))
    )


def bpe_vocab_after_merges(
    docs: DataFrame, n_merges: int = 4, k: int = 20
) -> DataFrame:
    """Corpus token vocabulary after `n_merges` learned BPE merges:
    top-`k` tokens by corpus-weighted frequency (rank ties by token)."""
    _, wf = bpe_learn(docs, n_merges)
    tc = (
        wf.select("freq", F.explode(F.split(F.col("toks"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        tc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("token", "n", "rank")
    )


def heaps_vocab_growth(docs: DataFrame, n_tiers: int = 10) -> DataFrame:
    """Heaps'-law curve of the corpus: distinct-word vocabulary size at
    10 cumulative corpus prefixes (by doc_id order), with token counts
    and the implied Heaps exponent ln(V)/ln(N) per prefix — the
    measurement behind the BPE trainer's "iterations are vocabulary-
    sized" scale claim, and the standard sanity check that a corpus
    grows vocabulary sub-linearly (near-constant exponent ~0.5; an
    exponent drifting toward 1 means machine-generated/unique-token
    pollution).

    Shape: one pass builds the per-doc token counts, one pass the
    word -> first-doc table (min(doc_id) per word — vocabulary-sized);
    prefix boundaries are exact doc_id percentiles; each tier's counts
    are conditional aggregates against the broadcast 10-row boundary
    grid.  No corpus-wide window/ntile anywhere."""
    per_doc = docs.select(
        "doc_id", F.size(words_col(F.col("text"))).cast("long").alias("n_tokens")
    )
    firsts = (
        docs.select(F.col("doc_id"), F.explode(words_col(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    tiers = per_doc.agg(
        *[
            F.percentile("doc_id", F.lit(i / n_tiers)).alias(f"b{i}")
            for i in range(1, n_tiers + 1)
        ]
    )
    grid = tiers.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("tier"),
                        F.col(f"b{i}").alias("boundary"),
                    )
                    for i in range(1, n_tiers + 1)
                ]
            )
        ).alias("t")
    ).select("t.tier", "t.boundary")
    doc_counts = (
        per_doc.crossJoin(broadcast(grid))
        .filter(F.col("doc_id").cast("double") <= F.col("boundary"))
        .groupBy("tier", "boundary")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    vocab = (
        firsts.crossJoin(broadcast(grid))
        .filter(F.col("first_doc").cast("double") <= F.col("boundary"))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    return (
        doc_counts.join(vocab, "tier")
        .select(
            "tier",
            F.round("boundary", 6).alias("boundary"),
            "n_docs",
            "n_tokens",
            "vocab",
            F.round(
                F.log(F.col("vocab").cast("double"))
                / F.log(F.col("n_tokens").cast("double")),
                6,
            ).alias("heaps_exponent"),
        )
    )


def bpe_fertility_by_lang(docs: DataFrame, n_merges: int = 4) -> DataFrame:
    """Per-language fertility of the LEARNED BPE tokenizer: after the
    corpus-global merges, tokens-per-word and chars-per-token by
    language — the fairness number for a multilingual tokenizer (a
    merge table learned on an English-heavy blend fragments the other
    languages; fertility quantifies by how much), complementing
    `wordpiece_fertility_by_lang` which measures a FIXED vocabulary.

    Shape: the trainer's vocabulary frame is reused (word -> final
    toks); the per-language word counts join it BY WORD — one
    vocabulary-sized join, never a corpus re-tokenization."""
    _, wf = bpe_learn(docs, n_merges)
    tk = wf.select(
        "word",
        F.size(F.split(F.col("toks"), " ")).cast("long").alias("n_toks"),
        F.length("word").cast("long").alias("n_chars"),
    )
    lw = (
        docs.select(F.col("lang"), F.explode(words_col(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        lw.join(tk, "word")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("n_toks")).cast("long").alias("n_tokens"),
            F.sum(F.col("n") * F.col("n_chars")).cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )
