"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every variant is shuffle-on-signature —
    signature (narrow, per-row) -> groupBy/join on signature (one shuffle)
so the expensive all-pairs comparison never happens; candidate pairs come
from bucket collisions only.  All signature math is JVM built-ins
(split/transform/aggregate/md5/conv) — no Python in the hot path.
"""

from __future__ import annotations

import json as _json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from broker_spark.pinning import pin, pin_iter, pin_iter_lazy, pin_lazy
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

DEFAULT_NUM_HASHES = 4
DEFAULT_SHINGLE = 3

#: Default stop-bucket cap — the densification guard is ON unless a call
#: site explicitly opts out (VERDICT r8 #2).  The round-8 densify
#: experiment (BENCH_SCALE.md) measured why: on a mirror-heavy crawl the
#: unguarded candidate set grows quadratically in the
#: verbatim-duplication factor (x30 duplication: 500 -> 2.6M pairs)
#: while capped buckets track corpus growth.  8 keeps per-bucket pair
#: expansion at <= C(8,2) = 28, and organic near-dup buckets are tiny by
#: construction (every fixture SF maxes at 8).  Pass None for the exact
#: census — documented as quadratic under verbatim duplication; the
#: unguarded COMPARISON entries are the explicit opt-outs.
DEFAULT_MAX_BUCKET_SIZE = 8


def word_shingles_sql(text: str, k: int = DEFAULT_SHINGLE) -> str:
    """SQL fragment: word k-gram shingles of `text` (itself a SQL
    fragment, e.g. the column name "text" — interpolated as given), one
    `concat_ws(' ', words[i..i+k-1])` per window start; an empty array
    when the doc has fewer than k words, NULL text included.

    The split is bound ONCE per row through an outer lambda variable:
    codegen does no CSE inside lambda bodies, so referencing `split(text)`
    directly from the inner transform re-tokenizes the text per shingle —
    measured ~2x on the shingle-exploding operators.  Each window is k
    direct `element_at` reads into one `concat_ws` (no per-window slice
    allocation + array_join walk — measured ~18% on the explode stage,
    byte-identical output), which keeps the interpreted higher-order
    evaluation this family's scans are bound by as lean as it gets.
    Built as one F.expr parse: the same tree from Column higher-order
    functions cost ~120 Py4J round-trips (~30 ms per call, measured
    r14)."""
    win = ", ".join(f"element_at(words, i + {j})" for j in range(k))
    return (
        f"element_at(transform(array(split({text}, ' ')), words -> "
        f"CASE WHEN size(words) >= {k} THEN "
        f"transform(sequence(1, greatest(size(words) - {k - 1}, 0)), "
        f"i -> concat_ws(' ', {win})) "
        f"ELSE CAST(array() AS array<string>) END), 1)"
    )


def word_shingles(text: str, k: int = DEFAULT_SHINGLE) -> Column:
    """`word_shingles_sql` as a Column; `text` is a SQL fragment."""
    return F.expr(word_shingles_sql(text, k))


def minhash_signature(
    text: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle: int = DEFAULT_SHINGLE,
) -> list[Column]:
    """MinHash signature of `text` (a SQL fragment, as in
    `word_shingles_sql`): hash function j is the j-th 8-hex-char slice of
    ONE md5 digest per shingle — 32 independent bits each, min taken in
    lexicographic hex order (a valid permutation-min).  A doc with no
    shingles (fewer words than `shingle`, NULL text) gets NULL `mh*`.

    One digest per shingle instead of num_hashes seeded digests: 4x less
    hashing on the corpus scan, measured ~4x wall-clock on the signature
    stage.  md5 (not murmur/xxhash) keeps the operator bit-identical
    across engines and therefore oracle-checkable.  num_hashes <= 4 per
    digest (128 bits / 32).  One F.expr parse per hash (the Column
    higher-order-function chain cost ~60 ms of Py4J latency per
    signature — measured r14).
    """
    if num_hashes > 4:
        raise ValueError("num_hashes > 4 needs more than one digest per shingle")
    digests_sql = f"transform({word_shingles_sql(text, shingle)}, s -> md5(s))"
    return [
        F.expr(
            f"array_min(transform({digests_sql}, "
            f"d -> substring(d, {1 + 8 * j}, 8)))"
        ).alias(f"mh{j}")
        for j in range(num_hashes)
    ]


def _spread(
    df: DataFrame, n_rows: int | None = None, rows_per_partition: int = 2000
) -> DataFrame:
    """Spread rows across all cores before expensive per-row expressions —
    a small parquet file arrives as 1-2 input splits, which would leave
    most executors idle for the signature map work.

    Pass `n_rows` whenever the spread frame is about to be EXPLODED AND
    PINNED (the shingle inverted-index builders): an eager localCheckpoint
    materializes one deserialized block per partition, so the partition
    count must scale with the corpus — at 100x data the core-count spread
    (32) put ~3M exploded shingles into each block and the checkpoint
    OOMed the heap before any join ran (r10 slope refresh).  ~2000 docs
    per partition keeps blocks tens of MB; small corpora still get one
    partition per core for the map work.  The one count() job that
    supplies `n_rows` is the statistic AQE lacks at materialization time
    (AQE sizes shuffle reads, never checkpoint blocks)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if n_rows is not None:
        n = max(n, n_rows // rows_per_partition)
    return df.repartition(n)


def _settle(df: DataFrame, n_docs: int) -> DataFrame:
    """Round-robin shuffle between a core-wide map and an eager pin: the
    expensive per-row map (shingle explode + hashing) keeps its
    `defaultParallelism` tasks, while the checkpoint — and every
    downstream stage that reads it — gets a DATA-scaled partition count.
    At small corpora, 32-task stages over a few-MB pinned frame are pure
    scheduling overhead; each broadcast-build job and the verify
    pipeline re-pay it (measured 3.21 s -> 2.51 s on the sf0.1 prefix
    pipeline).  The width rule is the same ~2000-docs-of-postings-per-
    partition as `_spread`'s pin sizing, so at 100x this is a no-op:
    the corpus already needs at least core width and the checkpoint
    keeps the OOM-safe fine-grained blocks."""
    n = max(8, n_docs // 2000)
    if n >= df.sparkSession.sparkContext.defaultParallelism:
        return df
    return df.repartition(n)


def minhash_signatures(docs: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES) -> DataFrame:
    return _spread(docs).select("doc_id", *minhash_signature("text", num_hashes))


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    sig: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: band the signature, bucket on (band_id,
    band_key), generate pairs inside each bucket.

    One signature pass -> explode into bands -> ONE shuffle
    (groupBy band key, collect_list) -> within-bucket pair expansion ->
    distinct.  No self-join: the sorted-doc-id bucket list bounds each
    bucket's work at C(bucket,2), and near-dup buckets are tiny by
    construction.  `max_bucket_size` drops hot buckets — the standard
    stop-bucket guard at corpus scale, where a degenerate key (empty
    docs, boilerplate) would otherwise go quadratic; DEFAULT-ON at
    DEFAULT_MAX_BUCKET_SIZE (VERDICT r8 #2).  `None` opts out for the
    exact census — quadratic under verbatim duplication, measured in
    BENCH_SCALE.md's round-8 densification experiment.  Returns distinct
    (doc_a, doc_b), doc_a < doc_b.

    `sig` lets a caller that ALSO reads the signatures (the estimator
    certificate) pass a pinned signature frame so the signature scan —
    the dominant map cost — runs once instead of once per reader.
    `docs` is UNUSED in that case, and the frame must carry exactly the
    mh0..mh{num_hashes-1} columns the banding loop expects — checked
    eagerly so a mismatched num_hashes fails with a clear message instead
    of an unresolved-column analysis error (or silently banding over a
    subset when sig is wider)."""
    if sig is None:
        sig = minhash_signatures(docs, num_hashes)
    else:
        have = {c for c in sig.columns if c.startswith("mh")}
        want = {f"mh{j}" for j in range(num_hashes)}
        if have != want:
            raise ValueError(
                f"caller-supplied sig has hash columns {sorted(have)}; "
                f"num_hashes={num_hashes} requires exactly {sorted(want)}"
            )
    band_keys = F.array(
        *[
            F.concat_ws(
                "|",
                *[F.col(f"mh{j}") for j in range(b, min(b + rows_per_band, num_hashes))],
            )
            for b in range(0, num_hashes, rows_per_band)
        ]
    )
    banded = sig.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_key")
    ).filter(F.col("band_key") != "")  # docs too short to shingle never match
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.select(F.explode("ids").alias("doc_a"), F.col("ids"))
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def _banded(sig: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    band_keys = F.array(
        *[
            F.concat_ws(
                "|",
                *[F.col(f"mh{j}") for j in range(b, min(b + rows_per_band, num_hashes))],
            )
            for b in range(0, num_hashes, rows_per_band)
        ]
    )
    return sig.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_key")
    ).filter(F.col("band_key") != "")


def minhash_lsh_pairs_between(
    new_docs: DataFrame,
    corpus: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 2,
    max_corpus_bucket: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Incremental dedup: LSH candidates between a NEW batch and an
    EXISTING corpus — the production ingestion shape (dedup what's coming
    in against what's already stored, never corpus x corpus).

    Both sides band their signatures; candidates come from an equi-join on
    (band_id, band_key) — so the work scales with band-key collisions, not
    |new| x |corpus|.  At scale, persist the corpus's banded signatures as
    a bucketed table on the band key and each batch joins shuffle-free.
    `max_corpus_bucket` drops corpus band keys hotter than the cap (the
    boilerplate guard) — DEFAULT-ON at DEFAULT_MAX_BUCKET_SIZE; `None`
    opts out.  Returns distinct (new_doc_id, corpus_doc_id)."""
    nb = _banded(minhash_signatures(new_docs, num_hashes), num_hashes, rows_per_band)
    cb = _banded(minhash_signatures(corpus, num_hashes), num_hashes, rows_per_band)
    if max_corpus_bucket is not None:
        hot = (
            cb.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_corpus_bucket)
            .select("band_id", "band_key")
        )
        cb = cb.join(broadcast(hot), ["band_id", "band_key"], "left_anti")
    return (
        nb.alias("n")
        .join(cb.alias("c"), ["band_id", "band_key"])
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .filter(F.col("new_doc_id") != F.col("corpus_doc_id"))
        .distinct()
    )


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on content hash; keeper = min(doc_id).
    One shuffle on md5(text) — partial aggregation makes the map side cheap
    even at 100 TB."""
    h = F.md5(F.col(text_col))
    return docs.groupBy(h.alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep exactly one row per distinct text (the min doc_id), dropping
    the rest — window-free implementation via semi-join on the keeper set."""
    keepers = exact_dedup_groups(docs, text_col).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    return docs.join(keepers, "doc_id", "left_semi")


SIMHASH_BITS = 60  # fits a signed long with headroom; 4 x 15-bit LSH bands
SIMHASH_BAND_BITS = 15


def word_hash60(w: Column) -> Column:
    """Per-word 60-bit hash: first 15 hex chars of md5 -> long.  Bit-exact
    across engines (DuckDB: CAST(concat('0x', substring(md5(w),1,15)) AS
    BIGINT)), unlike murmur/xxhash."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document: bit b of the signature is 1 iff the
    majority of the document's words have bit b set in their 60-bit hash.

    Shape: explode words -> per-word hash -> groupBy(doc_id) with 60
    codegen'd conditional SUMs (map-side partial aggregation), then fold
    the majority bits into one long.  Counter b = sum of bit b over words;
    majority test `2*counter > n_words` is the +1/-1 sign test without the
    subtraction.  Distributes cleanly: the shuffle carries one 60-counter
    row per doc, not the words.
    """
    # hash projected ONCE per word row: leaving `word_hash60(w)` inline in
    # the 60 sum expressions relies on codegen subexpression elimination
    # inside the aggregate, which does not fire across partial-agg update
    # expressions — 60 md5s per word instead of 1
    words = (
        _spread(docs)
        .select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .select("doc_id", word_hash60(F.col("w")).alias("_h"))
    )
    # each counter/bit as ONE F.expr string, not a chain of Column ops:
    # the 60-wide aggregate + fold costs ~900 Py4J round-trips (~1 s of
    # plan-build latency inside every timed run) built operator-by-
    # operator; as SQL snippets the JVM parses each in one call and the
    # resulting expression tree — and therefore the plan and the values —
    # is identical
    counters = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        *[
            F.expr(f"sum(shiftright(_h, {b}) & 1)").alias(f"c{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    sig_sql = " + ".join(
        f"(CASE WHEN c{b} * 2 > n_words THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return counters.select("doc_id", F.expr(sig_sql).alias("simhash"))


def simhash_band_keys(sig: Column) -> Column:
    """4 x 15-bit LSH band keys from a 60-bit signature."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return F.array(
        *[
            F.shiftright(sig, b * SIMHASH_BAND_BITS).bitwiseAND(F.lit(mask))
            for b in range(SIMHASH_BITS // SIMHASH_BAND_BITS)
        ]
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one 15-bit band
    (pigeonhole: hamming <= 3 over 4 bands guarantees a clean band), then
    exact hamming = bit_count(xor) filter.

    The stop-bucket guard is DEFAULT-ON here too (`None` = exact census)
    — and simhash needs it MORE than minhash: a 15-bit band key over
    structurally-templated text collects real hubs (the sf0.1 fixture
    already has a 269-doc band bucket; its unguarded C(269,2) expansion
    is 36k pairs from ONE key), so at crawl scale the unguarded form is
    quadratic on boilerplate even without verbatim duplication.

    Same bucket-local shape as minhash_lsh_pairs: ONE shuffle on
    (band_id, band_key), collect (doc_id, simhash) structs per bucket,
    expand pairs in place, distinct."""
    sig = simhash_signatures(docs)
    banded = sig.select(
        F.struct("doc_id", "simhash").alias("ds"),
        F.posexplode(simhash_band_keys(F.col("simhash"))).alias("band_id", "band_key"),
    )
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("ds")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.select(F.explode("ids").alias("a"), F.col("ids"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_containment_pairs(
    docs: DataFrame,
    shingle: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: containment(A,B) =
    |shingles(A) ∩ shingles(B)| / min(|A|, |B|).

    Catches subset duplication that Jaccard misses — a short document
    embedded verbatim in a long one scores containment 1.0 but Jaccard
    |A|/|B| (tiny).  The standard quote/excerpt/boilerplate-inclusion
    signal in corpus dedup.

    Same inverted-index shape as ngram_jaccard_pairs: join key is the
    shingle, so only documents sharing a shingle meet; `max_doc_freq`
    drops boilerplate stop-shingles whose posting lists would go
    quadratic at corpus scale."""
    n_docs = docs.count()
    sh = _spread(docs, n_rows=n_docs).select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", shingle))).alias("sh"),
    )
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        sh = sh.join(broadcast(hot), "sh", "left_anti")
    # ONE materialization for the three downstream reads (two join sides +
    # sizes); localCheckpoint, not persist, so the blocks are GC-reclaimed
    # with the result instead of pinned in the session cache (ADVICE r3)
    sh = _settle(sh, n_docs).transform(pin)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment",
            F.round(
                F.col("common").cast("double")
                / F.least(F.col("na"), F.col("nb")).cast("double"),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "common", "containment")
    )


def dedup_cluster_keepers(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The dedup output: one row per near-dup cluster — the component id
    (= min doc id in the cluster, the keeper) with the cluster size.
    Downstream, a semi-join of docs against keepers drops the rest.

    Rides `connected_components_star`, whose labels are pinned to a
    plain union-find on random graphs with deep chains
    (tests/test_pipeline_ops.py)."""
    comp = connected_components_star(docs, pairs, id_col)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
    ).withColumnRenamed("component", "keeper_doc_id")


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via shingle inverted index:
    explode shingles -> self-join on shingle -> count common shingles ->
    jaccard = common / (|A| + |B| - common); keep pairs >= threshold.

    Scale: the join key is a shingle (inverted index), so only documents
    sharing at least one shingle ever meet — no all-pairs blowup.
    `max_doc_freq` drops shingles appearing in more than that many docs
    (boilerplate stop-shingles whose posting lists go quadratic at corpus
    scale); None keeps exact Jaccard semantics.
    """
    n_docs = docs.count()
    sh = _spread(docs, n_rows=n_docs).select(
        "doc_id", F.explode(F.array_distinct(word_shingles("text", shingle))).alias("sh")
    )
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        # jaccard is then over the retained shingle space (numerator and
        # denominator consistently exclude stop-shingles)
        sh = sh.join(broadcast(hot), "sh", "left_anti")
    # ONE materialization for the three downstream reads (two join sides +
    # sizes); localCheckpoint, not persist — GC-reclaimed, not session-pinned
    sh = _settle(sh, n_docs).transform(pin)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


#: Edge-count bound for finishing connected components with a driver-side
#: union-find instead of distributed star rounds.  200k edges is a few MB
#: on the driver and ~0.1 s of union-find — far cheaper than O(log n)
#: rounds of tiny shuffle jobs.  Above the bound the distributed
#: contraction runs unchanged, so the operator stays 100 TB-safe.
CC_LOCAL_EDGE_THRESHOLD = 200_000


def _local_union_find(edge_rows, u_key: str = "u", v_key: str = "v") -> dict:
    """Union-find with path compression over a bounded edge list; returns
    {node: component}, component = min node id reachable (matching the
    distributed algorithms' label choice)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r[u_key], r[v_key]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components_star(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
    local_threshold: int = CC_LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """Near-dup clusters from candidate pairs: connected components by
    alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond").  Pairs only say
    "a ~ b"; keeping one doc per GROUP needs the transitive closure, and
    O(log n) rounds (not label propagation's O(cluster diameter)) keep
    chained near-dup families at corpus scale cheap.

    Two-level execution (the shape the Kiveris paper's two-phase variant
    and production CC systems use): if the deduplicated edge set is small
    enough to be a bounded driver collect (`local_threshold` edges, a few
    MB), finish with an in-memory union-find — O(log n) rounds of tiny
    shuffle jobs cost seconds of pure scheduling at that size.  Larger
    graphs run the distributed contraction:

    Per round (each one edge-key shuffle):
    - large-star: every node connects its LARGER neighbors to its
      minimum neighbor (or itself), halving tall trees;
    - small-star: every node connects its smaller-or-equal neighbors to
      the minimum, forming stars.
    Terminates when the edge multiset stops changing; the surviving edges
    are (node -> component minimum).  Both paths produce identical labels
    (min reachable id per node) — property-tested against a plain
    union-find, and oracle-checked by a recursive CTE.

    Returns (id_col, component) for every document.  Only paired nodes
    iterate; the (at corpus scale far larger) singleton set unions in
    afterwards as its own components, so the cost scales with the
    near-dup subgraph, not the corpus."""
    ids = docs.select(id_col).distinct()
    fwd = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = (
        fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        # pin_iter: the count() below and every contraction round execute
        # this frame while the function runs — must hold under audit too
        .transform(pin_iter)
    )

    n_edges = edges.count()
    if n_edges <= local_threshold:
        # bounded collect: n_edges/2 undirected pairs, each two ids
        comp = _local_union_find(edges.filter(F.col("u") < F.col("v")).collect())
        id_type = edges.schema["u"].dataType

        spark = docs.sparkSession
        # Pure-JVM local relation (guide §4: eliminate the Python
        # boundary): the previous parallelize(list)-backed frame ran 4
        # pickled-Python-RDD tasks through the Python runner in EVERY
        # downstream stage that read it — the singleton anti-join, the
        # caller's relabel joins, the final count each re-paid Python
        # worker round-trips for a driver-local list.  The _kv_rows
        # recipe (JSON once + from_json, constant-folded to a Literal)
        # keeps the same bounded rows entirely in the JVM.
        items = sorted(comp.items())
        jt = (
            "string"
            if id_type.simpleString() == "string"
            else id_type.simpleString()
        )
        ks = F.from_json(
            F.lit(_json.dumps([k for k, _ in items])), f"array<{jt}>"
        )
        vs = F.from_json(
            F.lit(_json.dumps([v for _, v in items])), f"array<{jt}>"
        )
        idx = F.col("id").cast("int") + 1
        labels = spark.range(0, len(items), 1, 1).select(
            F.element_at(ks, idx).cast(id_type).alias(id_col),
            F.element_at(vs, idx).cast(id_type).alias("component"),
        )
        singletons = ids.join(labels.select(id_col), id_col, "left_anti").select(
            F.col(id_col), F.col(id_col).alias("component")
        )
        return labels.unionByName(singletons)

    paired_ids = edges.select(F.col("u").alias(id_col)).distinct().persist()

    def star(e: DataFrame, large: bool) -> DataFrame:
        # m(u) = min over N(u) ∪ {u}; connect the selected side of N(u) to m.
        # The min is a window over the SAME key the edges are grouped by —
        # one shuffle per phase, where the groupBy+rejoin formulation costs
        # two; the single trailing distinct (instead of one per projection)
        # removes a third.  Bench: keeper entry 5.1 s -> 3.5 s at sf0.1.
        from pyspark.sql import Window

        w = Window.partitionBy("u")
        joined = e.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        side = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = (
            joined.filter(side)
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(joined.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
        )
        # keep edges symmetric for the next round's neighborhoods
        return out.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            out.select(F.col("b").alias("u"), F.col("a").alias("v"))
        ).distinct()

    # each round references the previous round's output twice per star
    # phase (groupBy + join); without truncation the logical plan doubles
    # every round and planning itself OOMs — localCheckpoint materializes
    # the round and cuts the lineage (use checkpoint(dir) on a cluster
    # for executor-loss resilience)
    def edge_digest(e: DataFrame):
        # (count, order-insensitive checksum) in ONE lightweight job —
        # the per-round convergence probe.  The old probe (count +
        # exceptAll) cost two extra shuffles of the full edge set per
        # round and dominated wall time at small scale (bench: keeper
        # entry 4.9 s -> ~2x faster with the digest probe).
        # bit_xor (not sum): order-insensitive over a distinct edge set and
        # cannot overflow under ANSI mode
        row = e.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).first()
        return (row["n"], row["h"])

    prev_digest = edge_digest(edges)
    for _ in range(max_iter):
        stepped = star(star(edges, large=True), large=False).transform(pin_iter)
        digest = edge_digest(stepped)
        if digest == prev_digest:
            # digest equality is a near-certain fixpoint signal; confirm
            # EXACTLY once with the full set difference so a checksum
            # collision can never end the iteration early (both sides are
            # distinct sets, so count equality + empty diff decide)
            if stepped.exceptAll(edges).isEmpty():
                edges = stepped
                break
        edges, prev_digest = stepped, digest
    # star edges point node -> component min; min per node is the label
    labels = edges.groupBy("u").agg(F.min("v").alias("_m")).select(
        F.col("u").alias(id_col),
        F.least(F.col("_m"), F.col(id_col)).alias("component"),
    )
    # nodes that ARE the component minimum have no outgoing smaller edge
    # after contraction only if isolated as centers; cover them from ids
    centers = paired_ids.join(labels, id_col, "left_anti").select(
        F.col(id_col), F.col(id_col).alias("component")
    )
    singletons = ids.join(paired_ids, id_col, "left_anti").select(
        F.col(id_col), F.col(id_col).alias("component")
    )
    out = labels.unionByName(centers).unionByName(singletons)
    # paired_ids is read twice in the final plan (centers + singletons
    # anti-joins); release the cache now — recomputing it is one distinct
    # over the final checkpointed edge set, and leaving it pinned leaks a
    # cached block per call into the session (ADVICE r3).  The per-round
    # localCheckpoint RDDs are unreferenced once `edges` is reassigned and
    # are reclaimed by the ContextCleaner on driver GC.
    paired_ids.unpersist()
    return out


def minhash_estimate_error(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 2,
    shingle: int = DEFAULT_SHINGLE,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """LSH estimator-quality certificate: for every MinHash-LSH candidate
    pair, the signature-agreement Jaccard ESTIMATE next to the EXACT
    shingle Jaccard and the absolute error — the measurement that says
    whether the banding parameters are tuned for the corpus, as a
    queryable result instead of a test constant (same spirit as the
    IVF-PQ recall certificate in ann.py).

    Scale: the exact side is computed ONLY for candidate-pair documents
    (semi-join before the shingle explode), so the verification cost is
    proportional to the candidate set, not the corpus — the standard
    verify stage of a two-phase LSH dedup.  `max_bucket_size` passes the
    stop-bucket guard through to the candidate generator: the pair graph
    densifies with corpus replication (hot band keys collect replicas),
    and the cap bounds the certificate's cost the same way it bounds the
    dedup itself (VERDICT r7 #5).
    """
    # pairs/sig/sh are each referenced by multiple downstream readers;
    # localCheckpoint (not persist) materializes them once and the blocks
    # are GC-reclaimed with the result — a persist would pin CacheManager
    # entries for the whole session (ADVICE r3 pattern).  The signature
    # frame is pinned FIRST and threaded into the candidate generator:
    # without that, the signature scan (the dominant map cost) ran three
    # times — inside the pairs lineage and once per est join side.
    n_docs = docs.count()
    sig = _settle(minhash_signatures(docs, num_hashes), n_docs).transform(pin)
    pairs = minhash_lsh_pairs(
        docs, num_hashes, rows_per_band, max_bucket_size=max_bucket_size, sig=sig
    ).transform(pin)
    agree = [
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(num_hashes)
    ]
    est = (
        pairs.join(
            sig.select(
                F.col("doc_id").alias("doc_a"),
                *[F.col(f"mh{j}").alias(f"a{j}") for j in range(num_hashes)],
            ),
            "doc_a",
        )
        .join(
            sig.select(
                F.col("doc_id").alias("doc_b"),
                *[F.col(f"mh{j}").alias(f"b{j}") for j in range(num_hashes)],
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                sum(agree[1:], agree[0]).cast("double") / F.lit(float(num_hashes)), 6
            ).alias("est_jaccard"),
        )
    )
    pair_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b")))
        .distinct()
    )
    # core-sized spread is safe HERE despite the explode-and-pin: the
    # semi-join bounds the exploded frame to candidate-pair members,
    # which the default bucket guard caps (the unguarded census opt-outs
    # were measured through 100x in r7/r8 without block pressure)
    sh = (
        _spread(docs)
        .join(pair_docs, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles("text", shingle))).alias("sh"),
        )
        .transform(pin)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    exact = (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("common"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("common"), F.lit(0))).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    out = est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias("abs_err"),
    )
    return out


def lsh_s_curve(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 2,
    shingle: int = DEFAULT_SHINGLE,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """The empirical LSH S-curve: candidate-capture rate of the MinHash
    banding per exact-Jaccard decile, next to the theoretical
    1-(1-s^r)^b at the decile midpoint — banding THEORY measured on the
    corpus itself, the table that justifies (or indicts) the chosen
    (bands, rows) against the dedup threshold.

    Pair universe: document pairs sharing >= 1 shingle (the shingle
    inverted index; `max_doc_freq` drops hot posting lists at corpus
    scale).  Candidate flag: the pair collides in >= 1 band.  Pure-hash
    band collisions with zero shingle overlap are excluded from the
    universe — at md5 strength they do not occur.

    Shape: shingle inverted-index self-join for the universe (the same
    bounded join as `minhash_estimate_error`'s exact side), banding
    pairs LEFT-joined as a flag, one decile hash-agg.  Rates are exact
    integer ratios."""
    b = num_hashes // rows_per_band
    sh = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles("text", shingle))).alias(
                "sh"
            ),
        )
    )
    if max_doc_freq is not None:
        df_ = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(df_.filter(F.col("df") <= max_doc_freq).select("sh"), "sh")
    sh = sh.transform(pin)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    universe = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    # EXPLICIT guard opt-out: the S-curve grades the BANDING's capture
    # rate per Jaccard decile — capping hot buckets here would grade the
    # guard, not the (bands, rows) choice (same rationale as the
    # precision/recall census)
    cand = minhash_lsh_pairs(
        docs, num_hashes, rows_per_band, max_bucket_size=None
    ).select("doc_a", "doc_b", F.lit(1).alias("is_cand"))
    flagged = universe.join(cand, ["doc_a", "doc_b"], "left").select(
        "jaccard", F.coalesce(F.col("is_cand"), F.lit(0)).alias("is_cand")
    )
    decile = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("int")
    return (
        flagged.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("is_cand").cast("long").alias("n_candidates"),
        )
        .select(
            "decile",
            F.round(F.col("decile").cast("double") / 10.0, 1).alias("jaccard_lo"),
            "n_pairs",
            "n_candidates",
            F.round(
                F.col("n_candidates").cast("double") / F.col("n_pairs").cast("double"),
                6,
            ).alias("candidate_rate"),
            F.round(
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0)
                    - F.pow(
                        F.col("decile").cast("double") / F.lit(10.0) + F.lit(0.05),
                        F.lit(float(rows_per_band)),
                    ),
                    F.lit(float(b)),
                ),
                6,
            ).alias("theory_mid_rate"),
        )
    )


def _local_pagerank(
    edge_rows, n: int, damping: float, iters: int
) -> list[tuple]:
    """Driver-local PageRank over a bounded directed edge list,
    replicating the distributed plan's arithmetic bit-for-bit so the
    two paths are value-interchangeable (pinned by test):

    - contribution ``pr/deg`` is IEEE-double division (Python float ==
      JVM double);
    - the cast to DECIMAL(38,18) goes through the double's shortest
      decimal string (``repr`` here, ``BigDecimal.valueOf`` /
      ``Double.toString`` in Spark — both emit the shortest uniquely
      round-tripping form) quantized HALF_UP to 18 dp;
    - the per-target SUM accumulates those exact decimals as integer
      attounits (order-free, exact);
    - the cast back to double is the correctly-rounded conversion both
      engines use (``Fraction``-backed here);
    - ``base + damping * sum`` is ordered as the Spark expression.

    Returns [(node, unrounded pr double)] — the caller rounds in Spark
    so ``F.round`` semantics stay engine-side."""
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    exp18 = Decimal("1e-18")
    deg: dict = {}
    for r in edge_rows:
        deg[r["s"]] = deg.get(r["s"], 0) + 1
    pr = {node: 1.0 / n for node in deg}
    base = (1 - damping) / n
    for _ in range(iters):
        # one decimal quantization per SOURCE node (contribution is a
        # function of the source only), integer adds per edge
        q = {
            s: int(
                Decimal(repr(pr[s] / d))
                .quantize(exp18, rounding=ROUND_HALF_UP)
                .scaleb(18)
            )
            for s, d in deg.items()
        }
        acc: dict = {}
        for r in edge_rows:
            d = r["d"]
            acc[d] = acc.get(d, 0) + q[r["s"]]
        pr = {
            d: base + damping * float(Fraction(v, 10**18))
            for d, v in acc.items()
        }
    return sorted(pr.items())


def pagerank(
    docs: DataFrame,
    pairs: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    id_col: str = "doc_id",
    local_threshold: int = CC_LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """PageRank over the (symmetric) near-dup candidate graph — the
    centrality view of duplication: high-rank documents sit at the core
    of large boilerplate families (the ones whose removal collapses the
    most near-dup mass), a stronger prioritization signal than raw
    degree when families chain.

    PR_i(t+1) = (1-d)/N + d * sum_{j->i} PR_j(t) / deg_j over paired
    nodes only (the symmetric edge set has no dangling nodes, so no
    redistribution term — exactly the closed form the oracle replays).

    Scale shape: per iteration ONE edge-key join of the rank vector
    (node-sized, not corpus-sized) against the static (edges x degree)
    frame plus one hash-agg on the target key.  Unlike CC (whose labels
    frame appears TWICE per step, doubling the plan each round), the
    rank chain references each previous frame once, so lineage grows
    linearly and needs truncation only every few rounds — one
    `localCheckpoint` per 4 iterations keeps planning flat without
    paying an eager job per round.  Per-step neighbor sums accumulate
    in DECIMAL(38,18), so the cross-engine value is independent of
    aggregation order; the damping arithmetic is ordered identically to
    the oracle SQL ((1-d)/n + d * sum).

    Two-level execution (same shape as connected_components_star): when
    the materialized edge set is a bounded driver collect
    (`local_threshold`), the iterations run in an arithmetic-identical
    driver loop (`_local_pagerank`) instead of 10 scheduling-bound tiny
    shuffle stages; both paths produce identical values (pinned by
    test)."""
    fwd = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
    edges = (
        fwd.union(fwd.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        # pin_iter: nodes.count() below executes this frame in-function
        .transform(pin_iter)
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    nodes = edges.select(F.col("s").alias(id_col)).distinct()
    n = nodes.count()
    if n == 0:
        return nodes.select(
            F.col(id_col), F.lit(None).cast("double").alias("pagerank")
        )
    if edges.count() <= local_threshold:
        # Two-level execution, same doctrine as connected_components_star:
        # below the bound the 10 iterations are 10 tiny shuffle stages
        # whose wall time is pure scheduling — collect the (already
        # materialized) edge list once and run the arithmetic-identical
        # driver loop, then lift the ranks back as a pure-JVM local
        # relation (no pickled-Python RDD in downstream stages).  The
        # distributed path below is unchanged and remains the >threshold
        # production shape.
        items = _local_pagerank(edges.collect(), n, damping, iters)
        spark = docs.sparkSession
        id_type = edges.schema["s"].dataType
        jt = (
            "string"
            if id_type.simpleString() == "string"
            else id_type.simpleString()
        )
        ks = F.from_json(
            F.lit(_json.dumps([k for k, _ in items])), f"array<{jt}>"
        )
        vs = F.from_json(
            F.lit(_json.dumps([v for _, v in items])), "array<double>"
        )
        idx = F.col("id").cast("int") + 1
        return spark.range(0, len(items), 1, 1).select(
            F.element_at(ks, idx).cast(id_type).alias(id_col),
            F.round(F.element_at(vs, idx), 6).alias("pagerank"),
        )
    ranks = nodes.select(id_col, F.lit(1.0 / n).alias("pr"))
    # static per-edge frame: (source, target, source degree)
    ej = edges.join(deg, "s").transform(pin)
    base = (1 - damping) / n
    for step in range(iters):
        contrib = ej.join(ranks, ej["s"] == ranks[id_col]).select(
            F.col("d").alias(id_col),
            (F.col("pr") / F.col("deg")).alias("c"),
        )
        ranks = contrib.groupBy(id_col).agg(
            (
                F.lit(base)
                + F.lit(damping)
                * F.sum(F.col("c").cast("decimal(38,18)")).cast("double")
            ).alias("pr")
        )
        if (step + 1) % 4 == 0 and step + 1 < iters:
            ranks = ranks.transform(pin)
    return ranks.select(id_col, F.round(F.col("pr"), 6).alias("pagerank"))


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Global triangle census of the near-dup candidate graph: n_edges,
    n_wedges (connected triples), n_triangles, and the global clustering
    coefficient 3*triangles/wedges — the structural diagnostic that
    separates chain-like near-dup graphs (templated boilerplate: low
    clustering) from clique-like ones (true duplicate clusters: high
    clustering), which in turn predicts whether `dedup_cluster_keepers`
    will collapse many docs per keeper or few.

    Algorithm (Suri-Vassilvitskii degree orientation): direct every edge
    from its lower-(degree, id) endpoint to the higher, enumerate wedges
    only at each node's OUT-neighbors, and close them against the edge
    set.  Out-degrees are bounded by O(sqrt(m)) under this orientation,
    so wedge generation is O(m^1.5) worst case instead of the
    sum-of-deg^2 blowup a hub node causes with naive wedge counting —
    the property that keeps this runnable on a 100 TB-corpus candidate
    graph where boilerplate hubs are guaranteed.  Three shuffles (degree
    agg, wedge self-join, closing-edge join); output is one row.
    """
    # canonicalize defensively: callers should pass doc_a < doc_b, but a
    # reversed or doubled edge would otherwise inflate degrees and hide
    # triangles whose closing edge is stored backwards
    # e is read five times (nodes x2, edge count, orientation join,
    # triangle close) and its lineage re-runs the WHOLE upstream LSH
    # pipeline per read — pin it once (CTE-reuse pass, VERDICT r6 #7).
    # Same for deg (3 reads) and directed (self-joined) below.
    e = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
        .transform(pin)
    )
    nodes = e.select(F.col("doc_a").alias("doc_id")).unionAll(
        e.select(F.col("doc_b").alias("doc_id"))
    )
    deg = (
        nodes.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .transform(pin)
    )

    edge_count = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    wedge_count = deg.agg(
        F.coalesce(F.sum(F.expr("degree * (degree - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges")
    )

    da = deg.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("degree", "deg_a")
    db = deg.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("degree", "deg_b")
    ranked = e.join(da, "doc_a").join(db, "doc_b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    directed = ranked.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
    ).transform(pin)
    # core-width co-partitioning on the wedge key: the oriented wedge
    # self-join is compute-bound fan-out over a byte-tiny input, which
    # AQE's size-based coalescing would otherwise run nearly serial
    # (same fix as adamic_adar_scores; explicit counts are exempt)
    directed = directed.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, "src"
    )
    wedges = (
        directed.alias("x")
        .join(directed.alias("y"), F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .select(F.col("x.dst").alias("doc_a"), F.col("y.dst").alias("doc_b"))
    )
    tri_count = wedges.join(e, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )

    out = edge_count.crossJoin(wedge_count).crossJoin(tri_count)
    coeff = F.when(
        F.col("n_wedges") > 0,
        F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_edges", "n_wedges", "n_triangles", coeff.alias("clustering_coeff")
    )


def _prefix_len_col(threshold: float):
    """``|x| - ceil(t*|x|) + 1`` — the lossless pigeonhole prefix length
    over an ``n_tok`` column.  ceil runs over a 9-decimal-rounded product,
    not the raw double: for thresholds whose binary product lands epsilon
    ABOVE the exact integer, raw ceil would shorten the prefix below the
    lossless bound (and diverge from the DuckDB oracles' exact-decimal
    arithmetic); round(., 9) makes both engines agree for any threshold
    with <= 9 decimal digits."""
    return (
        F.col("n_tok") - F.ceil(F.round(F.lit(threshold) * F.col("n_tok"), 9)) + 1
    ).cast("int")


def _prefix_index(tok, dfreq, threshold: float, part, hinted):
    """The AllPairs prefix index shared by the self-join and the
    new-vs-corpus form: rank each doc's tokens under the global
    (document-frequency, token) total order via a per-doc window and keep
    the ``|x| - ceil(t*|x|) + 1`` rarest — the lossless pigeonhole prefix.
    `part`/`hinted` carry the caller's scale strategy (identity below the
    broadcast bound; corpus-scaled co-partitioning + merge hints above
    it), so BOTH forms inherit the r10 co-partitioning and r11 merge-hint
    OOM fixes from one place instead of hand-mirrored copies."""
    sizes = (
        part(tok, "doc_id")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    )
    pos_w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (
        part(part(tok, "tok").join(hinted(dfreq), "tok"), "doc_id")
        .withColumn("pos", F.row_number().over(pos_w))
        .join(hinted(sizes), "doc_id")
        .withColumn("prefix_len", _prefix_len_col(threshold))
    )
    # `pos` is the token's position in the doc's FULL sorted list (the
    # row_number runs before the prefix cut) — exactly what the
    # positional filter's suffix bound needs
    return ranked.filter(F.col("pos") <= F.col("prefix_len")).select(
        "doc_id", "tok", "n_tok", "pos"
    )


def _min_overlap_col(threshold: float) -> Column:
    """Exact overlap threshold for the positional filter:
    ``Jaccard >= t  <=>  |x ∩ y| >= t/(1+t) * (|x| + |y|)``, so alpha =
    ``ceil(t/(1+t) * (na + nb))``.  Same 9-dp-rounded-before-ceil
    arithmetic as `_prefix_len_col` (and for the same reason: a float
    product epsilon above the exact integer must not raise the bound and
    drop a qualifying pair)."""
    frac = threshold / (1.0 + threshold)
    return (
        F.ceil(F.round(F.lit(frac) * (F.col("na") + F.col("nb")), 9))
        .cast("long")
    )


def _positional_cut(
    cand_tokens: DataFrame, out_a: str, out_b: str, threshold: float, part
) -> DataFrame:
    """PPJoin POSITIONAL filter (Xiao et al. WWW'08), aggregate form —
    the lossless tightening between the prefix candidate join and exact
    verification.  Input: one row per shared PREFIX token of a candidate
    pair, with each side's full-list position (`pa`, `pb`) and set sizes
    (`na`, `nb`).  Grouped per pair, the true overlap is bounded above
    by ``cnt + least(na - max(pa), nb - max(pb))``: every shared token
    outside both prefixes sits after the LAST shared prefix token on
    BOTH sides (the shared (df, tok) total order makes positions
    consistent — a shared token earlier than the last one in x is also
    earlier in y, so it is either counted in cnt or lives in both
    suffix regions).  Pairs whose bound cannot reach
    ``alpha = ceil(t/(1+t)(na+nb))`` are discarded BEFORE the verify
    join pays a common-token intersection for them — at 100x corpus the
    verify stage is the maintained query's dominant term, and this cut
    is what PPJoin buys over plain AllPairs.  Lossless ONLY against the
    uncapped pipeline: a stop-bucket cap drops shared prefix tokens
    from the join, the bound loses their count, and a qualifying pair
    could fall below alpha — so call sites apply this cut on the exact
    path only (the capped twins' oracles replay capped semantics
    verbatim).  Replaces the pair-dedup `.distinct()` — the groupBy is
    the same shuffle."""
    agg = (
        cand_tokens.transform(lambda d: part(d, out_a, out_b))
        .groupBy(out_a, out_b, "na", "nb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.max("pa").alias("_ma"),
            F.max("pb").alias("_mb"),
        )
    )
    ub = F.col("_cnt") + F.least(
        F.col("na") - F.col("_ma"), F.col("nb") - F.col("_mb")
    )
    return agg.filter(ub >= _min_overlap_col(threshold)).select(
        out_a, out_b, "na", "nb"
    )


def _drop_hot_postings(index: DataFrame, cap: int, guard=None) -> DataFrame:
    """Stop-bucket guard for posting-list joins: drop tokens whose posting
    list exceeds `cap` before the join, bounding its fan-out at C(cap, 2)
    per token.  Under ORGANIC skew the hot set is tiny (only tokens hotter
    than the cap) and a broadcast anti-join is right; under verbatim
    duplication with a tight cap the hot set scales with the duplicated
    VOCABULARY, so `guard` carries the caller's big-path strategy (the
    merge hint) exactly like every other linearly-growing aggregate in
    this pipeline — an unconditional broadcast here would re-introduce
    the driver-pressure class the r11 merge-hint work fixed."""
    hot = (
        index.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .select("tok")
    )
    hot = broadcast(hot) if guard is None else guard(hot)
    return index.join(hot, "tok", "left_anti")


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    shingle: int = DEFAULT_SHINGLE,
    broadcast_below_docs: int = 100_000,
    max_candidates_per_doc: int | None = None,
    max_posting_size: int | None = None,
) -> DataFrame:
    """Exact-Jaccard similarity self-join with PREFIX FILTERING (the
    AllPairs / PPJoin family, Bayardo et al. WWW'07, Xiao et al. WWW'08)
    over distinct word-shingle tokens.

    `ngram_jaccard_pairs` joins on EVERY shingle (full inverted index);
    here each document indexes only its prefix — the
    ``|x| - ceil(t*|x|) + 1`` globally-RAREST tokens under the
    (document-frequency, token) total order.  Pigeonhole on that shared
    order makes the filter lossless: two sets with Jaccard >= t overlap
    in at least ``ceil(t*|x|)`` tokens, so skipping the last
    ``ceil(t*|x|) - 1`` of either sorted set cannot skip ALL common
    tokens.  Candidates then pass a size filter
    (``t * max(|a|,|b|) <= min(|a|,|b|)``) before exact verification.

    Scale: this is the designed-for-100TB shape for exact-threshold
    similarity joins — hot (stop-word) posting lists NEVER enter the
    candidate join because frequent tokens sort to the suffix, so
    posting-list volume is bounded by the rare end of the Zipf curve,
    without the semantic approximation of a `max_doc_freq` cutoff
    (`dedup_ngram_jaccard_guarded` changes the answer; prefix filtering
    provably does not).  The global token order needs no global rank:
    each document sorts its own tokens by an attached (df, token) pair
    via a per-doc window, so nothing single-partition touches
    corpus-sized data.  The df-attach is a plain shuffle join on the
    token: shingle vocabulary grows ~linearly with corpus tokens (it is
    NOT Zipf-bounded like unigrams), so broadcasting it is a scale bug —
    measured: the broadcast variant OOMed the driver at 100x data.  Reference parity: same near-dup surface as
    `/root/reference/` dedup queries; algorithm from the public
    similarity-join literature.

    `max_candidates_per_doc` (VERDICT r10 #3): the EXACT form's verify
    stage is data-proportional by construction — every candidate sharing
    a prefix token pays a common-token join, which is the right batch
    semantics but the most expensive plan in the repo at 100x (~linear
    wall).  With a cap K, each anchor doc (the smaller id of a pair)
    verifies only its K most-promising candidates, ranked by the size
    upper bound ``least(na,nb)/greatest(na,nb)`` (the tightest Jaccard
    bound available before counting common tokens; ties broken by
    doc_b), so the verify join's input is at most K rows per doc — the
    interactive twin, the same role `max_bucket_size` plays for the LSH
    census.  `None` (the default) keeps the exact lossless form
    unchanged.  The cap prunes CANDIDATES, not results: a true pair
    ranked past K by its size bound is dropped, which is the documented
    trade; every pair it does return carries its exact verified Jaccard.

    `max_posting_size` is the stop-bucket guard for the CANDIDATE JOIN
    itself: prefix tokens whose posting list exceeds the cap are dropped
    before the self-join, bounding its fan-out at C(cap, 2) per token.
    The exact form needs no such cap under organic growth (frequent
    tokens sort to the suffix and never enter a prefix), but under
    VERBATIM duplication (mirror dumps, re-crawls) every clone lands in
    the SAME prefix postings and the join goes quadratic in the clone
    factor — the identical failure mode `minhash_lsh_pairs`'s
    `max_bucket_size` guards, measured in BENCH_SCALE.md's round-11
    densification section.  A clone family wider than the cap then yields
    no near-dup candidates at all, which is the documented division of
    labor: verbatim
    duplication belongs to `exact_dedup_groups` (one hash-groupBy), not
    to a similarity join."""
    # One count() job supplies BOTH data-driven decisions below (the
    # join-strategy switch and the pin's partition sizing) — the same
    # measured sizing rule as ANN's nlist scaling.
    n_docs = docs.count()
    tok = _spread(docs, n_rows=n_docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles("text", shingle))
        ).alias("tok"),
    )
    # one materialization, three readers (df agg, prefix build, verify join);
    # settled to a data-scaled width first so those readers' stages are not
    # 32 tasks over a few-MB frame at small corpora
    tok = _settle(tok, n_docs).transform(pin)

    # Join-strategy switch on a REAL stat: vocabulary, per-doc sizes,
    # prefix postings and token sets all grow ~linearly with the corpus
    # (shingle vocab is NOT Zipf-bounded like unigrams), and Catalyst's
    # static estimate of an aggregate's output is small enough that it
    # builds them as broadcasts unconditionally — which OOMed the driver
    # at 100x data.  Below the bound (vocab comfortably driver-sized)
    # broadcasting is the right plan and ~3x faster; above it every join
    # carries a merge hint so the plan is shuffle-based end to end.
    small = n_docs <= broadcast_below_docs
    hinted = (lambda d: d) if small else (lambda d: d.hint("merge"))
    # Above the bound, the shuffle-based plan additionally CO-PARTITIONS
    # every heavy exchange at a corpus-scaled width instead of the
    # session's core-count shuffle partitions: at 100x data, 32 reduce
    # partitions put ~3M exploded-shingle rows PER SIDE into each
    # concurrent SMJ sort and the heap died before spill thresholds
    # engaged (r10; a blanket AQE initialPartitionNum bump fixed it but
    # cost ~9% on the whole small-scale headline — this is the targeted
    # form).  The token-keyed index is partitioned ONCE per key shape;
    # the df aggregate, the prefix self-join, and the verify joins all
    # reuse that partitioning with zero extra exchanges (aliases keep
    # hash partitioning, aggregates keep their grouping-key clustering).
    # ~2000 docs of postings per partition — the _spread sizing rule.
    if small:
        part = lambda d, *k: d  # noqa: E731 — identity, AQE coalesces freely
    else:
        n_part = max(
            docs.sparkSession.sparkContext.defaultParallelism, n_docs // 2000
        )
        part = lambda d, *k: d.repartition(n_part, *k)  # noqa: E731
    tok_d = part(tok, "doc_id")
    dfreq = (
        part(tok, "tok").groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    prefix = part(_prefix_index(tok, dfreq, threshold, part, hinted), "tok")
    if max_posting_size is not None:
        prefix = _drop_hot_postings(
            prefix, max_posting_size, guard=None if small else hinted
        )
    cand = (
        prefix.alias("a")
        .join(
            hinted(prefix).alias("b"),
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # size filter: Jaccard >= t forces t*max <= min
        .filter(
            F.lit(threshold) * F.greatest("a.n_tok", "b.n_tok")
            <= F.least("a.n_tok", "b.n_tok")
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_tok").alias("na"),
            F.col("b.n_tok").alias("nb"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
    )
    if max_posting_size is None and max_candidates_per_doc is None:
        # exact path: the positional filter is lossless and replaces the
        # pair-dedup distinct (see _positional_cut)
        cand = _positional_cut(cand, "doc_a", "doc_b", threshold, part)
    else:
        cand = (
            cand.drop("pa", "pb")
            .transform(lambda d: part(d, "doc_a", "doc_b"))
            .distinct()
        )
    if max_candidates_per_doc is not None:
        # rank per anchor by the size upper bound BEFORE the common-token
        # join — one window shuffle over the (narrow) candidate rows buys
        # a verify stage bounded at K rows per doc.  The bound is rounded
        # to 9 decimals before ordering (and the certificate oracle
        # mirrors it): IEEE-double division and DuckDB's decimal division
        # can round two exactly-distinct ratios to equal (or reordered)
        # values, and an engine-dependent tie-break would change the kept
        # candidate set; after the round both engines see the same keys
        # and fall through to the same doc_b tie-break.
        ub = F.round(
            F.least("na", "nb").cast("double") / F.greatest("na", "nb").cast("double"),
            9,
        )
        w = Window.partitionBy("doc_a").orderBy(F.col("_ub").desc(), F.col("doc_b"))
        cand = (
            cand.withColumn("_ub", ub)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_candidates_per_doc)
            .drop("_ub", "_rn")
        )
    ta = tok_d.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = part(tok.select(F.col("doc_id").alias("doc_b"), "tok"), "doc_b", "tok")
    common = (
        part(cand, "doc_a")
        .join(hinted(ta), "doc_a")
        .transform(lambda d: part(d, "doc_b", "tok"))
        .join(hinted(tb), ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    jac = F.round(
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        6,
    )
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def prefix_filter_jaccard_pairs_between(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    shingle: int = DEFAULT_SHINGLE,
    max_posting_size: int | None = None,
    max_new_posting_size: int | None = None,
    broadcast_below_docs: int = 100_000,
) -> DataFrame:
    """Incremental exact-Jaccard similarity join with prefix filtering:
    candidates between a NEW batch and an EXISTING corpus — the
    production ingestion shape (`minhash_lsh_pairs_between`'s exact
    counterpart: dedup what's coming in against what's stored, never
    corpus x corpus, with NO sketch approximation).

    The prefix lemma is pairwise, so it holds across two sets exactly as
    within one — PROVIDED both sides' prefixes are ranked under the SAME
    global (document-frequency, token) order; df is therefore computed
    over the UNION of both sides' distinct shingles.  Above
    `broadcast_below_docs` TOTAL docs the plan switches to merge-hinted,
    corpus-co-partitioned joins exactly like the self-join above (the
    unhinted form built the linearly-growing df/size aggregates as
    driver broadcasts and OOMed at 100x — caught by the r11 slope run;
    big-path == small-path equality pinned by test).  At scale the
    corpus's prefix postings and its df table are maintained as stored
    tables bucketed on the token (df is a mergeable count — each batch's
    delta is one groupBy), so a batch joins shuffle-free against the
    posting buckets and the work scales with the BATCH, not the corpus:
    candidates = batch-prefix x matching corpus postings, verification =
    candidate-scoped.  `max_posting_size` drops corpus prefix tokens
    hotter than the cap (the stop-bucket guard, same trade as
    `minhash_lsh_pairs_between.max_corpus_bucket`); `None` keeps the
    join lossless.  The cap is DELIBERATELY one-sided: bounding only the
    corpus postings is the scales-with-the-batch doctrine (a token's
    candidate fan-out is |pn posting| x cap, and the batch side is
    bounded by the batch itself under organic ingestion).  For
    clone-heavy batches — mirror dumps whose hot prefix tokens also
    appear in corpus postings — that product is quadratic in the
    batch-side clone factor, so `max_new_posting_size` optionally
    applies the same stop-bucket cut to the BATCH prefix index,
    restoring the self-join's two-sided bound (measured in
    BENCH_SCALE.md's round-12 cross-side clone storm).  Returns (new_doc_id,
    corpus_doc_id, common, jaccard) with jaccard >= threshold, exact.
    """
    n_new = new_docs.count()
    n_corp = corpus.count()
    # Same join-strategy switch as the self-join above (and for the same
    # measured reason): shingle vocabulary, df and per-doc size aggregates
    # all grow ~linearly with the corpus, and Catalyst's static estimate
    # of an aggregate's output builds them as driver broadcasts
    # unconditionally — the unhinted form OOMed the driver at 100x (r11
    # slope run).  Below the bound broadcasting is the right plan; above
    # it every join carries a merge hint and the heavy exchanges
    # co-partition at a corpus-scaled width.
    n_total = n_new + n_corp
    small = n_total <= broadcast_below_docs
    hinted = (lambda d: d) if small else (lambda d: d.hint("merge"))
    if small:
        part = lambda d, *k: d  # noqa: E731 — identity, AQE coalesces freely
    else:
        n_part = max(
            corpus.sparkSession.sparkContext.defaultParallelism, n_total // 2000
        )
        part = lambda d, *k: d.repartition(n_part, *k)  # noqa: E731

    def toks(docs, n_rows):
        t = _spread(docs, n_rows=n_rows).select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles("text", shingle))).alias(
                "tok"
            ),
        )
        return _settle(t, n_rows).transform(pin)

    tn = toks(new_docs, n_new)
    tc = toks(corpus, n_corp)
    # ONE shared token order: df over the union of both sides
    dfreq = (
        part(tn.select("tok").unionByName(tc.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )

    pn = _prefix_index(tn, dfreq, threshold, part, hinted)
    pc = part(_prefix_index(tc, dfreq, threshold, part, hinted), "tok")
    guard = None if small else hinted
    if max_posting_size is not None:
        pc = _drop_hot_postings(pc, max_posting_size, guard=guard)
    if max_new_posting_size is not None:
        pn = _drop_hot_postings(pn, max_new_posting_size, guard=guard)
    cand = (
        part(pn, "tok")
        .alias("n")
        .join(hinted(pc).alias("c"), "tok")
        .filter(F.col("n.doc_id") != F.col("c.doc_id"))
        .filter(
            F.lit(threshold) * F.greatest("n.n_tok", "c.n_tok")
            <= F.least("n.n_tok", "c.n_tok")
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
            F.col("n.n_tok").alias("na"),
            F.col("c.n_tok").alias("nb"),
            F.col("n.pos").alias("pa"),
            F.col("c.pos").alias("pb"),
        )
    )
    if max_posting_size is None and max_new_posting_size is None:
        cand = _positional_cut(
            cand, "new_doc_id", "corpus_doc_id", threshold, part
        )
    else:
        cand = (
            cand.drop("pa", "pb")
            .transform(lambda d: part(d, "new_doc_id", "corpus_doc_id"))
            .distinct()
        )
    ta = tn.select(F.col("doc_id").alias("new_doc_id"), "tok")
    tb = part(
        tc.select(F.col("doc_id").alias("corpus_doc_id"), "tok"),
        "corpus_doc_id",
        "tok",
    )
    common = (
        part(cand, "new_doc_id")
        .join(hinted(ta), "new_doc_id")
        .transform(lambda d: part(d, "corpus_doc_id", "tok"))
        .join(hinted(tb), ["corpus_doc_id", "tok"])
        .groupBy("new_doc_id", "corpus_doc_id", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    jac = F.round(
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        6,
    )
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc_id", "corpus_doc_id", "common", "jaccard")
    )


# -- maintained prefix-filter corpus index (the at-scale ingestion form) -----

#: Target vocabulary rows per tok-range directory of the maintained
#: index.  The range count scales with the corpus (n_vocab / this, capped)
#: so each range directory stays a fixed-size unit of IO: a batch query
#: prunes to the ranges its token set can touch, and what it reads per
#: range does not grow as the corpus does.
_PREFIX_VOCAB_PER_RANGE = 250_000
_PREFIX_MAX_RANGES = 512

#: Below this corpus size the build skips the vocabulary count entirely
#: and cuts a single range: a corpus this small yields at most a
#: handful of ranges, whose pruning buys nothing at that table size,
#: while the count costs an extra pin + job of the df aggregate in
#: every small build (measured +~5-13 s at the 4k-49k-doc scales).
#: Ranges only steer IO granularity, so the cutover is a pure
#: performance knob — no answer depends on it.
_PREFIX_SMALL_CORPUS = 50_000

#: Documented rebuild threshold for `prefix_index_drift`: rebuild when the
#: stored postings' CURRENT document-frequency mass exceeds their EPOCH
#: mass by this factor — i.e. the average stored prefix token has become
#: twice as hot as the frozen order believed, so posting lists (and the
#: candidate join's fan-out) run ~2x past what a fresh (df, tok) order
#: would give.  A performance trigger only: staleness never costs a pair
#: (the frozen-order contract in `build_prefix_filter_index`).
PREFIX_REBUILD_INFLATION = 2.0


class _PrefixTables:
    """Table names backing one maintained prefix-filter index."""

    __slots__ = ("df", "postings", "tokens", "delta", "ranges", "meta")

    def __init__(self, name: str):
        self.df = f"{name}_df"
        self.postings = f"{name}_postings"
        self.tokens = f"{name}_tokens"
        self.delta = f"{name}_df_delta"
        self.ranges = f"{name}_ranges"
        self.meta = f"{name}_meta"

    def all(self) -> tuple[str, ...]:
        return (self.df, self.postings, self.tokens, self.delta, self.ranges, self.meta)


def _prefix_index_tables(name: str) -> _PrefixTables:
    return _PrefixTables(name)


def _lit_str_array(vals: list[str]) -> Column:
    """Array-of-strings literal built JVM-side in ONE Py4J call: JSON
    once + `from_json`, which the optimizer constant-folds to a plain
    Literal (the `lit_vector` recipe from ann.py, here for strings —
    per-element `F.lit` pays a Py4J round-trip each, and worse, a
    Python-backed `createDataFrame` costs a multi-second Python-runner
    job PER WRITE on this path)."""
    return F.from_json(F.lit(_json.dumps(vals)), "array<string>")


def _kv_rows(spark, pairs: list[tuple[str, int]]) -> DataFrame:
    """(key string, val long) rows as a pure-JVM local relation —
    `spark.range` + constant-folded array literals.  The obvious
    `spark.createDataFrame(pairs)` is Python-RDD-backed and each job
    over it pays seconds of Python-runner setup; this shape writes in
    ~0.3 s (and `append_prefix_filter_batch` pays it PER BATCH)."""
    ks = _lit_str_array([k for k, _ in pairs])
    vs = F.from_json(
        F.lit(_json.dumps([int(v) for _, v in pairs])), "array<bigint>"
    )
    idx = F.col("id").cast("int") + 1
    return spark.range(len(pairs)).select(
        F.element_at(ks, idx).alias("key"),
        F.element_at(vs, idx).cast("long").alias("val"),
    )


def _range_of(tok_col: Column, los: list[str]) -> Column:
    """Range id of a token under the stored boundary list: the GREATEST
    range whose lower bound <= tok (los is ascending, los[0] = "" so every
    string maps somewhere).  A pure column expression — O(n_ranges) string
    compares per row via a higher-order filter, fine for the <=512 ranges
    a single index keeps; at larger range counts the same rule would run
    as a broadcast range join.  Build-time assignment, append-time
    assignment and query-time pruning all route through THIS function, so
    a stored token and an equal batch token can never disagree on the
    range — that shared rule is what makes the pruning lossless."""
    if len(los) <= 1:
        return F.lit(0)
    arr = _lit_str_array(los)
    return (F.size(F.filter(arr, lambda b: b <= tok_col)) - 1).cast("int")


#: Per-process memo of each index's boundary list and meta dict — the
#: same lifetime as the in-memory table catalog (`_PREFIX_MAINTAINED`'s
#: pattern).  Boundaries change only at build/rebuild and meta only at
#: build/append/rebuild; those writers invalidate.  Saves two driver
#: jobs per batch query on the ingestion hot path.
_PREFIX_SIDECAR_CACHE: dict = {}


def _invalidate_prefix_sidecars(name: str) -> None:
    _PREFIX_SIDECAR_CACHE.pop(("ranges", name), None)
    _PREFIX_SIDECAR_CACHE.pop(("meta", name), None)


def _read_prefix_ranges(spark, name: str) -> list[str]:
    key = ("ranges", name)
    if key not in _PREFIX_SIDECAR_CACHE:
        t = _prefix_index_tables(name)
        rows = spark.table(t.ranges).orderBy("range_id").collect()
        _PREFIX_SIDECAR_CACHE[key] = [r["lo"] for r in rows]
    return _PREFIX_SIDECAR_CACHE[key]


def _read_prefix_meta(spark, name: str) -> dict:
    """Meta rows are mergeable: `n_docs` appends one row per batch and is
    read as a SUM (the same one-groupBy-per-batch pattern as the df
    delta); config keys are write-once constants."""
    key = ("meta", name)
    if key not in _PREFIX_SIDECAR_CACHE:
        t = _prefix_index_tables(name)
        out: dict = {}
        for r in (
            spark.table(t.meta).groupBy("key").agg(F.sum("val").alias("s")).collect()
        ):
            out[r["key"]] = r["s"]
        _PREFIX_SIDECAR_CACHE[key] = out
    return _PREFIX_SIDECAR_CACHE[key]


def build_prefix_filter_index(
    corpus: DataFrame,
    name: str,
    threshold: float = 0.7,
    shingle: int = DEFAULT_SHINGLE,
    n_buckets: int = 32,
    broadcast_below_docs: int = 100_000,
) -> None:
    """Materialize the corpus side of the incremental prefix-filter join
    as bucketed tables, so each ingested batch joins SHUFFLE-FREE against
    the stored postings and per-batch work scales with the BATCH, never
    the corpus — the design `prefix_filter_jaccard_pairs_between`'s
    docstring promises, now real (it recomputes the corpus side every
    call).  Four tables under `{name}_*`:

    - `{name}_df` (tok, df), bucketed+sorted by tok — the EPOCH document
      frequencies, the frozen token-order authority (below);
    - `{name}_postings` (tok, doc_id, n_tok), bucketed by tok — the
      corpus PREFIX index ranked under the (epoch df, tok) order;
    - `{name}_tokens` (doc_id, tok), bucketed by doc_id — full distinct
      token sets, the verification side;
    - `{name}_df_delta` (tok, df), bucketed by tok — created empty;
      `append_prefix_filter_batch` appends each batch's per-token counts
      here (df is a mergeable count: one groupBy per batch), and
      `current_prefix_df` folds epoch ⊎ deltas back into true
      frequencies.

    THE FROZEN-ORDER CONTRACT: the pairwise prefix lemma requires both
    sides' prefixes ranked under ONE SHARED total token order — any
    shared order is lossless; (df, tok) is merely the best-performing
    one (rarest tokens first keeps posting lists short).  The epoch
    snapshot in `{name}_df` IS that order, permanently: batch queries
    and appends rank against it (unseen tokens order first at df 0), so
    exactness never depends on how stale it is.  Folding deltas into the
    ordering authority instead would silently break losslessness against
    every previously-ranked posting.  Staleness costs only prefix-size
    OPTIMALITY — `prefix_index_drift` measures the drift and
    `rebuild_prefix_filter_index` restores it: a performance decision,
    never a correctness one.

    FILE LAYOUT (the scan side of the 100TB design): `{name}_df` and
    `{name}_postings` additionally carry a `tok_range` DIRECTORY
    partition — ranges are tok intervals cut from the epoch vocabulary at
    ~`_PREFIX_VOCAB_PER_RANGE` tokens each (boundaries persisted in
    `{name}_ranges`), so the range COUNT grows with the corpus while each
    range stays a fixed-size unit of IO.  A batch query computes the
    range ids its token set can touch and partition-prunes both scans to
    them: what a batch reads is bounded by its own token spread, not the
    corpus (lossless because build, append and query assign ranges
    through the one shared `_range_of` rule).  Every frame is also
    repartitioned onto its bucket key before writing so each bucket is
    ONE file per range — without this, bucketBy fans each writer task
    across all buckets and the table shatters into tasks x buckets tiny
    files whose open cost, not their bytes, dominates every later scan
    (measured: 7,969 files and a 4.4x batch-query slope at 100x corpus;
    see BENCH_SCALE round-13).  `{name}_meta` records corpus size and
    build parameters (mergeable rows — appends add `n_docs` increments),
    which later calls read instead of re-counting the corpus."""
    from broker_spark.storage.bucketed import clear_stale_locations

    spark = corpus.sparkSession
    t = _prefix_index_tables(name)
    clear_stale_locations(spark, *t.all())
    n_corp = corpus.count()
    # same scale strategy as the recomputing forms: merge hints +
    # corpus-scaled co-partitioning above the broadcast bound
    small = n_corp <= broadcast_below_docs
    hinted = (lambda d: d) if small else (lambda d: d.hint("merge"))
    if small:
        part = lambda d, *k: d  # noqa: E731 — identity, AQE coalesces freely
    else:
        n_part = max(
            corpus.sparkSession.sparkContext.defaultParallelism, n_corp // 2000
        )
        part = lambda d, *k: d.repartition(n_part, *k)  # noqa: E731
    tc = _spread(corpus, n_rows=n_corp).select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", shingle))).alias(
            "tok"
        ),
    )
    tc = _settle(tc, n_corp).transform(pin)
    dfreq = (
        part(tc, "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    if n_corp < _PREFIX_SMALL_CORPUS:
        los = [""]
    else:
        dfreq = dfreq.transform(pin)
        los = _cut_ranges(dfreq, dfreq.count())
    postings = _prefix_index(tc, dfreq, threshold, part, hinted)
    _write_prefix_tables(spark, t, dfreq, postings, tc, los, n_buckets)
    _invalidate_prefix_sidecars(name)
    meta = _kv_rows(
        spark,
        [
            ("n_docs", n_corp),
            ("threshold_ppb", int(round(threshold * 1e9))),
            ("shingle", shingle),
            ("n_buckets", n_buckets),
        ],
    )
    meta.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(t.meta)


def _cut_ranges(dfreq: DataFrame, n_vocab: int) -> list[str]:
    """Ascending tok-range lower bounds over the epoch vocabulary, one
    range per ~`_PREFIX_VOCAB_PER_RANGE` tokens.  Boundaries come from a
    range-repartition of the vocab (Spark's distributed sampled sort —
    no single-partition exchange) and per-partition minima; they only
    steer IO granularity, so sampling imprecision is harmless.  los[0] is
    forced to "" — `_range_of` must map EVERY string (epoch-unseen
    appended tokens included) to a range."""
    n_ranges = max(1, min(_PREFIX_MAX_RANGES, n_vocab // _PREFIX_VOCAB_PER_RANGE))
    if n_ranges <= 1:
        return [""]
    mins = (
        dfreq.select("tok")
        .repartitionByRange(n_ranges, "tok")
        .select(F.spark_partition_id().alias("p"), "tok")
        .groupBy("p")
        .agg(F.min("tok").alias("lo"))
        .orderBy("p")
        .collect()
    )
    los = [r["lo"] for r in mins]
    los[0] = ""
    return los


def _write_prefix_tables(
    spark,
    t: _PrefixTables,
    dfreq: DataFrame,
    postings: DataFrame,
    tc: DataFrame,
    los: list[str],
    n_buckets: int,
) -> None:
    """Write the df/postings/tokens/delta/ranges tables under the shared
    layout: tok-keyed tables get the `tok_range` directory partition and
    every frame is repartitioned onto its bucket key first (one file per
    bucket per range — see `build_prefix_filter_index`)."""
    ranged = lambda d: d.withColumn("tok_range", _range_of(F.col("tok"), los))  # noqa: E731
    empty_delta = spark.range(0).select(
        F.lit("").alias("tok"), F.lit(0).cast("long").alias("df")
    )
    for frame, nm, keys, dirs in (
        (ranged(dfreq), t.df, ("tok",), ("tok_range",)),
        (ranged(postings), t.postings, ("tok",), ("tok_range",)),
        (tc, t.tokens, ("doc_id",), ()),
        (empty_delta, t.delta, ("tok",), ()),
    ):
        w = (
            frame.repartition(n_buckets, *[F.col(k) for k in keys])
            .write.mode("overwrite")
            .bucketBy(n_buckets, *keys)
            .sortBy(*keys)
            .format("parquet")
        )
        if dirs:
            w = w.partitionBy(*dirs)
        w.saveAsTable(nm)
    bounds = spark.range(1).select(
        F.posexplode(_lit_str_array(los)).alias("range_id", "lo")
    ).select(F.col("range_id").cast("int"), "lo")
    bounds.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(t.ranges)


def _rank_batch_under_epoch(tn: DataFrame, epoch_df: DataFrame, threshold: float):
    """Rank a batch's tokens under the FROZEN epoch (df, tok) order: a
    LEFT join against the stored df (tokens the epoch never saw rank
    first at df 0), then the usual per-doc window + lossless prefix cut.
    df-0 placement is PART of the shared total order, not arbitrary: the
    build-time corpus cannot contain epoch-unseen tokens, but appended
    batches do — `append_prefix_filter_batch` writes their postings
    ranked at df 0 through this same function, and a later batch's equal
    token (also df 0, tie-broken by tok) matches them.  Every
    participant sharing the one (epoch-df, tok) order is what the prefix
    lemma needs."""
    sizes = tn.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    pos_w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (
        tn.join(epoch_df, "tok", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0).cast("long")))
        .withColumn("pos", F.row_number().over(pos_w))
        .join(sizes, "doc_id")
        .withColumn("prefix_len", _prefix_len_col(threshold))
    )
    return ranked.filter(F.col("pos") <= F.col("prefix_len")).select(
        "doc_id", "tok", "n_tok", "pos"
    )


def prefix_filter_jaccard_pairs_maintained(
    spark,
    new_docs: DataFrame,
    name: str,
    threshold: float = 0.7,
    shingle: int = DEFAULT_SHINGLE,
    max_posting_size: int | None = None,
    max_new_posting_size: int | None = None,
    broadcast_below_docs: int = 100_000,
) -> DataFrame:
    """`prefix_filter_jaccard_pairs_between` against a MAINTAINED index
    built by `build_prefix_filter_index` — the production ingestion hot
    path.  Per-batch work: tokenize the batch, rank it under the frozen
    epoch order (one left join against the bucketed df table), join the
    batch prefix against the stored postings (shuffle-free on the
    corpus side — bucketed on tok), size-filter, then verify candidates
    exactly against the stored token sets semi-joined down to candidate
    corpus docs (bucketed on doc_id, so the semi-join is shuffle-free on
    the stored side too).  Nothing corpus-sized is ever shuffled or
    rebuilt; the corpus contributes only bucket-pruned reads.  Returns
    the same exact (new_doc_id, corpus_doc_id, common, jaccard >= t)
    rows as the recomputing form — both are lossless-filter + exact
    verify, and the final pair set does not depend on WHICH shared token
    order ranked the prefixes (pinned by test).

    FILE-LEVEL PRUNING: before the joins, the batch's distinct token set
    is mapped through the stored range boundaries (`_range_of` — the same
    rule that placed every stored row) and both tok-keyed scans are
    partition-filtered to the touched `tok_range` directories.  A range
    with no batch token cannot hold an equal token, so the filter is
    lossless; what the batch READS is then bounded by its own token
    spread times a fixed per-range size, not by the corpus.  The range-id
    job is one batch-proportional collect over the pinned token frame.

    `max_posting_size` / `max_new_posting_size`: the same stop-bucket
    guards as the recomputing form (corpus / batch side respectively).
    Above `broadcast_below_docs` stored docs (read from `{name}_meta`,
    maintained by appends — no corpus re-count) the hot-token cuts route
    through a merge hint instead of an unconditional broadcast, mirroring
    `prefix_filter_jaccard_pairs_between`: under verbatim duplication the
    hot set scales with the duplicated vocabulary and would otherwise
    re-introduce the driver-pressure class the r11 merge-hint work fixed
    (ADVICE r12)."""
    t = _prefix_index_tables(name)
    epoch_df = spark.table(t.df)
    pc = spark.table(t.postings)
    tall = spark.table(t.tokens)
    n_new = new_docs.count()
    tn = _spread(new_docs, n_rows=n_new).select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", shingle))).alias(
            "tok"
        ),
    )
    # LAZY pin: the range-id collect right below is the frame's first
    # action and materializes the checkpoint as part of its own job —
    # an eager pin here paid one extra batch-sized job per query for
    # nothing (guide §1.2: fewer passes).  The collect is synchronous,
    # so every later reader (the rank join, the verify side) hits the
    # already-landed cache — no concurrent-reader race.
    tn = _settle(tn, n_new).transform(pin_lazy)
    los = _read_prefix_ranges(spark, name)
    if len(los) > 1:
        ids = [
            r["rid"]
            for r in tn.select(_range_of(F.col("tok"), los).alias("rid"))
            .distinct()
            .collect()
        ]
        if len(ids) < len(los):
            epoch_df = epoch_df.filter(F.col("tok_range").isin(ids))
            pc = pc.filter(F.col("tok_range").isin(ids))
    else:
        # no stored ranges -> no collect ran: materialize before the
        # main query's independent readers can race on the lazy pin
        tn = tn.transform(lambda d: pin(d, eager=True))
    epoch_df = epoch_df.drop("tok_range")
    pc = pc.drop("tok_range")
    n_stored = _read_prefix_meta(spark, name).get("n_docs", 0)
    guard = None if n_stored <= broadcast_below_docs else (lambda d: d.hint("merge"))
    pn = _rank_batch_under_epoch(tn, epoch_df, threshold)
    if max_posting_size is not None:
        pc = _drop_hot_postings(pc, max_posting_size, guard=guard)
    if max_new_posting_size is not None:
        pn = _drop_hot_postings(pn, max_new_posting_size, guard=guard)
    cand = (
        pn.alias("n")
        .join(pc.alias("c"), "tok")
        .filter(F.col("n.doc_id") != F.col("c.doc_id"))
        .filter(
            F.lit(threshold) * F.greatest("n.n_tok", "c.n_tok")
            <= F.least("n.n_tok", "c.n_tok")
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
            F.col("n.n_tok").alias("na"),
            F.col("c.n_tok").alias("nb"),
            F.col("n.pos").alias("pa"),
            F.col("c.pos").alias("pb"),
        )
    )
    if max_posting_size is None and max_new_posting_size is None:
        cand = _positional_cut(
            cand, "new_doc_id", "corpus_doc_id", threshold, lambda d, *k: d
        )
    else:
        cand = cand.drop("pa", "pb").distinct()
    ta = tn.select(F.col("doc_id").alias("new_doc_id"), "tok")
    cand_ids = cand.select(F.col("corpus_doc_id").alias("doc_id")).distinct()
    tb = tall.join(cand_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("corpus_doc_id"), "tok"
    )
    common = (
        cand.join(ta, "new_doc_id")
        .join(tb, ["corpus_doc_id", "tok"])
        .groupBy("new_doc_id", "corpus_doc_id", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    jac = F.round(
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        6,
    )
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc_id", "corpus_doc_id", "common", "jaccard")
    )


def append_prefix_filter_batch(
    batch: DataFrame,
    name: str,
    threshold: float = 0.7,
    shingle: int = DEFAULT_SHINGLE,
    n_buckets: int = 32,
) -> None:
    """Fold an ingested (already-deduped) batch INTO the maintained index
    so the next batch dedups against it: append the batch's token sets to
    `{name}_tokens`, its prefix rows — ranked under the FROZEN epoch
    order, never a recomputed one (see `build_prefix_filter_index`) — to
    `{name}_postings`, and its per-token counts to `{name}_df_delta`
    (the mergeable-count df update: ONE batch-sized groupBy, no corpus
    read).  All three appends are batch-proportional; the corpus is
    never re-tokenized, re-ranked, or re-shuffled.  Appended postings
    land in the `tok_range` directory the stored boundaries assign (the
    shared `_range_of` rule — what keeps query-time pruning lossless over
    appends), and each appended frame is repartitioned onto its bucket
    key first so an append adds at most one file per bucket per touched
    range, not writer-tasks x buckets; `compact_prefix_filter_index`
    bin-packs the accumulation when appends pile up."""
    spark = batch.sparkSession
    t = _prefix_index_tables(name)
    epoch_df = spark.table(t.df).drop("tok_range")
    n_batch = batch.count()
    tb = _spread(batch, n_rows=n_batch).select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", shingle))).alias(
            "tok"
        ),
    )
    tb = _settle(tb, n_batch).transform(pin)
    los = _read_prefix_ranges(spark, name)
    pb = _rank_batch_under_epoch(tb, epoch_df, threshold).withColumn(
        "tok_range", _range_of(F.col("tok"), los)
    )
    delta = tb.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    for frame, nm, keys, dirs in (
        (pb, t.postings, ("tok",), ("tok_range",)),
        (tb, t.tokens, ("doc_id",), ()),
        (delta, t.delta, ("tok",), ()),
    ):
        w = (
            frame.repartition(n_buckets, *[F.col(k) for k in keys])
            .write.mode("append")
            .bucketBy(n_buckets, *keys)
            .sortBy(*keys)
            .format("parquet")
        )
        if dirs:
            w = w.partitionBy(*dirs)
        w.saveAsTable(nm)
    n_docs = _kv_rows(spark, [("n_docs", n_batch)])
    n_docs.coalesce(1).write.mode("append").format("parquet").saveAsTable(t.meta)
    _invalidate_prefix_sidecars(name)


def current_prefix_df(spark, name: str) -> DataFrame:
    """True document frequencies of the maintained corpus = the frozen
    epoch snapshot ⊎ every appended batch delta, folded by one groupBy
    (df is a mergeable count).  This is the REBUILD-DECISION input — how
    far posting-size optimality has drifted from the epoch order — never
    the ordering authority (see `build_prefix_filter_index`);
    `prefix_index_drift` turns it into the decision metric."""
    t = _prefix_index_tables(name)
    # The explicit repartition is a CORRECTNESS guard, not tuning: Spark
    # 4.1.2 plans the aggregate over a Union of two same-bucketed scans
    # with NO Exchange (each child's bucket partitioning is taken to
    # satisfy the distribution, but Union CONCATENATES partitions), so
    # the same token's epoch and delta rows land in different tasks and
    # never merge — measured: 16,852 rows out instead of 14,495 distinct
    # tokens on the sf0.001 fixture.  Forcing the exchange restores the
    # merge; this path runs per rebuild decision, not per batch.
    return (
        spark.table(t.df)
        .select("tok", "df")
        .unionByName(spark.table(t.delta).select("tok", "df"))
        .repartition(F.col("tok"))
        .groupBy("tok")
        .agg(F.sum("df").cast("long").alias("df"))
    )


def prefix_index_drift(spark, name: str) -> DataFrame:
    """THE rebuild-decision metric for a maintained prefix index: how
    much hotter the stored prefix postings' tokens are under the CURRENT
    document frequencies than under the frozen EPOCH order that chose
    them.  One row: each stored posting row contributes its token's epoch
    df (0 for epoch-unseen appended tokens — honest: those were ranked
    blind) and its current df; `inflation` is the mass ratio and
    `should_rebuild` applies the documented `PREFIX_REBUILD_INFLATION`
    threshold.  Prefix ROW COUNT per doc is order-invariant
    (|x| - ceil(t|x|) + 1), so what drifts is which tokens fill the
    prefix — inflation ~1 means the postings are still the rare end of
    the distribution; inflation >= 2 means the average stored posting
    token is twice as common as the order believed, and the candidate
    join fans out accordingly.  Corpus-proportional by nature (it audits
    the whole index) but runs per rebuild DECISION, never per batch —
    the same cadence class as the reference's bucket rollover checks
    (`src/storage/BucketManager.ts:325-361`)."""
    t = _prefix_index_tables(name)
    post_toks = spark.table(t.postings).select("tok")
    epoch = spark.table(t.df).select("tok", F.col("df").alias("epoch_df"))
    cur = current_prefix_df(spark, name).select("tok", F.col("df").alias("cur_df"))
    mass = (
        post_toks.join(epoch, "tok", "left")
        .join(cur, "tok", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("posting_rows"),
            F.coalesce(F.sum("epoch_df"), F.lit(0)).cast("long").alias("epoch_mass"),
            F.coalesce(F.sum("cur_df"), F.lit(0)).cast("long").alias("current_mass"),
        )
    )
    infl = F.round(
        F.col("current_mass").cast("double")
        / F.greatest(F.col("epoch_mass"), F.lit(1)).cast("double"),
        6,
    )
    return mass.select(
        "posting_rows",
        "epoch_mass",
        "current_mass",
        infl.alias("inflation"),
        (infl >= F.lit(PREFIX_REBUILD_INFLATION)).alias("should_rebuild"),
    )


def rebuild_prefix_filter_index(spark, name: str) -> None:
    """Re-cut the maintained index under a FRESH epoch order — the action
    `prefix_index_drift` recommends.  Parameters come from `{name}_meta`
    (write-once at build); the corpus text is NOT needed: `{name}_tokens`
    already holds every doc's distinct token set (epoch + all appends),
    so the rebuild re-counts df and re-ranks prefixes from it, writes a
    new epoch df / postings / boundaries, empties the delta, and
    compacts the tokens table in passing.  The new epoch df equals
    `current_prefix_df` of the old index exactly (pinned by test — df is
    a mergeable count either way).  Locally the overwrite is in-place;
    at scale the same function would write under a versioned epoch name
    and swap a pointer, the reference's bucket-rollover pattern
    (`src/storage/BucketManager.ts:325-361`)."""
    t = _prefix_index_tables(name)
    meta = _read_prefix_meta(spark, name)
    threshold = meta["threshold_ppb"] / 1e9
    n_buckets = int(meta["n_buckets"])
    n_docs = int(meta["n_docs"])
    small = n_docs <= 100_000
    hinted = (lambda d: d) if small else (lambda d: d.hint("merge"))
    if small:
        part = lambda d, *k: d  # noqa: E731
    else:
        n_part = max(spark.sparkContext.defaultParallelism, n_docs // 2000)
        part = lambda d, *k: d.repartition(n_part, *k)  # noqa: E731
    # pin the stored token sets BEFORE any overwrite below touches disk —
    # everything else derives from this one frame
    tc = pin(spark.table(t.tokens).select("doc_id", "tok"))
    dfreq = (
        part(tc, "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    if n_docs < _PREFIX_SMALL_CORPUS:
        los = [""]
    else:
        dfreq = dfreq.transform(pin)
        los = _cut_ranges(dfreq, dfreq.count())
    postings = _prefix_index(tc, dfreq, threshold, part, hinted)
    _write_prefix_tables(spark, t, dfreq, postings, tc, los, n_buckets)
    _invalidate_prefix_sidecars(name)
    meta_rows = _kv_rows(
        spark,
        [
            ("n_docs", n_docs),
            ("threshold_ppb", int(meta["threshold_ppb"])),
            ("shingle", int(meta["shingle"])),
            ("n_buckets", n_buckets),
        ],
    )
    meta_rows.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(
        t.meta
    )


def compact_prefix_filter_index(spark, name: str) -> None:
    """Small-file compaction for the append-accumulating tables of a
    maintained prefix index — the file-layout half of the lifecycle
    (`rebuild_prefix_filter_index` is the ordering half; this one never
    changes a value, only file counts).  Each `append_prefix_filter_batch`
    adds a file set to postings/tokens/delta; after thousands of batches
    the open cost of those files, not their bytes, dominates every batch
    query (the same pathology the build-time bucket-aligned repartition
    fixes — measured in BENCH_SCALE round-13).  Rewrites each table back
    to one file per bucket (per range for postings), folding the delta's
    mergeable counts in passing; the epoch df and boundaries are
    untouched, so the frozen-order contract is untouched.  Each table's
    content is pinned (eager localCheckpoint — lineage cut, rows live in
    the block store) before its files are overwritten in place; a
    DROP+RENAME swap table would be the zero-copy alternative but loses
    a directory-partitioned table's per-partition locations on rename
    (measured: the renamed postings table read back 0 rows), and at the
    index's actual size — the prefix rows, not the corpus — the pinned
    rewrite is cheap.  At petabyte postings the same rewrite runs
    per-tok_range directory, which is exactly what the range layout is
    for."""
    t = _prefix_index_tables(name)
    meta = _read_prefix_meta(spark, name)
    n_buckets = int(meta["n_buckets"])
    delta_folded = (
        spark.table(t.delta)
        .repartition(F.col("tok"))
        .groupBy("tok")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    for nm, frame, keys, dirs in (
        (t.postings, spark.table(t.postings), ("tok",), ("tok_range",)),
        (t.tokens, spark.table(t.tokens), ("doc_id",), ()),
        (t.delta, delta_folded, ("tok",), ()),
    ):
        w = (
            pin(frame)
            .repartition(n_buckets, *[F.col(k) for k in keys])
            .write.mode("overwrite")
            .bucketBy(n_buckets, *keys)
            .sortBy(*keys)
            .format("parquet")
        )
        if dirs:
            w = w.partitionBy(*dirs)
        w.saveAsTable(nm)


def incremental_components(
    docs: DataFrame,
    old_pairs: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Incremental connected components: merge a NEW batch of candidate
    pairs into an existing clustering WITHOUT re-running CC over the
    full edge set — the graph-domain analog of
    `rollup.merge_rollup_partials` (components, like count/sum, are a
    merge-friendly structure: contract, solve small, expand).

    Three steps: (1) base CC over the old pairs (in production this is
    the STORED labeling, not a recompute); (2) contract — map each new
    edge's endpoints through their base labels and keep only edges that
    BRIDGE two base components; (3) CC on the contracted label graph
    (nodes = base labels, edges = bridges — orders of magnitude smaller
    than the corpus), then one join to relabel.  Because base labels are
    min-ids of their components and the meta-CC takes min reachable
    label, the final labeling is exactly the full-recompute labeling —
    the certificate entry proves it hash-identical against the same
    recursive-CTE oracle as `dedup_components_star`.  At 100 TB a nightly
    crawl's delta touches the bridge graph, never the corpus.

    Both CC solves go through the star/union-find two-level path: at
    test scale each collapses to one bounded collect, and at corpus
    scale the contraction rounds are O(log n).

    `base` is materialized once (localCheckpoint): four readers follow
    (both bridge endpoint maps, the meta-node set, the final relabel
    join) and each would otherwise re-run the base solve + singleton
    anti-join; in production base is the STORED labeling, so the
    checkpoint stands in for that read."""
    # pin_iter (lazy): the meta-solve below runs its own internal actions
    # (edge count / convergence digest) over frames derived from `base`
    base = connected_components_star(docs, old_pairs, id_col, max_iter).transform(
        pin_iter_lazy
    )
    la = base.select(F.col(id_col).alias("doc_a"), F.col("component").alias("ca"))
    lb = base.select(F.col(id_col).alias("doc_b"), F.col("component").alias("cb"))
    bridges = (
        new_pairs.select("doc_a", "doc_b")
        .join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("doc_a"), F.col("cb").alias("doc_b"))
        .distinct()
    )
    meta_nodes = base.select(F.col("component").alias(id_col)).distinct()
    meta = connected_components_star(meta_nodes, bridges, id_col, max_iter)
    relabel = meta.select(
        F.col(id_col).alias("_base_label"), F.col("component").alias("_final")
    )
    return base.join(
        relabel, base["component"] == relabel["_base_label"]
    ).select(id_col, F.col("_final").alias("component"))


def adamic_adar_scores(pairs: DataFrame, k: int = 50) -> DataFrame:
    """Link prediction over the candidate graph: for every NON-edge pair
    with at least one common neighbor, the common-neighbor count, the
    neighborhood Jaccard, and the Adamic-Adar score
    sum_n 1/ln(deg(n)) — the classic "which near-dup edges did LSH
    MISS" audit (a high-AA non-edge is a probable same-cluster pair the
    banding narrowly failed to bucket together).

    Shape: adjacency both ways (one union), wedge join on the shared
    neighbor (equi-join, never all-pairs), anti-join to drop existing
    edges.  A common neighbor has degree >= 2 by construction, so
    ln(deg) > 0.  AA terms are picounit-quantized before the sum so
    both engines add exact integers (the ordering key is the quantized
    sum itself — fully deterministic).  Top-k by (aa desc, pair).

    Edges are normalized to (least, greatest) orientation first, so a
    caller supplying reverse-oriented pairs cannot leak a real edge
    into the "missed link" output through the anti-join."""
    # one materialization, three readers (adjacency both ways + the
    # real-edge anti-join): without it the candidate-pair lineage — the
    # full MinHash/LSH computation when fed from minhash_lsh_pairs —
    # re-executes per reader
    fwd = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
        # EAGER pin (guide §2.4): the wedge join's shuffle map stages and
        # the real-edge anti-join's BroadcastExchange future are
        # INDEPENDENT query stages — under a lazy checkpoint they launch
        # concurrently and each re-ran the full MinHash/LSH candidate
        # lineage before the cache landed (qprofile r13: two ~equal
        # multi-second jobs for one pinned frame).  Eager = the LSH pass
        # runs once and every reader hits the checkpoint.
        .transform(pin)
    )
    adj = fwd.union(
        fwd.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).distinct()
    deg = adj.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    quant = 1_000_000_000_000
    # Explicit core-width co-partitioning on the wedge key (guide §2.5):
    # the wedge expansion is compute-bound (per-row fan-out), but its
    # input is only a few MB, so AQE's byte-based coalescing was folding
    # the post-shuffle read to 1-3 tasks and running the heaviest stage
    # nearly serial (qprofile r13: 0.86 s on 3 tasks).  A user
    # repartition with an explicit partition count is exempt from AQE
    # coalescing, satisfies the join's distribution requirement (no
    # extra exchange), and scales with the session's core count.
    n_part = pairs.sparkSession.sparkContext.defaultParallelism
    nb = adj.select(
        F.col("doc_a").alias("node"), F.col("doc_b").alias("nbr")
    ).repartition(n_part, "nbr")
    wedges = (
        nb.alias("x")
        .join(nb.alias("y"), F.col("x.nbr") == F.col("y.nbr"))
        .filter(F.col("x.node") < F.col("y.node"))
        .select(
            F.col("x.node").alias("doc_a"),
            F.col("y.node").alias("doc_b"),
            F.col("x.nbr").alias("via"),
        )
    )
    non_edges = wedges.join(fwd, ["doc_a", "doc_b"], "left_anti")
    term = F.floor(
        F.lit(1.0) / F.log(F.col("degree").cast("double")) * F.lit(float(quant))
        + F.lit(0.5)
    ).cast("long")
    scored = (
        non_edges.join(deg.withColumnRenamed("doc_id", "via"), "via")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(term.cast("decimal(38,0)")).alias("aa_q"),
        )
    )
    da = deg.select(F.col("doc_id").alias("doc_a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("doc_id").alias("doc_b"), F.col("degree").alias("deg_b"))
    full = (
        scored.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors")
                ).cast("double")
            ).alias("jaccard_raw"),
            F.col("aa_q"),
        )
    )
    w = Window.orderBy(
        F.col("aa_q").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    )
    return (
        full.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "rank",
            "doc_a",
            "doc_b",
            "common_neighbors",
            F.round("jaccard_raw", 6).alias("nbr_jaccard"),
            F.round(
                F.col("aa_q").cast("double") / F.lit(1.0e12), 6
            ).alias("adamic_adar"),
        )
    )
