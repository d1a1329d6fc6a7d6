"""Scale-slope harness: measures how the heavy headline queries grow when the
data grows 10x (sf0.1 -> "sf1").

The 100 TB claims in ARCHITECTURE.md are design arguments (bucketed pair
generation, code-only shuffles, O(log n) CC rounds). This tool turns them
into a measured slope: run the heaviest catalog entries at sf0.1 and at a
10x replication of sf0.1, and report t(10x)/t(1x). With 10x rows, a
linear-work operator should show a ratio well under 10 on a 32-core local
runner (fixed per-job overhead amortizes); anything approaching or exceeding
10x is flagged for inspection, and anything super-linear (>15x, i.e. >1.5x
the data growth) is a scale bug.

Why replication needs care: cloning documents verbatim would turn every doc
into a 10-way duplicate family, inflating near-dup PAIR counts quadratically
(45 pairs per family) -- a benchmark artifact, not operator behavior. The
builder therefore makes each copy self-similar but cross-copy disjoint:

- documents: every whitespace token in copy i>0 gets an `_c{i}` suffix, so
  shingle/minhash/simhash overlap WITHIN a copy is identical to the original
  corpus while overlap ACROSS copies is destroyed. n_chars is recomputed
  (the fixture invariant is n_chars == length(text)).
- embeddings: copy i rolls each vector left by i positions. Norms and all
  within-copy angles are exactly preserved (a permutation is orthogonal),
  while cross-copy cosine structure is decorrelated -- so ANN/near-dup cell
  populations scale 10x without synthetic clone-pairs.
- events: user_id/event_id shift per copy -- 10x users with the same
  per-user history length, the realistic horizontal-growth axis for
  sessionization/funnel/window operators. Timestamps keep their range, so
  time-window density grows 10x (also realistic).
- TPC-H facts/dims: all foreign/primary keys shift by copy*OFFSET except
  nation/region, which stay fixed (scaling a warehouse does not add
  nations); FK integrity is exact per copy.

Usage:
    python tools/bench_scale.py [--copies 10] [--runs 2] [--rebuild]
                                [--entries NAME ...]

`--entries` times the named catalog entries instead of the HEAVY set.
Prints a markdown table to stdout; BENCH_SCALE.md is the hand-kept record
the table is appended to. The scaled parquet lives under
.scale/<source dir name>x<copies> (gitignored; the source is
$SPARK_GRAFT_SF_DIR, default sf0.1); this tool is NOT part of bench.py's
headline contract.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession, functions as F

from broker_spark.plans.catalog import CATALOG
from broker_spark.session import get_spark

OFFSET = 10_000_000

#: Heavy set: the slowest entries from BENCH_DETAIL plus one representative
#: per operator family whose scale behavior could differ (window-heavy,
#: iterative CC, code-only ADC shuffle, inverted-index joins, composed plan).
HEAVY = [
    "dedup_cluster_keepers",
    "ann_ivf_pq_topk",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "training_manifest",
    "dedup_minhash_pairs",
    "substring_dup_pairs",
    "ann_trained_ivf_multiprobe",
    "bloom_decontamination",
    "pack_sequences_sharded",
    "q9_product_profit",
    "q21_sole_returner",
    "events_sessionization",
    "user_session_features",
    "source_overlap_matrix",
    # round-4 second batch: changed execution paths + new operators
    "semantic_dedup_clusters",
    "ann_rp_lsh_topk",
    "tfidf_cosine_pairs",
    "bm25_topk",
    "passage_dedup_stats",
    "doc_entropy_stats",
]


def _suffix_tokens(col, i: int):
    """Append `_c{i}` to every whitespace token, JVM-side (no UDF)."""
    return F.array_join(
        F.transform(F.split(col, " "), lambda w: F.concat(w, F.lit(f"_c{i}"))),
        " ",
    )


def _roll(col, i: int, dim: int):
    """np.roll(vec, -i): orthogonal permutation, preserves norms/angles."""
    if i % dim == 0:
        return col
    k = i % dim
    return F.concat(F.slice(col, k + 1, dim - k), F.slice(col, 1, k))


def build(spark: SparkSession, src: str, dst: str, copies: int) -> None:
    os.makedirs(dst, exist_ok=True)

    def copies_of(table: str, transform) -> DataFrame:
        base = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        parts = [transform(base, i) for i in range(copies)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    dim = len(
        spark.read.parquet(os.path.join(src, "embeddings.parquet"))
        .select("embedding")
        .first()[0]
    )

    def docs(df: DataFrame, i: int) -> DataFrame:
        if i == 0:
            return df
        text = _suffix_tokens(F.col("text"), i)
        return df.select(
            (F.col("doc_id") + i * OFFSET).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )

    def embs(df: DataFrame, i: int) -> DataFrame:
        return df.select(
            (F.col("vec_id") + i * OFFSET).alias("vec_id"),
            _roll(F.col("embedding"), i, dim).alias("embedding"),
            "label",
        )

    def events(df: DataFrame, i: int) -> DataFrame:
        return df.select(
            (F.col("event_id") + i * OFFSET).alias("event_id"),
            "ts",
            (F.col("user_id") + i * OFFSET).alias("user_id"),
            "event_type",
            "value",
            "props",
        )

    def shift_keys(keys: list[str]):
        def tx(df: DataFrame, i: int) -> DataFrame:
            out = df
            for k in keys:
                out = out.withColumn(k, F.col(k) + i * OFFSET)
            return out

        return tx

    plans = {
        "documents": docs,
        "embeddings": embs,
        "events": events,
        "customer": shift_keys(["c_custkey"]),
        "supplier": shift_keys(["s_suppkey"]),
        "part": shift_keys(["p_partkey"]),
        "orders": shift_keys(["o_orderkey", "o_custkey"]),
        "lineitem": shift_keys(["l_orderkey", "l_partkey", "l_suppkey"]),
    }
    for table, tx in plans.items():
        out = copies_of(table, tx)
        n_files = max(4, min(32, copies * 2))
        out.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(dst, f"{table}.parquet")
        )
        print(f"# built {table} x{copies}", file=sys.stderr)
    for table in ("nation", "region"):  # dims stay fixed at scale
        spark.read.parquet(os.path.join(src, f"{table}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(dst, f"{table}.parquet"))


def _scaled_ann_overrides(copies: int):
    """ANN entries must scale nlist with the corpus (constant inverted-list
    length — the production sizing rule, nlist ~ N / target_list_len).
    At fixed nlist=10 the all-pairs entries are inherently quadratic: 10x
    data means 10x queries EACH scanning 10x-longer lists.  The catalog
    entries pin nlist=10 for the fixture; here the scaled runs grow it
    with `copies` so the measurement isolates engine scaling from
    index-parameter misconfiguration."""
    from broker_spark.pipeline import ann
    from broker_spark.tables import load

    nlist = 10 * copies

    def ivf_pq(spark, sf):
        return ann.ivf_pq_topk(
            load(spark, sf, "embeddings"), n_clusters=nlist, cache_key=f"{sf}|{nlist}"
        )

    def multiprobe(spark, sf):
        return ann.multiprobe_trained_ivf_topk(
            load(spark, sf, "embeddings"),
            n_clusters=nlist,
            nprobe=8,
            cache_key=f"{sf}|{nlist}",
        )

    # Grid near-dup obeys the same sizing rule as nlist: cell granularity
    # must grow with the corpus or cell populations (and the per-cell
    # BLAS) grow linearly — at 100x a fixed 2-dim grid concentrates 200k
    # vectors into a handful of cells and the hottest cell's Arrow group
    # OOMs the executor.  One extra quantized dimension per 10x keeps the
    # expected cell population constant.
    import math

    from broker_spark.pipeline import dedup as _dedup
    from pyspark.sql import functions as _F

    sem_dims = 2 + max(0, round(math.log10(max(copies, 1))))

    def semantic(spark, sf):
        emb = load(spark, sf, "embeddings")
        pairs = ann.embedding_near_dup_pairs(
            emb, threshold=0.35, dims=sem_dims
        ).select(_F.col("vec_a").alias("doc_a"), _F.col("vec_b").alias("doc_b"))
        comp = _dedup.connected_components_star(
            emb.select(_F.col("vec_id").alias("doc_id")), pairs
        )
        return comp.groupBy("component").agg(
            _F.count(_F.lit(1)).cast("long").alias("n_vectors")
        )

    # The S-curve's pair universe (every shingle-overlapping pair) needs
    # the hot-posting-list guard at corpus scale — the unguarded form is
    # documented as fixture-sized, and the 100x run confirms it (an
    # unbounded inverted-index self-join kills the 8 GB JVM).  Guarded
    # matches the ngram_jaccard_guarded precedent.
    def s_curve(spark, sf):
        return _dedup.lsh_s_curve(
            load(spark, sf, "documents"), max_doc_freq=200 * copies
        )

    # the scaled corpus suffixes every token with _c{i}, so the encode
    # vocabulary needs '_' and digits to keep greedy matching total — the
    # operator (correctly) raises on an uncovered character otherwise
    import string as _string

    from broker_spark.pipeline import text as _text

    wp_pieces = _text.WORDPIECE_PIECES + ["_c"] + list(_string.digits) + ["_"]

    def wordpiece(spark, sf):
        return _text.wordpiece_encode_counts(
            load(spark, sf, "documents"), pieces=wp_pieces
        )

    return {
        "ann_ivf_pq_topk": ivf_pq,
        "ann_trained_ivf_multiprobe": multiprobe,
        "semantic_dedup_clusters": semantic,
        "lsh_s_curve": s_curve,
        "wordpiece_encode_counts": wordpiece,
    }


def time_set(
    spark: SparkSession,
    sf_dir: str,
    runs: int,
    copies: int,
    entries: list[str],
) -> dict[str, float]:
    """Best-of-`runs` wall time per entry."""
    overrides = _scaled_ann_overrides(copies)
    out: dict[str, float] = {}
    for name in entries:
        fn = overrides.get(name, CATALOG[name].fn)
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"# {sf_dir.rsplit('/',1)[-1]} {name}: {out[name]:.3f}s", file=sys.stderr)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--entries", nargs="+", default=HEAVY)
    args = ap.parse_args()

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # named after the source, so a replica of another dataset is never reused
    src_name = os.path.basename(os.path.normpath(src))
    dst = os.path.join(REPO, ".scale", f"{src_name}x{args.copies}")
    spark = get_spark(app_name="broker-spark-scale")
    spark.sparkContext.setLogLevel("ERROR")

    if args.rebuild and os.path.isdir(dst):
        shutil.rmtree(dst)
    if not os.path.isdir(os.path.join(dst, "documents.parquet")):
        build(spark, src, dst, args.copies)

    spark.range(1).count()
    base = time_set(spark, src, args.runs, 1, args.entries)
    scaled = time_set(spark, dst, args.runs, args.copies, args.entries)

    print(
        f"Runner: local[{spark.sparkContext.defaultParallelism}], "
        f"best-of-{args.runs}; ratio > {round(1.5 * args.copies, 1)}x "
        "(1.5x the data growth) = super-linear, flagged."
    )
    print()
    print(f"| query | t({src_name}) s | t({args.copies}x) s | ratio | verdict |")
    print("|---|---|---|---|---|")
    flags = []
    for name in args.entries:
        r = scaled[name] / base[name] if base[name] else float("inf")
        verdict = (
            "SUPER-LINEAR — inspect"
            if r > 1.5 * args.copies
            else ("~linear" if r > 0.5 * args.copies else "sub-linear (overhead-bound)")
        )
        if r > 1.5 * args.copies:
            flags.append(name)
        print(f"| {name} | {base[name]} | {scaled[name]} | {r:.1f}x | {verdict} |")
    print()
    print(f"Flagged super-linear: {flags if flags else 'none'}.")
    print()
    print("Raw: " + json.dumps({"base": base, "scaled": scaled, "copies": args.copies}))


if __name__ == "__main__":
    main()
