"""Scale lane: the document and vector operators on an N-copies corpus.

Synthesizes ``n_copies`` variants of every document and embedding in
bench.SF_DIR (default 100x sf0.1 -> ~500k docs, ~0.5 GB of text) with
a controlled duplicate rate (see ``synthesize``), then times each op
in ``OPS`` cold and then steady through ``bench.measure`` — the same
GC-then-drain discipline as the headline bench, so rows compare with
bench.py's at the source scale factor.

Usage:
    python scripts/scale_experiment.py [n_copies] [--lowdup] [--fresh <op>]

The default run synthesizes the corpus and measures every op in one
JVM. ``--fresh <op>`` measures one op in a fresh JVM, reusing the
synthesized corpus when it exists: ops measured late in the full run
inherit session heap state (embedding_near_dups measured 69 s in-run
vs 17 s fresh-JVM on identical code and data), so cross-round
comparisons use fresh-JVM numbers; rerun from the shell for more
repetitions. ``--lowdup`` selects the low-duplication corpus.
Refuses to run beside another JVM. Writes scratch data under
.scratch/ (gitignored); prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from entries._ivf_centroids import SEMDEDUP_CENTROIDS  # noqa: E402
from prql_spark import Catalog, build_spark  # noqa: E402
from prql_spark.operators import (  # noqa: E402
    bpe,
    dedup,
    graph,
    similarity,
    sketches,
    splits,
)

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")


def synthesize(spark, n_copies: int, sf_dir: str, out: str, lowdup=False):
    """Write ``n_copies`` variants of every document in ``sf_dir`` to
    ``out``. Every 20th copy keeps the text verbatim (exact and near
    duplicates); the others suffix every third word (distinct under
    5-gram shingling). The suffix is ``copy % 7`` by default, so
    mutated copies collide across the corpus and nearly every doc has
    a near duplicate — the dup-heavy adversary. ``lowdup`` suffixes
    the copy number instead: only the verbatim copies form duplicate
    classes (~5% of docs), the realistic-corpus counterpoint."""
    suffix = "copy" if lowdup else "copy % 7"
    docs = Catalog(spark, sf_dir).load("documents")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    docs.crossJoin(copies).select(
        (F.col("doc_id") * n_copies + F.col("copy")).alias("doc_id"),
        F.when(F.col("copy") % 20 == 0, F.col("text"))
        .otherwise(
            F.expr(
                "concat_ws(' ', transform(split(text, ' '), "
                "(w, j) -> IF((j + copy) % 3 = 0, "
                f"concat(w, '_', {suffix}), w)))"
            )
        )
        .alias("text"),
        "source",
        "n_chars",
    ).repartition(64).write.mode("overwrite").parquet(out)


def synthesize_vectors(spark, n_copies: int, sf_dir: str, out: str):
    """Write ``n_copies`` noisy variants of every embedding in
    ``sf_dir`` to ``out`` (deterministic per-copy perturbation,
    JVM-side — no UDF)."""
    embs = Catalog(spark, sf_dir).load("embeddings")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    embs.crossJoin(copies).select(
        (F.col("vec_id") * n_copies + F.col("copy")).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x + "
            "sin(copy * 37 + i) * 0.05 AS FLOAT))"
        ).alias("embedding"),
    ).repartition(64).write.mode("overwrite").parquet(out)


def _docs(spark, d):
    return Catalog(spark, d).load("documents")


def _vecs(spark, d):
    return Catalog(spark, d).load("embeddings")


def _queries(spark, d):
    return _vecs(spark, d).where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _clusters(spark, d):
    # star-capped pairs are the O(n) hub shape min-label propagation
    # wants: exact-dup classes collapse through their hub in ~2 rounds
    sigs = dedup.minhash_signatures(_docs(spark, d))
    pairs = dedup.minhash_lsh_pairs(sigs, threshold=0.5, star_cap=64)
    return graph.dedup_clusters(pairs)


def _recrawl_batch(spark, d):
    # a batch of docs with doc_id % 5 != 0 plus re-crawls (new ids) of
    # the reference fifth: the anti-join drops exactly the re-crawls
    docs = _docs(spark, d)
    return docs.where("doc_id % 5 != 0").unionByName(
        docs.where("doc_id % 5 = 0").withColumn(
            "doc_id", F.expr("doc_id + 10000000")
        )
    )


# name -> (build function (spark, data_dir) -> DataFrame, drain mode)
OPS = {
    "dedup_exact": (lambda s, d: dedup.dedup_exact(_docs(s, d)), "count"),
    "dedup_minhash_lsh": (
        lambda s, d: dedup.dedup_minhash_lsh(_docs(s, d)), "count"
    ),
    # the exact-dup-heavy corpus (every 20th copy verbatim) is the
    # mega-bucket case star_cap bounds to O(n) pairs
    "simhash_pairs": (
        lambda s, d: dedup.simhash_near_pairs(
            dedup.simhash_signatures(_docs(s, d)), max_hamming=3
        ),
        "count",
    ),
    "ngram_jaccard_pairs": (
        lambda s, d: dedup.ngram_jaccard_pairs(_docs(s, d), threshold=0.8),
        "count",
    ),
    "minhash_cc_clusters": (_clusters, "count"),
    "ann_bruteforce": (
        lambda s, d: similarity.brute_force_topk(
            _vecs(s, d), _queries(s, d), k=10
        ),
        "collect",
    ),
    "ann_lsh": (
        lambda s, d: similarity.lsh_topk(
            _vecs(s, d), _queries(s, d), dim=64, k=10
        ),
        "collect",
    ),
    # a tight-threshold dedup: near-identical vectors share a bucket,
    # so Hamming-1 multiprobe's 13x candidate cost buys ~nothing
    "embedding_near_dups": (
        lambda s, d: similarity.embedding_near_dups(
            _vecs(s, d), dim=64, threshold=0.98, multiprobe=False
        ),
        "count",
    ),
    "semdedup_prune": (
        lambda s, d: similarity.semdedup(
            _vecs(s, d), dim=64, centroids=SEMDEDUP_CENTROIDS, threshold=0.98
        ),
        "count",
    ),
    "prepare_training_corpus": (bench._prepare_corpus, "count"),
    "dedup_paragraphs": (
        lambda s, d: dedup.dedup_paragraphs(_docs(s, d)), "count"
    ),
    "dedup_lines": (lambda s, d: dedup.dedup_lines(_docs(s, d)), "count"),
    "dup_window_fraction": (
        lambda s, d: dedup.duplicated_window_fraction(_docs(s, d)), "count"
    ),
    "remove_dup_windows": (
        lambda s, d: dedup.remove_duplicated_windows(_docs(s, d)), "count"
    ),
    "remove_dup_sentences": (
        lambda s, d: dedup.remove_duplicated_sentences(_docs(s, d)), "count"
    ),
    "split_leakage": (
        lambda s, d: splits.split_leakage(
            splits.split_by_hash(_docs(s, d), "doc_id")
        ),
        "count",
    ),
    # drained through a row-level predicate: count() over the bare
    # global aggregate lets Catalyst answer without running the UDF
    "token_count_bpe": (
        lambda s, d: bpe.bpe_token_stats(_docs(s, d)).where(
            "bpe_n_tokens >= 0"
        ),
        "count",
    ),
    # planted skew: 90% of docs in one hot group, the rest over 49
    # cold ones; the shuffle carries k-bounded sketches, never values
    "top_items_by_group": (
        lambda s, d: sketches.top_items_by_group(
            _docs(s, d).select(
                F.expr(
                    "IF(doc_id % 10 < 9, 'hot', concat('g', doc_id % 49))"
                ).alias("grp"),
                F.expr("split(text, ' ')[0]").alias("word"),
            ),
            "word",
            group_by="grp",
            k=10,
        ),
        "count",
    ),
    "dedup_against": (
        lambda s, d: dedup.dedup_against(
            _recrawl_batch(s, d), _docs(s, d).where("doc_id % 5 = 0")
        ),
        "count",
    ),
}


def main():
    args = sys.argv[1:]
    fresh = args[args.index("--fresh") + 1] if "--fresh" in args else None
    if fresh is not None and fresh not in OPS:
        raise SystemExit(f"unknown op {fresh!r}; one of {sorted(OPS)}")
    lowdup = "--lowdup" in args
    counts = [a for a in args if a.isdigit()]
    n_copies = int(counts[0]) if counts else 100
    jvms = bench._concurrent_jvms()
    if jvms:
        raise SystemExit(
            f"refusing to measure: {len(jvms)} concurrent JVM(s) alive"
        )
    spark = build_spark("scale-exp")
    spark.sparkContext.setLogLevel("ERROR")
    d = os.path.join(SCRATCH, f"x{n_copies}" + ("_lowdup" if lowdup else ""))
    if fresh is None or not os.path.exists(d):
        synthesize(
            spark, n_copies, bench.SF_DIR, os.path.join(d, "documents"), lowdup
        )
        synthesize_vectors(
            spark, n_copies, bench.SF_DIR, os.path.join(d, "embeddings")
        )
    res = {
        "n_copies": n_copies,
        "corpus": "lowdup" if lowdup else "dup_heavy",
        "n_docs": _docs(spark, d).count(),
        "fresh_jvm": fresh is not None,
    }
    for name in [fresh] if fresh else OPS:
        fn, mode = OPS[name]
        cold, _ = bench.measure(spark, fn, mode, d)
        steady, rows = bench.measure(spark, fn, mode, d)
        res[name] = {"sec": steady, "cold_sec": cold, "rows": rows}
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
