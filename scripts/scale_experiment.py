"""100x-documents scale experiment.

Synthesizes N_COPIES variants of every sf0.1 document (default 100x
-> ~500k docs, ~0.5 GB of text), with a controlled duplicate rate:
every 20th copy keeps the text verbatim (exact + near dup), the rest
mutate ~1/3 of words (distinct under 5-gram shingling). Then times
the shuffle-heavy operators and prints per-doc throughput next to
the sf0.1 baseline, so sub-linear/super-linear scaling is visible.

Usage: python scripts/scale_experiment.py [n_copies]
Writes scratch data under .scratch/ (gitignored); one JSON line out.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from prql_spark import Catalog, build_spark
from prql_spark.operators import bpe, dedup, splits
from prql_spark.sources import bucketing

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".scratch")


def synthesize(spark, n_copies: int) -> str:
    out = os.path.join(SCRATCH, f"docs_x{n_copies}")
    if os.path.exists(out):
        shutil.rmtree(out)
    docs = Catalog(spark, SF_DIR).load("documents")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    big = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") * n_copies + F.col("copy")).alias("doc_id"),
            F.when(F.col("copy") % 20 == 0, F.col("text"))
            .otherwise(
                # mutate ~1/3 of words so 5-gram shingles differ
                F.expr(
                    "concat_ws(' ', transform(split(text, ' '), "
                    "(w, j) -> IF((j + copy) % 3 = 0, "
                    "concat(w, '_', copy % 7), w)))"
                )
            )
            .alias("text"),
            "source",
            "n_chars",
        )
        .repartition(64)
    )
    big.write.mode("overwrite").parquet(out)
    return out


def synthesize_lowdup(spark, n_copies: int) -> str:
    """Low-duplication variant of the scratch corpus: mutated copies
    carry a UNIQUE per-copy suffix (no cross-copy collisions), so
    only the every-20th EXACT copies form dup classes — ~5% of docs
    duplicated, the realistic-corpus counterpoint to the default
    dup-heavy synth (which collides copies mod 21 and marks
    everything)."""
    out = os.path.join(SCRATCH, f"docs_x{n_copies}_lowdup")
    if os.path.exists(out):
        return out
    docs = Catalog(spark, SF_DIR).load("documents")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    big = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") * n_copies + F.col("copy")).alias("doc_id"),
            F.when(F.col("copy") % 20 == 0, F.col("text"))
            .otherwise(
                F.expr(
                    "concat_ws(' ', transform(split(text, ' '), "
                    "(w, j) -> IF((j + copy) % 3 = 0, "
                    "concat(w, '_', copy), w)))"
                )
            )
            .alias("text"),
            "source",
            "n_chars",
        )
        .repartition(64)
    )
    big.write.mode("overwrite").parquet(out)
    return out


def synthesize_vectors(spark, n_copies: int) -> str:
    """n_copies noisy variants of every sf embedding (deterministic
    per-copy perturbation, JVM-side — no UDF)."""
    out = os.path.join(SCRATCH, f"embs_x{n_copies}")
    if os.path.exists(out):
        shutil.rmtree(out)
    embs = Catalog(spark, SF_DIR).load("embeddings")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    big = (
        embs.crossJoin(copies)
        .select(
            (F.col("vec_id") * n_copies + F.col("copy")).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CAST(x + "
                "sin(copy * 37 + i) * 0.05 AS FLOAT))"
            ).alias("embedding"),
        )
        .repartition(64)
    )
    big.write.mode("overwrite").parquet(out)
    return out


def _assert_no_concurrent_jvms():
    """Round-3/4 postmortem, now enforced up front: ANY other live
    JVM (a forgotten check_entry.py, a pytest session) on this
    local[32] host inflates single measured queries 3-30x. Abort
    before spending minutes on numbers that cannot be compared;
    SPARK_GRAFT_IGNORE_JVMS=1 overrides (e.g. CI sidecars known to
    be idle)."""
    import subprocess

    if os.environ.get("SPARK_GRAFT_IGNORE_JVMS"):
        return
    try:
        out = subprocess.run(
            ["pgrep", "-a", "java"], capture_output=True, text=True
        ).stdout
    except FileNotFoundError:
        return
    others = [ln for ln in out.splitlines() if ln.strip()]
    if others:
        raise SystemExit(
            "scale_experiment: other JVMs are running — timings would "
            "be 3-30x inflated. Kill them first (or set "
            "SPARK_GRAFT_IGNORE_JVMS=1):\n" + "\n".join(others[:5])
        )


def fresh_op(op: str, n_copies: int):
    """Measure ONE op in THIS (fresh) JVM against already-synthesized
    scratch data — the round-5 lesson operationalized: ops measured
    late in the full sequence inherit session heap state (observed
    embedding_near_dups 69 s in-run vs 17 s fresh-JVM on identical
    code/data). Cross-round comparisons should use these numbers.

    Usage: python scripts/scale_experiment.py [n_copies] --fresh <op>
    (run the full experiment once first so the scratch data exists).
    """
    _assert_no_concurrent_jvms()
    spark = build_spark("scale-exp-fresh")
    spark.sparkContext.setLogLevel("ERROR")
    suffix = "_lowdup" if "--lowdup" in sys.argv else ""
    dpath = os.path.join(SCRATCH, f"docs_x{n_copies}{suffix}")
    if not os.path.exists(dpath):
        (synthesize_lowdup if suffix else synthesize)(spark, n_copies)
    vpath = os.path.join(SCRATCH, f"embs_x{n_copies}")
    if op == "embedding_near_dups" and not os.path.exists(vpath):
        synthesize_vectors(spark, n_copies)

    from prql_spark.operators import similarity, sketches

    def docs():
        return spark.read.parquet(dpath)

    def vecs():
        return spark.read.parquet(vpath)

    ops = {
        "dedup_exact": lambda: dedup.dedup_exact(docs()),
        "dedup_minhash_lsh": lambda: dedup.dedup_minhash_lsh(docs()),
        "simhash_pairs": lambda: dedup.simhash_near_pairs(
            dedup.simhash_signatures(docs()), max_hamming=3
        ),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
            docs(), threshold=0.8
        ),
        "embedding_near_dups": lambda: similarity.embedding_near_dups(
            vecs(), dim=64, threshold=0.98, multiprobe=False
        ),
        "dedup_paragraphs": lambda: dedup.dedup_paragraphs(docs()),
        "dedup_lines": lambda: dedup.dedup_lines(docs()),
        "dup_window_fraction": lambda: dedup.duplicated_window_fraction(
            docs()
        ),
        "remove_dup_windows": lambda: dedup.remove_duplicated_windows(
            docs()
        ),
        "remove_dup_sentences": lambda: dedup.remove_duplicated_sentences(
            docs()
        ),
        # leakage audit over the final split frame: split assignment
        # is the cheap md5 map; the audit's one exchange groups by
        # the 16-byte normalized-text key
        "split_leakage": lambda: splits.split_leakage(
            splits.split_by_hash(docs(), "doc_id")
        ),
        # the BPE pandas UDF is the engine's only Python text hot
        # loop — drain through a FILTER on the UDF column: count()
        # over a bare global aggregate lets Catalyst answer "1 row"
        # without ever running the UDF (measured 0.57 s for 500k
        # docs — impossible), while a row-level predicate forces the
        # UDF for every row
        "token_count_bpe": lambda: bpe.bpe_token_stats(docs()).where(
            "bpe_n_tokens >= 0"
        ),
        # round-9 scale rows for the round-8 newcomers:
        # per-group heavy hitters under PLANTED skew — 90% of docs
        # in one hot group, the rest over 49 cold groups; the
        # sketch must bound memory regardless (shuffle carries
        # sketches, never raw values)
        "top_items_by_group": lambda: sketches.top_items_by_group(
            docs().select(
                F.expr(
                    "IF(doc_id % 10 < 9, 'hot', "
                    "concat('g', doc_id % 49))"
                ).alias("grp"),
                F.expr("split(text, ' ')[0]").alias("word"),
            ),
            "word",
            group_by="grp",
            k=10,
        ),
        # round-10: bloom decontamination A/B — same batch (docs with
        # doc_id % 5 != 0 + re-crawls of the ref fifth), plain exact
        # anti-join vs bloom-prefiltered; identical results, only the
        # exchanged row count differs
        "dedup_against": lambda: dedup.dedup_against(
            docs().where("doc_id % 5 != 0").unionByName(
                docs().where("doc_id % 5 = 0").withColumn(
                    "doc_id", F.expr("doc_id + 10000000")
                )
            ),
            docs().where("doc_id % 5 = 0"),
        ),
        "dedup_against_bloom": lambda: dedup.dedup_against_bloom(
            docs().where("doc_id % 5 != 0").unionByName(
                docs().where("doc_id % 5 = 0").withColumn(
                    "doc_id", F.expr("doc_id + 10000000")
                )
            ),
            docs().where("doc_id % 5 = 0"),
        ),
    }
    # train_bpe_merges returns a merges LIST (driver-dict loop), not
    # a DataFrame — time the whole call; "rows" = merges learned.
    # The claim under test: ONE corpus pass builds the bounded word
    # dict (max_words=50k), and the merge loop never touches Spark.
    if op == "train_bpe_merges":
        reps = 2
        if "--reps" in sys.argv:
            reps = int(sys.argv[sys.argv.index("--reps") + 1])
        secs, rows = [], 0
        for _ in range(reps):
            spark._jvm.System.gc()
            t = time.time()
            merges = bpe.train_bpe_merges(
                docs(), n_merges=200, max_words=50_000
            )
            rows = len(merges)
            secs.append(round(time.time() - t, 2))
        steady = (
            sorted(secs[1:])[len(secs[1:]) // 2]
            if len(secs) > 1 else secs[0]
        )
        print(json.dumps(
            {"op": op, "sec": steady, "cold_sec": secs[0],
             "reps": secs, "rows": rows, "n_copies": n_copies,
             "fresh_jvm": True, "max_words": 50_000}
        ))
        spark.stop()
        return
    if op not in ops:
        raise SystemExit(
            f"unknown op {op!r}; one of {sorted(ops) + ['train_bpe_merges']}"
        )
    reps = 2
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    secs, rows = [], 0
    for _ in range(reps):
        spark._jvm.System.gc()
        t = time.time()
        rows = ops[op]().count()
        secs.append(round(time.time() - t, 2))
    steady = sorted(secs[1:])[len(secs[1:]) // 2] if len(secs) > 1 else secs[0]
    print(json.dumps(
        {"op": op, "sec": steady, "cold_sec": secs[0], "reps": secs,
         "rows": rows, "n_copies": n_copies, "fresh_jvm": True,
         "corpus": "lowdup" if suffix else "dup_heavy"}
    ))
    spark.stop()


def bucketed_ab(n_copies: int):
    """A/B the bucketed-layout join (sources/bucketing.py) against
    the identical plain-parquet join at 500k docs: docs joined to a
    per-doc stats table on doc_id, aggregated. Co-bucketed tables
    plan with ZERO Exchange (asserted on the plan text before
    timing); the parquet pair shuffles both sides. The delta IS the
    two fact-table shuffles the layout removes at 100 TB."""
    _assert_no_concurrent_jvms()
    spark = build_spark("scale-exp-bucketed")
    spark.sparkContext.setLogLevel("ERROR")
    # the A/B models two FACT tables (at 100 TB neither side
    # broadcasts); without BOTH thresholds the 500k-row stats side
    # slips under a broadcast limit (AQE re-plans through its OWN
    # threshold even when the static one is -1) and both arms
    # measure the same broadcast plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    dpath = os.path.join(SCRATCH, f"docs_x{n_copies}")
    if not os.path.exists(dpath):
        synthesize(spark, n_copies)
    docs = spark.read.parquet(dpath)
    stats = docs.select(
        "doc_id",
        F.length("text").alias("text_len"),
        (F.size(F.split("text", " "))).alias("n_words"),
    )
    for t in ("ab_docs_b", "ab_stats_b"):
        bucketing.drop_bucketed(spark, t)
    t0 = time.time()
    bucketing.write_bucketed(docs, "ab_docs_b", "doc_id", 32, "doc_id")
    bucketing.write_bucketed(stats, "ab_stats_b", "doc_id", 32, "doc_id")
    write_s = round(time.time() - t0, 2)
    ppath = os.path.join(SCRATCH, "ab_stats_plain")
    stats.write.mode("overwrite").parquet(ppath)

    def joined(left, right):
        # the aggregate input must mix BOTH sides (substr(text, ..,
        # n_words)) or Catalyst pre-projects it below the join —
        # sum(length(text)) alone computes before the exchange and
        # both arms would move only slim rows, hiding the very
        # shuffle the bucketed layout removes
        return (
            left.join(right.select("doc_id", "n_words"), "doc_id")
            .groupBy("source")
            .agg(
                F.sum("n_words").alias("total_words"),
                F.sum(
                    F.length(
                        F.expr("substr(text, 1, greatest(n_words, 1))")
                    )
                ).alias("total_chars"),
                F.count("*").alias("n_docs"),
            )
        )

    def b():
        return joined(
            bucketing.read_bucketed(spark, "ab_docs_b"),
            bucketing.read_bucketed(spark, "ab_stats_b"),
        )

    def p():
        return joined(
            spark.read.parquet(dpath), spark.read.parquet(ppath)
        )

    plan = b()._jdf.queryExecution().executedPlan().toString()
    # the join itself must be exchange-free; the only allowed
    # exchange is the groupBy("source") above it
    join_part = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_part, join_part[:500]
    pplan = p()._jdf.queryExecution().executedPlan().toString()
    n_plain_exchanges = pplan.count("Exchange hashpartitioning")
    assert n_plain_exchanges >= 2, pplan[:500]  # both fact sides shuffle

    def run(mk):
        # a FRESH DataFrame per rep: repeated actions on one
        # DataFrame object reuse the prior job's shuffle files
        # (stage reuse), so rep 2+ of the plain arm would skip the
        # very exchanges under measurement
        spark._jvm.System.gc()
        t = time.time()
        mk().collect()
        return round(time.time() - t, 2)

    # interleave A/B reps so host drift hits both arms equally
    bs, ps = [], []
    for _ in range(3):
        bs.append(run(b))
        ps.append(run(p))
    print(json.dumps(
        {"mode": "bucketed_ab", "n_copies": n_copies,
         "bucketed_sec": sorted(bs)[1], "plain_sec": sorted(ps)[1],
         "bucketed_reps": bs, "plain_reps": ps,
         "bucketed_write_sec": write_s,
         "join_exchange_free": True,
         "plain_exchanges": n_plain_exchanges}
    ))
    spark.stop()


def shuffle_ab(n_copies: int):
    """A/B the deterministic training shuffle (splits.
    shuffle_for_training) against a plain same-layout write at 500k
    docs: both arms write the full corpus to scratch parquet; the
    delta is the md5 range exchange + within-partition sort the
    shuffle adds. Writing is the honest drain — a count() would let
    the sort (and under AQE possibly the exchange) be elided, and
    writing IS what a training-data job does with the result."""
    _assert_no_concurrent_jvms()
    spark = build_spark("scale-exp-shuffle")
    spark.sparkContext.setLogLevel("ERROR")
    dpath = os.path.join(SCRATCH, f"docs_x{n_copies}")
    if not os.path.exists(dpath):
        synthesize(spark, n_copies)
    out_a = os.path.join(SCRATCH, "shuffle_ab_plain")
    out_b = os.path.join(SCRATCH, "shuffle_ab_shuffled")

    def plain():
        spark.read.parquet(dpath).repartition(32).write.mode(
            "overwrite"
        ).parquet(out_a)

    def shuffled():
        splits.shuffle_for_training(
            spark.read.parquet(dpath), seed=1, key_cols=["doc_id"],
            partitions=32,
        ).write.mode("overwrite").parquet(out_b)

    def run(fn):
        spark._jvm.System.gc()
        t = time.time()
        fn()
        return round(time.time() - t, 2)

    ps, ss = [], []
    for _ in range(3):  # interleaved so host drift hits both arms
        ps.append(run(plain))
        ss.append(run(shuffled))
    n = spark.read.parquet(out_b).count()
    print(json.dumps(
        {"mode": "shuffle_ab", "n_copies": n_copies, "n_docs": n,
         "plain_write_sec": sorted(ps)[1],
         "shuffled_write_sec": sorted(ss)[1],
         "plain_reps": ps, "shuffled_reps": ss}
    ))
    spark.stop()


def snapshot_scale(n_copies: int):
    """Manifest-table overhead at 500k docs: snapshot_write vs plain
    parquet write (commit protocol cost ≈ one JSON PUT), then
    first-action read planning on a deliberately fragmented version
    (512 files) — manifest-planned read vs directory-listing read of
    the same files."""
    _assert_no_concurrent_jvms()
    from prql_spark.sources import manifest as mf

    spark = build_spark("scale-exp-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    dpath = os.path.join(SCRATCH, f"docs_x{n_copies}")
    if not os.path.exists(dpath):
        synthesize(spark, n_copies)
    docs = spark.read.parquet(dpath)
    plain_out = os.path.join(SCRATCH, "snap_plain")
    snap_out = os.path.join(SCRATCH, "snap_tbl")
    shutil.rmtree(snap_out, ignore_errors=True)

    spark._jvm.System.gc()
    t = time.time()
    docs.repartition(512).write.mode("overwrite").parquet(plain_out)
    plain_write = round(time.time() - t, 2)
    spark._jvm.System.gc()
    t = time.time()
    mf.snapshot_write(docs.repartition(512), snap_out)
    snap_write = round(time.time() - t, 2)

    def timed_count(mk):
        spark._jvm.System.gc()
        t = time.time()
        n = mk().count()
        return round(time.time() - t, 2), n

    plain_read, n1 = timed_count(lambda: spark.read.parquet(plain_out))
    snap_read, n2 = timed_count(lambda: mf.snapshot_read(spark, snap_out))
    assert n1 == n2
    t = time.time()
    mf.compact_snapshot(spark, snap_out, target_mb=256)
    compact_sec = round(time.time() - t, 2)
    snap_read2, n3 = timed_count(lambda: mf.snapshot_read(spark, snap_out))
    assert n3 == n2
    print(json.dumps(
        {"mode": "snapshot_scale", "n_copies": n_copies, "n_docs": n1,
         "plain_write_sec": plain_write, "snapshot_write_sec": snap_write,
         "plain_read_512f_sec": plain_read,
         "snapshot_read_512f_sec": snap_read,
         "compact_commit_sec": compact_sec,
         "snapshot_read_compacted_sec": snap_read2}
    ))
    spark.stop()


def media_scale(n_images: int):
    """DCT pHash vs ahash cost per payload at scale: synthesize
    ``n_images`` small real P6 (netpbm) images executor-side
    (mapInPandas, 32×24 RGB ≈ 2.3 KB each), then hash the SAME
    payloads with image_ahash and image_phash in a fresh JVM. The
    round-8 claim was robustness (re-light flips 8-11 ahash bits vs
    0-4 pHash); this measures the PRICE of that robustness — the
    32×32 DCT is O(grid³) float work per image vs ahash's 8×8 mean
    threshold."""
    _assert_no_concurrent_jvms()
    import numpy as np
    import pandas as pd

    from prql_spark.operators import multimodal as mm

    spark = build_spark("scale-exp-media")
    spark.sparkContext.setLogLevel("ERROR")
    mpath = os.path.join(SCRATCH, f"media_x{n_images}")
    if not os.path.exists(mpath):
        def gen(batches):
            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    rng = np.random.default_rng(int(i))
                    px = rng.integers(
                        0, 256, (24, 32, 3), dtype=np.uint8
                    )
                    rows.append(
                        (int(i), b"P6\n32 24\n255\n" + px.tobytes(),
                         "image/x-portable-pixmap")
                    )
                yield pd.DataFrame(
                    rows, columns=["media_id", "media", "media_type"]
                )

        spark.range(n_images).repartition(32).mapInPandas(
            gen, "media_id LONG, media BINARY, media_type STRING"
        ).write.parquet(mpath)
    media = spark.read.parquet(mpath)
    codec = mm.NetpbmCodec()

    def run(name, fn, hash_col):
        secs, n = [], 0
        for _ in range(2):
            spark._jvm.System.gc()
            t = time.time()
            n = fn().where(f"{hash_col} IS NOT NULL").count()
            secs.append(round(time.time() - t, 2))
        return {"op": name, "cold_sec": secs[0], "sec": secs[-1],
                "rows": n, "us_per_payload": round(
                    secs[-1] / n_images * 1e6, 2)}

    a = run("image_ahash",
            lambda: mm.image_ahash(media, codec=codec), "ahash")
    p = run("image_phash",
            lambda: mm.image_phash(media, codec=codec), "phash")
    print(json.dumps(
        {"mode": "media_scale", "n_images": n_images,
         "ahash": a, "phash": p,
         "phash_over_ahash": round(p["sec"] / a["sec"], 2)}
    ))
    spark.stop()


def rowlevel_scale(n_copies: int):
    """Round-10 scale rows for the round-9 lakehouse newcomers
    (r9 VERDICT #7): at ~500k docs,

    1. merge_snapshot — prove the probe + rewrite cost tracks the
       SOURCE (touched files), not the table: a 1k-row update whose
       keys land in ONE range file vs the same 1k rows spread
       uniformly across every file;
    2. optimize_snapshot — the z-order rewrite's full cost
       (approxQuantile pass + range shuffle + write + stats) on the
       corpus, then the pruned-scan payoff (files opened on a
       selective range);
    3. partitioned snapshot_write at 10k partition values — the
       driver-side staging cost (hive path listing + parsing) that
       grows with partition-dir count, plus metadata-only
       snapshot_partitions and a one-partition pruned read.
    """
    _assert_no_concurrent_jvms()
    from prql_spark.sources import manifest as mf

    spark = build_spark("scale-exp-rowlevel")
    spark.sparkContext.setLogLevel("ERROR")
    dpath = os.path.join(SCRATCH, f"docs_x{n_copies}")
    if not os.path.exists(dpath):
        synthesize(spark, n_copies)
    docs = spark.read.parquet(dpath).select(
        "doc_id", "text", "source", "n_chars"
    )
    n_docs = docs.count()
    hi = docs.agg(F.max("doc_id")).first()[0]

    out: dict = {"mode": "rowlevel_scale", "n_docs": n_docs}

    # --- 1. merge: narrow vs spread source, same table -------------
    tbl = os.path.join(SCRATCH, "rl_tbl")
    shutil.rmtree(tbl, ignore_errors=True)
    mf.snapshot_write(
        docs.repartitionByRange(64, "doc_id")
        .sortWithinPartitions("doc_id"),
        tbl,
        stats_cols=("doc_id",),
    )
    narrow = docs.where(F.col("doc_id") < hi // 640).limit(1000).withColumn(
        "text", F.lit("UPDATED")
    )
    spread = docs.where(F.col("doc_id") % (n_docs // 1000) == 0).withColumn(
        "text", F.lit("UPDATED")
    )
    for label, src in (("merge_narrow", narrow), ("merge_spread", spread)):
        spark._jvm.System.gc()
        t = time.time()
        res = mf.merge_snapshot(spark, tbl, src, on=("doc_id",))
        out[label] = {
            "sec": round(time.time() - t, 2),
            "n_files_rewritten": res["n_files_rewritten"],
            "n_files_kept": res["n_files_kept"],
        }

    # --- 2. optimize: full z-order rewrite + pruning payoff --------
    spark._jvm.System.gc()
    t = time.time()
    ores = mf.optimize_snapshot(
        spark, tbl, zorder_by=("doc_id", "n_chars"), target_files=64
    )
    opt_sec = round(time.time() - t, 2)
    pruned = mf.snapshot_scan(
        spark, tbl, "n_chars", lo=0, hi=200
    )
    n_open = len(pruned.inputFiles())
    out["optimize"] = {
        "sec": opt_sec,
        "n_files_after": ores["n_files_after"],
        "range_scan_files_opened": n_open,
        "range_scan_rows": pruned.count(),
    }

    # --- 3. 10k-partition commit: driver-side staging cost ---------
    ptbl = os.path.join(SCRATCH, "rl_ptbl")
    shutil.rmtree(ptbl, ignore_errors=True)
    pdocs = docs.withColumn(
        "bucket", (F.col("doc_id") % 10000).cast("int")
    ).repartition(10000, "bucket")
    spark._jvm.System.gc()
    t = time.time()
    mf.snapshot_write(pdocs, ptbl, partition_by=("bucket",))
    out["partitioned_write_10k"] = {"sec": round(time.time() - t, 2)}
    t = time.time()
    nparts = mf.snapshot_partitions(spark, ptbl).count()
    out["partitioned_write_10k"]["show_partitions_sec"] = round(
        time.time() - t, 2
    )
    out["partitioned_write_10k"]["n_partitions"] = nparts
    one, kept, total = mf.snapshot_pruned_read(
        spark, ptbl, {"bucket": (77, 77)}
    )
    t = time.time()
    out["partitioned_write_10k"]["one_partition_rows"] = one.count()
    out["partitioned_write_10k"]["one_partition_read_sec"] = round(
        time.time() - t, 2
    )
    out["partitioned_write_10k"]["files_kept_of"] = [kept, total]
    print(json.dumps(out))
    spark.stop()


def main():
    raw = sys.argv[1:]
    skip = {
        raw[i + 1]
        for i, a in enumerate(raw)
        if a in ("--fresh", "--reps") and i + 1 < len(raw)
    }
    args = [a for a in raw if not a.startswith("--") and a not in skip]
    n_copies = int(args[0]) if args else 100
    if "--fresh" in sys.argv:
        op = sys.argv[sys.argv.index("--fresh") + 1]
        fresh_op(op, n_copies)
        return
    if "--bucketed-ab" in sys.argv:
        bucketed_ab(n_copies)
        return
    if "--shuffle-ab" in sys.argv:
        shuffle_ab(n_copies)
        return
    if "--snapshot-scale" in sys.argv:
        snapshot_scale(n_copies)
        return
    if "--rowlevel-scale" in sys.argv:
        rowlevel_scale(n_copies)
        return
    if "--media-scale" in sys.argv:
        media_scale(n_copies * 5000)  # default 100 -> 500k images
        return
    _assert_no_concurrent_jvms()
    spark = build_spark("scale-exp")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    path = synthesize(spark, n_copies)
    gen_s = round(time.time() - t0, 1)
    big = spark.read.parquet(path)
    n = big.count()

    def run(name, fn, drain="count"):
        # first run pays per-plan compile + worker spin-up (cold);
        # second is the number that scales with data (steady).
        # GC before each timed run (outside the timing), same
        # measurement hygiene as bench.py: heap state otherwise
        # swings the heavy queries 2-10x.
        secs = []
        for _ in range(2):
            spark._jvm.System.gc()
            t = time.time()
            df = fn()
            rows = df.count() if drain == "count" else len(df.collect())
            secs.append(round(time.time() - t, 2))
        return {"sec": secs[1], "cold_sec": secs[0], "rows": rows}

    res = {
        "n_docs": n,
        "gen_sec": gen_s,
        "dedup_exact": run(
            "dedup_exact", lambda: dedup.dedup_exact(big)
        ),
        "dedup_minhash_lsh": run(
            "minhash", lambda: dedup.dedup_minhash_lsh(big)
        ),
        # round-3 guarded ops: the exact-dup-heavy corpus (every 20th
        # copy verbatim -> 25k-doc exact-dup classes) is precisely the
        # mega-bucket case star_cap bounds to O(n) pairs
        "simhash_pairs": run(
            "simhash",
            lambda: dedup.simhash_near_pairs(
                dedup.simhash_signatures(big), max_hamming=3
            ),
        ),
        "ngram_jaccard_pairs": run(
            "ngram_jaccard",
            lambda: dedup.ngram_jaccard_pairs(big, threshold=0.8),
        ),
    }

    # cluster-granular dedup at scale: star-capped pairs (hub edges —
    # the O(n) shape AND exactly what min-label propagation wants:
    # 25k-doc exact-dup classes collapse through their hub in ~2
    # rounds) -> connected components -> labels. cc_stats records the
    # measured rounds-to-converge — the number behind the O(log D)
    # pointer-jumping claim.
    from prql_spark.operators import graph

    cc_stats: dict = {}

    def _clusters():
        sigs = dedup.minhash_signatures(big)
        pairs = dedup.minhash_lsh_pairs(sigs, threshold=0.5, star_cap=64)
        return graph.dedup_clusters(pairs, stats=cc_stats)

    res["minhash_cc_clusters"] = run("cc", _clusters)
    res["minhash_cc_clusters"]["rounds"] = cc_stats.get("rounds")

    from prql_spark.operators import similarity

    vpath = synthesize_vectors(spark, n_copies)
    vecs = spark.read.parquet(vpath)
    res["n_vectors"] = vecs.count()
    queries = (
        Catalog(spark, SF_DIR)
        .load("embeddings")
        .where(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
    )
    res["ann_bruteforce"] = run(
        "ann_bf",
        lambda: similarity.brute_force_topk(vecs, queries, k=10),
        drain="collect",
    )
    res["ann_lsh"] = run(
        "ann_lsh",
        lambda: similarity.lsh_topk(vecs, queries, dim=64, k=10),
        drain="collect",
    )
    # occupancy-derived blocking (round 3): n_planes=None sizes the
    # grid from the corpus count — record the chosen plane count too
    res["near_dup_planes"] = similarity.occupancy_planes(
        res["n_vectors"]
    )
    # tight-threshold DEDUP workload: near-identical vectors land in
    # the same bucket, so Hamming-1 multiprobe's 13x candidate cost
    # buys ~nothing here — probe only for loose-threshold recall
    # (the oracled entry keeps multiprobe=True at threshold 0.35)
    res["embedding_near_dups"] = run(
        "near_dups",
        lambda: similarity.embedding_near_dups(
            vecs, dim=64, threshold=0.98, multiprobe=False
        ),
    )
    # semantic dedup with the pretrained 64-list quantizer: the
    # assignment (n_vectors × 64 dot folds) and in-cluster pair
    # verification both scale linearly in corpus size at fixed
    # occupancy; star_cap bounds the duplicate-class clusters this
    # perturbed corpus is full of
    from entries._ivf_centroids import SEMDEDUP_CENTROIDS

    res["semdedup_prune"] = run(
        "semdedup",
        lambda: similarity.semdedup(
            vecs, dim=64, centroids=SEMDEDUP_CENTROIDS, threshold=0.98
        ),
    )
    # occupancy-sized quantizer (round 4): n_lists ≈ corpus/1k trained
    # AT THIS SCALE — pair volume is ~n²/n_lists, so vs the (under-
    # sized) 64-list pretrained row this is the honest production
    # sizing. Train once (timed separately, like the offline trainer
    # a deployment would run), then prune with the trained quantizer.
    auto_lists = similarity.occupancy_lists(res["n_vectors"])
    res["semdedup_auto_lists"] = auto_lists
    t_train = time.time()
    trained = similarity.ivf_train_centroids(
        vecs, dim=64, n_lists=auto_lists, iters=2
    )
    res["semdedup_train_sec"] = round(time.time() - t_train, 2)
    res["semdedup_prune_auto"] = run(
        "semdedup_auto",
        lambda: similarity.semdedup(
            vecs, dim=64, centroids=trained, threshold=0.98
        ),
    )
    res["semdedup_pairs_64"] = similarity.semdedup_pairs(
        vecs, dim=64, centroids=SEMDEDUP_CENTROIDS, threshold=0.98
    ).count()
    res["semdedup_pairs_auto"] = similarity.semdedup_pairs(
        vecs, dim=64, centroids=trained, threshold=0.98
    ).count()

    # the composed flagship pipeline at scale (strip → filters → LM →
    # exact dedup → minhash pairs → CC cluster dedup → split → pack):
    # docs in → docs out and wall time for the whole chain
    from prql_spark.pipelines import prepare_training_corpus

    def _pipeline():
        result, _ = prepare_training_corpus(
            big, min_quality=0.3, langs=("en", "de", "fr", "es")
        )
        return result

    res["prepare_training_corpus"] = run("pipeline", _pipeline)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
