"""Physical-plan quality gates (SURVEY §4).

These tests pin the *plan shape*, not results: filters must reach the
parquet scan, projections must prune the read schema, small dims must
broadcast, and sort+take must avoid a global sort. A regression here
is a 100TB-scale bug even when results stay correct.
"""

from __future__ import annotations

from prql_spark import compile_prql


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_scan(catalog):
    df = compile_prql(
        "from lineitem\nfilter l_quantity < 10\nselect [l_orderkey]",
        catalog,
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "LessThan(l_quantity" in plan.replace(" ", "").replace(
        "l_quantity,", "l_quantity"
    ) or "l_quantity" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(catalog):
    df = compile_prql(
        "from lineitem\nselect [l_orderkey, l_quantity]", catalog
    )
    plan = plan_of(df)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read  # untouched columns pruned


def test_small_dim_broadcasts(catalog):
    df = compile_prql(
        "from nation\njoin region [r_regionkey == n_regionkey]\n"
        "select [n_name, r_name]",
        catalog,
    )
    assert "BroadcastHashJoin" in plan_of(df)


def test_sort_take_avoids_global_sort(catalog):
    df = compile_prql(
        "from orders\nsort [-o_totalprice]\ntake 5\n"
        "select [o_orderkey, o_totalprice]",
        catalog,
    )
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no full sort stage


def test_partial_aggregation_before_shuffle(catalog):
    df = compile_prql(
        "from lineitem\ngroup [l_returnflag] (aggregate [n = count])",
        catalog,
    )
    plan = plan_of(df)
    assert "partial_count" in plan  # map-side combine present


def test_distinct_idiom_no_window(catalog):
    # group k (take 1) with no sort must be a hash dedup, not a
    # row_number window (windows need a full sort within partitions)
    df = compile_prql(
        "from orders\nselect [o_orderstatus]\n"
        "group [o_orderstatus] (take 1)",
        catalog,
    )
    plan = plan_of(df)
    assert "Window" not in plan


def test_ann_topk_partial_group_limit(catalog, spark):
    # the per-query rank filter must compile to Spark's two-stage
    # WindowGroupLimit (SPARK-37099): a *Partial* limit before the
    # exchange so each scan partition forwards at most k rows per
    # query — never the whole scored corpus to one reducer
    from prql_spark.operators.similarity import brute_force_topk

    corpus = catalog.load("embeddings")
    queries = (
        corpus.limit(3)
        .selectExpr("vec_id AS query_id", "embedding AS qvec")
    )
    df = brute_force_topk(corpus, queries, k=5)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1][:200]


def test_dedup_exact_single_exchange_when_parallel(catalog, spark):
    # on an already-parallel input the gate must skip the spreading
    # repartition: exactly one exchange (the key window), no
    # REPARTITION_BY_NUM
    from pyspark.sql import functions as F

    from prql_spark.operators.dedup import dedup_exact

    docs = catalog.load("documents").repartition(8, "doc_id")
    plan = plan_of(dedup_exact(docs))
    assert "REPARTITION_BY_NUM" not in plan.split("ENSURE_REQUIREMENTS")[0]
    # one ENSURE_REQUIREMENTS exchange for the window, plus the
    # caller's explicit repartition — nothing else
    assert plan.count("Exchange hashpartitioning") <= 2


def test_core_path_has_codegen_no_python(catalog):
    df = compile_prql(
        "from lineitem\n"
        "derive [net = l_extendedprice * (1 - l_discount)]\n"
        "group [l_returnflag] (aggregate [s = sum net])",
        catalog,
    )
    df.collect()  # AQE finalizes the plan (codegen spans) on execution
    plan = plan_of(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in plan toString
    assert "*(1)" in plan and "*(2)" in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_broadcast_miss_lint(catalog, spark):
    """The lint fires on a join that shuffles a sub-threshold dim and
    stays silent when the dim is broadcast (the q5-style plan)."""
    from prql_spark.plans.lint import lint_broadcast_misses

    q = (
        "from l=lineitem\n"
        "join n=nation [n_nationkey == l_suppkey]\n"
        "group [n_name] (aggregate [cnt = count])"
    )
    good = compile_prql(q, catalog)
    assert lint_broadcast_misses(good, warn=False) == []

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # nation joined WITHOUT the catalog broadcast policy and with
        # auto-broadcast off → SortMergeJoin over a tiny dim
        from prql_spark.sources.catalog import Catalog

        bare = Catalog(spark, catalog.data_dir, broadcast=frozenset())
        missed = compile_prql(q, bare)
        found = lint_broadcast_misses(missed, threshold=10 * 1024 * 1024,
                                      warn=False)
        assert found and "SortMergeJoin" in found[0]
        import pytest
        from prql_spark.compiler import PrqlPlanWarning

        with pytest.warns(PrqlPlanWarning):
            lint_broadcast_misses(missed, threshold=10 * 1024 * 1024)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_sample_per_group_partial_group_limit(catalog):
    # exactly-k-per-group must take the two-stage WindowGroupLimit
    # path: each scan partition forwards at most k rows per group
    from prql_spark.operators.splits import sample_per_group

    df = sample_per_group(
        catalog.load("documents"), ["lang", "source"], 5, "doc_id"
    )
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1][:200]


def test_unigram_scoring_no_shuffle_no_python(catalog):
    # the literal-map scorer is a pure narrow map: the vocabulary
    # rides in the plan, so scoring adds NO exchange and NO Python
    from prql_spark.operators.text import unigram_logprob

    docs = catalog.load("documents")
    vocab = [("the", 100), ("of", 60), ("scan", 40)]
    df = unigram_logprob(docs, vocab, 500)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_dedup_against_broadcasts_reference_keys(catalog):
    # broadcast_ref: the anti-join must be a BroadcastHashJoin on the
    # 16-byte key projection — the incoming side never shuffles
    from prql_spark.operators.dedup import dedup_against

    docs = catalog.load("documents")
    ref = docs.where("doc_id % 3 = 0")
    inc = docs.where("doc_id % 3 != 0")
    plan = plan_of(dedup_against(inc, ref, broadcast_ref=True))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_semdedup_bucket_combine_shape(catalog):
    # r12: the coarse assignment is a per-row argmax over one folded
    # centroid-array LITERAL — no join of any kind before the
    # bucket-combine (the r11 shape still paid a 64-way
    # BroadcastNestedLoopJoin + argmax aggregate + corpus re-join),
    # and the only exchange is the bucket-combine group-by
    from entries._ivf_centroids import SEMDEDUP_CENTROIDS
    from prql_spark.operators.similarity import semdedup_pairs

    df = semdedup_pairs(
        catalog.load("embeddings"), dim=64, centroids=SEMDEDUP_CENTROIDS,
        threshold=0.35,
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # assignment is a narrow map now
    # the bucket-combine, plus at most the conditional local
    # single-scan-partition spread (no-op at scale)
    assert plan.count("Exchange") <= 2
    assert plan.count("REPARTITION_BY_NUM") <= 1
    assert plan.count("Scan parquet") == 1


def test_docs_clean_pipeline_plan_shape(catalog, spark):
    # flagship composition: ONE parquet scan feeds the whole chain
    # (strip/quality/lang fuse as narrow projections), zero Python,
    # and at most three exchanges — the local single-file spread
    # (gated off on already-parallel inputs), the dedup window's
    # __key hash, and the entry's final sort
    from __spark_entry__ import queries as entry_queries

    df = entry_queries()["docs_clean_pipeline"](
        spark, "/root/testdata/sf0.001"
    )
    plan = plan_of(df)
    assert plan.count("FileScan") == 1
    assert "Python" not in plan
    assert plan.count("Exchange") <= 3
    assert plan.count("hashpartitioning(__key") == 1


def test_heavy_filter_barrier_single_eval(catalog, spark):
    """r12 cost-gated Filter/Project barrier: a filter on a
    quality_score/lang_id column must NOT be alias-substituted below
    the defining Project (that leaves the full regex chain in both
    the pushed Filter and the Project — every surviving row scores
    twice). The barrier re-projects the referenced heavy columns
    through a nondeterministic no-op, so the chain evaluates exactly
    once; sargable conjuncts of the same filter still push to the
    scan."""
    from __spark_entry__ import queries as entry_queries

    df = entry_queries()["docs_clean_pipeline"](
        spark, "/root/testdata/sf0.001"
    )
    plan = plan_of(df)
    # quality's stopword regex + the four lang signatures: once each
    # (the pre-barrier plan carried 10 — each chain in Filter AND
    # Project)
    assert plan.count("regexp_extract_all") == 5
    # mixed filter: the cheap conjunct keeps pushing to the scan
    # while the heavy conjunct stays above the scoring projection
    df2 = compile_prql(
        "from documents\nquality_score\n"
        "filter quality > 0.3 and doc_id < 100\n"
        "select [doc_id, quality]",
        catalog,
    )
    p2 = plan_of(df2)
    assert "LessThan(doc_id,100)" in p2  # pushed to parquet
    assert p2.count("regexp_extract_all") == 1
    assert df2.count() == 100


def test_flag_filters_substitution_safe(catalog):
    """Filtering on a computed flag pushes the flag expression down
    through the defining projections, substituting every staged
    alias into the filter. The per-index lambda shape
    (transform(sequence(...), i -> ...slice(arr, i...))) goes
    O(words²)+ per row under that substitution (measured 0.2 s →
    75 s at sf0.01); the zip_with/fold formulations stay linear. Pin
    the absence of the unsafe shape from the OPTIMIZED plans of the
    filtered compositions."""
    from pyspark.sql import functions as F

    from prql_spark.operators import dedup, splits, text

    docs = catalog.load("documents")
    stripped = splits.strip_boilerplate(docs, "text")

    cases = {
        "repetition": text.repetition_flags(
            stripped, "text_clean", "doc_id"
        ).where("passes_repetition"),
        "gopher": text.gopher_quality_flags(
            stripped, "text_clean"
        ).where("passes_gopher"),
        "fingerprint": text.fingerprint(stripped, "text_clean").where(
            F.expr("size(fp_winnow) > 1")
        ),
        "ngram_counts": text.ngram_counts(stripped, text_col="text_clean"),
        "contamination": text.ngram_contamination(
            stripped, docs.limit(5), text_col="text_clean",
            probe_text_col="text",
        ).where("contamination > 0.5"),
        "jaccard": dedup.ngram_jaccard_pairs(stripped, "text_clean"),
    }
    for name, df in cases.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the one permitted indexed shape: pairs_from_buckets' (i, j)
        # index generation over `mem` — an AGGREGATE output attribute
        # (collect_list), which no substitution can inline
        idx = 0
        while True:
            idx = plan.find("transform(sequence(", idx)
            if idx < 0:
                break
            window = plan[idx : idx + 80]
            assert "size(mem" in window, (
                f"{name}: indexed-lambda shape over a substitutable "
                f"input in optimized plan (…{window!r}) — goes "
                "O(n²) per row once an alias substitutes into it"
            )
            idx += 1


def test_python_udf_lint(catalog, spark):
    """Fires on a row-at-a-time @udf; silent on Arrow-batched Pandas
    UDFs (the sanctioned Python path) and on the pure-JVM core."""
    from pyspark.sql import functions as F

    from prql_spark.plans.lint import lint_python_udfs

    docs = catalog.load("documents")
    slow = docs.select(
        F.udf(lambda s: len(s) if s else 0, "int")(F.col("text")).alias("n")
    )
    found = lint_python_udfs(slow, warn=False)
    assert found and "BatchEvalPython" in found[0]

    fast = docs.select(
        F.pandas_udf(lambda s: s.str.len(), "int")(F.col("text")).alias("n")
    )
    assert lint_python_udfs(fast, warn=False) == []
    core = compile_prql("from orders\ntake 5", catalog)
    assert lint_python_udfs(core, warn=False) == []


def test_operator_construction_is_lazy(spark):
    """Building an operator DataFrame must trigger ZERO Spark jobs —
    the lazy-construction contract (VERDICT r4 caught tfidf_top_terms
    running an eager df.count() at build time: one avoidable full
    corpus scan per invocation at 100 TB). Operators whose SIZING is
    inherently data-dependent (occupancy sizing, on-the-fly training,
    rebalance counts) are exercised with explicit parameters — the
    documented production path. The DAGScheduler's job counter is
    read before/after each constructor; any increment is a job."""
    from pyspark.sql import functions as F

    from prql_spark.operators import dedup, similarity, splits, text
    from prql_spark.operators.profile import rollup_stats

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon doc {i} " * 3,
             "en", "web", 0.5 + i)
            for i in range(8)
        ],
        "doc_id long, text string, lang string, source string, "
        "quality double",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.25]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, qvec array<double>"
    )

    constructors = {
        "token_count": lambda: text.token_count(docs),
        "quality_score": lambda: text.quality_score(docs),
        "lang_id": lambda: text.lang_id(docs),
        "ngram_counts": lambda: text.ngram_counts(docs),
        "doc_frequency": lambda: text.doc_frequency(docs),
        "fingerprint": lambda: text.fingerprint(docs),
        "bm25_rank": lambda: text.bm25_rank(docs, ["alpha", "doc"]),
        "ngram_contamination": lambda: text.ngram_contamination(
            docs, docs.select("text"), n=3
        ),
        "gopher_quality_flags": lambda: text.gopher_quality_flags(docs),
        "pack_sequences": lambda: text.pack_sequences(docs),
        "repetition_flags": lambda: text.repetition_flags(docs),
        "quantile_buckets": lambda: text.quantile_buckets(docs),
        "tfidf_top_terms": lambda: text.tfidf_top_terms(docs),
        "chunk_documents": lambda: text.chunk_documents(docs),
        "script_profile": lambda: text.script_profile(docs),
        "html_to_text": lambda: text.html_to_text(docs),
        "collocations": lambda: text.collocations(docs),
        "dedup_exact": lambda: dedup.dedup_exact(docs),
        "dedup_minhash_lsh": lambda: dedup.dedup_minhash_lsh(docs),
        "simhash_near_pairs": lambda: dedup.simhash_near_pairs(
            dedup.simhash_signatures(docs)
        ),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(docs),
        "dedup_against": lambda: dedup.dedup_against(
            docs, docs.select("text")
        ),
        "dedup_against_near": lambda: dedup.dedup_against_near(
            docs, docs.select("text")
        ),
        "dedup_paragraphs": lambda: dedup.dedup_paragraphs(docs),
        "duplicated_window_fraction": lambda:
            dedup.duplicated_window_fraction(docs),
        "dedup_lines": lambda: dedup.dedup_lines(docs),
        "url_features": lambda: text.url_features(
            docs.withColumn("url", F.expr(
                "concat('https://h.example/', doc_id)")),
            block_domains=("bad.example",),
        ),
        "split_by_hash": lambda: splits.split_by_hash(docs, "doc_id"),
        "sample_by_hash": lambda: splits.sample_by_hash(
            docs, "doc_id", 0.5
        ),
        "redact_pii": lambda: splits.redact_pii(docs),
        "strip_boilerplate": lambda: splits.strip_boilerplate(docs),
        "sample_per_group": lambda: splits.sample_per_group(
            docs, ["lang"], 2, "doc_id"
        ),
        "stratified_sample_by_hash": lambda:
            splits.stratified_sample_by_hash(
                docs, "doc_id", "lang", {"en": 0.5}
            ),
        "rollup_stats": lambda: rollup_stats(
            docs, ["lang", "source"], {"n": "count(*)"}
        ),
        "brute_force_topk": lambda: similarity.brute_force_topk(emb, qs),
        "lsh_topk": lambda: similarity.lsh_topk(emb, qs, dim=4),
        "ivf_topk": lambda: similarity.ivf_topk(
            emb, qs, dim=4, n_lists=2,
            centroids=[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        ),
        "embedding_near_dups": lambda: similarity.embedding_near_dups(
            emb, dim=4, n_planes=4
        ),
        "semdedup_pairs": lambda: similarity.semdedup_pairs(
            emb, dim=4,
            centroids=[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        ),
    }

    def jobs():
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    eager = {}
    for name, build in constructors.items():
        before = jobs()
        out = build()
        ran = jobs() - before
        if ran:
            eager[name] = ran
        assert out.columns  # built a real DataFrame
    assert eager == {}, f"operators ran jobs at construction: {eager}"


def test_span_dedup_single_key_exchange(catalog):
    """dedup_paragraphs' scale contract: the winner aggregation is
    the ONE exchange keyed on the paragraph hash (map-side partial
    min first), the winner join reuses that key partitioning, and no
    cartesian/self-join of the corpus appears anywhere."""
    from prql_spark.operators.dedup import dedup_paragraphs

    plan = plan_of(dedup_paragraphs(catalog.load("documents")))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # round 11: winner selection is a min() WINDOW over the hashed
    # span key — the agg+re-join shape computed the explode/md5 chain
    # twice and exchanged the corpus twice; now the span stream is
    # exchanged ONCE (the window) plus the per-doc reassembly
    assert "Window" in plan and "min(" in plan
    # no join anywhere: the winner never meets the corpus a second time
    assert "Join" not in plan
    # the exchange key is the 16-byte md5, never the span text
    assert "md5" in plan
    # exchanges: span-key window + per-doc reassembly, plus (r12)
    # the conditional single-scan-partition spread — which fires only
    # on local under-parallel inputs (at scale _spread no-ops and the
    # span-key window stays the one corpus exchange)
    assert plan.count("Exchange hashpartitioning") <= 3
    assert plan.count("REPARTITION_BY_NUM") <= 1  # the spread only
    # the corpus is scanned exactly once (the old shape scanned twice)
    assert plan.count("Scan parquet") == 1


def test_window_removal_plan_shape(catalog):
    """remove_duplicated_windows / remove_duplicated_sentences scale
    contract: every exchange keys on a 16-byte hash or on slim
    (id, index) int pairs — never gram/sentence TEXT; no cartesian,
    no Python, bounded exchange count, map-side partial count before
    the gram-key exchange."""
    from prql_spark.operators.dedup import (
        remove_duplicated_sentences,
        remove_duplicated_windows,
    )

    docs = catalog.load("documents")
    # round 11: the mark phase (gram explode → ONE window count over
    # the 16-byte gram key → coverage distinct) is pinned behind a
    # lazy DISK_ONLY localCheckpoint, so the final plan consumes it
    # as ExistingRDD scans instead of recomputing it once per
    # consumer (the old plan held the counts subtree three times and
    # scanned the corpus 8x). The final plan is the pruning split +
    # word anti-join + reassembly only.
    for fn, max_ex in (
        (remove_duplicated_windows, 6),
        (remove_duplicated_sentences, 6),
    ):
        plan = plan_of(fn(docs))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "EvalPython" not in plan
        # the checkpointed mark phase feeds every consumer
        assert "ExistingRDD" in plan, fn
        # clean split + word anti-join + reassembly: bounded, linear
        assert plan.count("Exchange hashpartitioning") <= max_ex, fn
        # the corpus text is scanned for the clean branch and the
        # dirty word stream only — never once per covered consumer
        assert plan.count("Scan parquet") <= 2, fn


def test_window_mark_phase_plan_shape(catalog):
    """The shared mark phase (visible un-checkpointed through
    duplicated_window_fraction): gram occurrence counts come from ONE
    window over the hashed gram key — single gram-explode pass,
    single corpus-gram exchange, no agg+self-join (whose probe side
    re-ran the explode and whose build side the local planner even
    broadcast — a corpus-sized broadcast that cannot exist at
    100 TB)."""
    from prql_spark.operators.dedup import duplicated_window_fraction

    plan = plan_of(duplicated_window_fraction(catalog.load("documents")))
    assert "Window" in plan
    assert "md5" in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    # gram-key window + per-doc aggregate, plus (r12) the conditional
    # single-scan-partition spread (no-op at scale)
    assert plan.count("Exchange hashpartitioning") <= 3
    assert plan.count("REPARTITION_BY_NUM") <= 1  # the spread only


def test_multi_ref_cte_materializes_once(catalog):
    """A `table` CTE referenced by TWO downstream from/join sites is
    re-executed per reference when left inline (Spark shares the
    DataFrame, not the work): q21's order_supp aggregate ran its
    lineitem scan + orders broadcast + shuffle twice. The compiler
    now binds such shuffle-bearing CTEs through a lazy DISK_ONLY
    localCheckpoint, so the final plan reads ONE materialized RDD
    from both sites instead of duplicating the subtree."""
    prql = (
        "table pairs = (\n"
        "  from lineitem\n"
        "  group [l_orderkey, l_suppkey] (aggregate [n = count])\n"
        ")\n"
        "table per_order = (\n"
        "  from pairs\n"
        "  group [l_orderkey] (aggregate [n_supp = count])\n"
        ")\n"
        "from p=pairs\n"
        "join o=per_order [l_orderkey]\n"
        "filter n_supp >= 2\n"
        "aggregate [total = sum n]"
    )
    plan = plan_of(compile_prql(prql, catalog))
    # both consumers read the checkpointed RDD; lineitem is scanned
    # only inside the (shared) checkpoint materialization
    assert plan.count("Scan ExistingRDD") == 2
    assert "Scan parquet" not in plan
    # an unsorted take may return different rows each time it runs:
    # materialized once, both consumers see the same rows
    few = (
        "table few = (\n"
        "  from lineitem\n"
        "  take 100\n"
        ")\n"
        "from a=few\n"
        "join b=few [l_orderkey]\n"
        "aggregate [n = count]"
    )
    assert "ExistingRDD" in plan_of(compile_prql(few, catalog))


def test_single_ref_cte_stays_inline(catalog):
    """A CTE referenced once keeps its inline plan (no RDD barrier:
    each consumer keeps column pruning and predicate pushdown), and
    a multi-referenced narrow filter-CTE does too — re-running a
    scan filter is cheaper than materializing its full width."""
    single = (
        "table agg = (\n"
        "  from lineitem\n"
        "  group [l_orderkey] (aggregate [n = count])\n"
        ")\n"
        "from agg\nfilter n > 2"
    )
    plan = plan_of(compile_prql(single, catalog))
    assert "ExistingRDD" not in plan and "Scan parquet" in plan
    # a CTE's own body reads the catalog table it shadows: `orders`
    # is referenced once (by the main pipeline), not twice
    shadow = (
        "table orders = (\n"
        "  from orders\n"
        "  group [o_custkey] (aggregate [n = count])\n"
        ")\n"
        "from orders\nfilter n > 2"
    )
    plan = plan_of(compile_prql(shadow, catalog))
    assert "ExistingRDD" not in plan and "Scan parquet" in plan
    narrow = (
        "table cheap = (\n"
        "  from lineitem\n"
        "  filter l_quantity < 10\n"
        ")\n"
        "from a=cheap\n"
        "join b=cheap [l_orderkey]\n"
        "aggregate [n = count]"
    )
    plan = plan_of(compile_prql(narrow, catalog))
    assert "ExistingRDD" not in plan


def test_plan_cuts_only_in_physical_helpers():
    """Every materialization and single-evaluation barrier goes
    through prql_spark/plans/physical.py, so a storage or
    fault-tolerance policy change touches one function."""
    import pathlib

    import prql_spark

    root = pathlib.Path(prql_spark.__file__).parent
    helper = root / "plans" / "physical.py"
    offenders = [
        f"{path.relative_to(root)}: {token}"
        for path in sorted(root.rglob("*.py"))
        if path != helper
        for token in (
            "localCheckpoint(", "StorageLevel", "spark_partition_id() >= 0",
            ".persist(", ".cache()",
        )
        if token in path.read_text()
    ]
    assert offenders == []


def test_one_mutable_table_format(capsys):
    """Tables change in place only through the manifest table: no
    plain-parquet upsert or in-place compaction (with its partition
    overwrite and rename swap) is left in the package, and the CLI
    offers no flag for one."""
    import pathlib

    import pytest

    import prql_spark
    from prql_spark.__main__ import main

    root = pathlib.Path(prql_spark.__file__).parent
    tokens = (
        "upsert_parquet", "compact_parquet", "partitionOverwriteMode",
        "__compact_tmp__",
    )
    offenders = [
        f"{path.relative_to(root)}: {token}"
        for path in sorted(root.rglob("*"))
        if path.is_file() and "__pycache__" not in path.parts
        for token in tokens
        if token in path.read_text(errors="replace")
    ]
    assert offenders == []
    with pytest.raises(SystemExit):
        main(["--help"])
    out = capsys.readouterr().out
    assert "--compact" in out
    assert "--layout" not in out and "--partition-col" not in out


def test_one_exact_decontamination_path():
    """Exact decontamination has one operator, dedup_against: no
    bloom-prefiltered copy (or its entry) is named by the package, the
    entries, the scripts or the bench, and the package builds no
    driver-side tree aggregate."""
    import pathlib

    import prql_spark

    root = pathlib.Path(prql_spark.__file__).parent
    repo = root.parent
    files = [
        p
        for d in ("prql_spark", "entries", "scripts")
        for p in sorted((repo / d).rglob("*"))
        if p.is_file() and "__pycache__" not in p.parts
    ] + [repo / "bench.py"]
    offenders = [
        f"{path.relative_to(repo)}: {token}"
        for path in files
        for token in ("dedup_against_bloom", "dedup_incremental_bloom")
        if token in path.read_text(errors="replace")
    ]
    offenders += [
        f"{path.relative_to(repo)}: treeAggregate"
        for path in sorted(root.rglob("*.py"))
        if "treeAggregate" in path.read_text()
    ]
    assert offenders == []


def test_measurement_only_in_bench():
    """Every script measures through bench.py — one GC-then-drain
    timer, one JVM gate, one sf-dir default — and the runtime package
    reads no spread override."""
    import pathlib

    import prql_spark

    root = pathlib.Path(prql_spark.__file__).parent
    scripts = root.parent / "scripts"
    offenders = [
        f"scripts/{path.name}: {token}"
        for path in sorted(scripts.glob("*.py"))
        for token in (
            "System.gc(", "pgrep", "SPARK_GRAFT_SF_DIR",
            "SPARK_GRAFT_IGNORE_JVMS",
        )
        if token in path.read_text()
    ]
    offenders += [
        f"prql_spark/{path.relative_to(root)}: spark.prql.spread"
        for path in sorted(root.rglob("*.py"))
        if "spark.prql.spread" in path.read_text()
    ]
    assert offenders == []


def test_runtime_package_holds_no_harness():
    """The query entries, their DuckDB oracles and the oracle engine
    live outside prql_spark/, and importing an operator family runs no
    package-level code."""
    import ast
    import pathlib

    import prql_spark

    root = pathlib.Path(prql_spark.__file__).parent
    harness = {"entries", "__spark_entry__", "duckdb"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module]
            else:
                continue
            offenders += [
                f"{path.relative_to(root)}: {n}"
                for n in names
                if n.split(".")[0] in harness
            ]
    assert offenders == []
    body = ast.parse((root / "operators" / "__init__.py").read_text()).body
    assert len(body) == 1 and isinstance(body[0], ast.Expr)
    assert isinstance(body[0].value, ast.Constant)
    assert isinstance(body[0].value.value, str)


def test_manifest_commits_only_through_publish():
    """Every manifest commit goes through manifest._publish, so the
    retry budget and the stream high-water carry-forward live in one
    loop."""
    import ast
    import pathlib

    import prql_spark

    root = pathlib.Path(prql_spark.__file__).parent
    callers = []

    class Calls(ast.NodeVisitor):
        def __init__(self, path):
            self.path, self.stack = path, []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        def visit_Call(self, node):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name == "_write_text_atomic":
                callers.append(f"{self.path.name}:{'.'.join(self.stack)}")
            self.generic_visit(node)

    for path in sorted(root.rglob("*.py")):
        Calls(path).visit(ast.parse(path.read_text()))
        assert "range(20)" not in path.read_text(), path
    assert callers == ["manifest.py:_publish"]
