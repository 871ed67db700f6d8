"""Text-analysis operators over a document corpus.

All hot-path logic is built-in Spark SQL functions (regexp, arrays,
higher-order lambdas) — JVM-side, whole-stage-codegen eligible, zero
Python UDFs. Every operator is a narrow map over the documents scan:
no shuffle, embarrassingly parallel, scales linearly with input
splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# BPE-ish pre-tokenizer: letter runs, single digits, or single
# non-alnum marks (GPT-2-style pre-tokenization shape).
BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

STOPWORDS_EN = (
    "the of and to in a is that it was for on are with as be at by this "
    "have from or had not but what all were when we there can an your "
    "which their said if do will each about how up out them she many "
    "some so these would other into has more her two like him see time"
).split()

# tiny per-language stopword signatures for the n-gram/stopword
# language-ID heuristic (documents tables carry en/de/fr/es).
LANG_SIGNATURES = {
    "en": "the and of to in is that it with for was on are this have".split(),
    "de": "der die und das ist nicht von mit ein eine zu den dem auf".split(),
    "fr": "le la les et des une est pour dans que qui sur pas vous".split(),
    "es": "el la los las y una es para con que por del se como".split(),
}


def _large_expressions(fn):
    """Mark an operator whose derived columns are LARGE expression
    trees (regex chains / higher-order folds, hundreds of plan nodes).

    A later PRQL ``filter`` on such a column triggers Catalyst's alias
    substitution (predicate pushdown through the defining Project),
    leaving the full expression in BOTH the pushed Filter and the
    Project that outputs the column — every surviving row pays the
    chain twice (measured on docs_clean_pipeline at sf0.1). The
    compiler reads ``fn.large_expressions`` and keeps filters on these
    columns ABOVE the defining projection, so the chain evaluates once
    (``Compiler._barrier_heavy``). Operators with cheap derived columns
    (arithmetic, casts) stay unmarked: their substitution is harmless
    and blocking it would cost real pushdown."""
    fn.large_expressions = True
    return fn


def _words(col: str) -> str:
    return f"split(lower(trim({col})), '\\\\s+')"


def ngram_expr(ws_col: str, n: int) -> str:
    """Word n-grams over an array column/expr, SUBSTITUTION-SAFE: a
    shifted-slice zip_with chain that references the array only as a
    whole-array argument — never inside a lambda body — so Catalyst
    alias substitution (predicate pushdown, CollapseProject) cannot
    turn it into per-element re-evaluation. The previous
    ``transform(sequence(...), i -> slice(ws, i+1, n))`` shape was
    linear while ``ws`` stayed a column but became O(words²) per doc
    once a downstream filter pushed through its projection (measured
    0.2 s → 75 s on the composed pipeline — see repetition_flags).

    Matches the legacy shape exactly, including short docs: fewer
    than n words yields ONE gram joining all words (the oracles pin
    that), via a size guard — all references top-level.
    """
    if n == 1:
        return ws_col
    m = f"greatest(size({ws_col}) - {n - 1}, 0)"
    g = f"slice({ws_col}, 1, {m})"
    for j in range(1, n):
        g = (
            f"zip_with({g}, slice({ws_col}, {j + 1}, {m}), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    return (
        f"IF(size({ws_col}) < {n}, "
        f"array(concat_ws(' ', {ws_col})), {g})"
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per doc."""
    ws = (
        f"CASE WHEN trim({text_col}) = '' THEN 0 "
        f"ELSE size(split(trim({text_col}), '\\\\s+')) END"
    )
    # Spark SQL string literals eat single backslashes — double them
    # (the DuckDB oracle uses the raw pattern; DuckDB keeps '\s').
    bpe_pat = BPE_ISH.replace("\\", "\\\\")
    bpe = f"size(regexp_extract_all({text_col}, '{bpe_pat}', 0))"
    return df.withColumns(
        {
            "ws_tokens": F.expr(ws),
            "bpe_tokens": F.expr(bpe),
        }
    )


@_large_expressions
def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1].

    Features follow common LLM-corpus filters (C4/Gopher-style):
    length, alphabetic ratio, punctuation density, stopword ratio,
    mean word length.
    """
    n = f"length({text_col})"
    alpha = f"length(regexp_replace({text_col}, '[^A-Za-z]', ''))"
    punct = f"length(regexp_replace({text_col}, '[^.,;:!?]', ''))"
    stop_re = "\\\\b(" + "|".join(STOPWORDS_EN) + ")\\\\b"
    words = _words(text_col)
    out = df.withColumns(
        {
            "n_chars_q": F.expr(n),
            "alpha_ratio": F.expr(
                f"CASE WHEN {n} = 0 THEN 0.0 ELSE {alpha} / {n} END"
            ),
            "punct_ratio": F.expr(
                f"CASE WHEN {n} = 0 THEN 0.0 ELSE {punct} / {n} END"
            ),
            "n_words": F.expr(f"size({words})"),
            "stopword_ratio": F.expr(
                f"CASE WHEN size({words}) = 0 THEN 0.0 ELSE "
                f"size(regexp_extract_all(lower({text_col}), '{stop_re}', 0))"
                f" / size({words}) END"
            ),
            "mean_word_len": F.expr(
                f"CASE WHEN size({words}) = 0 THEN 0.0 ELSE "
                f"aggregate({words}, 0, (a, w) -> a + length(w))"
                f" / size({words}) END"
            ),
        }
    )
    # composite: reward mid-length docs, prose-like ratios
    return out.withColumn(
        "quality",
        F.expr(
            "round(least(1.0, greatest(0.0,"
            " 0.25 * least(n_chars_q / 500.0, 1.0)"
            " + 0.35 * alpha_ratio"
            " + 0.25 * least(stopword_ratio * 4.0, 1.0)"
            " + 0.15 * (1.0 - least(punct_ratio * 10.0, 1.0)))), 6)"
        ),
    )


@_large_expressions
def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword-signature language guess (en/de/fr/es).

    Scores each language by signature-word hits per word, takes the
    argmax via a struct array max — single projection, no shuffle.
    """
    scores = []
    for lang, sig in LANG_SIGNATURES.items():
        pat = "\\\\b(" + "|".join(sig) + ")\\\\b"
        scores.append(
            f"named_struct('score', "
            f"size(regexp_extract_all(lower({text_col}), '{pat}', 0)), "
            f"'lang', '{lang}')"
        )
    arr = "array(" + ", ".join(scores) + ")"
    return df.withColumn(
        "lang_guess",
        F.expr(f"array_max({arr}).lang"),
    )


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide word-n-gram frequency table (vocabulary builder).

    explode → hash-agg with map-side combine → global top-k by
    TakeOrdered: the shuffle carries only (ngram, partial_count)
    pairs, never documents. Ties broken by ngram text for
    determinism.
    """
    # substitution-safe gram chain (see ngram_expr): survives filter
    # pushdown / projection collapse without going O(words²)
    return (
        df.select(F.expr(_words(text_col)).alias("__ws"))
        .select(F.explode(F.expr(ngram_expr("__ws", n))).alias("ngram"))
        .where(F.expr("ngram != ''"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "ngram")
        .limit(top_k)
    )


def doc_frequency(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Per-term document frequency (the IDF denominator): number of
    docs containing each distinct word, terms below min_df dropped."""
    words = _words(text_col)
    return (
        df.select(
            F.col(id_col),
            F.explode(F.expr(f"array_distinct({words})")).alias("term"),
        )
        .where(F.expr("term != ''"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )


def unigram_vocab(
    df: DataFrame,
    text_col: str = "text",
    top_v: int = 256,
) -> tuple[list[tuple[str, int]], int]:
    """Corpus unigram statistics for the LM-score filter: the top-V
    vocabulary with counts, plus the TOTAL token count.

    One token-count aggregate (explode → map-side-combined hash agg);
    the top-V selection is a TakeOrdered (count desc, token asc — a
    total order, so the vocabulary is deterministic across engines)
    and only V rows plus one scalar ever reach the driver. At 100 TB
    this is the classic "collect tiny model, score wide" pattern —
    the same shape as IVF's pretrained centroids.
    """
    from pyspark.sql import Observation

    words = _words(text_col)
    counts = (
        df.select(F.explode(F.expr(words)).alias("tok"))
        .where(F.expr("tok != ''"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # ONE job for both results (round 12): the top-V TakeOrdered
    # scans every counts row anyway, so the scalar total rides the
    # same pass as an observed metric — replacing the previous
    # persist + two actions (a second full pass over the cached
    # counts, plus storage-memory residency until unpersist).
    obs = Observation()
    top = (
        counts.observe(obs, F.sum("c").alias("total"))
        .orderBy(F.desc("c"), "tok")
        .limit(top_v)
        .collect()
    )
    total = obs.get["total"] or 0
    return [(r["tok"], r["c"]) for r in top], int(total)


def unigram_logprob(
    df: DataFrame,
    vocab: list[tuple[str, int]],
    total_tokens: int,
    text_col: str = "text",
) -> DataFrame:
    """Per-doc mean unigram log-probability — the cheap stand-in for
    LM-perplexity quality filtering (CCNet buckets corpora by LM
    score; a unigram model keeps the whole scorer inside Spark SQL).

    p(w) = (c_w + 1) / (total + V + 1), Laplace-smoothed; words
    outside the top-V vocabulary take the OOV mass 1/(total + V + 1).
    The vocabulary rides along as ONE literal map expression, so
    scoring is a narrow map over the documents scan — no join, no
    shuffle, no Python. Adds ``lm_logprob`` (mean ln p per token,
    round 6; NULL for token-less docs) and ``lm_tokens``.
    """
    import math

    V = len(vocab)
    denom = total_tokens + V + 1
    oov = math.log(1.0 / denom)
    if vocab:
        entries = ", ".join(
            f"{_esc(t)}, CAST({math.log((c + 1) / denom)!r} AS DOUBLE)"
            for t, c in vocab
        )
        lookup = f"coalesce(element_at(map({entries}), w), {oov!r})"
    else:
        lookup = repr(oov)
    # token array materialized once per row (three references below);
    # the vocab map literal is constant-folded at plan time, so the
    # per-token lookup is a hash probe, not a map rebuild
    return (
        df.withColumn(
            "__lm_toks",
            F.expr(f"filter({_words(text_col)}, w -> w != '')"),
        )
        .withColumns(
            {
                "lm_tokens": F.expr("size(__lm_toks)"),
                "lm_logprob": F.expr(
                    f"IF(size(__lm_toks) = 0, NULL, round("
                    f"aggregate(__lm_toks, CAST(0.0 AS DOUBLE), "
                    f"(acc, w) -> acc + {lookup}) / size(__lm_toks), 6))"
                ),
            }
        )
        .drop("__lm_toks")
    )


def _esc(s: str) -> str:
    from prql_spark.compiler import _esc_str

    return _esc_str(s)


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Top collocations by pointwise mutual information: bigrams that
    co-occur far above chance (vocabulary analysis / tokenizer-merge
    candidates).

    PMI = ln( p(ab) / (p(a)·p(b)) ) with p from corpus counts; rare
    bigrams below ``min_count`` are dropped (PMI's classic
    low-frequency instability). Three shuffles total, all map-side
    combined and all carrying (token, count) pairs only: bigram
    counts, unigram counts, and the final top-k (TakeOrdered). The
    unigram table joins in twice, keyed on the word — at corpus scale
    both sides are count tables, never documents; the two identical
    unigram-count subplans dedupe at runtime via AQE exchange reuse
    (verified: 2 ReusedExchange nodes in the executed plan).

    Returns (w1, w2, n_ab, pmi) sorted by pmi desc (ties: bigram
    text), limited to ``top_k``.
    """
    words = _words(text_col)
    # Bigrams as zip_with(ws, slice(ws, 2, ...)) — the word array is
    # evaluated ONCE PER ROW. The index form
    # transform(sequence(0, n-2), i -> element_at({words}, i+1)) would
    # inline the split expression INSIDE the lambda, re-splitting the
    # document per element — O(words²) per doc, measured 8× slower at
    # sf0.1 (5.8 s → 0.8 s for the bigram count). zip_with pads the
    # shorter side with NULL, so the trailing (last_word, NULL) pair
    # is filtered along with empties — single-word and empty docs
    # yield [] with no pre-filter needed.
    bigrams = (
        f"filter(zip_with({words}, slice({words}, 2, size({words})), "
        f"(a, b) -> named_struct('w1', a, 'w2', b)), "
        f"g -> g.w1 != '' AND g.w2 IS NOT NULL AND g.w2 != '')"
    )
    toks = (
        df.select(F.explode(F.expr(words)).alias("w"))
        .where(F.expr("w != ''"))
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(
        F.sum("c").alias("t_uni"), F.count(F.lit(1)).alias("n_vocab")
    )
    bi = (
        df.select(F.explode(F.expr(bigrams)).alias("g"))
        .groupBy("g.w1", "g.w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    tot_bi = df.select(
        F.expr(f"size({bigrams})").alias("nb")
    ).agg(F.coalesce(F.sum("nb"), F.lit(0)).alias("t_bi"))
    scored = (
        bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"),
                "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"),
              "w2")
        .join(F.broadcast(tot))
        .join(F.broadcast(tot_bi))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.expr(
                "round(ln((n_ab / CAST(t_bi AS DOUBLE)) / "
                "((c1 / CAST(t_uni AS DOUBLE)) * "
                "(c2 / CAST(t_uni AS DOUBLE)))), 6)"
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(top_k)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints.

    - ``fp_md5``: md5 of whitespace-normalized lowercase text
      (cross-engine stable → oracle-checkable).
    - ``fp_winnow``: winnowing-style rolling fingerprint — min
      xxhash64 over each window of 4 consecutive word-5-gram hashes,
      distinct-sorted (robust to small edits; Schleimer et al. 2003).
    """
    norm = f"lower(regexp_replace(trim({text_col}), '\\\\s+', ' '))"
    k, w = 5, 4
    # Staged columns AND substitution-safe expressions (round 4): the
    # original per-index slice lambdas were linear only while the
    # staged aliases survived — a downstream filter/join pushing a
    # predicate through these projections substitutes the aliases
    # into the lambda bodies and the cost returns as O(words³) per
    # doc (the 227 s shape). The gram chain (ngram_expr) and the
    # rolling-min zip_with chain below reference arrays only as
    # whole-array arguments, so they stay linear under ANY Catalyst
    # substitution. Identical output (oracle unchanged).
    mg = f"greatest(size(__fp_g) - {w - 1}, 0)"
    rolling = f"slice(__fp_g, 1, {mg})"
    for j in range(1, w):
        rolling = (
            f"zip_with({rolling}, slice(__fp_g, {j + 1}, {mg}), "
            f"(a, b) -> least(a, b))"
        )
    out = (
        df.withColumn("__fp_ws", F.expr(f"split({norm}, ' ')"))
        .withColumn(
            "__fp_g",
            F.expr(
                f"transform({ngram_expr('__fp_ws', k)}, "
                f"g -> xxhash64(g))"
            ),
        )
        .withColumns(
            {
                "fp_md5": F.expr(f"md5({norm})"),
                "fp_winnow": F.expr(
                    f"array_sort(array_distinct("
                    f"IF(size(__fp_g) < {w}, "
                    f"array(array_min(__fp_g)), {rolling})))"
                ),
            }
        )
    )
    return out.drop("__fp_ws", "__fp_g")


def bm25_rank(
    df: DataFrame,
    query: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
) -> DataFrame:
    """BM25 document ranking for a (small, literal) query term list.

    Zero-explode design: the query is a plan constant, so each term's
    tf is an unrolled ``size(filter(words, w -> w = t))`` — a narrow
    map. Corpus statistics (N, avgdl, per-term df) are ONE tiny
    global aggregate (a single row) attached by cross-join — Spark
    broadcasts the 1-row side, so the corpus never shuffles; the only
    exchange is the final top-n (TakeOrdered). Robertson/Sparck Jones
    BM25 with the standard smooth idf ln(1 + (N-df+.5)/(df+.5)).
    """
    from prql_spark.compiler import _esc_str

    words = _words(text_col)
    # terms are matched against whitespace-split words, so a
    # multi-word "term" could never match — split them up front;
    # escape each literal (a quote/backslash in a term must not
    # break or inject into the lambda expression)
    terms = [w for t in query for w in t.lower().split()]
    if not terms:
        raise ValueError("bm25_rank: empty query")
    # one split per row: every per-term tf filters a materialized
    # __ws column instead of re-evaluating the split per term
    tf_exprs = {
        f"__tf_{i}": f"size(filter(__ws, w -> w = {_esc_str(t)}))"
        for i, t in enumerate(terms)
    }
    base = df.withColumn("__ws", F.expr(words)).withColumns(
        {"__dl": F.expr("size(__ws)")}
        | {k: F.expr(v) for k, v in tf_exprs.items()}
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.expr(f"sum(CASE WHEN __tf_{i} > 0 THEN 1 ELSE 0 END)").alias(
                f"__df_{i}"
            )
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    parts = [
        f"ln(1.0 + (__n_docs - __df_{i} + 0.5) / (__df_{i} + 0.5)) * "
        f"(__tf_{i} * ({k1} + 1.0)) / "
        f"(__tf_{i} + {k1} * (1.0 - {b} + {b} * __dl / __avgdl))"
        for i in range(len(terms))
    ]
    return (
        scored.withColumn(
            "bm25", F.expr(f"round({' + '.join(parts)}, 6)")
        )
        .where(F.col("bm25") > 0)
        .select(id_col, "bm25")
        .orderBy(F.desc("bm25"), id_col)
        .limit(top_n)
    )


def ngram_contamination(
    df: DataFrame,
    probes: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str | None = None,
) -> DataFrame:
    """Benchmark-contamination check: fraction of each document's
    word-n-grams that appear anywhere in the probe set (e.g. an eval
    benchmark) — the standard n-gram-overlap decontamination test.

    Scale shape: the probe set is small relative to the corpus, so
    its distinct gram table is broadcast; each doc's grams are a
    narrow explode; one aggregate keyed by doc id. The corpus is
    never shuffled by content — only (doc_id, hit) pairs move.
    """
    probe_text_col = probe_text_col or text_col

    # substitution-safe gram chain (see ngram_expr): survives filter
    # pushdown / projection collapse without going O(words²)
    grams = (
        f"array_distinct(filter({ngram_expr('__ws', n)}, g -> g != ''))"
    )
    probe_grams = (
        probes.select(F.expr(_words(probe_text_col)).alias("__ws"))
        .select(F.explode(F.expr(grams)).alias("__gram"))
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col), F.expr(_words(text_col)).alias("__ws")
    ).select(F.col(id_col), F.explode(F.expr(grams)).alias("__gram"))
    hits = (
        doc_grams.join(
            F.broadcast(probe_grams.withColumn("__hit", F.lit(1))),
            "__gram",
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.expr("sum(coalesce(__hit, 0))").alias("n_contaminated"),
        )
    )
    return hits.withColumn(
        "contamination",
        F.expr("round(n_contaminated / n_grams, 6)"),
    )


@_large_expressions
def gopher_quality_flags(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public
    paper), adapted to what's computable as pure narrow maps:

    - word count in [50, 100000]
    - mean word length in [3, 10]
    - fraction of words with >=1 alphabetic char > 0.8
    - symbol-to-word ratio ('#' and ellipsis) < 0.1
    - distinct-word ratio > 0.3 (repetition proxy)

    Emits one boolean per rule + ``passes_gopher`` (AND of all).
    Single projection, no shuffle, linear at 100 TB.
    """
    # one split per row: the five rules reference a materialized
    # __gq_ws column instead of re-evaluating the split expression
    # per rule
    staged = df.withColumn("__gq_ws", F.expr(_words(text_col)))
    nw = "size(__gq_ws)"
    mean_wl = (
        f"CASE WHEN {nw} = 0 THEN 0.0 ELSE "
        f"aggregate(__gq_ws, 0, (a, w) -> a + length(w)) / {nw} END"
    )
    alpha_frac = (
        f"CASE WHEN {nw} = 0 THEN 0.0 ELSE "
        f"size(filter(__gq_ws, w -> w rlike '[a-z]')) / {nw} END"
    )
    sym_ratio = (
        f"CASE WHEN {nw} = 0 THEN 1.0 ELSE "
        f"(size(regexp_extract_all({text_col}, '#', 0)) + "
        f"size(regexp_extract_all({text_col}, '\\\\.\\\\.\\\\.', 0)))"
        f" / {nw} END"
    )
    distinct_ratio = (
        f"CASE WHEN {nw} = 0 THEN 0.0 ELSE "
        f"size(array_distinct(__gq_ws)) / {nw} END"
    )
    out = staged.withColumns(
        {
            "flag_word_count": F.expr(f"{nw} BETWEEN 50 AND 100000"),
            "flag_mean_word_len": F.expr(
                f"({mean_wl}) BETWEEN 3.0 AND 10.0"
            ),
            "flag_alpha_words": F.expr(f"({alpha_frac}) > 0.8"),
            "flag_symbol_ratio": F.expr(f"({sym_ratio}) < 0.1"),
            "flag_distinct_words": F.expr(f"({distinct_ratio}) > 0.3"),
        }
    )
    return out.withColumn(
        "passes_gopher",
        F.expr(
            "flag_word_count AND flag_mean_word_len AND flag_alpha_words"
            " AND flag_symbol_ratio AND flag_distinct_words"
        ),
    ).drop("__gq_ws")


def pack_sequences(
    df: DataFrame,
    target_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 64,
    partition_by: list[str] | None = None,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed-token-budget
    training chunks (the standard pretraining "packing" step).

    Docs are sharded by a deterministic content hash, ordered by id
    within each shard, and a running token total assigns each doc to
    the chunk its first token lands in. The cumulative window is
    PARTITIONED BY shard, so packing parallelizes across shards
    instead of serializing through one global cumsum task — at 100 TB
    each shard's window is an independent reducer. md5-based
    sharding keeps the layout engine-agnostic (oracle-able) and
    stable across runs.

    ``partition_by``: extra columns prepended to the packing window
    partition (and to the chunk key). A frame that carries a
    train/val/test ``split`` column MUST pack with
    ``partition_by=["split"]`` — otherwise a (shard, chunk_id) chunk
    interleaves rows from different splits and downstream
    concat-by-chunk either leaks val/test text into training
    sequences or fragments chunks when re-grouped per split.

    Output: one row per doc with (shard, chunk_id, n_tokens); chunk
    membership is ``(*partition_by, shard, chunk_id)``. Downstream
    concat/tokenize groups by that key.

    ``n_tokens_col``: budget by an EXISTING per-row token count
    (e.g. ``bpe_n_tokens`` from
    :func:`prql_spark.operators.bpe.bpe_token_stats` — packing
    against the real tokenizer's counts instead of the whitespace
    proxy) rather than computing the whitespace count here.
    """
    toks = (
        f"CAST({n_tokens_col} AS BIGINT)"
        if n_tokens_col is not None
        else (
            f"CASE WHEN trim({text_col}) = '' THEN 0 "
            f"ELSE size(split(trim({text_col}), '\\\\s+')) END"
        )
    )
    shard = (
        f"CAST(conv(substr(md5(CAST({id_col} AS STRING)), 1, 4), 16, 10) "
        f"AS INT) % {n_shards}"
    )
    part_cols = ", ".join([*(partition_by or []), "shard"])
    return (
        df.withColumn("n_tokens", F.expr(toks))
        .withColumn("shard", F.expr(shard))
        .withColumn(
            "__cum",
            F.expr(
                f"sum(n_tokens) OVER (PARTITION BY {part_cols} "
                f"ORDER BY {id_col} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ),
        )
        .withColumn(
            "chunk_id",
            F.expr(f"CAST(floor((__cum - n_tokens) / {target_tokens}) AS BIGINT)"),
        )
        .drop("__cum")
    )


@_large_expressions
def repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_line_frac: float = 0.30,
    max_top_2gram_char_frac: float = 0.20,
    max_dup_5gram_char_frac: float = 0.15,
) -> DataFrame:
    """Gopher repetition-removal rules (Rae et al. 2021, table A1) —
    the WITHIN-document repetition complement to the cross-document
    dedup family:

    - ``dup_line_frac``: fraction of lines that repeat an earlier
      line ((n_lines - n_distinct) / n_lines);
    - ``top_2gram_char_frac``: characters covered by the most common
      word 2-gram (count x gram length / doc chars);
    - ``dup_5gram_char_frac``: characters covered by word 5-grams
      occurring more than once.

    Each fraction gets a boolean flag (true = passes, consistent with
    gopher_quality_flags) + ``passes_repetition`` AND. All pure
    higher-order array expressions over one projection — a narrow
    map, no shuffle, linear at 100 TB.

    SUBSTITUTION-SAFE by construction (round 4): every lambda body
    references only its own lambda variables — arrays enter
    higher-order functions as whole-array ARGUMENTS, never as column
    references inside a lambda body. This matters because Catalyst's
    predicate pushdown substitutes column aliases into a downstream
    ``filter passes_repetition`` unconditionally; the previous
    formulation (per-distinct-gram occurrence counting, ``filter(g5,
    x -> x = g)`` inside a transform) was linear as staged columns
    but became O(grams² × words) per doc once substituted — a single
    flag filter took the sf0.01 composed pipeline from 0.2 s to
    75 s. The sorted-run folds below cost the same answer in
    O(grams log grams) per row under ANY substitution.
    """
    staged = df.withColumns(
        {
            "__rep_lines": F.expr(
                f"filter(transform(split({text_col}, '\\\\n'), "
                f"x -> trim(x)), x -> x != '')"
            ),
            "__rep_ws": F.expr(_words(text_col)),
        }
    )

    def _grams(n: int) -> str:
        # n-grams via shifted-array zip_with chains: each shift is a
        # top-level slice of the words column (evaluated once per ROW
        # even after substitution), and zip_with consumes whole
        # arrays — no per-element re-evaluation anywhere.
        m = f"greatest(size(__rep_ws) - {n - 1}, 0)"
        g = f"slice(__rep_ws, 1, {m})"
        for j in range(1, n):
            g = (
                f"zip_with({g}, slice(__rep_ws, {j + 1}, {m}), "
                f"(a, b) -> concat(a, ' ', b))"
            )
        return g

    # per-position (same-as-next, char length) over the SORTED gram
    # list: runs of equal grams are adjacent, so occurrence counts
    # fall out of one linear fold. The trailing element zips against
    # NULL; null-safe equality makes it run-final.
    def _runs(grams: str) -> str:
        s = f"array_sort({grams})"
        return (
            f"zip_with({s}, slice({s}, 2, greatest(size({s}) - 1, 0)), "
            f"(a, b) -> named_struct('same', a <=> b, "
            f"'len', CAST(length(a) AS BIGINT)))"
        )

    # fold: max run_count × gram_length (chars covered by the most
    # common gram, counting every occurrence)
    top2_chars = (
        f"aggregate({_runs(_grams(2))}, "
        f"named_struct('cur', 0L, 'best', 0L), "
        f"(acc, s) -> IF(s.same, "
        f"named_struct('cur', acc.cur + 1L, 'best', acc.best), "
        f"named_struct('cur', 0L, "
        f"'best', greatest(acc.best, (acc.cur + 1L) * s.len)))"
        f").best"
    )
    # fold: total run_count × gram_length over runs longer than 1
    dup5_chars = (
        f"aggregate({_runs(_grams(5))}, "
        f"named_struct('cur', 0L, 'tot', 0L), "
        f"(acc, s) -> IF(s.same, "
        f"named_struct('cur', acc.cur + 1L, 'tot', acc.tot), "
        f"named_struct('cur', 0L, 'tot', acc.tot + "
        f"IF(acc.cur > 0L, (acc.cur + 1L) * s.len, 0L)))"
        f").tot"
    )
    n_chars = f"greatest(length({text_col}), 1)"
    dup_line = (
        "CASE WHEN size(__rep_lines) = 0 THEN 0.0 ELSE "
        "(size(__rep_lines) - size(array_distinct(__rep_lines))) "
        "/ CAST(size(__rep_lines) AS DOUBLE) END"
    )
    top2 = (
        f"CASE WHEN size(__rep_ws) < 2 THEN 0.0 ELSE "
        f"{top2_chars} / CAST({n_chars} AS DOUBLE) END"
    )
    dup5 = (
        f"CASE WHEN size(__rep_ws) < 5 THEN 0.0 ELSE "
        f"{dup5_chars} / CAST({n_chars} AS DOUBLE) END"
    )
    out = staged.withColumns(
        {
            "dup_line_frac": F.expr(f"round({dup_line}, 6)"),
            "top_2gram_char_frac": F.expr(f"round({top2}, 6)"),
            "dup_5gram_char_frac": F.expr(f"round({dup5}, 6)"),
        }
    ).withColumns(
        {
            "flag_dup_lines": F.expr(
                f"dup_line_frac <= {max_dup_line_frac}"
            ),
            "flag_top_2gram": F.expr(
                f"top_2gram_char_frac <= {max_top_2gram_char_frac}"
            ),
            "flag_dup_5gram": F.expr(
                f"dup_5gram_char_frac <= {max_dup_5gram_char_frac}"
            ),
        }
    )
    return out.withColumn(
        "passes_repetition",
        F.expr("flag_dup_lines AND flag_top_2gram AND flag_dup_5gram"),
    ).drop("__rep_lines", "__rep_ws")


def quantile_buckets(
    df: DataFrame,
    score_col: str = "quality",
    probs: tuple[float, ...] = (1 / 3, 2 / 3),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    bucket_col: str = "bucket",
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """CCNet-style corpus bucketing: label every document by which
    corpus-quantile band its score falls in (head / middle / tail by
    perplexity tertile in CCNet — Wenzek et al. 2020; any score and
    any cut list work).

    Shape: ONE full-table aggregate computes the cut points, rides
    back as a broadcast 1-row frame (the bm25 corpus-stats pattern),
    and the labeling is a narrow map — no shuffle of the corpus, no
    second scan beyond the stats pass.

    ``exact=False`` (default, the 100 TB path) uses
    ``approx_percentile`` — a mergeable sketch, no per-group value
    buffering. ``exact=True`` uses ``percentile`` (exact
    interpolation, buffers values on the agg side) — for modest
    corpora and for the cross-engine value oracle, where DuckDB's
    ``quantile_cont`` reproduces the linear-interpolation cuts bit
    for bit. Cuts are rounded to 6 decimals in both engines before
    comparison so a last-ulp difference cannot flip a boundary doc.
    """
    if len(labels) != len(probs) + 1:
        raise ValueError(
            f"quantile_buckets: {len(probs)} cut(s) need "
            f"{len(probs) + 1} labels, got {len(labels)}"
        )
    parr = ", ".join(repr(float(p)) for p in probs)
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    cuts = df.agg(
        F.expr(
            f"transform({fn}({score_col}, array({parr}){acc}), "
            "c -> round(c, 6))"
        ).alias("__cuts")
    )
    case = "CASE "
    for i in range(len(probs)):
        case += f"WHEN {score_col} <= __cuts[{i}] THEN '{labels[i]}' "
    case += f"ELSE '{labels[-1]}' END"
    return (
        df.join(F.broadcast(cuts))
        .withColumn(bucket_col, F.expr(case))
        .drop("__cuts")
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the standard keyword /
    topic-signal extraction over a corpus (feeds clustering, domain
    tagging, and near-dup triage).

    tf = in-doc term count; idf = ln((N + 1) / (df_t + 1)) + 1 (the
    smoothed sklearn formulation — never negative, never divides by
    zero). Terms below ``min_df`` docs are dropped.

    Shape: explode → two map-side-combined count aggregates (term
    counts per doc; document frequency per term), doc count as a
    1-row aggregate ridden back in via a broadcast cross join (the
    bm25 corpus-stats pattern — NO eager ``df.count()``: building
    this operator triggers zero jobs, and the corpus contributes one
    scan per aggregate, not an extra count-only scan), a term-keyed
    join (doc-frequency side is term-vocabulary-sized, broadcast
    when it fits), and a per-doc top-k window that compiles to the
    two-stage WindowGroupLimit — partial top-k before the exchange,
    so the reducer sees k × n_partitions rows per doc, never every
    term.
    """
    words = _words(text_col)
    terms = (
        df.select(F.col(id_col), F.explode(F.expr(words)).alias("term"))
        .where(F.expr("term != ''"))
    )
    tf = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = doc_frequency(df, text_col, id_col, min_df)
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        # explicit crossJoin: the 1-row broadcast ride-in must not
        # depend on spark.sql.crossJoin.enabled (an implicit
        # condition-less join() fails analysis where that's off)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.expr("round(tf * (ln((__n + 1) / (df + 1)) + 1), 6)"),
        )
    )
    return (
        scored.withColumn(
            "rk",
            F.expr(
                f"row_number() OVER (PARTITION BY {id_col} "
                "ORDER BY tfidf DESC, term)"
            ),
        )
        .where(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rk")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split LONG documents into overlapping fixed-token-budget
    chunks — the standard pretraining/RAG chunker, and the complement
    to :func:`pack_sequences` (which PACKS short docs into budgets;
    this SPLITS docs that exceed one).

    One row per (doc, chunk): ``chunk_id``, ``chunk_tokens``,
    ``chunk_text``; chunk i covers words
    [i·stride, i·stride + max_tokens) with stride =
    max_tokens − overlap, so consecutive chunks share ``overlap``
    words of context. A doc at or under budget yields exactly one
    chunk (itself).

    Shape: one narrow Generate (explode of the chunk-index sequence)
    — no shuffle; the per-chunk slice is O(max_tokens) off the staged
    words column, linear in document length overall. Substitution
    note: the slice sits on an EXPLODED row referencing the words
    column at top level — no lambda-body array reference anywhere
    (the §6(c′) rule).
    """
    if overlap >= max_tokens:
        raise ValueError("chunk_documents: overlap must be < max_tokens")
    stride = max_tokens - overlap
    n = "size(__cw)"
    n_chunks = (
        f"CAST(ceil(CAST(greatest({n} - {overlap}, 1) AS DOUBLE) "
        f"/ {stride}) AS INT)"
    )
    # case-PRESERVING split (unlike the scoring/dedup tokenizers):
    # chunk_text IS the document text downstream trains on — folding
    # case here would silently lowercase the corpus
    base = df.withColumn(
        "__cw", F.expr(f"split(trim({text_col}), '\\\\s+')")
    )
    return (
        base.select(
            "*",
            F.explode(
                F.expr(f"sequence(0, {n_chunks} - 1)")
            ).alias("chunk_id"),
        )
        .withColumn(
            "chunk_text",
            F.expr(
                f"concat_ws(' ', slice(__cw, chunk_id * {stride} + 1, "
                f"{max_tokens}))"
            ),
        )
        .withColumn(
            "chunk_tokens",
            F.expr(
                f"least({max_tokens}, size(__cw) - chunk_id * {stride})"
            ),
        )
        .drop("__cw")
    )


# Unicode script ranges for crawl-scale language triage (the
# stopword-signature lang_id covers Latin-script languages; script
# detection is the level above it — routing CJK/Cyrillic/Arabic/
# Devanagari text before any word-based model applies).
SCRIPT_RANGES = {
    "latin": "a-zA-Z\\u00c0-\\u024f",
    "cyrillic": "\\u0400-\\u04ff",
    "cjk": "\\u3040-\\u30ff\\u3400-\\u9fff\\uac00-\\ud7af",
    "arabic": "\\u0600-\\u06ff",
    "devanagari": "\\u0900-\\u097f",
}


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode-script profile: the fraction of LETTER
    characters in each major script plus the dominant script — the
    routing signal a multilingual crawl pipeline applies before any
    word-level model (tokenizer choice, per-script quality rules,
    which lang-id to trust).

    One narrow projection of regexp counts — no shuffle, no Python;
    ties break to the lexicographically larger script name (struct
    max), mirrored in the oracle.
    """
    counts = {
        k: f"length(regexp_replace({text_col}, '[^{r}]', ''))"
        for k, r in SCRIPT_RANGES.items()
    }
    total = " + ".join(f"__sc_{k}" for k in SCRIPT_RANGES)
    out = df.withColumns(
        {f"__sc_{k}": F.expr(c) for k, c in counts.items()}
    ).withColumn("__sc_tot", F.expr(f"greatest({total}, 1)"))
    out = out.withColumns(
        {
            f"{k}_frac": F.expr(f"round(__sc_{k} / CAST(__sc_tot AS DOUBLE), 6)")
            for k in SCRIPT_RANGES
        }
    )
    arr = ", ".join(
        f"named_struct('c', __sc_{k}, 's', '{k}')" for k in SCRIPT_RANGES
    )
    out = out.withColumn(
        "dominant_script",
        F.expr(
            f"IF({' + '.join(f'__sc_{k}' for k in SCRIPT_RANGES)} = 0, "
            f"'none', array_max(array({arr})).s)"
        ),
    )
    return out.drop(*[f"__sc_{k}" for k in SCRIPT_RANGES], "__sc_tot")


# Order matters twice in html_to_text: script/style/comment BLOCKS
# must go before the generic tag strip (their text content is not
# document text), and &amp; must decode LAST ("&amp;lt;" is the
# AUTHOR writing "&lt;", not a less-than sign). Patterns avoid
# backreferences so the identical regex runs on Java regex (Spark)
# and RE2 (the DuckDB oracle).
_HTML_BLOCK_PATTERNS = (
    "(?is)<script[^>]*>.*?</script>",
    "(?is)<style[^>]*>.*?</style>",
    "(?s)<!--.*?-->",
)
_HTML_TAG_PATTERN = "<[^>]+>"
# the five entities virtually all web text uses, plus nbsp; amp last
_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "\\'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


# closing block-level tags become newlines (not spaces) so document
# structure survives extraction for downstream span dedup: paragraph
# containers → a BLANK line (the '\n{2,}' boundary dedup_paragraphs
# splits on), list items / table rows / <br> → a single newline (the
# dedup_lines granularity)
_HTML_PARA_PATTERN = (
    "(?i)</(p|div|h1|h2|h3|h4|h5|h6|blockquote|section|article"
    "|ul|ol|table|pre)>"
)
# <br> bounded without backslashes (RE2 parity): bare, or followed
# by space-or-slash then attributes — so a <broadcast-banner>-style
# custom element is NOT a line break
_HTML_LINE_PATTERN = "(?i)</(li|tr)>|<br>|<br[ /][^>]*>"


def html_to_text_expr(col: str, dialect: str = "spark") -> str:
    """The extraction as ONE nested SQL expression — the SAME builder
    emits the Spark form (JVM-side, codegen-eligible) and the DuckDB
    oracle form (explicit 'g' flag, e''-escaped newlines), so the two
    can never drift."""
    spark = dialect == "spark"
    g = "" if spark else ", 'g'"
    nl = "'\\n'" if spark else "e'\\n'"
    nl2 = "'\\n\\n'" if spark else "e'\\n\\n'"
    # Spark SQL literals eat one level of backslashes; DuckDB's don't
    ws = "'[ \\\\t\\\\r]+'" if spark else "'[ \\t\\r]+'"
    hug = "' ?\\\\n ?'" if spark else "' ?\\n ?'"
    many = "'\\\\n{3,}'" if spark else "'\\n{3,}'"
    edge = (
        "'^[ \\\\n]+|[ \\\\n]+$'" if spark else "'^[ \\n]+|[ \\n]+$'"
    )
    e = col
    for pat in _HTML_BLOCK_PATTERNS:
        e = f"regexp_replace({e}, '{pat}', ' '{g})"
    e = f"regexp_replace({e}, '{_HTML_PARA_PATTERN}', {nl2}{g})"
    e = f"regexp_replace({e}, '{_HTML_LINE_PATTERN}', {nl}{g})"
    e = f"regexp_replace({e}, '{_HTML_TAG_PATTERN}', ' '{g})"
    for ent, rep in _HTML_ENTITIES:
        rep_sql = "''''" if (rep == "\\'" and not spark) else f"'{rep}'"
        e = f"replace({e}, '{ent}', {rep_sql})"
    e = f"regexp_replace({e}, {ws}, ' '{g})"      # runs → one space
    e = f"regexp_replace({e}, {hug}, {nl}{g})"    # spaces hugging \n
    e = f"regexp_replace({e}, {many}, {nl2}{g})"  # ≥3 \n → blank line
    return f"regexp_replace({e}, {edge}, ''{g})"  # trim incl. \n


def html_to_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_extracted",
) -> DataFrame:
    """Extract readable text from raw HTML — the step every crawl
    pipeline needs between WARC ingestion and quality scoring
    (Gopher/repetition rules over raw markup mis-score badly: tags
    inflate symbol ratios, scripts inflate repetition).

    Drops <script>/<style> blocks and comments WITH their contents,
    turns closing block-level tags and <br> into NEWLINES (paragraph
    structure survives for span dedup), strips remaining tags,
    decodes the common entities (&amp; last, so author-escaped
    entities stay escaped), and normalizes whitespace per line. A
    narrow JVM-side projection — no shuffle, no UDF; at 100 TB this
    is a free rider on the ingestion scan.

    Deliberately regexp-based, not a DOM parse: malformed real-world
    HTML kills strict parsers, and boilerplate REMOVAL (nav/footer
    pruning à la trafilatura) is a separate concern layered on after
    extraction (see strip_boilerplate / gopher_quality_flags).
    """
    return df.withColumn(out_col, F.expr(html_to_text_expr(text_col)))


# scheme://host extraction without backslashes: identical pattern
# text runs on Java regex (Spark) and RE2 (the DuckDB oracle)
URL_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#@]*@)?([^/:?#]+)"
URL_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?"


@_large_expressions
def url_features(
    df: DataFrame,
    url_col: str = "url",
    block_domains: tuple[str, ...] = (),
    public_suffixes: tuple[str, ...] = (),
) -> DataFrame:
    """Crawl URL triage — the filter-by-URL step every web pipeline
    runs before touching page content (C4 dropped blocklisted
    domains; RefinedWeb's URL filter scores host/path): extract
    ``url_host``, ``url_domain``, ``url_tld``, ``url_path_depth``,
    and ``url_blocked`` (host equals or is a subdomain of any
    ``block_domains`` entry — entries are escaped plan constants
    compared with equality/``endswith``, never LIKE patterns, so a
    quote or ``_``/``%`` in a configured domain cannot break or
    over-match the expression).

    ``url_domain`` defaults to the last-two-labels heuristic;
    passing ``public_suffixes`` (e.g. ``("co.uk", "com.au")``) makes
    multi-label suffixes resolve to the registrable domain
    (``shop.example.co.uk`` → ``example.co.uk``): the LONGEST
    matching suffix wins, unmatched hosts keep the heuristic. The
    suffixes become plan constants (a narrow JVM map) — right for
    the dozens of suffixes a pipeline actually configures; loading
    the full ~9k-entry public-suffix list would instead warrant a
    broadcast join keyed on the host's candidate suffixes.
    """
    host = f"lower(regexp_extract({url_col}, '{URL_HOST_RE}', 2))"
    path = f"regexp_extract({url_col}, '{URL_PATH_RE}', 1)"
    if block_domains:
        blocked = " OR ".join(
            f"(url_host = {_esc(d)} "
            f"OR endswith(url_host, {_esc('.' + d)}))"
            for d in block_domains
        )
    else:
        blocked = "FALSE"
    # labels to keep past the default 2: longest matching public
    # suffix contributes (its label count + 1); 0 = heuristic
    if public_suffixes:
        keep = "greatest(%s, 0)" % ", ".join(
            f"IF(endswith(url_host, {_esc('.' + s)}), "
            f"{s.count('.') + 2}, 0)"
            for s in public_suffixes
        )
        domain = (
            f"CASE WHEN {keep} > 0 AND size(__hl) >= {keep} "
            f"THEN concat_ws('.', slice(__hl, "
            f"size(__hl) - {keep} + 1, {keep})) "
            "WHEN size(__hl) >= 2 "
            "THEN concat_ws('.', slice(__hl, size(__hl) - 1, 2)) "
            "ELSE url_host END"
        )
    else:
        domain = (
            "IF(size(__hl) >= 2, "
            "concat_ws('.', slice(__hl, size(__hl) - 1, 2)), "
            "url_host)"
        )
    return (
        df.withColumn("url_host", F.expr(host))
        .withColumn("__hl", F.expr("split(url_host, '[.]')"))
        .withColumn("url_domain", F.expr(domain))
        .withColumn("url_tld", F.expr("element_at(__hl, -1)"))
        .withColumn(
            "url_path_depth",
            F.expr(
                f"size(filter(split({path}, '/'), s -> s != ''))"
            ),
        )
        .withColumn("url_blocked", F.expr(blocked))
        .drop("__hl")
    )
