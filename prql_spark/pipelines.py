"""End-to-end training-corpus preparation: the composed pipeline the
individual operators exist for.

    raw text/parquet
      → strip boilerplate → exact dedup
      → quality + Gopher + repetition + LM filters
      → minhash near-dup clusters → keep one per cluster
      → deterministic train/val/test split → sequence packing
      → JSONL (or parquet) shards

    (exact dedup runs BEFORE scoring: exact duplicates share
    text_clean, so every filter decides identically per class — the
    surviving set is unchanged while the regex-heavy scoring skips
    the duplicate mass)

Every stage is one of the repo's oracled operators; the composition
stays fully lazy until the final write, so Catalyst sees ONE plan per
action: the narrow cleaning/scoring maps fuse over a single corpus
scan, the only corpus-wide exchanges are the dedup hash, the minhash
band-bucket group-by, the CC label rounds, and the packing window —
the same shuffle budget the operators pay individually.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from prql_spark.operators import dedup, graph, splits, text
from prql_spark.plans.physical import materialize


@dataclass
class CorpusStats:
    """Row counts per stage, filled when ``collect_stats=True`` (each
    count is an extra job over the cached stage — off by default)."""

    input_rows: int | None = None
    after_quality: int | None = None  # post exact-dedup + filters
    after_dedup: int | None = None    # post cluster (near-dup) dedup
    extras: dict = field(default_factory=dict)


def prepare_training_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.4,
    langs: tuple[str, ...] = ("en",),
    lm_vocab_top_v: int = 256,
    min_lm_logprob: float | None = None,
    minhash_threshold: float = 0.5,
    star_cap: int = 64,
    split_fracs: tuple[float, float] = (0.9, 0.05),
    pack_target_tokens: int = 2048,
    chunk_long_docs: bool = True,
    chunk_overlap: int = 0,
    html_input: bool = False,
    normalize: bool = False,
    bpe_merges: list[tuple[str, str]] | None = None,
    span_dedup: str | None = None,
    span_dedup_min_chars: int = 30,
    remove_dup_windows: int | None = None,
    remove_dup_sentence_spans: int | None = None,
    dup_window_min_count: int = 2,
    collect_stats: bool = False,
) -> tuple[DataFrame, CorpusStats]:
    """Run the full cleaning → filtering → dedup → split → pack chain.

    Returns (result, stats): one row per surviving document with the
    cleaned text, quality/LM scores, ``split`` assignment and packing
    ``(shard, chunk_id)``. ``min_lm_logprob=None`` keeps the unigram
    LM score as a column without filtering on it (the CCNet-style
    cut-off is corpus-specific — callers pick it from the score
    distribution).

    Scale notes: the unigram vocabulary is collected ONCE up front
    (two tiny driver results); minhash cluster dedup is
    transitively-correct keep-one-per-cluster via star-capped pairs +
    connected components — the O(n) posture on duplicate-heavy
    corpora.

    ``html_input=True`` inserts the crawl-extraction stage up front
    (:func:`~prql_spark.operators.text.html_to_text`): raw HTML from
    ``warc_to_documents`` is reduced to readable text BEFORE
    boilerplate stripping — quality/Gopher/repetition rules over raw
    markup mis-score badly (tags inflate symbol ratios, scripts
    inflate repetition).

    ``span_dedup="paragraph"`` / ``"line"`` inserts corpus-wide
    repeated-span removal (RefinedWeb's line dedup, C4's span rules)
    right after boilerplate stripping: boilerplate paragraphs /
    cookie-banner lines are cut everywhere but their first
    occurrence BEFORE any scoring, so repeated chrome neither
    inflates repetition penalties nor survives into training text.
    Spans shorter than ``span_dedup_min_chars`` are exempt (section
    headers must not vanish corpus-wide). The stage re-keys the
    working frame to (id, text_clean, n_spans_kept) — the original
    raw-text columns end at this point, and a doc losing every span
    drops like any other duplicate. Composes with ``html_input``:
    the extractor emits newlines at block boundaries, so paragraph
    structure survives extraction and span dedup sees real spans.

    ``remove_dup_windows=N`` inserts corpus-wide duplicated-WINDOW
    removal (the Lee et al. 2022 ExactSubstr cut,
    :func:`~prql_spark.operators.dedup.remove_duplicated_windows`)
    after span dedup: any N-word window whose text occurs at least
    ``dup_window_min_count`` times corpus-wide is cut from every
    document. Runs AFTER span dedup because its word-joined output
    collapses the newline structure span dedup needs; a document
    losing every word drops like any other duplicate.
    ``remove_dup_sentence_spans=N`` is the sentence-granular variant
    (C4's rule at N=3,
    :func:`~prql_spark.operators.dedup.remove_duplicated_sentences`),
    inserted BEFORE the word-window cut when both are set (coarse
    spans first, fine windows over what survives).

    ``chunk_long_docs=True`` (default) splits any document whose
    cleaned text exceeds ``pack_target_tokens`` into budget-sized
    chunks AFTER the split assignment and BEFORE packing — otherwise
    one over-budget doc produces an oversized training chunk that
    downstream fixed-length batching must truncate (losing text) or
    reject. Chunking happens after split/dedup so chunk boundaries
    never affect dedup decisions and sibling chunks stay in one
    split. ``chunk_overlap`` words repeat across sibling chunks
    (0: a partition, no token duplicated).

    ``bpe_merges``: when given, packing budgets by TRUE BPE token
    counts (:func:`prql_spark.operators.bpe.bpe_token_stats` over
    the final cleaned text) instead of the whitespace proxy — the
    merges table rides the UDF closure, so the only added cost is
    one narrow Arrow-batched pass.

    ``normalize=True`` inserts crawl-text normalization
    (:func:`~prql_spark.operators.textnorm.normalize_text`: mojibake
    repair, typography folding, zero-width/control strip, whitespace
    tidy) as the FIRST text stage — before any hashing or scoring,
    so `â€™` and the real apostrophe dedup together and control
    debris never reaches the tokenizers. A free narrow map fused
    into the scan stage.
    """
    stats = CorpusStats()
    if html_input:
        docs = text.html_to_text(docs, text_col, out_col="__html_text")
        text_col = "__html_text"
    if normalize:
        from prql_spark.operators import textnorm

        docs = textnorm.normalize_text(docs, text_col).drop(
            "text_was_dirty"
        )
    if collect_stats:
        stats.input_rows = docs.count()

    # -- clean, then EXACT-dedup before scoring: exact duplicates
    # share text_clean byte-for-byte, so every score/flag/filter
    # decides identically for the whole class — scoring after the
    # dedup is semantically equivalent (same surviving set) and skips
    # the regex-heavy scoring for the duplicate mass entirely (78% of
    # the 500k adversarial corpus). The unigram vocabulary still
    # counts the PRE-dedup corpus (LM statistics weight text by its
    # observed frequency, the CCNet convention).
    working, wcol = docs, text_col
    if span_dedup is not None:
        if span_dedup not in ("paragraph", "line"):
            raise ValueError(
                "span_dedup must be 'paragraph', 'line', or None, "
                f"got {span_dedup!r}"
            )
        # NOTE: strip_boilerplate collapses newlines into spaces, so
        # span-dedup the RAW text and strip afterwards (the span
        # structure lives in the raw newlines)
        fn = (
            dedup.dedup_paragraphs
            if span_dedup == "paragraph"
            else dedup.dedup_lines
        )
        working = fn(
            working, text_col=wcol, id_col=id_col,
            min_chars=span_dedup_min_chars,
        )
        wcol = "text_deduped"
    if remove_dup_sentence_spans is not None:
        working = dedup.remove_duplicated_sentences(
            working, text_col=wcol, id_col=id_col,
            n=remove_dup_sentence_spans,
            min_count=dup_window_min_count,
        )
        wcol = "text_cleaned"
    if remove_dup_windows is not None:
        working = dedup.remove_duplicated_windows(
            working, text_col=wcol, id_col=id_col,
            n=remove_dup_windows, min_count=dup_window_min_count,
        )
        wcol = "text_cleaned"
    cleaned = splits.strip_boilerplate(working, wcol)
    exact = dedup.dedup_exact(cleaned, "text_clean", id_col)
    scored = text.quality_score(exact, "text_clean")
    scored = text.lang_id(scored, "text_clean")
    scored = text.gopher_quality_flags(scored, "text_clean")
    scored = text.repetition_flags(scored, "text_clean", id_col)

    vocab, total = text.unigram_vocab(cleaned, "text_clean", lm_vocab_top_v)
    scored = text.unigram_logprob(scored, vocab, total, "text_clean")

    lang_set = ", ".join(f"'{v}'" for v in langs)
    keep = (
        f"quality >= {min_quality} AND lang_guess IN ({lang_set}) "
        f"AND passes_gopher AND passes_repetition"
    )
    if min_lm_logprob is not None:
        keep += f" AND lm_logprob >= {min_lm_logprob}"
    # Materialize BEFORE the keep-filter, filter on the stored columns
    # (round 11): `scored` is consumed by the filter predicate AND by
    # the projection that outputs the score columns, and `filtered` is
    # then consumed TWICE more (the signature branch and the anti-join
    # left side). Filtering first pushed the giant scoring expressions
    # into the Filter node below the projection, so every surviving
    # row paid the regex/fold chain TWICE (whole-stage codegen does
    # not share subexpressions across operators); over stored blocks
    # the keep predicate is a plain column filter and the scoring
    # chain runs exactly ONCE. Measured at sf0.1 (steady, GC'd): the
    # materialize+CC phase 15.9 → ~8 s with identical output.
    # Trade-off: the stored blocks hold the PRE-filter corpus.
    scored = materialize(scored)
    filtered = scored.where(F.expr(keep))
    if collect_stats:
        stats.after_quality = filtered.count()

    # -- near-dup removal at cluster granularity
    sigs = dedup.minhash_signatures(filtered, "text_clean", id_col)
    pairs = dedup.minhash_lsh_pairs(
        sigs, id_col, threshold=minhash_threshold, star_cap=star_cap
    )
    deduped = graph.dedup_by_clusters(filtered, pairs, id_col)
    if collect_stats:
        # the count below fills it; the rest of the chain reads it
        deduped = materialize(deduped)
        stats.after_dedup = deduped.count()

    # -- deterministic split + packing. Packing is PARTITIONED BY
    # (split, shard): chunk membership must never cross a split
    # boundary, or downstream concat-by-(shard, chunk) would mix
    # val/test text into training sequences (leakage).
    train, val = split_fracs
    out = splits.split_by_hash(deduped, id_col, train=train, val=val)
    pack_id = id_col
    if chunk_long_docs:
        # split over-budget docs BEFORE packing (chunking after the
        # split/dedup keeps sibling chunks in one split and chunk
        # boundaries out of dedup decisions). text_clean is already
        # whitespace-collapsed, so the case-preserving word split is
        # LOSSLESS: an under-budget doc's single chunk is
        # byte-identical to its text_clean. The chunker's own index
        # survives as doc_chunk and inside the packing id.
        chunked = text.chunk_documents(
            out, text_col="text_clean", id_col=id_col,
            max_tokens=pack_target_tokens, overlap=chunk_overlap,
        )
        out = (
            chunked.withColumn(
                "__pack_id",
                F.expr(
                    f"concat(CAST({id_col} AS STRING), '#', chunk_id)"
                ),
            )
            .withColumn("text_clean", F.col("chunk_text"))
            .withColumnRenamed("chunk_id", "doc_chunk")
            .drop("chunk_text", "chunk_tokens")
        )
        pack_id = "__pack_id"
    # pack_sequences carries every input column through its window —
    # its output IS the result (re-joining it against `out` would
    # recompute the whole upstream chain a second time on the build
    # side of the join)
    n_tokens_col = None
    if bpe_merges is not None:
        # budget packing by the REAL tokenizer: one Arrow-batched
        # merge-loop pass over the final cleaned text (the counts
        # column is 8 bytes/row; the packing window is unchanged)
        from prql_spark.operators import bpe as bpe_mod

        out = bpe_mod.bpe_token_stats(
            out, merges=bpe_merges, text_col="text_clean"
        )
        n_tokens_col = "bpe_n_tokens"
    result = text.pack_sequences(
        out, target_tokens=pack_target_tokens, text_col="text_clean",
        id_col=pack_id, partition_by=["split"],
        n_tokens_col=n_tokens_col,
    )
    return result.drop("__pack_id"), stats


def write_corpus_jsonl(result: DataFrame, path: str) -> None:
    """Write the prepared corpus as split-partitioned JSONL shards —
    the training-interchange layout (one directory per split, one
    line per document)."""
    from prql_spark.sources.io import write_jsonl

    write_jsonl(result, path, partition_by=["split"])
