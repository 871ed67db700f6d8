"""End-to-end corpus-preparation pipeline (prql_spark/pipelines.py):
the composed chain every operator exists for.

One action drives the whole chain (clean → 4 quality filters → LM
score → exact dedup → minhash clusters → split → pack) — per-stage
correctness is pinned by each operator's own tests/oracles; this
checks the COMPOSITION contract: planted duplicates removed, schema
complete, split/pack columns attached, JSONL export readable.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from prql_spark.pipelines import prepare_training_corpus, write_corpus_jsonl


def test_prepare_training_corpus_end_to_end(spark, catalog, tmp_path):
    docs = catalog.load("documents").where("doc_id < 200")
    # plant exact duplicates that must lose to their originals
    dup = docs.where("doc_id < 5").withColumn(
        "doc_id", F.expr("doc_id + 900000")
    )
    corpus = docs.unionByName(dup)
    result, _stats = prepare_training_corpus(
        corpus,
        min_quality=0.3,
        langs=("en", "de", "fr", "es"),
        minhash_threshold=0.5,
    )
    rows = result.collect()
    assert 0 < len(rows) <= 200
    ids = {r.doc_id for r in rows}
    # every planted re-keyed duplicate lost to its lower-id original
    assert not any(i >= 900000 for i in ids)
    # schema contract: scores, split, packing all present
    cols = set(result.columns)
    assert {"text_clean", "quality", "lang_guess", "lm_logprob",
            "split", "shard", "chunk_id", "n_tokens"} <= cols
    splits_seen = {r.split for r in rows}
    assert splits_seen <= {"train", "val", "test"} and "train" in splits_seen
    assert all(r.n_tokens > 0 for r in rows)
    # leakage guard: packing is partitioned by (split, shard), so each
    # split's packing restarts at chunk 0 per shard — chunk membership
    # is (split, shard, chunk_id) and never crosses a split boundary
    for s in splits_seen:
        for shard in {r.shard for r in rows if r.split == s}:
            cids = {r.chunk_id for r in rows
                    if r.split == s and r.shard == shard}
            assert min(cids) == 0

    # JSONL export: split-partitioned dirs, one JSON object per line
    out = str(tmp_path / "corpus")
    write_corpus_jsonl(result.select("doc_id", "text_clean", "split"), out)
    train_files = glob.glob(os.path.join(out, "split=train", "*.json"))
    assert train_files
    with open(train_files[0]) as f:
        first = json.loads(f.readline())
    assert "doc_id" in first and "text_clean" in first


def test_prepare_training_corpus_collect_stats(catalog):
    """collect_stats=True only adds counts: the result rows match the
    stats-free run, and each stage can only drop rows."""
    docs = catalog.load("documents").where("doc_id < 200")
    dup = docs.where("doc_id < 5").withColumn(
        "doc_id", F.expr("doc_id + 900000")
    )
    corpus = docs.unionByName(dup)
    kw = dict(min_quality=0.3, langs=("en", "de", "fr", "es"),
              minhash_threshold=0.5)
    plain, _ = prepare_training_corpus(corpus, **kw)
    counted, stats = prepare_training_corpus(
        corpus, collect_stats=True, **kw
    )
    assert sorted(counted.collect(), key=repr) == sorted(
        plain.collect(), key=repr
    )
    assert stats.input_rows == 205
    assert stats.input_rows >= stats.after_quality >= stats.after_dedup > 0


def test_prepare_training_corpus_chunks_long_docs(spark):
    """An over-budget document is split into budget-sized chunks
    before packing — no output row exceeds pack_target_tokens, the
    chunks cover the original text exactly (overlap 0), and all
    siblings stay in one split. chunk_long_docs=False preserves the
    legacy pass-through (one oversized row)."""
    from pyspark.sql import Row

    # 700 varied words, stopword-rich, no repeated n-grams — passes
    # the Gopher/repetition filters while far exceeding the budget
    long_text = " ".join(
        f"the brave{i} fox of hill{i} is near{i}" for i in range(100)
    )
    rows = [Row(doc_id=1, text=long_text),
            Row(doc_id=2, text="the and of to in is that it with for "
                               "was on are this have a short doc")]
    df = spark.createDataFrame(rows)
    result, _ = prepare_training_corpus(
        df, min_quality=0.0, langs=("en",), pack_target_tokens=64,
        minhash_threshold=0.99,
    )
    got = result.collect()
    assert all(r.n_tokens <= 64 for r in got)
    parts = sorted(
        (r for r in got if r.doc_id == 1), key=lambda r: r.doc_chunk
    )
    assert len(parts) > 1  # the long doc really split
    # overlap 0 → concatenating sibling chunks rebuilds the doc
    rebuilt = " ".join(r.text_clean for r in parts)
    assert rebuilt == long_text
    assert len({r.split for r in parts}) == 1  # siblings share a split

    legacy, _ = prepare_training_corpus(
        df, min_quality=0.0, langs=("en",), pack_target_tokens=64,
        minhash_threshold=0.99, chunk_long_docs=False,
    )
    lg = [r for r in legacy.collect() if r.doc_id == 1]
    assert len(lg) == 1 and lg[0].n_tokens == 700


def test_prepare_training_corpus_html_input(spark):
    """html_input=True extracts markup before cleaning: script
    contents never reach the corpus, entities are decoded."""
    from pyspark.sql import Row

    body = " ".join(
        f"the brave{i} fox of hill{i} is near{i}" for i in range(10)
    ) + " quality prose &amp; more"
    rows = [Row(doc_id=1, text=(
        "<html><head><script>var SPAMTOKEN = 1;</script></head>"
        f"<body><p>{body}</p></body></html>"))]
    result, _ = prepare_training_corpus(
        spark.createDataFrame(rows), min_quality=0.0, langs=("en",),
        html_input=True,
    )
    got = result.collect()
    assert len(got) == 1
    assert "SPAMTOKEN" not in got[0].text_clean
    assert "quality prose & more" in got[0].text_clean


def test_prepare_training_corpus_span_dedup(spark):
    """span_dedup='paragraph': a footer paragraph shared across docs
    survives only in the lowest-id doc's cleaned text; short headers
    are exempt via span_dedup_min_chars."""
    from pyspark.sql import Row

    prose = " ".join(
        f"the brave{i} fox of hill{i} is near{i}" for i in range(10)
    )
    prose2 = " ".join(
        f"a calm{i} owl in dale{i} was here{i}" for i in range(10)
    )
    footer = "subscribe to the newsletter for weekly updates and news"
    rows = [
        Row(doc_id=1, text=f"{prose}\n\n{footer}\n\nIntro"),
        Row(doc_id=2, text=f"{prose2}\n\n{footer}\n\nIntro"),
    ]
    result, _ = prepare_training_corpus(
        spark.createDataFrame(rows), min_quality=0.0, langs=("en",),
        span_dedup="paragraph",
    )
    got = {r.doc_id: r for r in result.collect()}
    assert footer in got[1].text_clean
    assert footer not in got[2].text_clean
    # "Intro" is under min_chars (30) — kept in BOTH docs
    assert "Intro" in got[1].text_clean and "Intro" in got[2].text_clean
    import pytest as _p

    with _p.raises(ValueError, match="span_dedup"):
        prepare_training_corpus(
            spark.createDataFrame(rows), span_dedup="sentence"
        )


def test_prepare_training_corpus_window_removal(spark):
    """remove_dup_windows=8: a 9-word run shared across two docs is
    cut from BOTH documents' training text (the Lee et al.
    ExactSubstr cut — no canonical copy), while each doc's unique
    prose survives; composes with span_dedup (paragraph stage first,
    window cut on its output)."""
    from pyspark.sql import Row

    prose = " ".join(
        f"the brave{i} fox of hill{i} is near{i}" for i in range(10)
    )
    prose2 = " ".join(
        f"a calm{i} owl in dale{i} was here{i}" for i in range(10)
    )
    tmpl = "this template sentence repeats across mirror sites word for word"
    footer = "subscribe to the newsletter for weekly updates and news"
    rows = [
        Row(doc_id=1, text=f"{prose} {tmpl}\n\n{footer}"),
        Row(doc_id=2, text=f"{prose2} {tmpl}\n\n{footer}"),
    ]
    result, _ = prepare_training_corpus(
        spark.createDataFrame(rows), min_quality=0.0, langs=("en",),
        span_dedup="paragraph", remove_dup_windows=8,
    )
    got = {r.doc_id: r for r in result.collect()}
    # the shared template run is cut from BOTH docs
    assert "template sentence" not in got[1].text_clean
    assert "template sentence" not in got[2].text_clean
    # unique prose survives; the footer paragraph deduped to doc 1
    # by the span stage (so the window stage never saw it repeated)
    assert "brave0" in got[1].text_clean
    assert "calm0" in got[2].text_clean
    assert footer in got[1].text_clean
    assert footer not in got[2].text_clean


def test_prepare_training_corpus_sentence_span_removal(spark):
    """remove_dup_sentence_spans=2: a 2-sentence block shared across
    docs (C4's rule at n=2) is cut from BOTH documents' training
    text; unique sentences survive."""
    from pyspark.sql import Row

    p1 = ". ".join(f"the brave{i} fox of hill{i} is near{i}"
                   for i in range(10)) + "."
    p2 = ". ".join(f"a calm{i} owl in dale{i} was here{i}"
                   for i in range(10)) + "."
    blk = "Share this with your friends. Subscribe to the newsletter now."
    rows = [
        Row(doc_id=1, text=f"{p1} {blk}"),
        Row(doc_id=2, text=f"{p2} {blk}"),
    ]
    result, _ = prepare_training_corpus(
        spark.createDataFrame(rows), min_quality=0.0, langs=("en",),
        remove_dup_sentence_spans=2,
    )
    got = {r.doc_id: r for r in result.collect()}
    assert "Subscribe to the newsletter" not in got[1].text_clean
    assert "Subscribe to the newsletter" not in got[2].text_clean
    assert "brave0" in got[1].text_clean
    assert "calm0" in got[2].text_clean


def test_prepare_training_corpus_html_plus_span_dedup(spark):
    """The composed crawl path: raw HTML in, block-aware extraction
    preserves paragraph boundaries, and the shared footer <p> dedups
    across documents."""
    from pyspark.sql import Row

    def page(prose):
        return (
            "<html><body><p>" + prose + "</p>"
            "<p>subscribe to the newsletter for weekly updates</p>"
            "</body></html>"
        )

    p1 = " ".join(f"the brave{i} fox of hill{i} is near{i}"
                  for i in range(10))
    p2 = " ".join(f"a calm{i} owl in dale{i} was here{i}"
                  for i in range(10))
    result, _ = prepare_training_corpus(
        spark.createDataFrame(
            [Row(doc_id=1, text=page(p1)), Row(doc_id=2, text=page(p2))]
        ),
        min_quality=0.0, langs=("en",),
        html_input=True, span_dedup="paragraph",
    )
    got = {r.doc_id: r for r in result.collect()}
    assert "subscribe to the newsletter" in got[1].text_clean
    assert "subscribe to the newsletter" not in got[2].text_clean
    assert p2 in got[2].text_clean


def test_prepare_training_corpus_normalize(spark):
    """normalize=True: two docs whose texts differ ONLY by mojibake/
    typography must exact-dedup into one survivor (the point of
    normalizing BEFORE hashing)."""
    from pyspark.sql import Row

    base = (
        "language models learn from large curated corpora of text "
        "that must be cleaned and deduplicated before training can "
        "begin so that quality remains high across every domain "
        "and careful evaluation keeps the resulting systems honest "
        "while researchers measure progress against shared public "
        "benchmarks that cover reasoning translation and summary "
        "tasks drawn from many different languages and registers "
        "collected over several years of open web publication"
    )
    rows = [
        Row(doc_id=1, text=base.replace("models", "modelâ€™s")),
        Row(doc_id=2, text=base.replace("models", "model's")),
        Row(doc_id=3, text=base.replace("large", "big")),
    ]
    docs = spark.createDataFrame(rows)
    result, _ = prepare_training_corpus(
        docs, min_quality=0.0, langs=("en",), normalize=True,
        minhash_threshold=0.99,
    )
    ids = {r.doc_id for r in result.collect()}
    # doc 2's normalized text equals doc 1's -> exact dedup keeps 1
    assert 2 not in ids and 1 in ids and 3 in ids
