"""Training-data operator correctness (SURVEY §2 #26-37).

The minhash/simhash signatures are value-oracled against DuckDB in
the driver contract (md5-derived hashes both engines compute); the
planted-near-duplicate tests here pin the BEHAVIOR (find the planted
pairs, don't flood with false positives) independent of any oracle.
Multimodal plumbing checks schema and batch-shape contracts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from prql_spark.operators import dedup, multimodal, similarity, text

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill and the birds sing in the "
    "garden under a bright morning sun with soft wind in the trees"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """20 distinct docs + 3 near-dup variants of doc 0 + 1 exact dup."""
    import random

    rows = []
    vocab = (BASE + " " + BASE.upper().lower()[::-1]).split() + [
        f"w{i}" for i in range(200)
    ]
    for i in range(20):
        rng = random.Random(1000 + i)
        w = [rng.choice(vocab) for _ in range(40)]
        rows.append(Row(doc_id=i, text=" ".join(w)))
    rows[0] = Row(doc_id=0, text=BASE)
    base_text = rows[0].text
    rows.append(Row(doc_id=100, text=base_text))  # exact dup
    rows.append(  # near dup: one word changed
        Row(doc_id=101, text=base_text.replace("lazy", "sleepy"))
    )
    rows.append(  # near dup: word dropped
        Row(doc_id=102, text=base_text.replace(" brown", ""))
    )
    return spark.createDataFrame(rows)


def test_dedup_exact_keeps_min_id(planted_docs):
    out = dedup.dedup_exact(planted_docs)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 0 in ids and 100 not in ids
    assert len(ids) == 22  # 23 docs - 1 exact dup


def test_minhash_finds_planted_near_dups(planted_docs):
    sigs = dedup.minhash_signatures(planted_docs, shingle_k=3)
    pairs = dedup.minhash_lsh_pairs(sigs, threshold=0.4).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 100) in found  # exact dup: jaccard 1.0
    assert (0, 101) in found or (0, 102) in found
    # rotations of each other shouldn't mass-collide at 0.4
    assert len(found) < 60


def test_minhash_est_jaccard_tracks_true_jaccard(planted_docs):
    """Minhash estimate within ±0.25 of true shingle Jaccard."""
    sigs = dedup.minhash_signatures(planted_docs, shingle_k=3)
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(sigs, threshold=0.3).collect()
    }
    rows = {
        r.doc_id: r.text
        for r in planted_docs.collect()
    }

    def true_jac(a, b):
        def sh(t):
            w = t.lower().split()
            return {
                " ".join(w[i : i + 3]) for i in range(max(len(w) - 3, 0) + 1)
            }

        sa, sb = sh(rows[a]), sh(rows[b])
        return len(sa & sb) / len(sa | sb)

    assert pairs[(0, 100)] == 1.0
    for (a, b), est in pairs.items():
        assert abs(est - true_jac(a, b)) < 0.25, (a, b, est, true_jac(a, b))


def test_dedup_minhash_lsh_drops_dups(planted_docs):
    out = dedup.dedup_minhash_lsh(planted_docs, threshold=0.5)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 0 in ids
    assert 100 not in ids  # exact dup dropped
    assert 101 not in ids  # near dup dropped


def test_simhash_hamming_small_for_near_dups(planted_docs):
    sigs = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(planted_docs).collect()
    }

    def ham(a, b):
        return bin(sigs[a] ^ sigs[b]).count("1")

    assert ham(0, 100) == 0  # identical text → identical simhash
    assert ham(0, 101) < 20  # one-word edit flips few bits
    assert ham(0, 102) < 20
    # distinct random docs sit near the expected 32-bit distance
    others = [ham(0, i) for i in range(5, 15)]
    assert min(others) >= 20
    # banded blocking surfaces the identical/near pairs
    pairs = dedup.simhash_near_pairs(
        dedup.simhash_signatures(planted_docs), max_hamming=10
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 100) in found and (0, 102) in found


def test_simhash_pigeonhole_recall_exact(planted_docs):
    """r6 ADVICE: with bands = max_hamming + 1 (pigeonhole), banded
    blocking must find EVERY pair within the advertised distance —
    the pre-round-7 fixed 4×16 banding silently dropped d=4..6 pairs
    whose differing bits spread across all four bands. Brute force
    is the oracle (star_cap lifted: capping is a separate, documented
    recall trade)."""
    import itertools

    sigs = dedup.simhash_signatures(planted_docs)
    rows = sorted(sigs.collect(), key=lambda r: r.doc_id)
    for d in (3, 6):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_near_pairs(
                sigs, max_hamming=d, star_cap=10**6
            ).collect()
        }
        truth = {
            (a.doc_id, b.doc_id, h)
            for a, b in itertools.combinations(rows, 2)
            if (
                h := bin(
                    (a.simhash ^ b.simhash) & 0xFFFFFFFFFFFFFFFF
                ).count("1")
            )
            <= d
        }
        assert got == truth, (d, truth - got, got - truth)


def test_ngram_jaccard_exact_pair_score(planted_docs):
    pairs = dedup.ngram_jaccard_pairs(
        planted_docs, n=3, threshold=0.5, block_exprs=["'all'"]
    ).collect()
    scores = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert scores[(0, 100)] == 1.0
    assert 0.5 <= scores[(0, 101)] < 1.0


def test_ngram_jaccard_catches_first_word_edit(spark, planted_docs):
    # a near-dup whose FIRST word differs lands in a different
    # first-word block; the default last-word block must still pair it
    extra = spark.createDataFrame(
        [Row(doc_id=103, text="a" + BASE[BASE.index(" ") :])]
    )
    pairs = dedup.ngram_jaccard_pairs(
        planted_docs.unionByName(extra), n=3, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 103) in found
    # and each surviving pair appears exactly once despite two blocks
    assert len(found) == len(pairs)


@pytest.fixture(scope="module")
def planted_vectors(spark):
    """Random unit-ish vectors + a planted near-duplicate of vec 0."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(50):
        rows.append(
            Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(16)])
        )
    dup = [x + rng.gauss(0, 0.01) for x in rows[0].embedding]
    rows.append(Row(vec_id=200, embedding=dup))
    df = spark.createDataFrame(rows)
    return df.withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_brute_force_topk_exact(planted_vectors):
    qs = planted_vectors.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = similarity.brute_force_topk(planted_vectors, qs, k=3).collect()
    ranked = sorted(out, key=lambda r: -r.cosine)
    assert ranked[0].vec_id == 0 and ranked[0].cosine == 1.0
    assert ranked[1].vec_id == 200 and ranked[1].cosine > 0.99


def test_embedding_near_dups_finds_planted(planted_vectors):
    pairs = similarity.embedding_near_dups(
        planted_vectors, dim=16, threshold=0.95, n_planes=6
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 200)}


def test_embedding_near_dups_multiprobe_lifts_recall(planted_vectors):
    """Hamming-1 probing must find every pair whose 8-bit signatures
    differ in at most one bit; exact-collision mode only finds the
    identical-signature subset. Each pair exactly once, either way."""
    def pairs(multiprobe):
        rows = similarity.embedding_near_dups(
            planted_vectors, dim=16, threshold=0.2, n_planes=8,
            multiprobe=multiprobe,
        ).collect()
        keys = [(r.id_a, r.id_b) for r in rows]
        assert len(keys) == len(set(keys))  # exactly-once per pair
        return set(keys)

    exact, probed = pairs(False), pairs(True)
    assert exact <= probed
    assert len(probed) > len(exact)  # Hamming-1 pairs only via probe
    # verify against signatures: probed == all pairs within Hamming 1
    # of each other that clear the cosine threshold
    planes = similarity.hyperplanes(16, 8, seed=42)
    sig_df = planted_vectors.select(
        "vec_id",
        F.expr(similarity._bucket_expr("embedding", planes)).alias("b"),
    )
    sigs = {r.vec_id: r.b for r in sig_df.collect()}
    scored = similarity.embedding_near_dups(
        planted_vectors, dim=16, threshold=0.2, n_planes=0,
        multiprobe=False,
    )  # n_planes=0 → single bucket → all pairs scored
    want = {
        (r.id_a, r.id_b)
        for r in scored.collect()
        if bin(sigs[r.id_a] ^ sigs[r.id_b]).count("1") <= 1
    }
    assert probed == want


def test_lsh_topk_recall_on_near_dup(planted_vectors):
    qs = planted_vectors.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = similarity.lsh_topk(
        planted_vectors, qs, dim=16, k=5, n_planes=4
    ).collect()
    ids = [r.vec_id for r in sorted(out, key=lambda r: -r.cosine)]
    # the planted near-dup collides on every plane → must be found
    assert ids[:2] == [0, 200]


def test_lang_id_on_real_snippets(spark):
    # (the synthetic documents table uses one shared vocabulary for
    # every lang label, so accuracy is only meaningful on real text)
    samples = [
        Row(doc_id=1, text="the cat is on the table and it is warm", want="en"),
        Row(doc_id=2, text="der Hund ist nicht mit der Katze auf dem Sofa", want="de"),
        Row(doc_id=3, text="le chat est dans la maison et il est content", want="fr"),
        Row(doc_id=4, text="el perro es grande y la casa es blanca como una nube", want="es"),
    ]
    out = text.lang_id(spark.createDataFrame(samples)).collect()
    for r in out:
        assert r.lang_guess == r.want, (r.text, r.lang_guess, r.want)


def test_multimodal_decode_schema_and_shape(spark, catalog):
    media = multimodal.synthesize_media(catalog.load("documents").limit(50))
    out = multimodal.decode_features(media)
    assert [f.name for f in out.schema.fields] == [
        "media_id",
        "media_type",
        "width",
        "height",
        "n_bytes",
        "features",
    ]
    rows = out.collect()
    assert len(rows) == 50  # decode: one row per input row
    assert all(64 <= r.width < 256 and len(r.features) == 8 for r in rows)


def test_multimodal_frame_sample_fanout(spark, catalog):
    media = multimodal.synthesize_media(catalog.load("documents").limit(30))
    vids = media.where(F.col("media_type") == "video/mp4")
    n_vids = vids.count()
    frames = multimodal.frame_sample(media).collect()
    assert len(frames) >= n_vids  # ≥1 frame per video, none for others
    assert {r.media_id % 3 for r in frames} == {2}


def test_multimodal_resize_preserves_schema(spark, catalog):
    media = multimodal.synthesize_media(catalog.load("documents").limit(10))
    out = multimodal.resize(media, max_dim=64)
    assert out.schema == media.schema
    assert out.count() == 10


def test_salted_aggregate_equals_direct(spark, catalog):
    from prql_spark.operators import skew

    ev = catalog.load("events")
    salted = {
        (r.event_type): (r.n, round(r.total, 4))
        for r in skew.salted_aggregate(
            ev,
            ["event_type"],
            {"n": ("count", "*"), "total": ("sum", "coalesce(value, 0.0)")},
            salt_buckets=8,
        ).collect()
    }
    direct = {
        (r.event_type): (r.n, round(r.total, 4))
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("coalesce(value, 0.0)")).alias("total"),
        )
        .collect()
    }
    assert salted == direct


def test_ngram_counts_and_doc_frequency(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="big data big model"),
            Row(doc_id=2, text="big data small model"),
            Row(doc_id=3, text="tiny corpus"),
        ]
    )
    top = text.ngram_counts(docs, n=2, top_k=3).collect()
    assert (top[0].ngram, top[0].freq) == ("big data", 2)
    dfq = {r.term: r.df for r in text.doc_frequency(docs, min_df=2).collect()}
    assert dfq == {"big": 2, "data": 2, "model": 2}


def test_ivf_topk_recall_vs_brute_force(spark, catalog):
    embs = catalog.load("embeddings")
    qs = embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(embs, qs, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(
            embs, qs, dim=64, k=10, n_lists=8, nprobe=4
        ).collect()
    }
    # probing half the lists must recover most of the exact top-10
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall}"
    # the query vector itself always lands in its own probed list
    assert all((q, q) in approx for q in (0, 1, 2))


def test_ivf_centroids_deterministic(spark, catalog):
    embs = catalog.load("embeddings")
    a = similarity.ivf_train_centroids(embs, dim=64, n_lists=4, iters=2)
    b = similarity.ivf_train_centroids(embs, dim=64, n_lists=4, iters=2)
    assert a == b
    assert len(a) == 4 and all(len(c) == 64 for c in a)


def test_sketch_distinct_within_bound(spark):
    from prql_spark.operators import sketches
    from prql_spark.sources.catalog import Catalog
    from tests.conftest import SF_DIR

    ev = Catalog(spark, SF_DIR).load("events")
    rows = sketches.distinct_accuracy_check(
        ev, "user_id", "event_type"
    ).collect()
    assert rows and all(r.within_bound for r in rows)
    # the estimate itself (rsd=0.05): also check the tighter 3-sigma
    approx = {
        r.event_type: r.approx_user_id
        for r in sketches.approx_distinct(
            ev, "user_id", group_by=["event_type"]
        ).collect()
    }
    for r in rows:
        rel = abs(approx[r.event_type] - r.exact_distinct) / r.exact_distinct
        assert rel <= 0.15


def test_sketch_quantile_rank_guarantee(spark):
    from prql_spark.operators import sketches
    from prql_spark.sources.catalog import Catalog
    from tests.conftest import SF_DIR

    ev = Catalog(spark, SF_DIR).load("events")
    rows = sketches.quantile_rank_check(ev, "value", "event_type").collect()
    assert rows and all(r.within_rank_eps for r in rows)
    qs = sketches.approx_quantiles(
        ev, "value", group_by=["event_type"]
    ).collect()
    for r in qs:
        assert list(r.quantiles) == sorted(r.quantiles)  # monotone


def test_dedup_minhash_mega_bucket_star_guard(spark):
    """A 200-copy exact-dup group: with star_cap the bucket emits
    O(n) star pairs, not O(n^2), and dedup still keeps exactly the
    min id of the group (plus all distinct docs)."""
    import random

    from pyspark.sql import Row

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(300)]
    rows = [
        Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(40)))
        for i in range(10)
    ]
    mega = "the quick brown fox jumps over the lazy dog again and again"
    rows += [Row(doc_id=1000 + i, text=mega) for i in range(200)]
    df = spark.createDataFrame(rows)

    out = dedup.dedup_minhash_lsh(df, threshold=0.5, star_cap=16)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert ids == set(range(10)) | {1000}

    # pair volume: star emits n-1 per bucket per band, never n(n-1)/2
    sigs = dedup.minhash_signatures(df).select("doc_id", "minhash")
    raw = dedup._minhash_raw_pairs(sigs, star_cap=16)
    n_pairs = raw.groupBy("id_a", "id_b").count().count()
    assert n_pairs <= 199 + 50  # star pairs + any random collisions


def test_bm25_rank_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark spark spark engine"),
            Row(doc_id=2, text="spark engine"),
            Row(doc_id=3, text="engine room with no match terms"),
            Row(doc_id=4, text="a much longer document about spark "
                              "diluted by many many other words here"),
        ]
    )
    out = {r.doc_id: r.bm25 for r in t.bm25_rank(docs, ["spark"]).collect()}
    assert 3 not in out                       # no hit → no row
    assert out[1] > out[2] > out[4] > 0       # tf wins; length norm
    both = t.bm25_rank(docs, ["spark", "room"]).collect()
    assert {r.doc_id for r in both} == {1, 2, 3, 4}
    # 'room' is rarer than 'spark' → higher idf for doc 3's single hit
    sc = {r.doc_id: r.bm25 for r in both}
    assert sc[3] > sc[4]


def test_ngram_contamination_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    bench = spark.createDataFrame(
        [Row(pid=1, text="the quick brown fox jumps over the lazy dog")]
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="prefix words the quick brown fox jumps over "
                               "the lazy dog suffix"),
            Row(doc_id=3, text="completely different content with no overlap "
                               "at all in any window"),
        ]
    )
    out = {
        r.doc_id: (r.n_grams, r.n_contaminated, r.contamination)
        for r in t.ngram_contamination(docs, bench, n=4).collect()
    }
    assert out[1] == (6, 6, 1.0)       # exact copy: fully contaminated
    assert out[3][1] == 0 and out[3][2] == 0.0
    assert 0 < out[2][2] < 1.0         # partial overlap


def test_gopher_quality_flags(spark):
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    good = " ".join(
        f"alpha{i} beta{i} gamma{i} delta{i}" for i in range(30)
    )
    out = {
        r.doc_id: r
        for r in t.gopher_quality_flags(
            spark.createDataFrame(
                [
                    Row(doc_id=1, text=good),
                    Row(doc_id=2, text="too short"),
                    Row(doc_id=3, text="#### " * 80),
                    Row(doc_id=4, text="same same " * 60),
                ]
            )
        ).collect()
    }
    assert out[1].passes_gopher
    assert not out[2].flag_word_count
    assert not out[3].flag_symbol_ratio and not out[3].flag_alpha_words
    assert not out[4].flag_distinct_words
    assert not out[2].passes_gopher


def test_profile_stats(spark):
    from pyspark.sql import Row

    from prql_spark.operators.profile import profile

    df = spark.createDataFrame(
        [
            Row(k=1, name="a", v=10.0),
            Row(k=2, name="b", v=None),
            Row(k=3, name="a", v=30.0),
        ]
    )
    out = {r.column: r for r in profile(df).collect()}
    assert set(out) == {"k", "name", "v"}
    assert out["k"].n_rows == 3 and out["k"].n_null == 0
    assert out["k"].n_distinct == 3 and out["k"].avg == 2.0
    assert out["name"].n_distinct == 2 and out["name"].avg is None
    assert out["v"].n_null == 1 and out["v"].min_str == "10.0"
    assert out["v"].avg == 20.0
    # approx mode still returns sane counts in one pass
    ap = {r.column: r for r in profile(df, exact=False).collect()}
    assert ap["k"].n_distinct >= 2


def test_lsh_topk_multiprobe_lifts_recall(planted_vectors):
    qs = planted_vectors.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    base = similarity.lsh_topk(
        planted_vectors, qs, dim=16, k=5, n_planes=8
    ).collect()
    probed = similarity.lsh_topk(
        planted_vectors, qs, dim=16, k=5, n_planes=8, multiprobe=True
    ).collect()
    # each (query, vec) candidate appears at most once
    keys = [(r.query_id, r.vec_id) for r in probed]
    assert len(keys) == len(set(keys))
    assert len(probed) >= len(base)
    # more candidates can only improve the ranked list: probed's j-th
    # best cosine dominates base's j-th best, per query
    def ranked(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, []).append(r.cosine)
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    rb, rp = ranked(base), ranked(probed)
    for q, bl in rb.items():
        pl = rp[q]
        assert len(pl) >= len(bl)
        for j, bv in enumerate(bl):
            assert pl[j] >= bv - 1e-9
    # the planted near-dup of vec 0 must surface for query 0
    assert any(r.query_id == 0 and r.vec_id == 200 for r in probed)


def test_pack_sequences(spark):
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * (10 + i))) for i in range(40)]
    )
    out = t.pack_sequences(docs, target_tokens=50, n_shards=4).collect()
    assert len(out) == 40
    by_chunk = {}
    for r in out:
        assert 0 <= r.shard < 4
        by_chunk.setdefault((r.shard, r.chunk_id), []).append(r)
    # a doc starts in the chunk where its first token lands, so every
    # chunk's PRE-doc offsets stay under the budget and chunks are
    # dense: totals reach at least the 50-token target except each
    # shard's last chunk
    for (shard, cid), rows in by_chunk.items():
        rows.sort(key=lambda r: r.doc_id)
        start = cid * 50
        off = sum(
            x.n_tokens for x in out
            if x.shard == shard
            and (x.chunk_id < cid or (x.chunk_id == cid and x.doc_id < rows[0].doc_id))
        )
        assert off - start < 50 or cid == 0
        last_chunk = max(c for s, c in by_chunk if s == shard)
        if cid < last_chunk:
            assert sum(r.n_tokens for r in rows) + (off - start) >= 50 - 1
    # deterministic across runs
    again = t.pack_sequences(docs, target_tokens=50, n_shards=4).collect()
    assert {(r.doc_id, r.shard, r.chunk_id) for r in again} == {
        (r.doc_id, r.shard, r.chunk_id) for r in out
    }


def test_pack_sequences_partition_by_split(spark):
    """With partition_by=["split"], chunk membership never crosses a
    split boundary (the training-leakage invariant), and within each
    split the packing equals packing that split alone."""
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, split=("train" if i % 3 else "val"),
                text=" ".join(["w"] * (10 + i)))
            for i in range(60)
        ]
    )
    out = t.pack_sequences(
        docs, target_tokens=50, n_shards=4, partition_by=["split"]
    ).collect()
    chunks = {}
    for r in out:
        chunks.setdefault((r.shard, r.chunk_id), set()).add(r.split)
    # keyed WITH the split column a chunk is single-split by
    # construction; the invariant that matters is that per-split
    # packing is independent: packing only the train rows yields the
    # identical assignment for every train doc
    train_only = t.pack_sequences(
        docs.where("split = 'train'"), target_tokens=50, n_shards=4,
        partition_by=["split"],
    ).collect()
    assert {(r.doc_id, r.shard, r.chunk_id) for r in train_only} == {
        (r.doc_id, r.shard, r.chunk_id) for r in out if r.split == "train"
    }
    # default (no partition_by) keeps the round-3 behavior
    legacy = t.pack_sequences(docs, target_tokens=50, n_shards=4).collect()
    assert len(legacy) == 60


def test_quantile_buckets_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    # scores 1..9: tertile cuts at ~3.67/6.33 → 1-3 head, 4-6 middle,
    # 7-9 tail (exact linear-interpolation percentiles)
    df = spark.createDataFrame(
        [Row(doc_id=i, score=float(i)) for i in range(1, 10)]
    )
    out = {r.doc_id: r.bucket
           for r in t.quantile_buckets(df, "score", exact=True).collect()}
    assert [out[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )
    # approx path (the 100 TB default) agrees on this tiny frame
    approx = {r.doc_id: r.bucket
              for r in t.quantile_buckets(df, "score").collect()}
    assert approx == out
    # custom cuts/labels + validation
    two = {r.doc_id: r.bucket
           for r in t.quantile_buckets(
               df, "score", probs=(0.5,), labels=("lo", "hi"),
               exact=True).collect()}
    assert two[1] == "lo" and two[9] == "hi"
    with pytest.raises(ValueError, match="label"):
        t.quantile_buckets(df, "score", probs=(0.5,), labels=("only",))


def test_dedup_against_near_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators import dedup as d

    bench = [
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds watch from tall trees in the golden evening light",
        "machine learning models require large amounts of carefully "
        "curated training data to generalize well across many domains",
    ]
    ref = spark.createDataFrame([Row(text=s) for s in bench])
    rows = [
        Row(doc_id=1, text=bench[0]),                      # exact copy
        Row(doc_id=2, text=bench[1] + " and other tasks"),  # near copy
        Row(doc_id=3, text="completely unrelated document about "
                           "cooking pasta with fresh tomatoes basil "
                           "and olive oil on a sunday afternoon in rome"),
    ]
    docs = spark.createDataFrame(rows)
    kept = {r.doc_id
            for r in d.dedup_against_near(docs, ref,
                                          broadcast_ref=True).collect()}
    assert 1 not in kept          # all 16 bands collide
    assert 2 not in kept          # high-jaccard near copy collides
    assert kept == {3}


def test_tfidf_top_terms_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    # "rare" appears twice in doc 1 only; "common" once per doc —
    # tf-idf must rank rare (tf 2 × idf ln2+1) above common (1 × 1)
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="common rare rare alpha"),
            Row(doc_id=2, text="common beta beta"),
            Row(doc_id=3, text="common gamma"),
        ]
    )
    out = t.tfidf_top_terms(docs, k=2, min_df=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rk, r.term, r.tfidf))
    top1 = sorted(by_doc[1])[0]
    assert top1[1] == "rare"
    import math

    exp = round(2 * (math.log(4 / 2) + 1), 6)
    assert top1[2] == pytest.approx(exp, abs=1e-9)
    # doc 2: 'beta' (tf=2, df=1) outranks 'common' (tf=1, df=3)
    assert sorted(by_doc[2])[0][1] == "beta"
    assert all(len(v) <= 2 for v in by_doc.values())


def test_bm25_term_quoting_and_multiword(spark):
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark engine room"),
            Row(doc_id=2, text="o'reilly book about spark"),
        ]
    )
    # a quote in a term must not break/inject into the lambda
    out = {r.doc_id for r in t.bm25_rank(docs, ["o'reilly"]).collect()}
    assert out == {2}
    # a multi-word term is split into words (never silently 0)
    multi = t.bm25_rank(docs, ["spark engine"]).collect()
    assert {r.doc_id for r in multi} == {1, 2}
    sc = {r.doc_id: r.bm25 for r in multi}
    assert sc[1] > sc[2]  # doc 1 matches both words
    import pytest

    with pytest.raises(ValueError, match="empty query"):
        t.bm25_rank(docs, [])


def test_profile_decimal_and_date(spark):
    from pyspark.sql import Row

    from prql_spark.operators.profile import profile

    df = spark.sql(
        "SELECT CAST(id AS DECIMAL(12,2)) AS price, "
        "DATE'2024-01-01' + make_interval(0,0,0,CAST(id AS INT)) AS d, "
        "id AS k FROM range(10)"
    )
    out = {r.column: r for r in profile(df).collect()}
    # decimal is numeric: avg/std populated (not silently NULL)
    assert set(out) == {"price", "d", "k"}
    assert out["price"].avg == 4.5 and out["price"].std is not None
    # date columns auto-selected, min/max as strings
    assert out["d"].min_str == "2024-01-01"
    assert out["d"].max_str == "2024-01-10"


def test_rebalance_to_mix(spark):
    from pyspark.sql import Row

    from prql_spark.operators.splits import mix_fractions, rebalance_to_mix

    # planted skewed corpus: 800 web / 150 books / 50 code
    rows = (
        [Row(doc_id=i, domain="web") for i in range(800)]
        + [Row(doc_id=1000 + i, domain="books") for i in range(150)]
        + [Row(doc_id=2000 + i, domain="code") for i in range(50)]
    )
    df = spark.createDataFrame(rows)
    targets = {"web": 0.5, "books": 0.3, "code": 0.2}
    # code is the binding stratum: scale = 50/0.2 = 250 → expect
    # ~125 web, ~75 books, all 50 code
    fr = mix_fractions({"web": 800, "books": 150, "code": 50}, targets)
    assert fr["code"] == 1.0
    assert abs(fr["web"] - 125 / 800) < 1e-12
    out = rebalance_to_mix(df, "domain", targets, key_col="doc_id")
    got = {r.domain: 0 for r in []}
    for r in out.collect():
        got[r.domain] = got.get(r.domain, 0) + 1
    assert got["code"] == 50
    # hash sampling is approximate: within ±30% of the target counts
    assert abs(got["web"] - 125) < 40 and abs(got["books"] - 75) < 25
    # deterministic across runs
    again = {tuple(r) for r in rebalance_to_mix(
        df, "domain", targets, key_col="doc_id").collect()}
    assert again == {tuple(r) for r in out.collect()}
    # a stratum absent from targets is dropped
    t2 = rebalance_to_mix(
        df, "domain", {"web": 1.0}, key_col="doc_id"
    ).select("domain").distinct().collect()
    assert {r.domain for r in t2} == {"web"}
    # no target stratum present in the corpus: descriptive error,
    # not a bare min()-of-empty ValueError
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no target stratum"):
        mix_fractions({"web": 800}, {"wiki": 1.0})


def test_rollup_stats_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators.profile import rollup_stats

    df = spark.createDataFrame(
        [
            Row(lang="en", source="web", n=10),
            Row(lang="en", source="web", n=20),
            Row(lang="en", source="book", n=5),
            Row(lang="de", source="web", n=7),
        ]
    )
    out = rollup_stats(
        df, ["lang", "source"], {"docs": "count(*)", "tot": "sum(n)"}
    ).collect()
    rows = {(r.lang, r.source, r.lvl): (r.docs, r.tot) for r in out}
    assert rows[("en", "web", 0)] == (2, 30)
    assert rows[("en", None, 1)] == (3, 35)     # per-lang subtotal
    assert rows[(None, None, 3)] == (4, 42)     # grand total
    assert ("de", None, 1) in rows and len(rows) == 6
    # cube adds the per-source-across-langs level
    cube = rollup_stats(
        df, ["lang", "source"], {"docs": "count(*)"}, cube=True
    ).collect()
    crows = {(r.lang, r.source, r.lvl): r.docs for r in cube}
    assert crows[(None, "web", 2)] == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dims"):
        rollup_stats(df, [], {"docs": "count(*)"})


def test_simhash_mega_bucket_star_guard(spark):
    """200 identical docs: star_cap bounds per-bucket pair volume to
    O(n) (pairs with the bucket min only), and distinct docs survive
    untouched."""
    import random

    from pyspark.sql import Row

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(300)]
    rows = [
        Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(40)))
        for i in range(10)
    ]
    mega = "one very repetitive boilerplate page scraped many many times"
    rows += [Row(doc_id=1000 + i, text=mega) for i in range(200)]
    df = spark.createDataFrame(rows)

    sigs = dedup.simhash_signatures(df)
    pairs = dedup.simhash_near_pairs(sigs, max_hamming=3, star_cap=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every mega-group pair is a star pair anchored at the min id
    mega_pairs = {p for p in got if p[0] >= 1000 or p[1] >= 1000}
    assert {(1000, 1000 + i) for i in range(1, 200)} <= got
    assert len(mega_pairs) == 199  # O(n), not 200*199/2
    # uncapped behavior preserved for normal buckets: same pairs among
    # the 10 distinct docs (expected: none at hamming<=3)
    assert not {p for p in got if p[0] < 10 and p[1] < 10}


def test_ngram_jaccard_mega_block_star_guard(spark):
    """Identical docs share every block key; star_cap keeps the block
    from emitting O(n^2) pairs."""
    from pyspark.sql import Row

    rows = [
        Row(doc_id=i, text="completely unique document number %d with words" % i)
        for i in range(5)
    ]
    mega = "the same boilerplate text repeated across the whole crawl"
    rows += [Row(doc_id=1000 + i, text=mega) for i in range(100)]
    df = spark.createDataFrame(rows)

    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.8, star_cap=16)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    mega_pairs = {p for p in got if p[0] >= 1000}
    assert {(1000, 1000 + i) for i in range(1, 100)} == set(
        {p for p in got if p[0] == 1000}
    )
    assert len(mega_pairs) == 99  # star pairs only
    assert all(v == 1.0 for k, v in got.items() if k[0] >= 1000)


def test_embedding_near_dups_mega_bucket_star_guard(spark):
    """A duplicate CLASS of identical embeddings shares one bucket at
    any plane count — occupancy sizing can't split it. star_cap must
    bound the emission to O(n) star pairs (anchored at the class min)
    while distinct vectors pair normally."""
    from pyspark.sql import Row

    from prql_spark.operators.similarity import embedding_near_dups

    dup_vec = [1.0] + [0.0] * 15
    rows = [Row(vec_id=1000 + i, embedding=dup_vec) for i in range(300)]
    # two genuinely-near distinct vectors in some other bucket; ids
    # ABOVE the class so a stray Hamming-1 probe of theirs landing in
    # the mega bucket can't displace the star anchor
    rows += [
        Row(vec_id=5000, embedding=[0.0] * 14 + [1.0, 0.02]),
        Row(vec_id=5001, embedding=[0.0] * 14 + [1.0, 0.03]),
    ]
    df = spark.createDataFrame(rows)
    pairs = embedding_near_dups(
        df, dim=16, threshold=0.95, n_planes=6, multiprobe=True,
        star_cap=32,
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    mega = {p for p in got if p[1] < 5000}
    assert {(1000, 1000 + i) for i in range(1, 300)} == mega  # O(n)
    assert (5000, 5001) in got  # normal pairs unaffected
    # and uncapped the same class would emit O(n²)
    uncapped = embedding_near_dups(
        df.where("vec_id >= 1000 AND vec_id < 1020"), dim=16,
        threshold=0.95, n_planes=6, multiprobe=False, star_cap=10**9,
    ).count()
    assert uncapped == 20 * 19 // 2


def test_embedding_near_dups_bucket_combine_matches_join(spark):
    """The bucket-combine rework must emit the exact pair set of the
    reference join formulation (probe = bucket XOR mask on the left,
    exact bucket on the right, id_a < id_b), each pair exactly once."""
    import numpy as np
    from pyspark.sql import Row

    from prql_spark.operators.similarity import (
        _bucket_expr,
        cosine_expr,
        embedding_near_dups,
        hyperplanes,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8))
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in base[i]])
        for i in range(40)
    ]
    # planted near-dups one bit apart with decent probability
    rows += [
        Row(vec_id=100 + i,
            embedding=[float(x) for x in base[i] + rng.normal(scale=0.05, size=8)])
        for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    got = embedding_near_dups(
        df, dim=8, threshold=0.2, n_planes=5, multiprobe=True,
        star_cap=10**9,
    )
    gl = sorted((r.id_a, r.id_b, r.cosine) for r in got.collect())
    # reference formulation: the pre-rework self-join
    planes = hyperplanes(8, 5, seed=42)
    b = _bucket_expr("embedding", planes)
    bdf = df.selectExpr("vec_id", "embedding", f"{b} AS bucket")
    masks = [0] + [1 << j for j in range(5)]
    probe = bdf.selectExpr(
        "vec_id", "embedding",
        "explode(array(%s)) AS probe"
        % ", ".join(f"bucket ^ {m}" for m in masks),
    )
    import pyspark.sql.functions as _F

    ref = (
        probe.alias("l")
        .join(
            bdf.alias("r"),
            on=_F.expr("l.probe = r.bucket AND l.vec_id < r.vec_id"),
        )
        .selectExpr(
            "l.vec_id AS id_a", "r.vec_id AS id_b",
            f"round({cosine_expr('l.embedding', 'r.embedding')}, 6) AS cosine",
        )
        .where("cosine >= 0.2")
    )
    rl = sorted((r.id_a, r.id_b, r.cosine) for r in ref.collect())
    assert gl == rl and len(gl) == len(set((a, b) for a, b, _ in gl))


def test_occupancy_planes_sizing():
    from prql_spark.operators.similarity import occupancy_planes

    assert occupancy_planes(500) == 4          # clamp floor
    assert occupancy_planes(200_000) == 12     # 4096 buckets > 4k
    assert occupancy_planes(100_000_000) == 21  # ~2M buckets
    assert occupancy_planes(10**12) == 24      # clamp ceiling


def test_occupancy_lists_sizing():
    from prql_spark.operators.similarity import occupancy_lists

    assert occupancy_lists(500) == 8             # clamp floor
    assert occupancy_lists(200_000) == 200       # corpus / 1k
    assert occupancy_lists(100_000_000) == 100_000
    assert occupancy_lists(10**12) == 1 << 17    # clamp ceiling


def test_ivf_large_quantizer_matches_inline_formulation(spark, catalog):
    """Past 64 lists ivf_topk switches to the broadcast-frame argmax
    (the codegen-safe shape); assignments and probe order must equal
    the inline-literal formulation exactly (round-9 cosine, ties to
    the larger index)."""
    from prql_spark.operators.similarity import (
        _nearest_expr,
        _topk_per_query,
        cosine_expr,
        ivf_topk,
        ivf_train_centroids,
    )

    embs = catalog.load("embeddings").limit(400)
    qs = (
        catalog.load("embeddings")
        .orderBy("vec_id")
        .limit(3)
        .selectExpr("vec_id AS query_id", "embedding AS qvec")
    )
    cents = ivf_train_centroids(embs, dim=64, n_lists=70, iters=1)
    assert len(cents) == 70  # forces the large-quantizer path
    got = sorted(
        map(
            tuple,
            ivf_topk(
                embs, qs, dim=64, k=5, nprobe=3, centroids=cents
            ).collect(),
        )
    )
    # inline-literal reference (the ≤64-list formulation, applied by
    # hand — slow on big quantizers, exact on this tiny frame)
    corpus = embs.selectExpr(
        "vec_id", "embedding",
        f"{_nearest_expr('embedding', cents)} AS __list",
    )
    probes = ", ".join(
        "named_struct('cos', round(%s, 9), 'i', %d)"
        % (
            cosine_expr(
                "qvec",
                "array(" + ", ".join(f"CAST({x} AS DOUBLE)" for x in c) + ")",
            ),
            i,
        )
        for i, c in enumerate(cents)
    )
    qref = qs.selectExpr(
        "query_id", "qvec",
        f"explode(transform(slice(reverse(array_sort(array({probes}))), "
        f"1, 3), s -> s.i)) AS __list",
    )
    import pyspark.sql.functions as _F

    scored = corpus.join(_F.broadcast(qref), on="__list").selectExpr(
        "query_id", "vec_id",
        f"round({cosine_expr('embedding', 'qvec')}, 6) AS cosine",
    )
    ref = sorted(
        map(tuple, _topk_per_query(scored, 5, "query_id", "vec_id")
            .select("query_id", "vec_id", "cosine").collect())
    )
    got_cols = [(q, v, c) for q, v, c in got]
    assert got_cols == ref


def test_hierarchical_assignment_agreement(spark, catalog):
    """The two-level quantizer assignment (scale path for corpus-
    sized list counts) must agree with the exact flat argmax on ≥98%
    of vectors at nprobe_super=4, and the supercluster mapping must
    cover every list."""
    from prql_spark.operators.similarity import (
        assign_lists_hier,
        ivf_train_centroids,
        super_quantize,
    )
    import pyspark.sql.functions as _F

    embs = catalog.load("embeddings").select("vec_id", "embedding").limit(400)
    cents = ivf_train_centroids(embs, dim=64, n_lists=80, iters=1)
    sup, super_of = super_quantize(cents)
    assert len(super_of) == 80 and set(super_of) <= set(range(len(sup)))
    assert 2 <= len(sup) <= 80

    # nprobe_super=6 on UNstructured random embeddings (no cluster
    # separation — the worst case for hierarchical pruning; real
    # embedding corpora have the cluster structure the method counts
    # on and agree higher at lower probes: 4 probes gave 97.3% here)
    hier = {
        r.vec_id: r.list_id
        for r in assign_lists_hier(embs, cents, nprobe_super=6).collect()
    }
    # exact flat argmax (the ivf_topk frame formulation)
    from prql_spark.operators.similarity import cosine_expr

    cents_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "i int, c array<double>"
    )
    exact = {
        r.vec_id: r.list_id
        for r in (
            embs.join(_F.broadcast(cents_df))
            .select(
                "vec_id",
                _F.expr(
                    f"named_struct('cos', round({cosine_expr('embedding', 'c')}, 9), 'i', i)"
                ).alias("__s"),
            )
            .groupBy("vec_id")
            .agg(_F.max("__s").alias("__m"))
            .select("vec_id", _F.col("__m.i").alias("list_id"))
        ).collect()
    }
    agree = sum(1 for k in exact if hier.get(k) == exact[k]) / len(exact)
    assert agree >= 0.98, f"agreement {agree:.3f}"


def test_semdedup_hier_assign_drops_exact_dups(spark, catalog):
    """hier_assign=True: identical vectors land in the same cluster
    under ANY assignment, so planted exact dups must still drop."""
    from prql_spark.operators.similarity import ivf_train_centroids, semdedup

    base = catalog.load("embeddings").select("vec_id", "embedding").limit(150)
    dup = base.where("vec_id < 4").selectExpr(
        "vec_id + 900000 AS vec_id", "embedding"
    )
    cents = ivf_train_centroids(base, dim=64, n_lists=12, iters=1)
    out = semdedup(
        base.unionByName(dup), dim=64, centroids=cents,
        threshold=0.9999, hier_assign=True,
    )
    ids = {r.vec_id for r in out.select("vec_id").collect()}
    assert not {i for i in ids if i >= 900000}
    assert len(ids) == 150


def test_semdedup_auto_lists(spark, catalog):
    """centroids=None + n_lists=None derives the list count from the
    corpus (clamp floor on a tiny frame) and still dedups."""
    from pyspark.sql import Row

    from prql_spark.operators.similarity import semdedup

    base = catalog.load("embeddings").select("vec_id", "embedding").limit(100)
    dup = base.where("vec_id < 5").selectExpr(
        "vec_id + 100000 AS vec_id", "embedding"
    )
    out = semdedup(base.unionByName(dup), dim=64, threshold=0.9999)
    ids = {r.vec_id for r in out.select("vec_id").collect()}
    assert not {i for i in ids if i >= 100000}  # exact dups dropped
    assert len(ids) == 100


def test_embedding_near_dups_occupancy_scaling(spark):
    """At 200k vectors the auto-sized grid occupies thousands of
    buckets (vs 256 with the old fixed 8 planes), and because
    hyperplanes(dim, k) is a PREFIX of hyperplanes(dim, k+m) (same
    seeded gauss stream), a coarser grid's candidate set is a strict
    superset — so recall is monotone in plane count and the planted
    pairs survive auto-sizing."""
    import numpy as np
    import pandas as pd

    from prql_spark.operators.similarity import (
        _bucket_expr,
        hyperplanes,
        occupancy_planes,
    )

    # prefix property that makes recall monotone across grid sizes
    assert hyperplanes(16, 4) == hyperplanes(16, 12)[:4]

    rng = np.random.default_rng(3)
    n = 200_000
    vecs = rng.normal(size=(n, 16)).astype("float32")
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": list(map(list, vecs))}
    )
    df = spark.createDataFrame(pdf).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    planes = hyperplanes(16, occupancy_planes(n))
    occupied = (
        df.selectExpr(f"{_bucket_expr('embedding', planes)} AS b")
        .agg(F.countDistinct("b").alias("nb"))
        .collect()[0]
        .nb
    )
    # 12 planes = 4096-cell grid; ~3.7k occupied at dim=16 (hyperplane
    # cells aren't equiprobable) — an order of magnitude beyond the
    # 256-bucket ceiling the fixed-8 default imposed
    assert occupied > 2500

    # recall: auto-sized grid still finds the planted near-dups
    dup_rows = [
        Row(vec_id=1_000_000 + i, embedding=[float(x) for x in vecs[i]])
        for i in range(20)
    ]
    small = spark.createDataFrame(
        pdf.head(2000)
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    planted = small.unionByName(
        spark.createDataFrame(dup_rows).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )
    )
    found = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(
            planted, dim=16, threshold=0.999
        ).collect()
    }
    assert {(i, 1_000_000 + i) for i in range(20)} <= found


def test_media_codec_seam(spark):
    """The decode seam: a second (non-default) codec drops in and the
    mapInPandas plumbing honors it — proving a real Pillow/ffmpeg
    codec is a constructor argument away."""
    from prql_spark.operators.multimodal import (
        MediaCodec,
        Sha256FakeCodec,
        decode_features,
        resize,
        synthesize_media,
    )

    class FixedCodec(MediaCodec):
        def decode(self, payload, media_type):
            n = len(payload) if payload is not None else 0
            return 320, 240, [float(n), 1.0]

        def resize_payload(self, payload, max_dim):
            return b"x" * min(max_dim, 4)

    docs = spark.createDataFrame(
        [(1, "hello world", "s", 11), (2, "bye", "s", 3)],
        "doc_id LONG, text STRING, source STRING, n_chars LONG",
    )
    media = synthesize_media(docs)
    out = {r.media_id: r for r in decode_features(media, FixedCodec()).collect()}
    assert out[1].width == 320 and out[1].height == 240
    assert out[1].features == [11.0, 1.0] and out[2].features == [3.0, 1.0]
    # default codec unchanged (sha256 fake)
    dflt = {r.media_id: r for r in decode_features(media).collect()}
    import hashlib

    h = hashlib.sha256(b"hello world").digest()
    assert dflt[1].width == 64 + h[0] % 192
    # resize routes through the codec too
    rz = {r.media_id: bytes(r.media) for r in resize(media, 4, FixedCodec()).collect()}
    assert rz[1] == b"xxxx"
    # codecs must survive pickling into the executor closure
    import pickle

    assert pickle.loads(pickle.dumps(Sha256FakeCodec())).decode(b"a", "x")[0] > 0


def test_netpbm_codec_real_decode(spark):
    """NetpbmCodec is a REAL decoder: pixel statistics and a real
    nearest-neighbor resize, verified against numpy ground truth."""
    import numpy as np

    from prql_spark.operators.multimodal import NetpbmCodec, decode_features

    # 20x10 RGB gradient (P6) with a header comment + 6x4 gray (P5)
    grad = np.zeros((10, 20, 3), dtype=np.uint8)
    grad[:, :, 0] = np.arange(20, dtype=np.uint8) * 12
    grad[:, :, 1] = 100
    grad[:, :, 2] = np.arange(10, dtype=np.uint8)[:, None] * 20
    ppm = b"P6\n# comment\n20 10\n255\n" + grad.tobytes()
    gray = (np.arange(24, dtype=np.uint8) * 10).reshape(4, 6)
    pgm = b"P5\n6 4\n255\n" + gray.tobytes()

    media = spark.createDataFrame(
        [(1, bytearray(ppm), "image/x-portable-pixmap", None),
         (2, bytearray(pgm), "image/x-portable-graymap", None)],
        "media_id LONG, media BINARY, media_type STRING, meta STRING",
    )
    out = {
        r.media_id: r
        for r in decode_features(media, NetpbmCodec()).collect()
    }
    assert (out[1].width, out[1].height) == (20, 10)
    assert (out[2].width, out[2].height) == (6, 4)
    f = grad.astype(np.float64) / 255.0
    assert out[1].features[0] == pytest.approx(f[:, :, 0].mean(), abs=1e-6)
    assert out[1].features[1] == pytest.approx(100 / 255.0, abs=1e-6)
    luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    assert out[1].features[3] == pytest.approx(float(luma.std()), abs=1e-6)
    assert out[2].features[0] == pytest.approx(gray.mean() / 255.0, abs=1e-6)

    # real resize: re-decoding the downscaled payload gives the new
    # dims, and the resized pixels are a subsample of the original
    codec = NetpbmCodec()
    small = codec.resize_payload(ppm, 5)
    w, h, feats = codec.decode(small, "image/x-portable-pixmap")
    assert (w, h) == (5, 2)
    img, maxval = codec._parse(small)
    assert img.shape == (2, 5, 3) and maxval == 255
    assert set(np.unique(img[:, :, 1])) == {100}
    # no-op below max_dim; non-netpbm payloads pass through untouched
    assert codec.resize_payload(ppm, 64) == ppm
    assert codec.resize_payload(b"\x89PNG...", 4) == b"\x89PNG..."
    assert codec.decode(b"junk", "image/png") == (0, 0, [0.0] * 8)

    # maxval < 255: features normalize by the PARSED maxval, and a
    # resize re-encodes with the same maxval (pixels are untouched
    # samples)
    g15 = np.full((4, 8), 15, dtype=np.uint8)
    pgm15 = b"P5\n8 4\n15\n" + g15.tobytes()
    w15, h15, f15 = codec.decode(pgm15, "image/x-portable-graymap")
    assert (w15, h15) == (8, 4)
    assert f15[0] == pytest.approx(1.0, abs=1e-6)  # 15/15, not 15/255
    small15 = codec.resize_payload(pgm15, 4)
    assert small15.startswith(b"P5\n4 2\n15\n")
    # CRLF after maxval = ambiguous nonconforming writer: reject
    # (returning None) instead of silently reading pixels off by one
    crlf = b"P5\n6 4\n255\r\n" + gray.tobytes()
    assert codec.decode(crlf, "x") == (0, 0, [0.0] * 8)
    # header that ends exactly at maxval (no separator byte at all)
    assert codec.decode(b"P5\n6 4\n255", "x") == (0, 0, [0.0] * 8)


def test_repetition_flags_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators import text as t

    clean = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
    out = {
        r.doc_id: r
        for r in t.repetition_flags(
            spark.createDataFrame(
                [
                    Row(doc_id=1, text=clean),
                    # 3 of 4 lines are copies of line 1
                    Row(doc_id=2, text="same line\nsame line\nsame line\nother"),
                    # one hammered 2-gram dominates the characters
                    Row(doc_id=3, text="click here " * 30 + "tail"),
                    # duplicated 5-grams (text repeated twice)
                    Row(doc_id=4, text=(clean + " " + clean)),
                ]
            )
        ).collect()
    }
    assert out[1].passes_repetition
    assert out[2].dup_line_frac == 0.5 and not out[2].flag_dup_lines
    assert out[3].top_2gram_char_frac > 0.2 and not out[3].flag_top_2gram
    assert out[4].dup_5gram_char_frac > 0.15 and not out[4].flag_dup_5gram
    assert not out[2].passes_repetition


def test_simhash_udf_matches_sql_formulation(spark, catalog):
    """The numpy simhash UDF must produce bit-identical signatures to
    the declarative SQL definition it replaced (which the DuckDB
    oracle still replays)."""
    from prql_spark.operators.dedup import _TOKEN_HASH64

    docs = catalog.load("documents").limit(100)
    norm = "lower(regexp_replace(trim(text), '\\\\s+', ' '))"
    toks = f"split({norm}, ' ')"
    th = f"transform({toks}, t -> {_TOKEN_HASH64.format(t='t')})"
    bits = (
        "transform(sequence(0, 63), b -> "
        "CASE WHEN aggregate(__th, 0L, (acc, h) -> "
        "acc + IF((shiftrightunsigned(h, b) & 1) = 1, 1L, -1L)) > 0 "
        "THEN 1L ELSE 0L END)"
    )
    pack = (
        "aggregate(zip_with(__bits, sequence(0, 63), "
        "(bit, i) -> shiftleft(bit, i)), 0L, (acc, v) -> acc | v)"
    )
    sql_sigs = {
        r.doc_id: r.simhash
        for r in docs.selectExpr("doc_id", f"{th} AS __th")
        .selectExpr("doc_id", f"{bits} AS __bits")
        .selectExpr("doc_id", f"{pack} AS simhash")
        .collect()
    }
    udf_sigs = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(docs).collect()
    }
    assert udf_sigs == sql_sigs and len(udf_sigs) == 100
    # null text -> null signature in both
    from pyspark.sql import Row

    nulls = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="")],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r.simhash for r in dedup.simhash_signatures(nulls).collect()}
    assert got[1] is None and got[2] is not None


def test_netpbm_codec_truncated_payload(spark):
    from prql_spark.operators.multimodal import NetpbmCodec

    c = NetpbmCodec()
    # lying header / truncated pixel data / nonsense dims: decode to
    # the zero tuple, never raise (a corrupt file must not kill the
    # executor batch)
    assert c.decode(b"P6\n100 100\n255\nxx", "x") == (0, 0, [0.0] * 8)
    assert c.decode(b"P6\n-3 7\n255\n", "x") == (0, 0, [0.0] * 8)
    assert c.resize_payload(b"P6\n9 9\n255\nxx", 4) == b"P6\n9 9\n255\nxx"


def test_wav_codec_real_decode(spark):
    """WavCodec is a REAL decoder: signal statistics verified against
    numpy ground truth, truncating resize re-encodes a valid WAV."""
    import numpy as np

    from prql_spark.operators.multimodal import (
        WavCodec,
        decode_features,
        wav_planted_payloads,
    )

    payloads = wav_planted_payloads()
    media = spark.createDataFrame(
        [(i, bytearray(p), mt) for i, p, mt in payloads],
        "media_id long, media binary, media_type string",
    )
    out = {r.media_id: r
           for r in decode_features(media, WavCodec()).collect()}
    # sine: duration 1s @ 8 kHz; rms of 0.5·sin ≈ 0.5/√2 (quantized)
    assert (out[1].width, out[1].height) == (8000, 8000)
    assert out[1].features[0] == 1.0
    assert abs(out[1].features[1] - 0.5 / np.sqrt(2)) < 1e-3
    assert out[1].features[2] == 0.5        # peak
    # stereo ramp decodes first channel; one zero crossing
    assert (out[2].width, out[2].height) == (16000, 4000)
    assert abs(out[2].features[3] - 1 / 4000) < 1e-6
    # 8-bit constant: rms == peak == 0.25, zero crossings 0
    assert out[3].features[1] == 0.25 and out[3].features[3] == 0.0
    # corrupt payload → zero tuple, batch survives
    assert (out[4].width, out[4].height) == (0, 0)

    c = WavCodec()
    _, sine, _ = payloads[0]
    small = c.resize_payload(sine, 2)  # 2000 frames
    rate, n, feats = c.decode(small, "audio/wav")
    assert (rate, n) == (8000, 2000)
    assert c.resize_payload(sine, 100) == sine  # no-op under limit
    assert c.resize_payload(b"RIFFnot-a-wav", 1) == b"RIFFnot-a-wav"


def test_y4m_codec_real_decode(spark):
    """Y4mCodec is a REAL video decoder: frame statistics verified
    against numpy ground truth; temporal-downsample resize re-encodes
    valid y4m; truncated streams decode only complete frames."""
    import numpy as np

    from prql_spark.operators.multimodal import (
        Y4mCodec,
        decode_features,
        y4m_planted_payloads,
    )

    payloads = y4m_planted_payloads()
    media = spark.createDataFrame(
        [(i, bytearray(p), mt) for i, p, mt in payloads],
        "media_id long, media binary, media_type string",
    )
    out = {r.media_id: r
           for r in decode_features(media, Y4mCodec()).collect()}
    # 6-frame luma ramp 0,30,...,150: mean = 75/255
    assert (out[1].width, out[1].height) == (6, 4)
    assert out[1].features[0] == 6.0 and out[1].features[1] == 25.0
    assert abs(out[1].features[2] - 75 / 255) < 1e-6
    # motion = mean per-frame luma delta = 30/255
    assert abs(out[1].features[7] - 30 / 255) < 1e-6
    # constant 2-frame clip: zero std, zero motion
    assert out[2].features[3] == 0.0 and out[2].features[7] == 0.0
    # truncated: 5 complete frames decoded, not garbage
    assert out[3].features[0] == 5.0
    assert (out[4].width, out[4].height) == (0, 0)

    c = Y4mCodec()
    _, full, _ = payloads[0]
    half = c.resize_payload(full, 3)
    w, h, feats = c.decode(half, "video/x-y4m")
    assert (w, h, feats[0]) == (6, 4, 3.0)
    # kept frames are an evenly-strided subsample (0, 2, 4 → means)
    assert abs(feats[4] - 0.0) < 1e-6 and abs(feats[6] - 120 / 255) < 1e-6
    assert c.resize_payload(full, 10) == full
    assert c.decode(b"not video", "x") == (0, 0, [0.0] * 8)
    # hostile zero-denominator frame rate: never-raise contract holds
    zero_den = b"YUV4MPEG2 W6 H4 F25:0 C420\nFRAME\n" + bytes(36)
    assert c.decode(zero_den, "video/x-y4m") == (0, 0, [0.0] * 8)


def test_chunk_documents_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators.text import chunk_documents

    long_doc = " ".join(f"w{i}" for i in range(100))
    rows = [
        Row(doc_id=1, text=long_doc),
        Row(doc_id=2, text="short doc stays whole"),
        Row(doc_id=3, text=""),
    ]
    out = chunk_documents(
        spark.createDataFrame(rows), max_tokens=40, overlap=10
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 100 words, stride 30 → ceil(90/30)=3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1, 2]
    assert c1[0].chunk_text.startswith("w0 ") and c1[0].chunk_tokens == 40
    # overlap: chunk 1 starts at word 30, shares words 30-39 with chunk 0
    assert c1[1].chunk_text.split()[0] == "w30"
    assert c1[0].chunk_text.split()[-1] == "w39"
    assert c1[2].chunk_tokens == 100 - 60
    # short and empty docs: exactly one chunk each
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "short doc stays whole"
    assert len(by_doc[3]) == 1
    import pytest as _p

    with _p.raises(ValueError, match="overlap"):
        chunk_documents(spark.createDataFrame(rows), max_tokens=10,
                        overlap=10)


def test_ngram_expr_equals_legacy_indexed_shape(spark):
    """The substitution-safe zip_with gram chain must reproduce the
    legacy per-index slice shape exactly — including the short-doc
    single-joined-gram convention the oracles pin — across edge
    cases: empty, one word, n-1 words, exactly n, and random docs."""
    import random

    from pyspark.sql import Row

    from prql_spark.operators.text import ngram_expr

    rng = random.Random(17)
    texts = ["", "one", "a b", "x y z", "p q r s t"]
    texts += [
        " ".join(f"t{rng.randrange(6)}" for _ in range(rng.randrange(1, 30)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [Row(i=i, ws=t.split(" ") if t else [""]) for i, t in enumerate(texts)]
    )
    for n in (2, 3, 5):
        legacy = (
            f"transform(sequence(0, greatest(size(ws) - {n}, 0)), "
            f"i -> concat_ws(' ', slice(ws, i + 1, {n})))"
        )
        bad = df.selectExpr(
            "i",
            f"{ngram_expr('ws', n)} AS safe",
            f"{legacy} AS legacy",
        ).where("safe != legacy")
        assert bad.count() == 0, f"n={n}: {bad.take(3)}"


def test_script_profile_planted(spark):
    from pyspark.sql import Row

    from prql_spark.operators.text import script_profile

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="hello world café"),
            Row(doc_id=2, text="Привет мир"),
            Row(doc_id=3, text="日本語のテキスト"),
            Row(doc_id=4, text="مرحبا"),
            Row(doc_id=5, text="नमस्ते"),
            Row(doc_id=6, text="12345 !!!"),
            Row(doc_id=7, text="hello Привет"),
        ]
    )
    out = {r.doc_id: r for r in script_profile(df).collect()}
    assert out[1].dominant_script == "latin" and out[1].latin_frac == 1.0
    assert out[2].dominant_script == "cyrillic"
    assert out[3].dominant_script == "cjk"
    assert out[4].dominant_script == "arabic"
    assert out[5].dominant_script == "devanagari"
    assert out[6].dominant_script == "none"
    # mixed doc: fractions split, more cyrillic letters win
    assert out[7].dominant_script == "cyrillic"
    assert 0 < out[7].latin_frac < out[7].cyrillic_frac


def test_html_to_text_planted(spark, catalog):
    """Planted markup: script/style/comment contents dropped, tags
    stripped, entities decoded with &amp; LAST (author-escaped
    entities stay escaped), whitespace collapsed. PRQL-callable."""
    from prql_spark import compile_prql
    from prql_spark.operators.text import html_to_text

    rows = [
        (1, "<html><head><style>p {c:1}</style>"
            "<script>var x = 1;</script></head>"
            "<body><h1>Head</h1><p>Hello &amp; welcome &lt;3</p>"
            "<!-- note --><div>A&nbsp;B &quot;q&quot; it&#39;s</div>"
            "</body></html>"),
        (2, "plain text, no markup"),
        (3, "<SCRIPT type='x'>multi\nline</SCRIPT>after <b>bold</b> &amp;lt;"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text_extracted for r in html_to_text(df).collect()}
    # paragraph-container closers become blank lines: paragraph
    # structure survives extraction (span dedup depends on this)
    assert got[1] == 'Head\n\nHello & welcome <3\n\nA B "q" it\'s'
    assert got[2] == "plain text, no markup"
    assert got[3] == "after bold &lt;"  # author wrote "&lt;" — kept
    assert got[4] == ""
    # PRQL pipeline step
    out = compile_prql(
        "from documents\ntake 5\nhtml_to_text\n"
        "select [doc_id, text_extracted]",
        catalog,
    )
    assert out.columns == ["doc_id", "text_extracted"]
    assert out.count() == 5


def test_dedup_paragraphs_planted(spark, catalog):
    """Corpus-wide paragraph dedup: the shared footer survives only
    in the lowest-id doc; in-doc repeats collapse; short paragraphs
    under min_chars are never candidates; a doc made entirely of
    repeated paragraphs drops from the output. PRQL-callable."""
    from pyspark.sql import Row

    from prql_spark import compile_prql
    from prql_spark.operators.dedup import dedup_paragraphs

    footer = "share and subscribe for more updates"
    rows = [
        Row(doc_id=1, text=f"alpha body one\n\n{footer}\n\nIntro"),
        Row(doc_id=2, text=f"beta body two\n\n{footer}\n\nIntro"),
        Row(doc_id=3, text="gamma\n\ngamma\n\ndelta"),   # in-doc repeat
        Row(doc_id=4, text=f"{footer}\n\n{footer}"),     # all duplicate
    ]
    df = spark.createDataFrame(rows)
    got = {r.doc_id: r for r in dedup_paragraphs(df).collect()}
    assert got[1].text_deduped == f"alpha body one\n\n{footer}\n\nIntro"
    assert got[1].n_paras_kept == 3
    # doc 2 loses the footer AND the repeated "Intro"
    assert got[2].text_deduped == "beta body two"
    assert got[3].text_deduped == "gamma\n\ndelta"
    assert 4 not in got  # nothing survived
    # min_chars: short headers are not candidates — "Intro" stays
    got2 = {r.doc_id: r for r in dedup_paragraphs(df, min_chars=10).collect()}
    assert got2[2].text_deduped == "beta body two\n\nIntro"
    # normalization: case/whitespace variants are the same paragraph
    v = spark.createDataFrame([
        Row(doc_id=1, text="Same   Para"),
        Row(doc_id=2, text="same para"),
    ])
    gv = {r.doc_id: r for r in dedup_paragraphs(v).collect()}
    assert 1 in gv and 2 not in gv
    # PRQL pipeline step
    out = compile_prql(
        "from documents\ntake 5\ndedup_paragraphs", catalog
    )
    assert set(out.columns) == {"doc_id", "text_deduped", "n_paras_kept"}


def test_dedup_lines_planted(spark):
    """Line-granularity span dedup: the repeated cookie banner
    survives once corpus-wide; blank lines ignored."""
    from pyspark.sql import Row

    from prql_spark.operators.dedup import dedup_lines

    banner = "cookie notice: accept all cookies"
    df = spark.createDataFrame([
        Row(doc_id=1, text=f"first story\n{banner}\nmore text"),
        Row(doc_id=2, text=f"{banner}\nsecond story"),
    ])
    got = {r.doc_id: r for r in dedup_lines(df).collect()}
    assert got[1].text_deduped == f"first story\n{banner}\nmore text"
    assert got[2].text_deduped == "second story"
    assert got[2].n_lines_kept == 1


def test_url_features_edges(spark):
    """Host extraction tolerates userinfo and ports; the blocklist
    matches subdomains but NOT lookalike suffixes; path depth counts
    non-empty segments; query strings are not path."""
    from pyspark.sql import Row

    from prql_spark.operators.text import url_features

    rows = [
        Row(doc_id=1, url="https://www.example.org/a/b/c"),
        Row(doc_id=2, url="http://user:pw@ads.invalid:8080/x?q=1"),
        Row(doc_id=3, url="https://notads.invalid/"),
        Row(doc_id=4, url="https://sub.ads.invalid"),
        Row(doc_id=5, url="https://Example.ORG/path/?u=2#frag"),
    ]
    out = {r.doc_id: r for r in url_features(
        spark.createDataFrame(rows), block_domains=("ads.invalid",)
    ).collect()}
    assert out[1].url_host == "www.example.org"
    assert out[1].url_domain == "example.org"
    assert out[1].url_tld == "org" and out[1].url_path_depth == 3
    assert out[2].url_host == "ads.invalid" and out[2].url_blocked
    assert out[2].url_path_depth == 1  # ?q=1 is not path
    assert out[3].url_host == "notads.invalid"
    assert not out[3].url_blocked  # lookalike suffix, different domain
    assert out[4].url_blocked      # true subdomain
    assert out[5].url_host == "example.org"  # lowercased
    assert out[5].url_path_depth == 1


def test_url_features_blocklist_hardening_and_suffixes(spark):
    """Round-5 ADVICE items: a quote-bearing blocklist domain must
    not break the expression, a LIKE-wildcard character in a domain
    must not over-match (a_b.com vs axb.com), and public_suffixes
    resolves co.uk-style hosts to the registrable domain (longest
    suffix wins; unmatched hosts keep the last-2 heuristic)."""
    from pyspark.sql import Row

    from prql_spark.operators.text import url_features

    rows = [
        Row(doc_id=1, url="https://o'brien.example/x"),
        Row(doc_id=2, url="https://a_b.com/"),
        Row(doc_id=3, url="https://axb.com/"),
        Row(doc_id=4, url="https://shop.example.co.uk/a"),
        Row(doc_id=5, url="https://example.co.uk/"),
        Row(doc_id=6, url="https://plain.example.org/"),
        Row(doc_id=7, url="https://deep.shop.example.com.au/"),
    ]
    out = {r.doc_id: r for r in url_features(
        spark.createDataFrame(rows),
        block_domains=("o'brien.example", "a_b.com"),
        public_suffixes=("co.uk", "com.au"),
    ).collect()}
    assert out[1].url_blocked          # quote escaped, not a syntax error
    assert out[2].url_blocked          # exact match
    assert not out[3].url_blocked      # _ is NOT a wildcard
    assert out[4].url_domain == "example.co.uk"
    assert out[5].url_domain == "example.co.uk"
    assert out[6].url_domain == "example.org"   # heuristic path intact
    assert out[7].url_domain == "example.com.au"


def test_duplicated_window_fraction_planted(spark, catalog):
    """Windowed exact-substring signal: a doc sharing an 8-word run
    with another doc gets exactly the straddle-free shared windows
    counted; in-doc repeats count as occurrences; short docs fall
    back to whole-text matching. PRQL-callable."""
    from pyspark.sql import Row

    from prql_spark import compile_prql
    from prql_spark.operators.dedup import duplicated_window_fraction

    shared = "one two three four five six seven eight"  # 8 words
    rows = [
        Row(doc_id=1, text=f"a b c d e f g h i j {shared}"),
        Row(doc_id=2, text=f"k l m n o p q r s t {shared}"),
        Row(doc_id=3, text="totally unique words here nothing repeats"),
        Row(doc_id=4, text="short dup"),
        Row(doc_id=5, text="short dup"),
    ]
    out = {r.doc_id: r for r in duplicated_window_fraction(
        spark.createDataFrame(rows), n=8
    ).collect()}
    # docs 1/2: 18 words → 11 windows; ONLY the final window (the
    # shared 8-word run) is duplicated
    assert out[1].n_windows == 11 and out[1].dup_windows == 1
    assert out[2].dup_windows == 1
    assert out[3].dup_windows == 0
    # short docs: one whole-text window each, duplicated across 4/5
    assert out[4].n_windows == 1 and out[4].dup_fraction == 1.0
    assert out[5].dup_fraction == 1.0
    # PRQL pipeline step
    df = compile_prql(
        "from documents\ntake 20\nduplicated_window_fraction", catalog
    )
    assert set(df.columns) == {
        "doc_id", "n_windows", "dup_windows", "dup_fraction"
    }


def test_remove_duplicated_sentences_planted(spark, catalog):
    """C4's three-sentence-span rule: a 3-sentence block shared by
    two docs is cut from BOTH (all occurrences), unique sentences
    survive byte-exactly, sentence whitespace variation does not
    defeat the match (normalized keys), and a doc that IS the shared
    block drops entirely. PRQL-callable."""
    from pyspark.sql import Row

    from prql_spark import compile_prql
    from prql_spark.operators.dedup import remove_duplicated_sentences

    blk = "Like this page. Share it widely. Subscribe to us now."
    rows = [
        Row(doc_id=1, text=f"A unique opening thought here. {blk}"),
        # same block but with doubled spaces — normalization matches
        Row(doc_id=2, text="Another original idea entirely. "
            + blk.replace(". ", ".  ")),
        Row(doc_id=3, text="Fully original. Nothing shared here. "
            "Three unique sentences total."),
        Row(doc_id=4, text=blk),
    ]
    out = {r.doc_id: r for r in remove_duplicated_sentences(
        spark.createDataFrame(rows), n=3
    ).collect()}
    assert out[1].text_cleaned == "A unique opening thought here."
    assert out[1].n_sentences == 4 and out[1].n_removed_sentences == 3
    assert out[2].text_cleaned == "Another original idea entirely."
    assert out[3].n_removed_sentences == 0
    assert out[3].text_cleaned == rows[2].text
    assert 4 not in out  # the whole doc was the duplicated span
    # PRQL pipeline step
    df = compile_prql(
        "from documents\ntake 20\nremove_duplicated_sentences", catalog
    )
    assert set(df.columns) == {
        "doc_id", "text_cleaned", "n_sentences",
        "n_removed_sentences", "removed_fraction",
    }


def test_dedup_spans_max_spans_guard(spark):
    """Reassembly OOM guard: a planted mega-doc (10k one-line spans)
    truncates to max_spans lines with the flag set; normal docs pass
    through unflagged with identical text; the winner a truncated
    span would have claimed falls to the surviving occurrence."""
    from pyspark.sql import Row

    from prql_spark.operators.dedup import dedup_lines

    mega = "\n".join(f"mega line number {i} of the adversarial doc"
                     for i in range(10_000))
    rows = [
        Row(doc_id=1, text=mega),
        Row(doc_id=2, text="a normal line\nanother normal line"),
        # shares its line with a TRUNCATED part of doc 1 — the winner
        # (doc 1's occurrence) was cut, so doc 3 keeps its copy
        Row(doc_id=3, text="mega line number 9999 of the adversarial doc"),
    ]
    out = {r.doc_id: r for r in dedup_lines(
        spark.createDataFrame(rows), max_spans=100
    ).collect()}
    assert out[1].n_lines_kept == 100 and out[1].spans_truncated
    assert out[2].text_deduped == rows[1].text
    assert not out[2].spans_truncated
    assert out[3].n_lines_kept == 1  # its duplicate was truncated away
    # default path: no guard, no flag column, full text survives
    full = {r.doc_id: r for r in dedup_lines(
        spark.createDataFrame(rows)
    ).collect()}
    assert "spans_truncated" not in full[1].asDict()
    assert full[1].n_lines_kept == 10_000


def test_remove_duplicated_windows_planted(spark, catalog):
    """Duplicated-window REMOVAL (Lee et al. ExactSubstr step): the
    shared 8-word run is cut from BOTH docs (all occurrences go,
    including the first — boilerplate has no canonical copy), unique
    text survives byte-exactly with original case, a short doc
    duplicated corpus-wide is removed outright (drops from output),
    and overlapping marked windows merge per word. PRQL-callable."""
    from pyspark.sql import Row

    from prql_spark import compile_prql
    from prql_spark.operators.dedup import remove_duplicated_windows

    shared = "one two three four five six seven eight"  # 8 words
    rows = [
        Row(doc_id=1, text=f"Alpha b c d e f g h i j {shared}"),
        Row(doc_id=2, text=f"k l m n o p q r s t {shared}"),
        Row(doc_id=3, text="totally unique words here nothing repeats"),
        Row(doc_id=4, text="short dup"),
        Row(doc_id=5, text="short dup"),
        # 9 shared words → two overlapping marked windows (starts 10
        # and 11) whose coverage merges to one 9-word cut
        Row(doc_id=6, text=f"u v w x y z aa bb cc dd {shared} nine"),
        Row(doc_id=7, text=f"ee ff gg hh ii jj kk ll mm nn {shared} nine"),
    ]
    out = {r.doc_id: r for r in remove_duplicated_windows(
        spark.createDataFrame(rows), n=8
    ).collect()}
    # docs 1/2: only the final shared window is marked → its 8 words
    # cut from both; the unique prefix survives with case intact
    assert out[1].text_cleaned == "Alpha b c d e f g h i j"
    assert out[1].n_words == 18 and out[1].n_removed_words == 8
    assert out[2].text_cleaned == "k l m n o p q r s t"
    assert out[3].text_cleaned == rows[2].text
    assert out[3].n_removed_words == 0
    # short dup docs: whole-text window duplicated → fully removed →
    # rows drop from the output
    assert 4 not in out and 5 not in out
    # overlapping windows: "shared + nine" (9 words) marked twice at
    # offsets 10 and 11 in doc 6 — the union removes all 9 words once
    assert out[6].text_cleaned == "u v w x y z aa bb cc dd"
    assert out[6].n_removed_words == 9
    assert out[6].removed_fraction == round(9 / 19, 6)
    assert out[7].n_removed_words == 9
    # PRQL pipeline step
    df = compile_prql(
        "from documents\ntake 20\nremove_duplicated_windows", catalog
    )
    assert set(df.columns) == {
        "doc_id", "text_cleaned", "n_words", "n_removed_words",
        "removed_fraction",
    }


def _model_remove_windows(texts, n=8, min_count=2):
    """Pure-Python model of remove_duplicated_windows (the oracle
    for the randomized cross-check below)."""
    split = {i: [w for w in t.strip().split()] for i, t in texts.items()}
    low = {i: [w.lower() for w in ws] for i, ws in split.items()}
    grams = {}
    for i, lw in low.items():
        m = len(lw)
        starts = [0] if m < n else range(m - n + 1)
        for s in starts:
            g = " ".join(lw if m < n else lw[s : s + n])
            if g:
                grams.setdefault(g, []).append((i, s))
    out = {}
    for i, ws in split.items():
        m = len(ws)
        lw = low[i]
        covered = set()
        starts = [0] if m < n else range(m - n + 1)
        for s in starts:
            g = " ".join(lw if m < n else lw[s : s + n])
            if g and len(grams[g]) >= min_count:
                covered.update(range(s, s + n))
        kept = [w for j, w in enumerate(ws) if j not in covered and w]
        if kept:
            out[i] = (" ".join(kept), m, m - len(kept))
    return out


def test_remove_duplicated_windows_randomized(spark):
    """Randomized corpora from a tiny vocabulary (forcing heavy
    window collisions) cross-checked against a pure-Python model —
    coverage far beyond the planted cases: overlapping marked
    windows, whole-doc wipeouts, short docs, case folding."""
    import random

    from pyspark.sql import Row

    from prql_spark.operators.dedup import remove_duplicated_windows

    rng = random.Random(61)
    vocab = ["Alpha", "beta", "Gamma", "delta", "x1", "y2"]
    for trial in range(8):
        n = rng.choice([2, 3, 5])
        texts = {
            i: " ".join(
                rng.choice(vocab)
                for _ in range(rng.randint(1, 18))
            )
            for i in range(rng.randint(2, 9))
        }
        want = _model_remove_windows(texts, n=n)
        rows = [Row(doc_id=i, text=t) for i, t in texts.items()]
        got = {
            r.doc_id: (r.text_cleaned, r.n_words, r.n_removed_words)
            for r in remove_duplicated_windows(
                spark.createDataFrame(rows), n=n
            ).collect()
        }
        assert got == want, (trial, n, texts)


def test_remove_duplicated_sentences_randomized(spark):
    """Randomized sentence corpora cross-checked against a
    pure-Python model replicating the boundary regex exactly —
    pins segmentation + normalization + window marking end-to-end."""
    import random
    import re

    from pyspark.sql import Row

    from prql_spark.operators.dedup import remove_duplicated_sentences

    def model(texts, n, min_count=2):
        def sents(t):
            marked = re.sub(r"([.!?])[ \t]+", "\\1\n", t)
            return re.split(r"\n+", marked)

        def key(s):
            return re.sub(r"\s+", " ", s).strip().lower()

        raw = {i: sents(t) for i, t in texts.items()}
        keys = {i: [key(s) for s in sa] for i, sa in raw.items()}
        wins = {}
        for i, sk in keys.items():
            m = len(sk)
            starts = [0] if m < n else range(m - n + 1)
            for s in starts:
                w = " ".join(sk if m < n else sk[s : s + n])
                wins.setdefault(w, []).append((i, s))
        out = {}
        for i, sa in raw.items():
            sk = keys[i]
            m_raw = len(sk)
            covered = set()
            starts = [0] if m_raw < n else range(m_raw - n + 1)
            for s in starts:
                w = " ".join(sk if m_raw < n else sk[s : s + n])
                if len(wins[w]) >= min_count:
                    covered.update(range(s, s + n))
            kept = [
                s0 for j, s0 in enumerate(sa)
                if j not in covered and s0.strip()
            ]
            m = sum(1 for s0 in sa if s0.strip())
            if kept:
                out[i] = (" ".join(kept), m, m - len(kept))
        return out

    rng = random.Random(47)
    phrases = [
        "the fox runs.", "An owl rests!", "who is there?",
        "rain falls.", "THE FOX RUNS.",  # case-collides with [0]
    ]
    for trial in range(6):
        n = rng.choice([2, 3])
        texts = {
            i: " ".join(
                rng.choice(phrases)
                for _ in range(rng.randint(1, 7))
            )
            for i in range(rng.randint(2, 7))
        }
        want = model(texts, n)
        rows = [Row(doc_id=i, text=t) for i, t in texts.items()]
        got = {
            r.doc_id: (
                r.text_cleaned, r.n_sentences, r.n_removed_sentences
            )
            for r in remove_duplicated_sentences(
                spark.createDataFrame(rows), n=n
            ).collect()
        }
        assert got == want, (trial, n, texts)


def test_image_ahash_and_near_dups(spark):
    """Perceptual average-hash through the REAL netpbm codec: a
    2-pixel nudge of the gradient lands at Hamming 1 of the
    original (and is the ONLY pair at max_hamming=8), undecodables
    get NULL hash + ok=false, and the default sha256-fake codec
    exercises the identical plumbing (decodable payloads hash, all
    64-bit values in signed range)."""
    import numpy as np
    from prql_spark.operators import multimodal as mm

    base = mm.netpbm_planted_payloads()
    grad = np.zeros((6, 9, 3), dtype=np.uint8)
    grad[:, :, 0] = np.arange(9, dtype=np.uint8) * 28
    grad[:, :, 1] = 77
    grad[:, :, 2] = np.arange(6, dtype=np.uint8)[:, None] * 40
    g2 = grad.copy()
    g2[0, 0] = [10, 70, 3]
    g2[5, 8] = [250, 80, 200]
    rows = [(i, bytearray(p), t) for i, p, t in base] + [
        (6, bytearray(b"P6\n9 6\n255\n" + g2.tobytes()),
         "image/x-portable-pixmap"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    ah = {r.media_id: r for r in mm.image_ahash(
        media, mm.NetpbmCodec()
    ).collect()}
    assert ah[1].ok and ah[6].ok
    assert not ah[4].ok and ah[4].ahash is None
    assert not ah[5].ok and ah[5].ahash is None
    assert bin(ah[1].ahash ^ ah[6].ahash).count("1") == 1
    pairs = mm.image_near_dups(
        media, max_hamming=8, codec=mm.NetpbmCodec()
    ).collect()
    assert [(p.media_id_a, p.media_id_b, p.hamming) for p in pairs] \
        == [(1, 6, 1)]
    # fake-codec plumbing: every payload hashes deterministically
    fk = mm.image_ahash(media).collect()
    assert all(r.ok and r.ahash is not None for r in fk)
    again = mm.image_ahash(media).collect()
    assert sorted((r.media_id, r.ahash) for r in fk) == \
        sorted((r.media_id, r.ahash) for r in again)


def test_video_near_dups_planted(spark):
    """Frame-hash video near-dup: a trimmed copy shares exactly 5 of
    6 frame hashes (one pair, correct count), unrelated footage
    pairs with nothing, the undecodable payload contributes no
    rows, and min_shared_frames gates the pair out when raised past
    the overlap."""
    from prql_spark.operators import multimodal as mm

    rows = [(i, bytearray(p), t)
            for i, p, t in mm.y4m_ahash_planted_payloads()]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    fh = mm.video_frame_hashes(media, mm.Y4mCodec()).collect()
    assert {r.media_id for r in fh} == {1, 2, 3}  # 4 undecodable
    assert sum(1 for r in fh if r.media_id == 1) == 6
    pairs = mm.video_near_dups(
        media, min_shared_frames=2, codec=mm.Y4mCodec()
    ).collect()
    assert [(p.media_id_a, p.media_id_b, p.shared_frames)
            for p in pairs] == [(1, 2, 5)]
    assert mm.video_near_dups(
        media, min_shared_frames=6, codec=mm.Y4mCodec()
    ).count() == 0
    # fake-codec plumbing on synthesized media: deterministic rows
    from prql_spark.sources.catalog import Catalog

    from .conftest import SF_DIR

    m2 = mm.synthesize_media(Catalog(spark, SF_DIR).load("documents"))
    a = mm.video_frame_hashes(m2).count()
    assert a > 0 and a == mm.video_frame_hashes(m2).count()


def test_audio_fingerprint_and_near_dups(spark):
    """Energy-delta audio fingerprint: exact volume invariance (the
    half-volume copy is bit-identical and pairs at Hamming 0), a
    differently-modulated signal is far away, garbage gets NULL +
    ok=false, and the fake codec exercises the plumbing."""
    from prql_spark.operators import multimodal as mm

    rows = [(i, bytearray(p), t)
            for i, p, t in mm.wav_fingerprint_planted_payloads()]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    fp = {r.media_id: r for r in mm.audio_fingerprint(
        media, mm.WavCodec()
    ).collect()}
    assert fp[1].afp == fp[2].afp and fp[1].ok
    assert bin(fp[1].afp ^ fp[3].afp).count("1") > 20
    assert not fp[4].ok and fp[4].afp is None
    pairs = mm.audio_near_dups(
        media, max_hamming=0, codec=mm.WavCodec()
    ).collect()
    assert [(p.media_id_a, p.media_id_b, p.hamming) for p in pairs] \
        == [(1, 2, 0)]
    fk = mm.audio_fingerprint(media).collect()
    assert all(r.ok for r in fk)


def test_dedup_spans_randomized(spark):
    """Randomized model cross-check for the paragraph/line span
    dedup family (planted + oracle cases exist; this sweeps the
    winner-selection space): first occurrence by (doc_id, index)
    wins corpus-wide, losers vanish, short spans under min_chars are
    exempt, whitespace/case variants share a winner, and fully-
    deduped docs drop."""
    import random
    import re

    from pyspark.sql import Row

    from prql_spark.operators.dedup import dedup_lines

    def model(texts, min_chars):
        spans = []  # (key, doc, idx, raw)
        for i, t in sorted(texts.items()):
            for idx, raw in enumerate(re.split(r"\n+", t)):
                if raw.strip():
                    spans.append((i, idx, raw))
        winners = {}
        for i, idx, raw in spans:
            k = re.sub(r"\s+", " ", raw).strip().lower()
            if len(k) >= min_chars and k not in winners:
                winners[k] = (i, idx)
        out = {}
        for i, t in texts.items():
            kept = []
            for idx, raw in enumerate(re.split(r"\n+", t)):
                if not raw.strip():
                    continue
                k = re.sub(r"\s+", " ", raw).strip().lower()
                if len(k) < min_chars or winners.get(k) == (i, idx):
                    kept.append(raw)
            if kept:
                out[i] = ("\n".join(kept), len(kept))
        return out

    rng = random.Random(83)
    lines = [
        "cookie notice applies", "MAIN story content here",
        "nav", "main  story content HERE", "footer links block",
    ]
    for trial in range(6):
        mc = rng.choice([0, 5, 12])
        texts = {
            i: "\n".join(
                rng.choice(lines)
                for _ in range(rng.randint(1, 6))
            )
            for i in range(rng.randint(2, 6))
        }
        want = model(texts, mc)
        rows = [Row(doc_id=i, text=t) for i, t in texts.items()]
        got = {
            r.doc_id: (r.text_deduped, r.n_lines_kept)
            for r in dedup_lines(
                spark.createDataFrame(rows), min_chars=mc
            ).collect()
        }
        assert got == want, (trial, mc, texts)


def test_multimodal_prql_chain(spark, catalog):
    """The multimodal path is PRQL-composable end to end: documents
    → media rows → perceptual hash, with the hash column usable by
    downstream PRQL transforms (filter/sort/take)."""
    from prql_spark import compile_prql

    df = compile_prql(
        "from documents\ntake 10\nsynthesize_media\n"
        "image_ahash\nfilter ok == true\nsort [media_id]\ntake 5",
        catalog,
    )
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.ahash is not None for r in rows)
    fp = compile_prql(
        "from documents\ntake 10\nsynthesize_media\naudio_fingerprint",
        catalog,
    )
    assert set(fp.columns) == {"media_id", "media_type", "afp", "ok"}


# ---- true BPE tokenizer (round 7) ----------------------------------


def test_bpe_word_semantics():
    """The pure merge loop: rank priority, multi-level chains, and
    the left-to-right non-overlap rule (GPT-2 encoder semantics)."""
    from prql_spark.operators.bpe import PLANTED_MERGES, bpe_word

    ranks = {m: i for i, m in enumerate(PLANTED_MERGES)}
    assert bpe_word("table", ranks) == ["table"]  # 4-level chain
    assert bpe_word("scan", ranks) == ["scan"]
    # rank priority: w+i (rank 15) fires before i+n (16) in "window";
    # in "join" only i+n applies
    assert bpe_word("window", ranks) == ["wi", "n", "d", "ow"]
    assert bpe_word("join", ranks) == ["j", "o", "in"]
    # left-to-right non-overlapping within an iteration
    assert bpe_word("ggg", ranks) == ["gg", "g"]
    assert bpe_word("gggg", ranks) == ["gg", "gg"]
    assert bpe_word("", ranks) == []
    assert bpe_word("x", ranks) == ["x"]


def test_bpe_token_stats_matches_pure_python(planted_docs):
    """Engine (JVM pretokenize + Arrow UDF merge loop) vs a pure
    Python model over the same regex — counts and max-token-length
    both, including rows with no pre-tokens."""
    import re

    from pyspark.sql import Row

    from prql_spark.operators import text as t
    from prql_spark.operators.bpe import (
        PLANTED_MERGES,
        bpe_token_stats,
        bpe_word,
    )

    spark = planted_docs.sparkSession
    docs = planted_docs.union(
        spark.createDataFrame([Row(doc_id=500, text="   ")])
    )
    ranks = {m: i for i, m in enumerate(PLANTED_MERGES)}
    pre = re.compile(t.BPE_ISH)
    got = {
        r.doc_id: (r.n_pretokens, r.bpe_n_tokens, r.bpe_max_token_len)
        for r in bpe_token_stats(docs).collect()
    }
    for row in docs.collect():
        pts = pre.findall(row.text)
        toks = [tok for pt in pts for tok in bpe_word(pt, ranks)]
        want = (
            len(pts),
            len(toks),
            max((len(tk) for tk in toks), default=0),
        )
        assert got[row.doc_id] == want, row.doc_id


def test_bpe_encode_arrays(spark):
    from pyspark.sql import Row

    from prql_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="table scan, fast row!")]
    )
    [r] = bpe_encode(docs).collect()
    assert r.bpe_tokens == ["table", "scan", ",", "fast", "row", "!"]


def test_pack_sequences_bpe_budget(spark):
    """n_tokens_col: packing budgets by the provided BPE counts, not
    the whitespace proxy — 'table table' is 2 ws tokens but 2 BPE
    tokens of 5 chars; a merge-free doc costs per-char."""
    from pyspark.sql import Row

    from prql_spark.operators import text as t
    from prql_spark.operators.bpe import bpe_token_stats

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="table xyz") for i in range(8)]
    )
    with_counts = bpe_token_stats(docs)
    out = t.pack_sequences(
        with_counts,
        target_tokens=8,
        n_shards=1,
        n_tokens_col="bpe_n_tokens",
    ).collect()
    # each doc = 1 (table) + 3 (x y z) = 4 BPE tokens -> 2 docs/chunk
    assert all(r.n_tokens == 4 for r in out)
    from collections import Counter

    sizes = Counter(r.chunk_id for r in out)
    assert all(v == 2 for v in sizes.values())


def test_pipeline_bpe_flag(spark):
    """prepare_training_corpus(bpe_merges=...) packs by true BPE
    counts: n_tokens equals the merge-loop count of each surviving
    doc's cleaned text."""
    import re

    from pyspark.sql import Row

    from prql_spark.operators import text as t
    from prql_spark.operators.bpe import PLANTED_MERGES, bpe_word
    from prql_spark.pipelines import prepare_training_corpus

    base = (  # >= 50 words (the Gopher word-count floor)
        "the quick brown fox jumps over the lazy dog near the wide "
        "river bank while morning light settles over the quiet "
        "village and birds call across the open field beyond where "
        "tall grass bends under soft wind and distant hills hold "
        "late shadows through the slow turning hours of early "
        "autumn days"
    )
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{base} variant {i}") for i in range(30)]
    )
    result, _ = prepare_training_corpus(
        docs,
        min_quality=0.0,
        langs=("en",),
        bpe_merges=list(PLANTED_MERGES),
    )
    rows = result.collect()
    assert rows, "pipeline dropped everything"
    ranks = {m: i for i, m in enumerate(PLANTED_MERGES)}
    pre = re.compile(t.BPE_ISH)
    for r in rows:
        want = sum(
            len(bpe_word(pt, ranks)) for pt in pre.findall(r.text_clean)
        )
        assert r.n_tokens == want


# ------------------------------------------------------------------
# textnorm: normalization + large-blocklist URL filtering (SURVEY
# #117/#118). Values are driver-oracled; these pin edge behavior and
# the no-shuffle plan contract.
# ------------------------------------------------------------------


class TestNormalizeText:
    def test_mojibake_and_typography(self, spark):
        from prql_spark.operators import textnorm

        dirty = (
            "Itâ€™s  a “test”​ of "
            "Ã© stuff\r\n\n\n\nâ€¦ end\x07"
        )
        df = spark.createDataFrame(
            [Row(doc_id=1, text=dirty), Row(doc_id=2, text="clean")]
        )
        out = {
            r.doc_id: r
            for r in textnorm.normalize_text(df).collect()
        }
        assert out[1].text == 'it\'s a "test" of é stuff\n\n... end'.replace(
            "it", "It", 1
        )
        assert out[1].text_was_dirty
        assert out[2].text == "clean" and not out[2].text_was_dirty

    def test_longest_mojibake_rule_wins(self, spark):
        # "â€œ" must repair as ONE left double quote, not fall
        # through to a shorter â€-prefixed rule + stray byte
        from prql_spark.operators import textnorm

        df = spark.createDataFrame(
            [Row(doc_id=1, text="x â€œqâ€\x9d y")]
        )
        (r,) = textnorm.normalize_text(df).collect()
        assert r.text == 'x "q" y'

    def test_c1_debris_stripped_null_preserved(self, spark):
        from prql_spark.operators import textnorm

        df = spark.createDataFrame(
            [Row(doc_id=1, text="a\x92b"), Row(doc_id=2, text=None)],
            "doc_id int, text string",
        )
        out = {r.doc_id: r for r in textnorm.normalize_text(df).collect()}
        assert out[1].text == "ab"
        assert out[2].text is None
        # NULL text flags False, not NULL — a boolean filter on the
        # flag must not silently drop NULL-text rows
        assert out[2].text_was_dirty is False

    def test_narrow_plan_no_shuffle_no_python(self, spark):
        from prql_spark.operators import textnorm

        df = spark.createDataFrame([Row(doc_id=1, text="x")])
        plan = (
            textnorm.normalize_text(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestUrlBlocklist:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        urls = spark.createDataFrame(
            [
                Row(doc_id=1, url="https://ads.tracker.example.com/x/y"),
                Row(doc_id=2, url="http://example.com/"),
                Row(doc_id=3, url="https://shop.good.org/a"),
                Row(doc_id=4, url="https://sub.bad.co.uk/q?x=1"),
                Row(doc_id=5, url="not a url"),
            ]
        )
        bl = spark.createDataFrame(
            [
                Row(domain="example.com"),
                Row(domain="tracker.example.com"),
                Row(domain="BAD.co.uk"),  # case-folds
                Row(domain="bad.co.uk"),  # duplicate after folding
            ]
        )
        return urls, bl

    def test_most_specific_match_and_values(self, spark, frames):
        from prql_spark.operators import textnorm

        urls, bl = frames
        got = {
            r.doc_id: r
            for r in textnorm.url_blocklist(urls, bl).collect()
        }
        assert got[1].blocked_domain == "tracker.example.com"
        assert got[2].blocked_domain == "example.com"
        assert got[3].blocked_domain is None and not got[3].url_blocked
        assert got[4].blocked_domain == "bad.co.uk"
        assert got[5].blocked_domain is None  # unparseable host
        # duplicated blocklist entries must NOT duplicate corpus rows
        assert len(got) == 5

    def test_corpus_side_never_shuffles(self, spark, frames):
        from prql_spark.operators import textnorm

        urls, bl = frames
        plan = (
            textnorm.url_blocklist(urls, bl, validate=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # broadcast joins only — any hashpartitioning exchange must
        # sit on the (tiny) blocklist-distinct side, i.e. beneath a
        # BroadcastExchange, never on the probe side
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") == 5
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln:
                assert "domain#" in ln  # blocklist column, not corpus

    def test_validate_rejects_out_of_range_entries(self, spark):
        from prql_spark.operators import textnorm

        urls = spark.createDataFrame([Row(doc_id=1, url="https://a.b/")])
        bad = spark.createDataFrame(
            [Row(domain="tld"), Row(domain="a.b.c.d.e.f.g")]
        )
        with pytest.raises(ValueError, match="2 or > 6"):
            textnorm.url_blocklist(urls, bad)


# ------------------------------------------------------------------
# round-8 operators: frequent-items sketch, deterministic training
# shuffle
# ------------------------------------------------------------------


class TestTopItems:
    def test_exact_in_no_eviction_regime(self, spark):
        from prql_spark.operators import sketches

        df = spark.createDataFrame(
            [(i, str(i % 7)) for i in range(700)], "id long, v string"
        )
        rows = sketches.top_items(df, "v", k=10).collect()
        assert len(rows) == 7
        assert all(r.cnt == 100 for r in rows)
        # deterministic tie order: item ascending at equal counts
        assert [r.item for r in rows] == sorted(str(i) for i in range(7))

    def test_heavy_hitters_survive_truncation(self, spark):
        from prql_spark.operators import sketches

        # 3 heavy items (10k each) + 5k singletons; k=3 must surface
        # exactly the heavy ones with exact counts (space-saving
        # guarantee: freq > n/max_tracked is never evicted)
        data = [(f"hot{i % 3}",) for i in range(30000)] + [
            (f"cold{i}",) for i in range(5000)
        ]
        df = spark.createDataFrame(data, "v string").repartition(8)
        rows = sketches.top_items(df, "v", k=3, max_tracked=10000).collect()
        assert {r.item for r in rows} == {"hot0", "hot1", "hot2"}
        assert all(r.cnt == 10000 for r in rows)

    def test_partial_aggregation_plan(self, spark):
        from prql_spark.operators import sketches

        df = spark.createDataFrame([("a",), ("b",)], "v string")
        plan = (
            sketches.top_items(df, "v")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # sketch merges map-side: two HashAggregate phases around one
        # exchange, no raw-value shuffle beyond the sketch rows
        assert plan.count("ObjectHashAggregate") >= 2 or plan.count(
            "HashAggregate"
        ) >= 2


class TestShuffleForTraining:
    def test_reproducible_and_seed_sensitive(self, spark):
        from prql_spark.operators import splits

        df = spark.range(2000).withColumn("v", F.expr("id * 3"))
        a1 = [r.id for r in splits.shuffle_for_training(
            df, seed=1, key_cols=["id"], partitions=4).collect()]
        a2 = [r.id for r in splits.shuffle_for_training(
            df, seed=1, key_cols=["id"], partitions=4).collect()]
        b = [r.id for r in splits.shuffle_for_training(
            df, seed=2, key_cols=["id"], partitions=4).collect()]
        assert a1 == a2          # same seed -> identical order
        assert a1 != b           # different seed -> re-dealt
        assert sorted(a1) == sorted(b) == list(range(2000))

    def test_order_is_partition_count_invariant(self, spark):
        from prql_spark.operators import splits

        df = spark.range(3000)
        a = [r.id for r in splits.shuffle_for_training(
            df, seed=7, key_cols=["id"], partitions=3).collect()]
        b = [r.id for r in splits.shuffle_for_training(
            df, seed=7, key_cols=["id"], partitions=13).collect()]
        # collect() concatenates partitions in order; range
        # partitioning makes the global order independent of the
        # output partition count
        assert a == b

    def test_total_order_across_partitions(self, spark):
        from prql_spark.operators import splits

        df = spark.range(5000)
        out = splits.shuffle_for_training(
            df, seed=3, key_cols=["id"], partitions=8, keep_key=True
        )
        parts = out.select("__shuffle_key").rdd.glom().collect()
        flat = [k["__shuffle_key"] for p in parts for k in p]
        assert flat == sorted(flat)  # keys globally ascending

    def test_single_exchange_no_global_sort(self, spark):
        from prql_spark.operators import splits

        df = spark.range(100)
        plan = (
            splits.shuffle_for_training(df, seed=1, key_cols=["id"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1
        assert "rangepartitioning" in plan.lower()


def test_round8_transforms_prql_callable(spark, catalog):
    """normalize_text / top_items / shuffle_for_training compose as
    PRQL pipeline steps (named-arg mechanism, compiler.py)."""
    from prql_spark import compile_prql

    out = compile_prql(
        "from documents\ntake 20\nnormalize_text\n"
        "select [doc_id, text, text_was_dirty]",
        catalog,
    )
    assert out.columns == ["doc_id", "text", "text_was_dirty"]
    assert out.count() == 20

    out = compile_prql("from documents\ntop_items col:lang k:10", catalog)
    assert out.columns == ["item", "cnt"]
    rows = out.collect()
    assert rows == sorted(rows, key=lambda r: (-r.cnt, r.item))

    out = compile_prql(
        "from documents\nshuffle_for_training seed:3 "
        "key_cols:[doc_id] partitions:4",
        catalog,
    )
    assert out.rdd.getNumPartitions() == 4
    assert "__shuffle_key" not in out.columns


def test_train_bpe_merges_matches_reference(spark):
    """Training matches a pure-Python Sennrich reference on the same
    word-freq dict, and the trained table drives the encoder: the
    corpus's dominant digraphs merge first, deterministically."""
    from collections import Counter

    from prql_spark.operators import bpe

    corpus = ["the theme thesis " * 5, "then there the " * 3, "zq"]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges = bpe.train_bpe_merges(df, n_merges=4, min_freq=1)

    # pure-Python reference over the same dictionary
    words = Counter()
    import re

    for t in corpus:
        for w in re.findall(r"\S+", t):
            words[w] += 1
    vocab = {tuple(w): c for w, c in words.items()}
    want = []
    for _ in range(4):
        pairs = Counter()
        for syms, c in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] += c
        best_n = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == best_n)
        want.append(best)
        f, s = best
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == f and syms[i + 1] == s:
                    out.append(f + s)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    assert merges == want
    # 'th' and 'he' tie (same words carry both): the deterministic
    # lexicographic tiebreak picks ('h','e'), then 't'+'he'
    assert merges[0] == ("h", "e")
    assert ("t", "he") in merges

    # the trained table plugs straight into the encoder and compresses
    out = bpe.bpe_token_stats(df, merges=merges).collect()
    base = bpe.bpe_token_stats(df, merges=[]).collect()
    assert all(
        o.bpe_n_tokens < b.bpe_n_tokens
        for o, b in zip(out, base)
        if b.n_pretokens > 2
    )


def test_train_bpe_merges_deterministic_and_bounded(spark):
    from prql_spark.operators import bpe

    df = spark.createDataFrame(
        [(f"alpha beta gamma delta word{i % 7}",) for i in range(200)],
        "text string",
    )
    a = bpe.train_bpe_merges(df, n_merges=10)
    b = bpe.train_bpe_merges(df, n_merges=10)
    assert a == b and len(a) == 10
    # min_freq prunes singletons out of the dictionary entirely
    tiny = bpe.train_bpe_merges(
        spark.createDataFrame([("unique words only once",)], "text string"),
        n_merges=5, min_freq=2,
    )
    assert tiny == []


def test_top_items_by_group(spark):
    from prql_spark.operators import sketches

    rows = [("en", "the")] * 30 + [("en", "cat")] * 10 + \
           [("de", "der")] * 20 + [("de", "cat")] * 5
    df = spark.createDataFrame(rows, "lang string, tok string").repartition(6)
    out = sketches.top_items_by_group(df, "tok", "lang", k=2).collect()
    got = [(r.lang, r.item, r.cnt, r.rank) for r in out]
    assert got == [
        ("de", "der", 20, 1), ("de", "cat", 5, 2),
        ("en", "the", 30, 1), ("en", "cat", 10, 2),
    ]


class TestImagePhash:
    def _media(self, spark, imgs):
        return spark.createDataFrame(
            [(i, bytearray(p), "image/x-portable-pixmap")
             for i, p in enumerate(imgs)],
            "media_id long, media binary, media_type string",
        )

    @staticmethod
    def _ppm(arr):
        import numpy as np

        a = np.asarray(arr, dtype=np.uint8)
        h, w, _ = a.shape
        return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()

    def test_uniform_brightness_shift_is_invariant(self, spark):
        """DC removal makes pHash exactly invariant to uniform luma
        shifts — the whole point of hashing frequency structure."""
        import numpy as np

        from prql_spark.operators import multimodal

        rng = np.random.RandomState(7)
        base = rng.randint(0, 200, (24, 24, 3))
        shifted = np.clip(base + 40, 0, 255)
        df = self._media(spark, [self._ppm(base), self._ppm(shifted)])
        h = {
            r.media_id: r.phash
            for r in multimodal.image_phash(
                df, multimodal.NetpbmCodec()
            ).collect()
        }
        assert bin(h[0] ^ h[1]).count("1") <= 2

    def test_illumination_gradient_robustness_beats_ahash(self, spark):
        """An illumination gradient (re-lit photo) misclassifies a
        band of pixels against ahash's single global mean but only
        perturbs pHash's lowest horizontal-frequency coefficient —
        the documented advantage, asserted head-to-head on the same
        payloads (probed at 6 seeds: pHash 0-4 bits vs ahash 8-11)."""
        import numpy as np

        from prql_spark.operators import multimodal

        rng = np.random.RandomState(3)
        base = rng.randint(30, 200, (32, 32, 3)).astype(np.int16)
        grad = np.linspace(0, 55, 32, dtype=np.int16)[None, :, None]
        lit = np.clip(base + grad, 0, 255)
        df = self._media(
            spark, [self._ppm(base.astype(np.uint8)),
                    self._ppm(lit.astype(np.uint8))]
        )
        codec = multimodal.NetpbmCodec()
        ph = {r.media_id: r.phash
              for r in multimodal.image_phash(df, codec).collect()}
        ah = {r.media_id: r.ahash
              for r in multimodal.image_ahash(df, codec).collect()}
        d_p = bin(ph[0] ^ ph[1]).count("1")
        d_a = bin(ah[0] ^ ah[1]).count("1")
        assert d_p < d_a
        assert d_p <= 6

    def test_unrelated_images_differ_and_undecodable_null(self, spark):
        import numpy as np

        from prql_spark.operators import multimodal

        rng = np.random.RandomState(11)
        a = rng.randint(0, 255, (16, 16, 3)).astype(np.uint8)
        b = rng.randint(0, 255, (16, 16, 3)).astype(np.uint8)
        df = self._media(spark, [self._ppm(a), self._ppm(b), b"garbage"])
        out = {r.media_id: r for r in multimodal.image_phash(
            df, multimodal.NetpbmCodec()).collect()}
        assert bin(out[0].phash ^ out[1].phash).count("1") >= 15
        assert out[2].phash is None and out[2].ok is False

    def test_near_dup_pairing(self, spark):
        import numpy as np

        from prql_spark.operators import multimodal

        rng = np.random.RandomState(5)
        base = rng.randint(0, 200, (24, 24, 3))
        shifted = np.clip(base + 30, 0, 255)
        other = rng.randint(0, 255, (24, 24, 3))
        df = self._media(spark, [
            self._ppm(base), self._ppm(shifted),
            self._ppm(other.astype(np.uint8)),
        ])
        pairs = multimodal.image_near_dups_phash(
            df, max_hamming=6, codec=multimodal.NetpbmCodec()
        ).collect()
        assert [(p.media_id_a, p.media_id_b) for p in pairs] == [(0, 1)]

    def test_degenerate_spectrum_hash_is_host_independent(self, spark):
        """Round-9 regression: a flat-fill image's DCT block is ~50
        of 63 TRUE ZEROS, and before the 1e-6 rounding its
        near-median bits were decided by ~1e-17 BLAS kernel noise —
        the same payload hashed 12-16 bits apart under two BLAS
        environments (driver-green r8, red r9, identical code). The
        operator now rounds before thresholding; this pins the
        contract by recomputing the hash driver-side with a
        DIFFERENT matmul association order (a different rounding
        path, the same class of perturbation a kernel change makes)
        and requiring bit-exact equality."""
        import numpy as np

        from prql_spark.operators import multimodal

        flat = np.zeros((6, 9, 3), dtype=np.uint8)
        flat[:, :, 0] = np.arange(9, dtype=np.uint8) * 28
        flat[:, :, 1] = 77
        df = self._media(spark, [self._ppm(flat)])
        codec = multimodal.NetpbmCodec()
        got = multimodal.image_phash(df, codec).collect()[0].phash

        n = 32
        g = codec.luma_grid(self._ppm(flat), "image/x-portable-pixmap", n)
        k = np.arange(n)
        basis = np.cos(
            np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n)
        ) * np.sqrt(2.0 / n)
        basis[0] *= np.sqrt(0.5)
        a = np.asarray(g, dtype=np.float64).reshape(n, n)
        # deliberately different association -> different float
        # rounding in the low-order bits
        d = basis @ (a @ basis.T)
        block = np.round(d[:8, :8].flatten()[1:], 6)
        med = np.median(block)
        packed = 0
        for i, v in enumerate(block):
            if v > med:
                packed |= 1 << i
        assert packed == got
