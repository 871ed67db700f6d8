"""Round-3 additions: connected components / cluster dedup, SemDeDup,
unigram-LM scoring, incremental dedup, per-group sampling."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from prql_spark.operators import dedup, graph, similarity, splits, text


# ---------------------------------------------------------------- CC


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_connected_components_basic(spark):
    # chain, pair, chain-of-4, isolated edge — min id labels all
    e = _edges(
        spark,
        [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13), (20, 21)],
    )
    got = {
        (r.node, r.component)
        for r in graph.connected_components(e).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (5, 5), (6, 5),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_merges_via_shared_node(spark):
    # two stars sharing one leaf collapse into one component
    e = _edges(spark, [(1, 4), (2, 4), (3, 4), (4, 9), (9, 7), (9, 8)])
    comps = {
        r.node: r.component
        for r in graph.connected_components(e).collect()
    }
    assert set(comps.values()) == {1}
    assert len(comps) == 7


def test_connected_components_string_ids(spark):
    # non-numeric node ids: the decimal-sum convergence check would
    # see NULL == NULL and fake convergence on round 1 — the
    # changed-label fallback must converge CORRECTLY instead (labels
    # compare lexicographically; min reachable id still well-defined)
    e = spark.createDataFrame(
        [("url-b", "url-c"), ("url-a", "url-b"), ("url-x", "url-y")],
        "id_a string, id_b string",
    )
    comps = {
        r.node: r.component
        for r in graph.connected_components(e).collect()
    }
    assert comps == {
        "url-a": "url-a", "url-b": "url-a", "url-c": "url-a",
        "url-x": "url-x", "url-y": "url-x",
    }


def test_connected_components_max_iter_guard(spark):
    # propagate+pointer-jump roughly triples reach per round, so a
    # 60-node chain is far beyond 2 rounds; the guard must fire
    chain = [(i, i + 1) for i in range(60)]
    with pytest.raises(RuntimeError, match="no convergence"):
        graph.connected_components(
            _edges(spark, chain), max_iter=2, local_threshold=0
        )


def test_connected_components_long_chain_log_rounds(spark):
    # pointer jumping: a 40-node chain (diameter 39) must converge
    # well under 39 rounds — 8 is plenty for ~3^r reach
    chain = [(i, i + 1) for i in range(40)]
    comps = {
        r.node: r.component
        for r in graph.connected_components(
            _edges(spark, chain), max_iter=8, local_threshold=0
        ).collect()
    }
    assert set(comps.values()) == {0} and len(comps) == 41


def test_connected_components_matches_union_find(spark):
    # randomized graphs vs a plain union-find reference
    import random

    rng = random.Random(99)
    for trial in range(3):
        nodes = list(range(0, 60, 2))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(35)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        for a, b in edges:
            for x in (a, b):
                want[x] = find(x)
        # both paths must agree with the reference: the bounded
        # driver union-find (round 11, default threshold) and the
        # distributed min-propagation (local_threshold=0)
        for thr in (1_000_000, 0):
            got = {
                r.node: r.component
                for r in graph.connected_components(
                    _edges(spark, edges), local_threshold=thr
                ).collect()
            }
            assert got == want, f"trial {trial} thr={thr}"


def test_dedup_by_clusters_transitive(spark):
    # chain 1-2, 2-3: cluster semantics keep ONLY doc 1; docs outside
    # any pair survive untouched
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 7]], "doc_id long, text string"
    )
    pairs = _edges(spark, [(1, 2), (2, 3)])
    kept = sorted(
        r.doc_id for r in graph.dedup_by_clusters(docs, pairs).collect()
    )
    assert kept == [1, 7]


def test_dedup_clusters_labels(spark):
    pairs = _edges(spark, [(4, 9), (9, 2)])
    got = {
        (r.doc_id, r.cluster_id)
        for r in graph.dedup_clusters(pairs).collect()
    }
    assert got == {(2, 2), (4, 2), (9, 2)}


# ---------------------------------------------------------- semdedup


@pytest.fixture(scope="module")
def planted_embs(spark):
    import random

    rng = random.Random(7)
    rows = []
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(6)]
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # 3 exact/near copies of vector 0 under new ids
    for j, eps in enumerate([0.0, 1e-4, 2e-4]):
        rows.append((100 + j, [float(x + eps) for x in base[0]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_drops_planted_copies(planted_embs):
    cents = similarity.ivf_train_centroids(
        planted_embs, dim=8, n_lists=3, iters=2
    )
    out = similarity.semdedup(
        planted_embs, dim=8, centroids=cents, threshold=0.99
    )
    kept = sorted(r.vec_id for r in out.collect())
    # the three copies of vec 0 (ids 100..102) all fall in vec 0's
    # cluster and lose to it; every distinct vector survives
    assert 0 in kept
    assert not any(v >= 100 for v in kept)
    assert len(kept) == 6


def test_semdedup_pairs_within_cluster_only(planted_embs):
    cents = similarity.ivf_train_centroids(
        planted_embs, dim=8, n_lists=3, iters=2
    )
    pairs = similarity.semdedup_pairs(
        planted_embs, dim=8, centroids=cents, threshold=0.99
    ).collect()
    assert all(p.id_a < p.id_b for p in pairs)
    assert all(p.cosine >= 0.99 for p in pairs)
    # planted copies appear as pairs against vec 0
    linked = {p.id_b for p in pairs if p.id_a == 0}
    assert {100, 101, 102} <= linked


# ---------------------------------------------------------- unigram


def test_unigram_vocab_and_logprob(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a zzz"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    vocab, total = text.unigram_vocab(docs, top_v=1)
    # counts: a=3, b=1, zzz=1 → total 5, top-1 vocab = [('a', 3)]
    assert vocab == [("a", 3)] and total == 5
    out = {
        r.doc_id: (r.lm_tokens, r.lm_logprob)
        for r in text.unigram_logprob(docs, vocab, total).collect()
    }
    denom = 5 + 1 + 1
    lp_a, lp_oov = math.log(4 / denom), math.log(1 / denom)
    assert out[1] == (3, round((2 * lp_a + lp_oov) / 3, 6))
    assert out[2] == (2, round((lp_a + lp_oov) / 2, 6))
    assert out[3] == (0, None)  # whitespace-only: no tokens
    assert out[4][0] is None or out[4] == (0, None) or out[4][1] is None


def test_unigram_logprob_orders_quality(spark, catalog):
    # docs made of common corpus words must outscore junk tokens
    docs = catalog.load("documents")
    vocab, total = text.unigram_vocab(docs, top_v=64)
    common = " ".join(v[0] for v in vocab[:10])
    probe = spark.createDataFrame(
        [(1, common), (2, "qqq zzzz xkcd qwerty asdf")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.lm_logprob
        for r in text.unigram_logprob(probe, vocab, total).collect()
    }
    assert out[1] > out[2]


# ------------------------------------------------------ incremental


def test_dedup_against_normalized(spark):
    ref = spark.createDataFrame(
        [(1, "Hello   world"), (2, "keep me")],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [
            (10, "  hello WORLD "),   # normalized dup of ref 1
            (11, "fresh content"),
            (12, None),               # null text: never matches
        ],
        "doc_id long, text string",
    )
    empty = ref.where("doc_id < 0")
    for bc in (False, True):
        kept = sorted(
            r.doc_id
            for r in dedup.dedup_against(inc, ref, broadcast_ref=bc).collect()
        )
        assert kept == [11, 12]
        # an empty reference keeps every row
        kept = sorted(
            r.doc_id
            for r in dedup.dedup_against(
                inc, empty, broadcast_ref=bc
            ).collect()
        )
        assert kept == [10, 11, 12]


# ------------------------------------------------- per-group sample


def test_sample_per_group_exact_k_and_deterministic(spark, catalog):
    docs = catalog.load("documents")
    s1 = splits.sample_per_group(docs, ["lang"], 7, "doc_id")
    sizes = {
        r.lang: r.n
        for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in sizes.items():
        assert n == min(7, totals[lang])
    ids1 = sorted(r.doc_id for r in s1.collect())
    ids2 = sorted(
        r.doc_id
        for r in splits.sample_per_group(docs, ["lang"], 7, "doc_id").collect()
    )
    assert ids1 == ids2
    # different salt → different (still size-k) sample
    ids3 = sorted(
        r.doc_id
        for r in splits.sample_per_group(
            docs, ["lang"], 7, "doc_id", salt="v2"
        ).collect()
    )
    assert len(ids3) == len(ids1) and ids3 != ids1


def test_star_capped_pairs_preserve_clusters(spark):
    # 30 identical docs + 30 identical different docs, cap 5: star
    # edges must yield the same components as uncapped all-pairs
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(30)]
    rows += [(100 + i, "one two three four five six seven eight") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs)
    capped = dedup.minhash_lsh_pairs(sigs, threshold=0.5, star_cap=5)
    full = dedup.minhash_lsh_pairs(sigs, threshold=0.5)
    lab_c = {
        (r.doc_id, r.cluster_id)
        for r in graph.dedup_clusters(capped).collect()
    }
    lab_f = {
        (r.doc_id, r.cluster_id)
        for r in graph.dedup_clusters(full).collect()
    }
    assert lab_c == lab_f
    assert {c for _, c in lab_c} == {0, 100}
    # and the capped pair list is O(n), not O(n^2)
    assert capped.count() < full.count()


def test_collocations_pmi(spark):
    import math

    docs = spark.createDataFrame(
        [
            (1, "new york is big"),
            (2, "new york city"),
            (3, "in new york"),
            (4, "big city life is good"),
        ],
        "doc_id long, text string",
    )
    out = text.collocations(docs, min_count=3, top_k=10).collect()
    assert [(r.w1, r.w2) for r in out] == [("new", "york")]
    # hand-computed: 15 unigrams, 11 bigrams, c(new)=c(york)=n_ab=3
    want = math.log((3 / 11) / ((3 / 15) * (3 / 15)))
    assert out[0].n_ab == 3 and out[0].pmi == round(want, 6)
    # single-word / empty docs must not break the bigram scan
    edge = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, "a b a b a b")],
        "doc_id long, text string",
    )
    rows = text.collocations(edge, min_count=2, top_k=10).collect()
    assert {(r.w1, r.w2) for r in rows} == {("a", "b"), ("b", "a")}


def test_salted_join_parity_and_spread(spark):
    from prql_spark.operators import skew

    # planted skew: one hot key carries 5000 of 5200 left rows
    left = spark.range(5000).selectExpr(
        "1 AS k", "id AS lid"
    ).unionAll(
        spark.range(200).selectExpr("CAST(id + 2 AS INT) AS k",
                                    "id + 10000 AS lid")
    )
    right = spark.range(50).selectExpr(
        "CAST(id AS INT) AS k", "concat('v', id) AS payload"
    )
    plain = left.join(right, "k").selectExpr("k", "lid", "payload")
    salted = skew.salted_join(left, right, on=["k"], salt_buckets=8)
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # left join: unmatched left rows appear exactly once, null-filled
    lkeep = spark.createDataFrame([(999, 1)], "k int, lid long")
    lj = skew.salted_join(
        lkeep.unionAll(left.limit(3)), right, on=["k"], how="left",
        salt_buckets=4,
    ).collect()
    assert sum(1 for r in lj if r.k == 999) == 1
    assert next(r.payload for r in lj if r.k == 999) is None
    # the hot key's rows really spread across salts — even when every
    # row is byte-identical (the raw-event-log worst case a
    # row-content hash would send to ONE bucket)
    dup_hot = spark.createDataFrame(
        [(1, 7)] * 2000, "k int, lid long"
    )
    l2 = dup_hot.withColumn(
        "__salt", F.expr("pmod(xxhash64(monotonically_increasing_id()), 8)")
    )
    assert l2.select("__salt").distinct().count() == 8
    # and parity holds on the duplicate-heavy frame too
    dup_out = skew.salted_join(dup_hot, right, on=["k"], salt_buckets=8)
    assert dup_out.count() == 2000
    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner/left"):
        skew.salted_join(left, right, on=["k"], how="right")
    # a shared non-key column would make the output projection
    # ambiguous — fail loudly up front, not at first column access
    rdup = spark.createDataFrame([(1, 5)], "k int, lid long")
    with _pytest.raises(ValueError, match="lid"):
        skew.salted_join(left, rdup, on=["k"])


def test_ivf_trainer_scales_to_many_lists(spark, catalog):
    # the broadcast-frame argmax assignment keeps the trainer inside
    # codegen at list counts where the inline-literal form fell out
    # (the 108s lesson); 100 lists on 500 vectors must train quickly
    # and produce a usable quantizer
    embs = catalog.load("embeddings")
    cents = similarity.ivf_train_centroids(
        embs, dim=64, n_lists=100, iters=2
    )
    assert len(cents) == 100 and len(cents[0]) == 64
    pairs = similarity.semdedup_pairs(
        embs, dim=64, centroids=cents, threshold=0.35
    )
    assert pairs.count() >= 0  # plan builds and executes


def test_connected_components_local_path_stats_and_boundary(spark):
    # round 11: edge lists at or under local_threshold are solved
    # driver-side (stats marks it; rounds=0), above it the
    # distributed propagation runs (rounds >= 1) — identical labels
    e = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    # 6 directed distinct edges after the bidirectional explode
    st_local: dict = {}
    local = {
        (r.node, r.component)
        for r in graph.connected_components(
            e, stats=st_local, local_threshold=6
        ).collect()
    }
    assert st_local == {"rounds": 0, "local": True}
    st_dist: dict = {}
    dist = {
        (r.node, r.component)
        for r in graph.connected_components(
            e, stats=st_dist, local_threshold=5
        ).collect()
    }
    assert st_dist.get("rounds", 0) >= 1 and "local" not in st_dist
    assert local == dist == {
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5),
    }
