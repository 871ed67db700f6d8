"""Deduplication operators for large text corpora.

Scale design (100 TB posture):
- exact: one hash-shuffle on a 16-byte key; map-side partial agg.
- minhash LSH: the only shuffle of the corpus is the band-bucket
  group-by; pairs are generated *within* collected buckets (never
  O(n²) global) and verified in-bucket from the carried signatures —
  no self-join, no candidate re-join, no corpus-sized broadcast.
  Bucket keys include the band id, so hot buckets spread across 16×
  more reducers.
- simhash: 64-bit signature, banded into ``max_hamming + 1``
  bit-slice blocks (pigeonhole-complete recall at any distance) —
  Hamming-distance blocking (Charikar 2002; Manku et al. 2007).

All signature math is Spark SQL higher-order functions over arrays —
JVM-side, no Python in the hot path.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, functions as F

from prql_spark.plans.lint import byte_conf
from prql_spark.plans.physical import materialize, single_eval

MERSENNE61 = (1 << 61) - 1


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition only when the scan is under-parallel.

    Local single-file parquet scans arrive as 1 partition and would
    serialize compute-heavy maps; but a 100 TB input already has
    thousands of splits, where an unconditional repartition is a
    gratuitous extra full shuffle.

    The decision reads the OPTIMIZED-plan size statistic (file-source
    listing sizes, already cached in the FileIndex) against
    ``maxPartitionBytes`` — estimated scan parallelism ≈ size/split —
    instead of probing ``df.rdd.getNumPartitions()``, which forces
    full physical planning + RDD materialization per call. Unknown
    stats (Long.MaxValue sentinel) read as "big" → no repartition,
    the safe default at scale.
    """
    sess = df.sparkSession
    n_parts = sess.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        split = byte_conf(
            sess, "spark.sql.files.maxPartitionBytes", "134217728b"
        )
    except Exception:
        return df
    if size >= n_parts * split:
        return df
    return df.repartition(n_parts, *cols) if cols else df.repartition(n_parts)


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup on normalized text: keep the smallest id per key."""
    # single shuffle: min-id per key via window beats agg + semijoin
    # (one exchange on __key instead of two plus a join)
    norm = f"md5(lower(regexp_replace(trim({text_col}), '\\\\s+', ' ')))"
    key = _spread(df, id_col).withColumn("__key", F.expr(norm))
    return (
        key.withColumn(
            "__keep",
            F.expr(f"min({id_col}) OVER (PARTITION BY __key)"),
        )
        .where(F.expr(f"{id_col} = __keep"))
        .drop("__key", "__keep")
    )


def pairs_from_buckets(
    grouped: DataFrame, pair: str, star_cap: int | None,
    idx_filter: str | None = None, cap_on: str | None = None,
) -> DataFrame:
    """Shared bucket-combine tail for every pair-generating operator
    (minhash / simhash / ngram-jaccard / semdedup / embedding): explode
    the within-bucket (i, j) index pairs of the collected ``mem`` array
    and apply ``pair`` — a named_struct expression over ``mem[p.i]``
    / ``mem[p.j]`` — once per chosen index pair.

    ``star_cap``: over-cap buckets star-link every member against the
    bucket min (O(n) pairs instead of O(n²) from one reducer on a
    degenerate corpus); the branch is on cheap INDEX structs so the
    heavyweight pair math appears exactly once in the generated code
    (duplicating it across both IF branches measurably bloats
    per-plan Janino compile). Non-``mem`` columns pass through.

    ``idx_filter``: optional boolean expr over the index struct ``p``
    (may reference ``mem[p.i]`` / ``mem[p.j]``) applied BEFORE the
    heavyweight ``pair`` math — a necessary-condition prefilter (e.g.
    a Jaccard size-ratio bound, or membership flags) runs on cheap
    struct fields and skips the expensive fold for most rejects.

    ``cap_on``: expr the cap compares against (default ``size(mem)``).
    Operators whose buckets mix member kinds (embedding multiprobe:
    exact rows + probe rows) cap on the count that actually drives
    quadratic pair volume — the EXACT members — so healthy
    probe-inflated buckets keep all-pairs recall while a degenerate
    duplicate class still star-links.
    """
    idx_all = (
        "flatten(transform(sequence(0, size(mem)-2), i -> "
        "transform(sequence(i+1, size(mem)-1), j -> "
        "named_struct('i', i, 'j', j))))"
    )
    idx_star = (
        "transform(sequence(1, size(mem)-1), j -> "
        "named_struct('i', 0, 'j', j))"
    )
    cap_on = cap_on or "size(mem)"
    idx = (
        idx_all
        if star_cap is None
        else f"IF({cap_on} <= {star_cap}, {idx_all}, {idx_star})"
    )
    if idx_filter is not None:
        idx = f"filter({idx}, p -> ({idx_filter}))"
    keep = [c for c in grouped.columns if c != "mem"]
    return grouped.select(
        *keep,
        F.explode(F.expr(f"transform({idx}, p -> {pair})")).alias("p"),
    )


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    # multiply-shift family: odd 64-bit multiplier + 64-bit offset,
    # evaluated with wrapping uint64 arithmetic (numpy). Small
    # multipliers would make (a*h + b) nearly order-preserving — every
    # "permutation" then picks the same min shingle and similarity is
    # overestimated.
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 64) | 1, rng.randrange(0, 1 << 64))
        for _ in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, shingles, minhash[num_perm]) — word-k-gram shingles.

    minhash_j = min over shingles s of (a_j * h(s) + b_j) mod M61.
    """
    norm = f"lower(regexp_replace(trim({text_col}), '\\\\s+', ' '))"
    params = _perm_params(num_perm, seed)

    # Shingling + hashing + the num_perm-way min-reduce all run in ONE
    # Arrow-batched pandas UDF: crc32 (zlib, C-speed, deterministic
    # across executors — unlike Python's salted hash()) gives 32-bit
    # shingle hashes; each permutation is a multiply-shift hash
    # a*h + b over wrapping uint64 (numpy outer product). Replaces
    # interpreted slice/concat_ws higher-order lambdas that dominated
    # the profile ~10×. crc32 over md5 is a MEASURED choice: md5
    # hashing costs 2.5× in this loop (60 vs 24 µs/doc), and the
    # DuckDB oracle reproduces crc32 exactly anyway with a
    # table-driven list_reduce (entries/operators.py:_CRC32_DD) —
    # the oracle pays, the 100 TB path doesn't.
    import zlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    A = np.array([a for a, _ in params], dtype=np.uint64)[:, None]
    B = np.array([b for _, b in params], dtype=np.uint64)[:, None]
    empty = np.array([], dtype=np.int64)

    def _sig_fn(texts):
        old = np.seterr(over="ignore")  # uint64 wrap is intentional
        out = []
        for t in texts:
            words = t.split(" ") if t else []
            n = max(len(words) - shingle_k, 0) + 1
            hs = {
                zlib.crc32(" ".join(words[i : i + shingle_k]).encode())
                for i in range(n)
            } if words else set()
            if not hs:
                out.append(empty)
                continue
            hv = np.fromiter(hs, dtype=np.uint64, count=len(hs))[None, :]
            sig = (A * hv + B).min(axis=1)
            out.append(sig.view(np.int64))  # bit-reinterpret, no cast
        np.seterr(**old)
        return pd.Series(out)

    # no inline type hints: `from __future__ import annotations`
    # stringifies them, which pandas_udf inference rejects
    _sig = pandas_udf(_sig_fn, "array<long>")

    # Shingle-less docs (null/blank text) are dropped BEFORE the UDF,
    # JVM-side: a post-UDF `where size(minhash) > 0` gets predicate-
    # pushed below the projection, duplicating the UDF expression so
    # the signature computes twice per row. The pre-filter is
    # equivalent (a doc has >= 1 shingle iff its trimmed text is
    # non-empty) and pushes to the scan.
    # spread the compute-heavy signature map across all cores when
    # the input is a single file (one scan partition); no-op on
    # already-parallel inputs.
    return (
        _spread(
            df.select(id_col, F.col(text_col)).where(
                F.expr(f"length(trim({text_col})) > 0")
            ),
            id_col,
        )
        .select(id_col, _sig(F.expr(norm)).alias("minhash"))
    )


def _band_structs_expr(num_perm: int, bands: int) -> str:
    """Unrolled LSH band keys over a ``minhash`` column: an array of
    (band, h) structs, h = xxhash64 of the band's signature slice.
    Plan-constant unrolling keeps it codegen-able (a transform()
    lambda with string concat ran ~4× slower — see the caller)."""
    rows_per_band = num_perm // bands
    structs = ", ".join(
        "named_struct('band', %d, 'h', xxhash64(%s))"
        % (
            b,
            ", ".join(
                f"minhash[{b * rows_per_band + i}]"
                for i in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"array({structs})"


def _minhash_raw_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    star_cap: int | None = None,
) -> DataFrame:
    """Within-bucket verified pairs, one row PER colliding band (a
    pair agreeing in k bands appears k times). Callers dedup as fits:
    pair-level group-by for the pairs API, id-level distinct for the
    keep/drop dedup (one exchange cheaper)."""
    rows_per_band = num_perm // bands
    # Bucket-combine, not self-join: group the banded rows by
    # (band, h), collect each bucket's (id, signature) members, and
    # generate the within-bucket pairs from the collected array. The
    # corpus is exchanged exactly ONCE (the group-by), the signature
    # UDF runs exactly once (no second scan for a join side, no
    # corpus-sized broadcast, no cache), and the estimate is computed
    # post-aggregation so no higher-order expression lands in a join
    # condition. Mega-buckets (many exact dups sharing every band)
    # are the residual skew risk — run dedup_exact first on corpora
    # with heavy exact duplication.
    # The band array is unrolled at compile time (bands is a plan
    # constant): xxhash64 over the long elements directly. A
    # transform() lambda with concat_ws/cast-to-string runs
    # interpreted per row with per-band string allocations — measured
    # ~4× slower than this codegen-able form at sf0.1.
    buckets = sigs.select(
        F.col(id_col),
        F.col("minhash"),
        F.explode(
            F.expr(_band_structs_expr(num_perm, bands))
        ).alias("bk"),
    ).select(id_col, "minhash", "bk.band", "bk.h")
    grouped = (
        buckets.groupBy("band", "h")
        .agg(
            F.expr(
                f"array_sort(collect_list(struct({id_col}, minhash)))"
            ).alias("mem")
        )
        .where(F.expr("size(mem) >= 2"))
    )
    # mega-bucket guard (star_cap): beyond the cap, all-pairs is
    # O(n²) — a degenerate corpus of n identical docs would emit
    # n(n-1)/2 rows from ONE reducer; star-linking against the bucket
    # min is O(n) and dedup-equivalent for signature-homogeneous
    # buckets (the only way buckets get huge).
    pair = (
        f"named_struct("
        f"'id_a', mem[p.i].{id_col}, 'id_b', mem[p.j].{id_col}, "
        f"'est_jaccard', size(filter(zip_with("
        f"mem[p.i].minhash, mem[p.j].minhash, (x, y) -> x = y), "
        f"v -> v)) / size(mem[p.i].minhash))"
    )
    return (
        pairs_from_buckets(grouped, pair, star_cap)
        .select("p.id_a", "p.id_b", "p.est_jaccard")
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    star_cap: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from banded minhash signatures.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and estimated
    Jaccard (fraction of matching minhash components) >= threshold.

    ``star_cap``: over-cap buckets emit hub-and-spoke pairs against
    the bucket min instead of all-pairs (O(n) not O(n²)). For
    connected-components consumers the star edges carry the SAME
    connectivity for signature-homogeneous buckets — set it whenever
    the corpus may hold huge exact-dup classes.
    """
    raw = _minhash_raw_pairs(
        sigs, id_col, num_perm, bands, threshold, star_cap=star_cap
    )
    # a pair colliding in k bands appears k times; the group-by is the
    # dedup (est_jaccard is identical for every occurrence)
    return raw.groupBy("id_a", "id_b").agg(
        F.first("est_jaccard").alias("est_jaccard")
    )


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    star_cap: int = 64,
) -> DataFrame:
    """Docs surviving minhash-LSH dedup (drop the larger id of each
    near-dup pair — standard greedy keep-first policy).

    Fully lazy: the signature table feeds a single group-by (the
    bucket-combine in minhash_lsh_pairs), so the signature UDF runs
    exactly once with no persist and no eager action — composing this
    inside a larger pipeline triggers no job at build time.

    ``star_cap`` bounds per-bucket pair generation: buckets larger
    than the cap (in practice: huge exact-duplicate groups) star-link
    against the bucket min instead of emitting O(n²) pairs.
    """
    sigs = minhash_signatures(
        df, text_col, id_col, num_perm, shingle_k
    ).select(id_col, "minhash")
    raw = _minhash_raw_pairs(
        sigs, id_col, num_perm, bands, threshold, star_cap=star_cap
    )
    # id-level distinct straight off the raw pair stream: the
    # pair-level group-by would be a wasted extra exchange here
    losers = raw.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    broadcast_ref: bool = False,
) -> DataFrame:
    """Incremental exact dedup: drop rows of ``df`` whose normalized
    text already appears in ``reference`` — the shape of every
    ingestion increment ("dedup today's crawl against the corpus")
    and of benchmark decontamination at document granularity.

    Only the 16-byte md5 keys of the reference move: the reference is
    projected to a distinct key column before the anti-join, so a
    100 TB reference corpus contributes one narrow column scan + a
    hash exchange of keys. ``df`` is a different matter: without
    ``broadcast_ref`` the anti-join is a shuffle join, so ``df``'s
    WHOLE rows are exchanged on ``__key``. ``broadcast_ref=True``
    (when the reference key set fits the broadcast threshold)
    broadcasts the keys instead and ``df`` is not exchanged at all.
    """
    norm = "md5(lower(regexp_replace(trim({t}), '\\\\s+', ' ')))"
    keys = reference.select(
        F.expr(norm.format(t=ref_text_col or text_col)).alias("__key")
    ).distinct()
    if broadcast_ref:
        keys = F.broadcast(keys)
    return (
        df.withColumn("__key", F.expr(norm.format(t=text_col)))
        .join(keys, "__key", "left_anti")
        .drop("__key")
    )


def dedup_against_near(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    ref_text_col: str | None = None,
    broadcast_ref: bool = False,
) -> DataFrame:
    """Fuzzy decontamination / incremental NEAR-dedup: drop rows of
    ``df`` whose minhash signature collides with the reference corpus
    in at least one LSH band.

    This is the near-duplicate complement to :func:`dedup_against`
    (exact keys): "drop crawl documents that are near-copies of the
    held-out benchmark / yesterday's corpus". Band collision IS the
    minhash-LSH decision rule — with 16 bands × 4 rows the collision
    probability is 1-(1-j⁴)¹⁶ (≈0.97 at Jaccard 0.7, ≈0.04 at 0.2) —
    so no pairwise verification pass is needed, exactly as in the
    within-corpus LSH dedup before its verify step.

    Scale shape: the reference contributes its DISTINCT (band, h)
    keys only — 16 twelve-byte rows per reference doc, one narrow
    column scan at any reference size (broadcast them with
    ``broadcast_ref=True`` when the benchmark set is small, the
    common decontamination case — then ``df`` is never shuffled at
    all). ``df`` itself exchanges band keys, never text.
    """
    sd = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
    ref = reference.withColumn(
        "__rid", F.monotonically_increasing_id()
    )
    sr = minhash_signatures(
        ref, ref_text_col or text_col, "__rid", num_perm, shingle_k
    )
    band_arr = _band_structs_expr(num_perm, bands)
    dkeys = sd.select(
        F.col(id_col), F.explode(F.expr(band_arr)).alias("bk")
    ).select(id_col, "bk.band", "bk.h")
    rkeys = (
        sr.select(F.explode(F.expr(band_arr)).alias("bk"))
        .select("bk.band", "bk.h")
        .distinct()
    )
    if broadcast_ref:
        rkeys = F.broadcast(rkeys)
    losers = (
        dkeys.join(rkeys, ["band", "h"], "left_semi")
        .select(id_col)
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


# 64-bit token hash from two JVM-native crc32 calls (plain + '#'-
# salted). MEASURED choice at sf0.1 (warm signature stage):
# xxhash64 0.46 s, double-crc32 0.78 s, md5-halves 1.5 s — crc32
# costs ~1.7× xxhash64 but, unlike xxhash64, is exactly reproducible
# in the DuckDB oracle (table-driven fold, entries/operators.py:
# _CRC32_DD), which buys a full value oracle for every simhash bit.
# Both halves stay < 2^32 so the shiftleft|or is overflow-free.
_TOKEN_HASH64 = (
    "(shiftleft(crc32(encode({t}, 'UTF-8')), 32)"
    " | crc32(encode(concat({t}, '#'), 'UTF-8')))"
)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit simhash over word tokens (Charikar random projections
    via per-token hash bits).

    One Arrow-batched numpy UDF, same pattern (and justification) as
    the minhash signature: the 64 per-bit ±1 sums as pure Spark SQL
    higher-order expressions ran interpreted at ~5 ms CPU per doc
    (76 s for 500k docs in the 100× experiment); numpy's unpackbits
    over the crc32 token hashes computes the identical signature in
    ~25 µs per doc. The hash definition (``_TOKEN_HASH64``) is shared
    with the DuckDB oracle, which replays every bit exactly
    (entries/operators.py:_sql_simhash_pairs); equality between this
    UDF and the SQL formulation is pinned in tests/test_operators.py.
    """
    import zlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    norm = f"lower(regexp_replace(trim({text_col}), '\\\\s+', ' '))"

    def _sig_fn(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = t.split(" ")  # '' -> [''], matching SQL split()
            hs = np.fromiter(
                (
                    (zlib.crc32(w.encode()) << 32)
                    | zlib.crc32((w + "#").encode())
                    for w in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            # (n_tokens, 64) bit matrix; little-endian byte+bit order
            # = bit b of the uint64, exactly (h >> b) & 1
            bits = np.unpackbits(
                hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            counts = bits.sum(axis=0, dtype=np.int64)
            # ±1 sum > 0  ⇔  2 * ones > n_tokens
            sig_bits = np.nonzero(2 * counts > len(toks))[0]
            v = 0
            for b in sig_bits:
                v |= 1 << int(b)
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out, dtype="object")

    _sig = pandas_udf(_sig_fn, "long")
    return (
        _spread(df.select(id_col, F.col(text_col)), id_col)
        .select(id_col, _sig(F.expr(norm)).alias("simhash"))
    )


def simhash_band_bounds(bands: int) -> list[tuple[int, int]]:
    """Even-ish split of the 64 signature bits into ``bands``
    contiguous ``(offset, width)`` slices (first ``64 % bands``
    bands one bit wider). Shared with the DuckDB oracle generator so
    engine and oracle block on identical bit slices."""
    base, extra = divmod(64, bands)
    out: list[tuple[int, int]] = []
    off = 0
    for b in range(bands):
        w = base + (1 if b < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    star_cap: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash: block on bit-slice bands, verify
    with bit_count(xor).

    ``bands`` defaults to ``max_hamming + 1`` — the pigeonhole
    guarantee: a pair within Hamming distance d differs in at most d
    bands, so with d+1 bands at least one band matches exactly and
    the pair is guaranteed to share a bucket. (The pre-round-7 fixed
    4×16 banding only guaranteed recall for d ≤ 3; pairs at d = 4..6
    whose differing bits spread across all four bands were silently
    dropped.) More bands = smaller keys = more collisions from
    unrelated docs, so callers wanting the old cheaper blocking can
    pass ``bands=4`` explicitly and accept the recall gap.

    Bucket-combine shape (mirrors minhash): ONE group-by exchange on
    (band, key); pairs are generated inside each collected bucket, so
    there is no banded self-join re-shuffling the stream twice.
    ``star_cap`` guards mega-buckets: past the cap every member pairs
    only with the bucket's min id — O(n) rows instead of the O(n²) a
    degenerate corpus (one huge exact-dup class) would emit from a
    single reducer. Star-linking can miss a (b, c) pair inside an
    over-cap INhomogeneous bucket unless another band catches it;
    for keep/drop dedup (drop anything linked to a smaller id) the
    semantics are equivalent whenever the bucket is
    signature-homogeneous, which is how buckets get huge in practice.
    """
    n_bands = bands if bands is not None else min(max_hamming + 1, 64)
    # unrolled at compile time (band count is a plan constant) — the
    # interpreted transform-lambda alternative allocates per-band
    # structs per row. shiftright(), not infix >>: Spark 4's SQL
    # parser rejects `>>` inside an array(...) argument list.
    def _key(off: int, w: int) -> str:
        if w >= 64:  # single-band degenerate case: the whole hash
            return "simhash"  # (the 2^64-1 mask overflows LongType)
        return f"shiftright(simhash, {off}) & {(1 << w) - 1}"

    band_structs = ", ".join(
        f"named_struct('band', {b}, 'key', {_key(off, w)})"
        for b, (off, w) in enumerate(simhash_band_bounds(n_bands))
    )
    banded = sigs.select(
        id_col,
        "simhash",
        F.explode(F.expr(f"array({band_structs})")).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.key")
    grouped = (
        banded.groupBy("band", "key")
        .agg(
            F.expr(
                f"array_sort(collect_list(struct({id_col}, simhash)))"
            ).alias("mem")
        )
        .where(F.expr("size(mem) >= 2"))
    )

    pair = (
        f"named_struct("
        f"'id_a', mem[p.i].{id_col}, 'id_b', mem[p.j].{id_col}, "
        f"'hamming', bit_count(mem[p.i].simhash ^ mem[p.j].simhash))"
    )
    raw = (
        pairs_from_buckets(grouped, pair, star_cap)
        .select("p.id_a", "p.id_b", "p.hamming")
        # verify BEFORE the pair-dedup exchange — far fewer rows move
        .where(F.col("hamming") <= max_hamming)
    )
    # a pair agreeing in k bands appears k times; hamming is identical
    # for every occurrence
    return raw.groupBy("id_a", "id_b").agg(
        F.first("hamming").alias("hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_exprs: list[str] | None = None,
    star_cap: int = 64,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity between candidate pairs.

    Blocking keeps this off O(n²): docs are compared only when they
    share at least one block key. Two keys by default —
    (first-word, length-bucket) and (last-word, length-bucket) — so a
    near-dup pair differing in its first word is still caught via the
    last-word block. Fully expressible in DuckDB
    (list_distinct/list_intersect), so it is oracle-checked.

    Measured, not guessed: a crc32-hashed-gram variant (5× smaller
    collect buffers, int intersects) ran 20% SLOWER at 500k docs —
    25M interpreted crc32-lambda calls outweigh the payload savings —
    so the exact string grams stay.
    """
    norm = f"lower(regexp_replace(trim({text_col}), '\\\\s+', ' '))"
    # substitution-safe gram chain (text.ngram_expr): the
    # `size(__grams) > 0` filter below pushes through this projection
    # with __grams/__ws substituted — the legacy per-index slice shape
    # went O(words²) per row under that substitution
    from prql_spark.operators.text import ngram_expr

    grams = f"array_distinct({ngram_expr('__ws', n)})"
    if block_exprs is None:
        # floor() explicitly: CAST(double AS INT) truncates in Spark
        # but rounds in DuckDB — floor agrees everywhere.
        bucket = "CAST(CAST(floor(length(__norm) / 100) AS INT) AS STRING)"
        block_exprs = [
            f"concat('f#', element_at(__ws, 1), '#', {bucket})",
            f"concat('l#', element_at(__ws, -1), '#', {bucket})",
        ]
    blocks = ", ".join(block_exprs)
    base = (
        # original columns stay visible so caller-supplied block
        # exprs can reference them alongside __norm/__ws
        df.withColumn("__norm", F.expr(norm))
        .withColumn("__ws", F.expr("split(__norm, ' ')"))
        .select(
            F.col(id_col),
            F.expr(grams).alias("__grams"),
            F.explode(
                F.expr(f"array_distinct(array({blocks}))")
            ).alias("__block"),
        )
        .where(F.expr("size(__grams) > 0"))
    )
    # Bucket-combine (same shape as minhash/simhash): one group-by
    # exchange on the block key, pairs generated within each collected
    # bucket. star_cap guards the degenerate mega-block — n identical
    # docs share every block key and an unguarded all-pairs would emit
    # n(n-1)/2 rows from one reducer; past the cap each member pairs
    # only with the block's min id (O(n), dedup-equivalent for
    # homogeneous blocks).
    grouped = (
        base.groupBy("__block")
        .agg(
            F.expr(
                f"array_sort(collect_list(struct({id_col}, __grams)))"
            ).alias("mem")
        )
        .where(F.expr("size(mem) >= 2"))
    )

    pair = (
        f"named_struct("
        f"'id_a', mem[p.i].{id_col}, 'id_b', mem[p.j].{id_col}, "
        f"'jaccard', round("
        f"size(array_intersect(mem[p.i].__grams, mem[p.j].__grams)) / "
        f"size(array_union(mem[p.i].__grams, mem[p.j].__grams)), 6))"
    )
    # necessary-size prefilter: |A∩B| <= min(|A|,|B|) and
    # |A∪B| >= max(|A|,|B|), so J(A,B) <= min/max — a pair whose gram
    # counts differ by more than the threshold ratio cannot pass, and
    # the cheap struct-size comparison skips the expensive
    # intersect/union folds for most non-dup candidates. Output is
    # IDENTICAL (the filter is implied by `jaccard >= threshold`).
    size_guard = (
        f"least(size(mem[p.i].__grams), size(mem[p.j].__grams)) >= "
        f"{threshold} * greatest(size(mem[p.i].__grams), "
        f"size(mem[p.j].__grams))"
    )
    return (
        pairs_from_buckets(grouped, pair, star_cap, idx_filter=size_guard)
        .select("p.id_a", "p.id_b", "p.jaccard")
        .where(F.col("jaccard") >= threshold)
        # a pair can share both block keys — dedup to one row
        .groupBy("id_a", "id_b")
        .agg(F.first("jaccard").alias("jaccard"))
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 0,
    max_spans: int | None = None,
) -> DataFrame:
    """CORPUS-WIDE paragraph-level dedup — the C4/RefinedWeb
    "repeated span removal" step at paragraph granularity: a
    paragraph (blank-line-separated block) that occurs in many
    documents (boilerplate footers, license blocks, navigation text)
    survives only at its FIRST occurrence ``(min doc_id, min index)``
    and is cut everywhere else; each document is reassembled from its
    surviving paragraphs in order.

    ``min_chars``: paragraphs shorter than this never become dedup
    candidates (always kept) — section headers like "Introduction"
    would otherwise vanish corpus-wide. Matching is near-exact: the
    dedup key is the paragraph lowercased and whitespace-collapsed.

    Shape at scale: one narrow posexplode, ONE hash exchange on the
    16-byte md5 of the normalized paragraph (the span TEXT never
    rides a shuffle key — only the exploded side that reassembles
    carries it), a key-join that reuses that partitioning, and one
    group-by doc to reassemble — cost tracks total paragraph count,
    never pairs. A document consisting ENTIRELY of repeated
    paragraphs reassembles to zero survivors and drops from the
    output (it is an exact duplicate at the only granularity it
    has).

    ``max_spans``: reducer-OOM guard for adversarial documents — a
    doc's spans beyond the first ``max_spans`` are DROPPED (its text
    truncates at that boundary) and the output grows a
    ``spans_truncated`` flag, the star_cap posture applied to
    reassembly: one pathological million-paragraph document bounds
    its reassembly row instead of OOMing a reducer. ``None``
    (default) disables the guard and keeps the 3-column schema.
    """
    return _dedup_spans(
        df, text_col, id_col, min_chars,
        split_pattern="\\n{2,}", join_sep="\\n\\n",
        kept_col="n_paras_kept", max_spans=max_spans,
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 0,
    max_spans: int | None = None,
) -> DataFrame:
    """:func:`dedup_paragraphs` at LINE granularity — C4's repeated
    line removal (Raffel et al. 2020 dedup "three-sentence spans";
    line-level is the common practical variant: nav menus, cookie
    banners, and list boilerplate repeat as single lines). Same
    single-exchange hashed-key winner shape (and the same
    ``max_spans`` reassembly guard); output column
    ``n_lines_kept``."""
    return _dedup_spans(
        df, text_col, id_col, min_chars,
        split_pattern="\\n+", join_sep="\\n",
        kept_col="n_lines_kept", max_spans=max_spans,
    )


def _dedup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_chars: int,
    split_pattern: str,
    join_sep: str,
    kept_col: str,
    max_spans: int | None = None,
) -> DataFrame:
    # NO input spread, deliberately (round-12 A/B): the span map is
    # one split + normalize + md5 per span — the spread exchange
    # measured 0.79 s → 1.2 s on dedup_paragraphs (3 reps each); the
    # gram-chain ops are the ones that win from spreading.
    span_split = f"split({text_col}, '{split_pattern}')"
    norm = "lower(trim(regexp_replace(__para, '\\\\s+', ' ')))"
    if max_spans is not None:
        # truncate + flag BEFORE the explode: the tail of a
        # pathological document never enters the pipeline, so its
        # reassembly row is bounded (raw split count, pre-empty-
        # filter — the cheap upper bound)
        src = df.select(
            F.col(id_col), F.expr(span_split).alias("__arr")
        ).select(
            F.col(id_col),
            F.expr(f"size(__arr) > {max_spans}").alias("__trunc"),
            F.posexplode(
                F.expr(f"slice(__arr, 1, {max_spans})")
            ).alias("__pi", "__para"),
        )
    else:
        src = df.select(
            F.col(id_col),
            F.posexplode(F.expr(span_split)).alias("__pi", "__para"),
        )
    # the dedup key is the 16-byte md5 of the normalized span — the
    # full span text never rides a shuffle key (3-10x slimmer
    # exchanges at crawl scale); the text stays only on the exploded
    # side that reassembles. min_chars compares the normalized
    # length, so the candidate set is unchanged by the hashing.
    paras = (
        src.where(F.expr("trim(__para) != ''"))
        .withColumn("__pn", F.expr(norm))
        .withColumn("__pl", F.length("__pn"))
        .withColumn("__pk", F.expr("unhex(md5(__pn))"))
        .drop("__pn")
    )
    # Winner selection via ONE window over the hashed span key, not
    # agg + re-join (round 11): the join's probe side re-ran the
    # whole split/normalize/md5 explode chain (the plan held the
    # paras subtree twice, 2 corpus scans) and both sides exchanged
    # on __pk anyway for the sort-merge join — the window pays that
    # same single paras exchange once and the explode runs once.
    # min() ignores NULLs, so folding the min_chars candidacy into an
    # IF reproduces the left join exactly: a key whose every
    # occurrence is below min_chars has a NULL winner and keeps all
    # its spans (the former `__w IS NULL` branch).
    kept = (
        paras.withColumn(
            "__w",
            F.expr(
                f"min(IF(__pl >= {min_chars}, "
                f"named_struct('d', {id_col}, 'i', __pi), NULL)) "
                "OVER (PARTITION BY __pk)"
            ),
        )
        .where(
            F.expr(
                f"__w IS NULL OR (__w.d = {id_col} AND __w.i = __pi)"
            )
        )
    )
    aggs = [
        F.expr(
            f"concat_ws('{join_sep}', transform(array_sort("
            "collect_list(named_struct('i', __pi, 'p', __para))), "
            "s -> s.p))"
        ).alias("text_deduped"),
        F.count(F.lit(1)).cast("int").alias(kept_col),
    ]
    if max_spans is not None:
        aggs.append(F.expr("max(__trunc)").alias("spans_truncated"))
    return kept.groupBy(id_col).agg(*aggs)


def duplicated_window_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cross-corpus duplicated-window signal — the window-granular
    approximation of EXACT SUBSTRING dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    removes 50-token repeated spans via suffix arrays; distributed
    pipelines approximate with fixed word windows): for every
    document, the fraction of its word n-gram windows whose text
    occurs at least ``min_count`` times in the WHOLE corpus
    (within-doc repeats count, as in the paper). High fractions mark
    template/mirror documents that survive document-level dedup.

    Shape: one gram explode (substitution-safe chain), ONE exchange
    on the 16-byte md5 of the gram (the gram TEXT never rides a
    shuffle key — ~50-byte window strings would widen the exchange
    3-10x at crawl scale for no semantic gain) for the occurrence
    counts, a hash-key join that reuses that partitioning, and the
    per-doc ratio aggregate — linear in total window count, no
    pairs. Docs shorter than ``n`` words contribute their whole text
    as one window (the gram chain's short-doc contract), so the
    signal degrades to document-level exact matching, never to
    silence.
    """
    from prql_spark.operators.text import _words, ngram_expr

    # single-scan-partition inputs serialize the gram chain — spread
    # once (no-op on parallel inputs)
    df = _spread(df, id_col)
    grams = (
        df.select(F.col(id_col), F.expr(_words(text_col)).alias("__ws"))
        .select(
            F.col(id_col),
            F.explode(F.expr(ngram_expr("__ws", n))).alias("gram"),
        )
        .where(F.expr("gram != ''"))
        .select(id_col, F.expr("unhex(md5(gram))").alias("__gk"))
    )
    # occurrence counts via ONE window over the hashed gram key, not
    # agg + self-join: the join's two sides each re-run the gram
    # explode chain (split + zip_with n-gram + md5 — the expensive
    # part), and the join itself is a second corpus-gram exchange (at
    # sf0.1 the planner even broadcast the full (id, gram-key) stream
    # — a shape that cannot exist at 100 TB). The window exchanges
    # the slim (id, 16-byte key) stream ONCE, the explode runs once,
    # and the count is identical. Same trick as dedup_exact's
    # min-over-window (round 1) applied to counts.
    counted = grams.withColumn(
        "__c", F.expr("count(*) OVER (PARTITION BY __gk)")
    )
    return (
        counted
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.expr(
                f"CAST(sum(IF(__c >= {min_count}, 1, 0)) AS BIGINT)"
            ).alias("dup_windows"),
            F.expr(
                f"round(sum(IF(__c >= {min_count}, 1, 0)) "
                "/ CAST(count(*) AS DOUBLE), 6)"
            ).alias("dup_fraction"),
        )
    )


def sentence_split_expr(col: str, dialect: str = "spark") -> str:
    """Sentence segmentation as ONE SQL expression, emitted for both
    engines from the same builder (the html_to_text pattern, so the
    Spark op and the DuckDB oracle can never drift): whitespace
    following sentence-final punctuation becomes a newline (RE2 has
    no lookbehind, so the boundary is CONSUMED and re-inserted via a
    group backreference — works on Java regex and RE2 alike), then
    the text splits on newline runs. Existing newlines are sentence
    boundaries too. Deliberately heuristic — abbreviation-aware
    segmentation is a tokenizer concern; for dedup, a stable cheap
    boundary beats a clever unstable one."""
    if dialect == "spark":
        marked = (
            f"regexp_replace({col}, '([.!?])[ \\\\t]+', '$1\\n')"
        )
        return f"split({marked}, '\\\\n+')"
    marked = (
        f"regexp_replace({col}, '([.!?])[ \\t]+', e'\\\\1\\n', 'g')"
    )
    return f"string_split_regex({marked}, '\\n+')"


def remove_duplicated_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """C4's dedup rule, verbatim (Raffel et al. 2020 §2.2:
    "we discarded any three-sentence span occurring more than once
    in the data set"): every sentence covered by an ``n``-sentence
    window whose normalized text repeats at least ``min_count``
    times corpus-wide is cut from every document; documents
    reassemble from surviving sentences in order. All occurrences
    are cut (no canonical copy — C4's behavior). Documents shorter
    than ``n`` sentences contribute their whole text as ONE window,
    and a document losing every sentence drops from the output.

    The sentence-granular sibling of
    :func:`remove_duplicated_windows` — same linear bucket shape,
    with the window key built as an md5-of-md5s: each sentence
    normalizes (lowercase, whitespace-collapse) and hashes INSIDE a
    substitution-safe per-element transform, then the window key
    hashes the concatenation of its sentences' 32-char hashes — so
    the count exchange carries 16 bytes per window no matter how
    long the sentences are. One hashed-window-key count exchange, a
    partition-reusing join, a coverage explode deduplicated on
    ``(id, sentence_index)``, a sentence-level anti join, and the
    per-doc reassembly.

    Output: ``text_cleaned`` (surviving sentences joined with one
    space — the original inter-sentence whitespace is normalized,
    the sentences themselves byte-preserved), ``n_sentences``,
    ``n_removed_sentences``, ``removed_fraction``. Clean-doc
    pruning applies as in :func:`remove_duplicated_windows`: only
    documents with a marked window pay the sentence explode /
    anti-join / reassembly.
    """
    from prql_spark.operators.text import ngram_expr

    # NO input spread here, deliberately (round-12 A/B): the
    # sentence op's per-doc map is one boundary split + a few md5s —
    # light enough that the spread exchange LOSES locally (0.71 s
    # no-spread vs 1.1 s spread, 3 reps each); contrast
    # remove_duplicated_windows, whose 8-gram chains win 2.3→1.3 s.
    sents = sentence_split_expr(text_col)
    # per-sentence 32-char md5 of the normalized text; the lambda
    # body references only its own variable — substitution-safe
    keys = (
        f"transform({sents}, s -> md5(lower(trim("
        "regexp_replace(s, '\\\\s+', ' ')))))"
    )
    # stage the key array as a column (evaluated once per row) —
    # ngram_expr references it several times, all as whole-array
    # arguments (the §6(c)/(c′) discipline)
    wins = (
        df.select(F.col(id_col), F.expr(keys).alias("__sk"))
        .select(
            F.col(id_col),
            F.posexplode(
                F.expr(ngram_expr("__sk", n))
            ).alias("__wi", "__wk"),
        )
        .select(
            id_col, "__wi", F.expr("unhex(md5(__wk))").alias("__hk")
        )
    )
    # window-count + array-domain reassembly — see
    # remove_duplicated_windows (same round-12 shape, sentence
    # granularity): covered sentence indices collect into ONE
    # int-array per affected doc (single slim exchange, map-side
    # partial dedup — replaces the (id, si) DISTINCT + affected-id
    # DISTINCT + sentence-payload anti-join/collect_list exchanges),
    # and the dirty branch rebuilds per-row in the array domain.
    cov = materialize(
        wins.withColumn(
            "__c", F.expr("count(*) OVER (PARTITION BY __hk)")
        )
        .where(F.col("__c") >= min_count)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(f"sequence(__wi, __wi + {n} - 1)")
            ).alias("__si"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__si").alias("__cov"))
    )
    staged = df.select(F.col(id_col), F.expr(sents).alias("__sa"))
    clean = (
        staged.join(cov.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.expr(
                "filter(__sa, x -> trim(x) != '')"
            ).alias("__keep"),
        )
        .where(F.expr("size(__keep) > 0"))
        .select(
            F.col(id_col),
            F.expr("concat_ws(' ', __keep)").alias("text_cleaned"),
            F.expr("CAST(size(__keep) AS BIGINT)").alias("n_sentences"),
            F.lit(0).cast("long").alias("n_removed_sentences"),
            F.lit(0.0).alias("removed_fraction"),
        )
    )
    # dirty docs, array domain: cut covered indices out of the raw
    # sentence array (indices align with posexplode's — the raw
    # split INCLUDING empty boundary segments), then drop
    # empty-trim segments exactly like the old stream's
    # `trim(__s) != ''`; n_sentences counts REAL sentences (a
    # trailing boundary's empty segment never counts as removed).
    # Binding + nondeterministic wrapper: see
    # remove_duplicated_windows.
    reasm = single_eval(
        "element_at(transform(array(named_struct("
        "'a', __sa, 'c', __cov)), b -> named_struct("
        "'kept', filter(transform("
        "array_except(sequence(0, size(b.a) - 1), b.c), "
        "i -> element_at(b.a, i + 1)), x -> trim(x) != ''), "
        "'m', size(filter(b.a, x -> trim(x) != '')))), 1)"
    )
    dirty = (
        staged.join(cov, id_col)
        .select(F.col(id_col), F.expr(reasm).alias("__t"))
        .where(F.expr("size(__t.kept) > 0"))
        .select(
            F.col(id_col),
            F.expr("concat_ws(' ', __t.kept)").alias("text_cleaned"),
            F.expr("CAST(__t.m AS BIGINT)").alias("n_sentences"),
            F.expr(
                "CAST(__t.m - size(__t.kept) AS BIGINT)"
            ).alias("n_removed_sentences"),
            F.expr(
                "round((__t.m - size(__t.kept)) "
                "/ CAST(__t.m AS DOUBLE), 6)"
            ).alias("removed_fraction"),
        )
    )
    return dirty.unionByName(clean)


def remove_duplicated_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cross-corpus duplicated-window REMOVAL — the cut step after
    :func:`duplicated_window_fraction`'s signal (Lee et al. 2022
    ExactSubstr dedup: their suffix-array pass removes every 50-token
    span occurring more than once; the distributed approximation
    marks fixed word windows whose text repeats corpus-wide and cuts
    the words they cover). A window is MARKED when its lowercased
    text occurs at least ``min_count`` times in the whole corpus
    (within-doc repeats count, as in the paper); overlapping marked
    windows merge naturally because removal is per covered WORD. All
    occurrences are cut — including the first (the paper's behavior:
    text appearing verbatim more than once is overwhelmingly
    boilerplate, so no canonical copy is kept).

    Output: one row per document that keeps at least one word —
    ``text_cleaned`` (surviving words in order, single-space joined,
    original case), ``n_words`` (before), ``n_removed_words``,
    ``removed_fraction``. A document whose every word is covered by
    marked windows drops from the output entirely (it is duplicated
    text wall-to-wall), mirroring :func:`dedup_paragraphs`'s
    contract for fully-deduped docs. Documents shorter than ``n``
    words contribute their whole text as ONE window, so a short doc
    duplicated corpus-wide is removed outright, never silently kept.

    Shape at scale — linear, no pairs, every exchange on a slim key:
    one gram explode, ONE 16-byte-hash gram-key exchange for the
    occurrence counts, a gram-key join that reuses that partitioning,
    a marked-coverage explode deduplicated on ``(id, word_index)``
    (two ints), a word-level anti join on the same composite key,
    and the per-doc reassembly aggregate. Word indices beyond a
    short document's length are covered harmlessly (they match no
    word in the anti join), which keeps the coverage expression
    branch-free.

    CLEAN-DOC PRUNING (round 6): only documents with at least one
    marked window pay the word explode / anti-join / reassembly —
    the AFFECTED id set (usually a small fraction of a real corpus;
    AQE broadcasts it when it fits) splits the corpus, and clean
    documents take a narrow word-join projection instead (their
    output is byte-identical: words re-joined with single spaces).
    On an adversarial all-duplicated corpus every doc is affected
    and the split costs one extra small exchange; on a mostly-clean
    corpus the heavy word shuffle shrinks to the duplicated slice.
    Same-hour fresh-JVM A/B at 500k docs (SURVEY §6): 5%-duplicated
    corpus 35.8-40.0 s → 24.2-24.8 s (identical 451060 survivors);
    all-duplicated corpus within its (noisy) band, never slower
    than the unpruned shape under like conditions.
    """
    from prql_spark.operators.text import ngram_expr

    # spread the compute-heavy gram/reassembly maps across all cores
    # when the input is a single scan partition (round 12: the gram
    # explode alone measured 2.5 s single-task on the local
    # single-file scan — a 1.5 MB single-row-group parquet file
    # cannot split at scan level); no-op on already-parallel inputs,
    # and branches below share the one exchange (ReuseExchange)
    df = _spread(df, id_col)
    # case-preserving stream for the rebuilt text; matching runs on
    # the lowercased stream (same tokenization: lower() commutes with
    # the whitespace split)
    ws = f"split(trim({text_col}), '\\\\s+')"
    lw = f"split(lower(trim({text_col})), '\\\\s+')"
    grams = (
        df.select(
            F.col(id_col),
            F.posexplode(F.expr(ngram_expr(lw, n))).alias("__wi", "__g"),
        )
        .where(F.expr("__g != ''"))
        .select(id_col, "__wi", F.expr("unhex(md5(__g))").alias("__gk"))
    )
    # Occurrence counts via ONE window over the hashed gram key (the
    # duplicated_window_fraction trick, round 11): agg + join re-ran
    # the gram explode chain on both join sides and exchanged the
    # gram stream twice; the window exchanges the slim (id, wi, key)
    # stream once and the explode runs once.
    #
    # Round 12 — array-domain reassembly: the covered word indices
    # are gathered into ONE int-array per affected doc
    # (collect_set — map-side partial dedup, a single slim exchange
    # on the id), and the dirty branch rebuilds each doc's text by
    # array_except-ing the covered indices out of [0, n_words) and
    # re-reading the surviving words by index — a linear, per-row
    # JVM expression. This replaces the word-level posexplode +
    # (id, word_index) anti-join + collect_list window that
    # re-exchanged the full word payload of every affected doc, and
    # it also deletes two whole exchanges the old shape paid
    # ((id, j) DISTINCT + the affected-id DISTINCT: the id set now
    # falls out of the same aggregate). The r11 run-merge/slice
    # attempt lost to the exploded shape on interpreted fold
    # machinery; this formulation has no folds — array_except is a
    # native O(m) set op and the index transform is one
    # element_at per surviving word. ``cov`` feeds two consumers
    # (the clean-branch anti-join and the dirty-branch inner join),
    # so it is materialized: slim (id, int-array) rows, computed
    # once, read back per consumer.
    cov = materialize(
        grams.withColumn(
            "__c", F.expr("count(*) OVER (PARTITION BY __gk)")
        )
        .where(F.col("__c") >= min_count)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(f"sequence(__wi, __wi + {n} - 1)")
            ).alias("__j"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__j").alias("__cov"))
    )
    # clean docs: byte-identical output (words rejoined with single
    # spaces) from a narrow projection — no explode, no reassembly
    clean = (
        df.join(cov.select(id_col), id_col, "left_anti")
        .where(F.expr(f"trim({text_col}) != ''"))
        .select(
            F.col(id_col),
            F.expr(
                f"concat_ws(' ', filter({ws}, w -> w != ''))"
            ).alias("text_cleaned"),
            F.expr(f"CAST(size({ws}) AS BIGINT)").alias("n_words"),
            F.lit(0).cast("long").alias("n_removed_words"),
            F.lit(0.0).alias("removed_fraction"),
        )
    )
    # dirty docs: bind the word array ONCE via a one-element
    # struct-array (lambda-variable references only — the
    # substitution-safe idiom; a bare column ref inside the lambda
    # body is one alias substitution away from re-evaluating the
    # split per ELEMENT), drop covered indices with array_except
    # (order-preserving over the ascending index sequence, ignores
    # out-of-range covered indices from short-doc windows), and read
    # the surviving words back by index. element_at is 1-based and
    # every index is in [1, size] by construction (affected docs
    # have >= 1 gram, hence >= 1 word), so ANSI mode never trips.
    # Empty-string words are filtered AFTER the index cut, exactly
    # like the old stream's `__w != ''` — they count as removed.
    # single_eval: the where-filter below references __t, and
    # without the barrier Catalyst would substitute the whole
    # reassembly into the pushed filter — re-running it per
    # surviving row (the same Filter/Project double-eval the
    # compiler's heavy-filter barrier prevents).
    reasm = single_eval(
        f"element_at(transform(array(named_struct("
        f"'w', {ws}, 'c', __cov)), b -> named_struct("
        f"'kept', filter(transform("
        f"array_except(sequence(0, size(b.w) - 1), b.c), "
        f"i -> element_at(b.w, i + 1)), x -> x != ''), "
        f"'m', size(b.w))), 1)"
    )
    dirty = (
        df.join(cov, id_col)
        .select(F.col(id_col), F.expr(reasm).alias("__t"))
        .where(F.expr("size(__t.kept) > 0"))
        .select(
            F.col(id_col),
            F.expr("concat_ws(' ', __t.kept)").alias("text_cleaned"),
            F.expr("CAST(__t.m AS BIGINT)").alias("n_words"),
            F.expr(
                "CAST(__t.m - size(__t.kept) AS BIGINT)"
            ).alias("n_removed_words"),
            F.expr(
                "round((__t.m - size(__t.kept)) "
                "/ CAST(__t.m AS DOUBLE), 6)"
            ).alias("removed_fraction"),
        )
    )
    return dirty.unionByName(clean)
