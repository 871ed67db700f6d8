"""Operator entries: one build function and one DuckDB oracle each.

``ENTRIES`` feeds __spark_entry__.py: each operator gets a
(spark, sf_dir) callable and a DuckDB oracle — since round 3 EVERY
entry is value-oracled: the oracle replays the minhash/simhash
signature pipelines exactly (zlib crc32 as a table-driven list_reduce
fold, permutations in HUGEINT mod-2^64), IVF searches with pretrained
centroid literals, and even the multimodal fake decoder is
value-oracled (sha256-deterministic).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from prql_spark.operators import (
    asof,
    dedup,
    graph,
    multimodal,
    profile,
    similarity,
    sketches,
    skew,
    splits,
    text,
    textnorm,
)
from prql_spark.sources.catalog import Catalog

NORM_T = "lower(regexp_replace(trim({t}), '\\s+', ' ', 'g'))"  # duckdb
NORM = NORM_T.format(t="text")
WORDS_DD = f"string_split({NORM}, ' ')"
# case-PRESERVING word split (chunking reconstructs text — it must
# not fold case the way the scoring/dedup tokenizers deliberately do)
CWORDS_DD = (
    "string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Catalog(spark, sf_dir).load("documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Catalog(spark, sf_dir).load("embeddings")


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _embs(spark, sf_dir)
        .where(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
    )


# ------------------------------------------------------------- entries


def q_dedup_exact(spark, sf_dir):
    out = dedup.dedup_exact(_docs(spark, sf_dir))
    return out.select("doc_id").orderBy("doc_id")


SQL_DEDUP_EXACT = f"""
SELECT doc_id FROM (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5({NORM})) AS keeper
  FROM documents) t
WHERE doc_id = keeper ORDER BY doc_id
"""


def q_token_count(spark, sf_dir):
    out = text.token_count(_docs(spark, sf_dir))
    return out.select("doc_id", "ws_tokens", "bpe_tokens").orderBy("doc_id")


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
  CASE WHEN trim(text) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
  len(regexp_extract_all(text, '{text.BPE_ISH}')) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


def q_quality(spark, sf_dir):
    out = text.quality_score(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_chars_q",
        F.expr("round(alpha_ratio, 6)").alias("alpha_ratio"),
        F.expr("round(punct_ratio, 6)").alias("punct_ratio"),
        "n_words",
        F.expr("round(stopword_ratio, 6)").alias("stopword_ratio"),
        "quality",
    ).orderBy("doc_id")


_STOP_RE = "\\b(" + "|".join(text.STOPWORDS_EN) + ")\\b"

SQL_QUALITY = f"""
WITH f AS (
  SELECT doc_id,
    length(text) AS n,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
    len({WORDS_DD}) AS n_words,
    len(regexp_extract_all(lower(text), '{_STOP_RE}')) AS stops
  FROM documents)
SELECT doc_id,
  n AS n_chars_q,
  round(CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END, 6) AS alpha_ratio,
  round(CASE WHEN n = 0 THEN 0.0 ELSE punct / n END, 6) AS punct_ratio,
  n_words,
  round(CASE WHEN n_words = 0 THEN 0.0 ELSE stops / n_words END, 6)
    AS stopword_ratio,
  round(least(1.0, greatest(0.0,
    0.25 * least(n / 500.0, 1.0)
    + 0.35 * (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END)
    + 0.25 * least((CASE WHEN n_words = 0 THEN 0.0
                    ELSE stops / n_words END) * 4.0, 1.0)
    + 0.15 * (1.0 - least((CASE WHEN n = 0 THEN 0.0
                           ELSE punct / n END) * 10.0, 1.0)))), 6)
    AS quality
FROM f ORDER BY doc_id
"""


def q_lang_id(spark, sf_dir):
    out = text.lang_id(_docs(spark, sf_dir))
    return out.select("doc_id", "lang_guess").orderBy("doc_id")


def _lang_score_dd(lang: str) -> str:
    pat = "\\b(" + "|".join(text.LANG_SIGNATURES[lang]) + ")\\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


# tie-break mirrors Spark's array_max on (score, lang) structs:
# highest score, then lexicographically greatest lang.
SQL_LANG_ID = f"""
WITH s AS (
  SELECT doc_id,
    {_lang_score_dd('en')} AS s_en, {_lang_score_dd('de')} AS s_de,
    {_lang_score_dd('fr')} AS s_fr, {_lang_score_dd('es')} AS s_es
  FROM documents)
SELECT doc_id,
  CASE WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       ELSE 'de' END AS lang_guess
FROM s ORDER BY doc_id
"""


def q_fingerprint(spark, sf_dir):
    out = text.fingerprint(_docs(spark, sf_dir))
    return out.select("doc_id", "fp_md5").orderBy("doc_id")


SQL_FINGERPRINT = f"""
SELECT doc_id, md5({NORM}) AS fp_md5 FROM documents ORDER BY doc_id
"""


def q_ngram_counts(spark, sf_dir):
    return text.ngram_counts(_docs(spark, sf_dir), n=2, top_k=200)


SQL_NGRAM_COUNTS = f"""
WITH g AS (
  SELECT unnest(list_transform(
    range(0, greatest(len({WORDS_DD}) - 2, 0) + 1),
    i -> array_to_string(list_slice({WORDS_DD}, i + 1, i + 2), ' '))) AS ngram
  FROM documents)
SELECT ngram, count(*) AS freq FROM g
WHERE ngram != ''
GROUP BY ngram ORDER BY freq DESC, ngram LIMIT 200
"""


def q_doc_frequency(spark, sf_dir):
    return text.doc_frequency(_docs(spark, sf_dir), min_df=5).orderBy(
        "term"
    )


SQL_DOC_FREQUENCY = f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({WORDS_DD})) AS term
  FROM documents)
SELECT term, count(*) AS df FROM t
WHERE term != ''
GROUP BY term HAVING count(*) >= 5 ORDER BY term
"""


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.5
    ).orderBy("id_a", "id_b")


SQL_NGRAM_JACCARD = f"""
WITH g0 AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(0, greatest(len({WORDS_DD}) - 3, 0) + 1),
      i -> concat_ws(' ', list_slice({WORDS_DD}, i + 1, i + 3)))) AS grams,
    list_distinct([
      concat('f#', {WORDS_DD}[1], '#',
        CAST(CAST(floor(length({NORM}) / 100) AS INT) AS VARCHAR)),
      concat('l#', {WORDS_DD}[-1], '#',
        CAST(CAST(floor(length({NORM}) / 100) AS INT) AS VARCHAR))
    ]) AS blocks
  FROM documents),
g AS (SELECT doc_id, grams, unnest(blocks) AS block FROM g0
      WHERE len(grams) > 0),
bk AS (SELECT block, count(*) AS cnt, min(doc_id) AS mn
       FROM g GROUP BY block HAVING count(*) >= 2)
SELECT l.doc_id AS id_a, r.doc_id AS id_b,
  any_value(round(len(list_intersect(l.grams, r.grams)) /
        (len(l.grams) + len(r.grams)
         - len(list_intersect(l.grams, r.grams))), 6)) AS jaccard
FROM g l JOIN g r
  ON l.block = r.block AND l.doc_id < r.doc_id
JOIN bk ON bk.block = l.block
WHERE (bk.cnt <= 64 OR l.doc_id = bk.mn)  -- engine's star_cap mirror
  AND round(len(list_intersect(l.grams, r.grams)) /
        (len(l.grams) + len(r.grams)
         - len(list_intersect(l.grams, r.grams))), 6) >= 0.5
GROUP BY l.doc_id, r.doc_id
ORDER BY id_a, id_b
"""


def q_dedup_minhash(spark, sf_dir):
    out = dedup.dedup_minhash_lsh(
        _docs(spark, sf_dir), threshold=0.5
    )
    return out.select("doc_id").orderBy("doc_id")


def _crc32_table() -> list[int]:
    """The standard CRC-32 (IEEE 802.3, zlib) byte table."""
    tbl = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ (0xEDB88320 if c & 1 else 0)
        tbl.append(c)
    return tbl


# zlib-exact crc32 of a VARCHAR `s` in DuckDB: utf-8 bytes via
# hex(encode()), table-driven fold over a `crct(t)` relation the
# caller joins in (hoisted — inlining the 256-entry literal in the
# lambda re-builds it per step, measured 160× slower).
_CRC32_DD = (
    "xor(list_reduce("
    "list_prepend(4294967295::UBIGINT, "
    "list_transform(generate_series(1, length(hex(encode({s})))//2), "
    "i -> ('0x' || substr(hex(encode({s})), i*2-1, 2))::UBIGINT)), "
    "(crc, b) -> xor(crc >> 8, t[((xor(crc, b) & 255) + 1)::BIGINT])), "
    "4294967295::UBIGINT)"
)


def _minhash_band_ctes(prefix: str = "", where: str = "") -> str:
    """The shared WITH-clause prefix that replays the minhash
    signature pipeline in DuckDB through the banded signatures
    (`bands`): zlib-exact crc32 shingle hashes, the 64 multiply-shift
    permutations as HUGEINT mod-2^64, 16×4 banding by slice equality.
    Composed by the dedup oracle (adds star-cap + keep-min), the
    cluster oracle (adds pair extraction + recursive closure), and —
    twice, with a ``prefix`` renaming every CTE and a ``where``
    restricting the source rows — the near-decontamination oracle
    (document bands joined against reference bands)."""
    perms = ", ".join(
        f"({j}, {a}::HUGEINT, {b}::HUGEINT)"
        for j, (a, b) in enumerate(dedup._perm_params(64, 42))
    )
    crct = "[" + ", ".join(f"{x}::UBIGINT" for x in _crc32_table()) + "]"
    crc = _CRC32_DD.format(s="shingle")
    p = prefix
    return f"""{p}params AS (SELECT * FROM (VALUES {perms}) p(j, a, b)),
{p}crct AS (SELECT {crct} AS t),
{p}d AS (
  SELECT doc_id, {NORM} AS t FROM documents
  WHERE length(trim(text)) > 0 {where}),
{p}w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM {p}d),
{p}shs AS (
  SELECT doc_id,
    array_to_string(list_slice(ws, i, i + 4), ' ') AS shingle
  FROM (SELECT doc_id, ws,
          unnest(generate_series(1, greatest(len(ws) - 5, 0) + 1)) AS i
        FROM {p}w)),
{p}sh AS (
  SELECT DISTINCT doc_id, {crc} AS h FROM {p}shs, {p}crct),
{p}m AS (
  SELECT doc_id, j,
    min((a * h::HUGEINT + b) % 18446744073709551616) AS v
  FROM {p}sh CROSS JOIN {p}params GROUP BY doc_id, j),
{p}sigl AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM {p}m GROUP BY doc_id),
{p}bands AS (
  SELECT doc_id, sig, b, list_slice(sig, b * 4 + 1, b * 4 + 4) AS bslice
  FROM (SELECT doc_id, sig, unnest(generate_series(0, 15)) AS b FROM {p}sigl))"""


def _sql_minhash_dedup() -> str:
    """Full value oracle for dedup_minhash_lsh: DuckDB replays the
    ENTIRE signature pipeline (see _minhash_band_ctes — the engine
    keeps crc32, the measured-fastest hash; the oracle reproduces it
    with a table-driven fold, where speed is free; the engine's
    xxhash64 bucket key only NAMES a band slice, and two docs share a
    bucket iff their slices are equal, which DuckDB groups on
    directly), then the star_cap mega-bucket guard (pair only with
    the bucket min when over cap), est-jaccard verification, and the
    keep-min-id anti-join."""
    return f"""
WITH {_minhash_band_ctes()},
bk AS (
  SELECT b, bslice, count(*) AS cnt, min(doc_id) AS mn
  FROM bands GROUP BY b, bslice HAVING count(*) >= 2),
losers AS (
  SELECT DISTINCT r.doc_id AS id_b
  FROM bands l
  JOIN bands r ON l.b = r.b AND l.bslice = r.bslice
              AND l.doc_id < r.doc_id
  JOIN bk ON bk.b = l.b AND bk.bslice = l.bslice
  WHERE (bk.cnt <= 64 OR l.doc_id = bk.mn)
    AND len(list_filter(generate_series(1, 64),
            i -> l.sig[i] = r.sig[i])) / 64.0 >= 0.5)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM losers)
ORDER BY doc_id
"""


def q_simhash_pairs(spark, sf_dir):
    sigs = dedup.simhash_signatures(_docs(spark, sf_dir))
    return dedup.simhash_near_pairs(sigs, max_hamming=8).orderBy(
        "id_a", "id_b"
    )


def _sql_simhash_pairs() -> str:
    """Full value oracle for dedup_simhash_pairs: the engine's 64-bit
    token hash is two crc32 calls (dedup.py:_TOKEN_HASH64), which
    DuckDB reproduces with the zlib-exact table fold — so every
    signature bit replays: per-token ±1 bit sums, pigeonhole banding
    (max_hamming + 1 = 9 bit-slice bands, bounds generated from the
    SAME simhash_band_bounds the engine unrolls) by bit-slice
    equality, star_cap guard, Hamming verification as a
    differing-bit count over the bit lists."""
    crct = "[" + ", ".join(f"{x}::UBIGINT" for x in _crc32_table()) + "]"
    crc_hi = _CRC32_DD.format(s="tk")
    crc_lo = _CRC32_DD.format(s="(tk || '#')")
    bounds = dedup.simhash_band_bounds(9)
    lo = "[" + ", ".join(str(off + 1) for off, _ in bounds) + "]"
    hi = "[" + ", ".join(str(off + w) for off, w in bounds) + "]"
    return f"""
WITH crct AS (SELECT {crct} AS t),
d AS (SELECT doc_id, {NORM} AS t FROM documents),
tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM d),
th AS (
  SELECT doc_id,
    {crc_hi} * 4294967296::UBIGINT + {crc_lo} AS h
  FROM tok, crct),
bit_sums AS (
  SELECT doc_id, b,
    CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
         THEN 1 ELSE 0 END AS bit
  FROM (SELECT doc_id, h, unnest(generate_series(0, 63)) AS b FROM th)
  GROUP BY doc_id, b),
bits AS (SELECT doc_id, list(bit ORDER BY b) AS bits
         FROM bit_sums GROUP BY doc_id),
banded AS (
  SELECT doc_id, bits, b,
         list_slice(bits, ({lo})[b + 1], ({hi})[b + 1]) AS bkey
  FROM (SELECT doc_id, bits, unnest(generate_series(0, 8)) AS b
        FROM bits)),
bk AS (
  SELECT b, bkey, count(*) AS cnt, min(doc_id) AS mn
  FROM banded GROUP BY b, bkey HAVING count(*) >= 2),
pairs AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
    len(list_filter(generate_series(1, 64),
        i -> l.bits[i] != r.bits[i])) AS hamming
  FROM banded l
  JOIN banded r ON l.b = r.b AND l.bkey = r.bkey
               AND l.doc_id < r.doc_id
  JOIN bk ON bk.b = l.b AND bk.bkey = l.bkey
  WHERE bk.cnt <= 64 OR l.doc_id = bk.mn)
SELECT DISTINCT id_a, id_b, hamming FROM pairs
WHERE hamming <= 8
ORDER BY id_a, id_b
"""


# ---- embedding similarity

_DOT_DD = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)


def _cos_dd(a: str, b: str) -> str:
    dot = _DOT_DD.format(a=a, b=b)
    na = _DOT_DD.format(a=a, b=a)
    nb = _DOT_DD.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def q_ann_bruteforce(spark, sf_dir):
    return similarity.brute_force_topk(
        _embs(spark, sf_dir), _queries_df(spark, sf_dir), k=10
    ).orderBy("query_id", F.desc("cosine"), "vec_id")


SQL_ANN_BRUTEFORCE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, d.vec_id,
    round({_cos_dd('d.embedding', 'q.qvec')}, 6) AS cosine
  FROM embeddings d CROSS JOIN q),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cosine DESC, vec_id) AS rk FROM scored)
SELECT query_id, vec_id, cosine FROM ranked WHERE rk <= 10
ORDER BY query_id, cosine DESC, vec_id
"""


def _planes_sql_dd(planes: list[list[float]]) -> list[str]:
    return [
        "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in p) + "]"
        for p in planes
    ]


def _bucket_dd(vec: str, planes: list[list[float]]) -> str:
    bits = []
    for j, arr in enumerate(_planes_sql_dd(planes)):
        dot = _DOT_DD.format(a=vec, b=arr)
        bits.append(f"CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def q_ann_lsh(spark, sf_dir):
    """LSH ANN with Hamming-1 multiprobe (query side explodes to
    n_planes+1 probe buckets; corpus never shuffles)."""
    return similarity.lsh_topk(
        _embs(spark, sf_dir),
        _queries_df(spark, sf_dir),
        dim=64,
        k=10,
        n_planes=8,
        multiprobe=True,
    ).orderBy("query_id", F.desc("cosine"), "vec_id")


def _sql_ann_lsh() -> str:
    planes = similarity.hyperplanes(64, 8, seed=42)
    bd = _bucket_dd("d.embedding", planes)
    bq = _bucket_dd("q.qvec", planes)
    probes = ", ".join(f"xor(qb, {1 << j})" for j in range(8))
    return f"""
WITH q0 AS (SELECT vec_id AS query_id, embedding AS qvec,
            {bq.replace('q.qvec', 'embedding')} AS qb
            FROM embeddings q WHERE vec_id < 5),
q AS (SELECT query_id, qvec, unnest([qb, {probes}]) AS pb FROM q0),
scored AS (
  SELECT q.query_id, d.vec_id,
    round({_cos_dd('d.embedding', 'q.qvec')}, 6) AS cosine
  FROM embeddings d JOIN q ON {bd} = q.pb),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cosine DESC, vec_id) AS rk FROM scored)
SELECT query_id, vec_id, cosine FROM ranked WHERE rk <= 10
ORDER BY query_id, cosine DESC, vec_id
"""


def q_ann_ivf(spark, sf_dir):
    """IVF ANN search with the PRETRAINED coarse quantizer — the way
    a real IVF index runs (train once offline, search many times).
    Centroids are literals from scripts/gen_ivf_centroids.py, so the
    DuckDB oracle searches with the exact same quantizer and the
    whole nprobe+rerank path is value-checked. The Lloyd's TRAINER
    stays covered by recall-vs-bruteforce tests in
    tests/test_operators.py."""
    from entries._ivf_centroids import CENTROIDS

    return similarity.ivf_topk(
        _embs(spark, sf_dir),
        _queries_df(spark, sf_dir),
        dim=64,
        k=10,
        n_lists=8,
        nprobe=4,
        centroids=CENTROIDS,
    ).orderBy("query_id", F.desc("cosine"), "vec_id")


def _sql_ann_ivf() -> str:
    """DuckDB oracle for the IVF search path: same centroid literals,
    same round-9 argmax assignment (ties to larger index), same
    nprobe probe order, same round-6 rerank."""
    from entries._ivf_centroids import CENTROIDS

    cent_rows = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(CENTROIDS)
    )
    cos_dc = _cos_dd("d.embedding", "c.c")
    cos_qc = _cos_dd("q.qvec", "c.c")
    return f"""
WITH cent AS (SELECT * FROM (VALUES {cent_rows}) c(i, c)),
q AS (SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings WHERE vec_id < 5),
assign AS (
  SELECT vec_id, embedding, i,
    row_number() OVER (PARTITION BY vec_id
      ORDER BY cs DESC, i DESC) AS rk
  FROM (SELECT d.vec_id, d.embedding, c.i,
          round({cos_dc}, 9) AS cs
        FROM embeddings d CROSS JOIN cent c)),
corpus AS (SELECT vec_id, embedding, i AS lst FROM assign WHERE rk = 1),
qprobe AS (
  SELECT query_id, qvec, i AS lst FROM (
    SELECT q.query_id, q.qvec, c.i,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round({cos_qc}, 9) DESC, c.i DESC) AS rk
    FROM q CROSS JOIN cent c) WHERE rk <= 4),
scored AS (
  SELECT query_id, vec_id,
    round({_cos_dd('embedding', 'qvec')}, 6) AS cosine
  FROM corpus JOIN qprobe USING (lst)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cosine DESC, vec_id) AS rk FROM scored)
SELECT query_id, vec_id, cosine FROM ranked WHERE rk <= 10
ORDER BY query_id, cosine DESC, vec_id
"""


def q_embedding_near_dups(spark, sf_dir):
    # 0.35: the synthetic embeddings have no true near-dups (max
    # cosine ~0.48), so a production-style 0.95 threshold would give
    # a trivially-empty (hence meaningless) oracle match
    return similarity.embedding_near_dups(
        _embs(spark, sf_dir), dim=64, threshold=0.35, n_planes=8
    ).orderBy("id_a", "id_b")


def _sql_embedding_near_dups() -> str:
    # mirrors the asymmetric Hamming-1 multiprobe: left side joins on
    # bucket XOR each single-bit mask (plus 0), right side exact
    planes = similarity.hyperplanes(64, 8, seed=42)
    b = _bucket_dd("embedding", planes)
    cos = _cos_dd("l.embedding", "r.embedding")
    masks = ", ".join(f"({m})" for m in [0] + [1 << j for j in range(8)])
    return f"""
WITH b AS (SELECT vec_id, embedding, {b} AS bucket FROM embeddings),
probes AS (
  SELECT vec_id, embedding, xor(bucket, m.mask) AS probe
  FROM b, (VALUES {masks}) AS m(mask))
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
  round({cos}, 6) AS cosine
FROM probes l JOIN b r
  ON l.probe = r.bucket AND l.vec_id < r.vec_id
WHERE round({cos}, 6) >= 0.35
ORDER BY id_a, id_b
"""


def q_multimodal_decode(spark, sf_dir):
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    out = multimodal.decode_features(media)
    return out.select(
        "media_id", "media_type", "width", "height", "n_bytes"
    ).orderBy("media_id")


def q_multimodal_frames(spark, sf_dir):
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    return (
        multimodal.frame_sample(media)
        .select("media_id", "frame_index", F.length("frame").alias("frame_bytes"))
        .orderBy("media_id", "frame_index")
    )


def q_multimodal_meta(spark, sf_dir):
    """The oracle-able half of the multimodal pipeline: typed
    metadata + payload sizing (decode itself stays rows-only)."""
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    return media.select(
        "media_id",
        "media_type",
        F.expr("length(media)").alias("n_bytes"),
        F.col("meta.origin").alias("origin"),
        F.col("meta.payload_hint").alias("payload_hint"),
    ).orderBy("media_id")


def q_multimodal_netpbm_decode(spark, sf_dir):
    """The REAL codec path graduated to driver-row evidence: planted
    netpbm payloads (multimodal.netpbm_planted_payloads) through
    NetpbmCodec's actual pixel decode; the oracle is the offline-
    computed expected statistics as a VALUES table. (The sha256 fake
    stays the default codec elsewhere for digest-math oracles.)"""
    rows = [
        (i, bytearray(p), mt)
        for i, p, mt in multimodal.netpbm_planted_payloads()
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    out = multimodal.decode_features(media, multimodal.NetpbmCodec())
    return out.selectExpr(
        "media_id", "media_type", "width", "height", "n_bytes",
        "features[0] AS f_mean_r",
        "features[3] AS f_luma_std",
        "features[7] AS f_quad_br",
    ).orderBy("media_id")


# expected values computed OFFLINE by running NetpbmCodec on the
# planted payloads (deterministic float64 pixel statistics, round-6).
# Every float is CAST to DOUBLE: DuckDB types a bare 0.439216 literal
# DECIMAL(7,6), which would fail the schema/hash match.
SQL_MULTIMODAL_NETPBM = """
SELECT media_id, media_type,
  CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
  n_bytes,
  CAST(f_mean_r AS DOUBLE) AS f_mean_r,
  CAST(f_luma_std AS DOUBLE) AS f_luma_std,
  CAST(f_quad_br AS DOUBLE) AS f_quad_br
FROM (VALUES
  (CAST(1 AS BIGINT), 'image/x-portable-pixmap', 9, 6, CAST(183 AS BIGINT),
   0.439216, 0.090104, 0.445769),
  (CAST(2 AS BIGINT), 'image/x-portable-graymap', 7, 5, CAST(46 AS BIGINT),
   0.466667, 0.277241, 0.7),
  (CAST(3 AS BIGINT), 'image/x-portable-graymap', 4, 3, CAST(22 AS BIGINT),
   0.366667, 0.230137, 0.566667),
  (CAST(4 AS BIGINT), 'image/x-portable-pixmap', 0, 0, CAST(20 AS BIGINT),
   0.0, 0.0, 0.0),
  (CAST(5 AS BIGINT), 'image/x-portable-graymap', 0, 0, CAST(47 AS BIGINT),
   0.0, 0.0, 0.0)
) AS t(media_id, media_type, width, height, n_bytes,
       f_mean_r, f_luma_std, f_quad_br)
ORDER BY media_id
"""


def q_multimodal_wav_decode(spark, sf_dir):
    """The REAL audio codec path as driver-row evidence: planted PCM
    WAV payloads (sine / stereo ramp / 8-bit constant / corrupt)
    through WavCodec's actual signal statistics; VALUES oracle
    computed offline."""
    rows = [
        (i, bytearray(p), mt)
        for i, p, mt in multimodal.wav_planted_payloads()
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    out = multimodal.decode_features(media, multimodal.WavCodec())
    return out.selectExpr(
        "media_id", "width AS sample_rate", "height AS n_frames",
        "features[0] AS duration_sec",
        "features[1] AS rms",
        "features[2] AS peak",
        "features[3] AS zcr",
    ).orderBy("media_id")


SQL_MULTIMODAL_WAV = """
SELECT media_id, CAST(sample_rate AS INTEGER) AS sample_rate,
  CAST(n_frames AS INTEGER) AS n_frames,
  CAST(duration_sec AS DOUBLE) AS duration_sec,
  CAST(rms AS DOUBLE) AS rms,
  CAST(peak AS DOUBLE) AS peak,
  CAST(zcr AS DOUBLE) AS zcr
FROM (VALUES
  (CAST(1 AS BIGINT), 8000, 8000, 1.0, 0.353539, 0.5, 0.11989),
  (CAST(2 AS BIGINT), 16000, 4000, 0.25, 0.288734, 0.5, 0.00025),
  (CAST(3 AS BIGINT), 8000, 2000, 0.25, 0.25, 0.25, 0.0),
  (CAST(4 AS BIGINT), 0, 0, 0.0, 0.0, 0.0, 0.0)
) AS t(media_id, sample_rate, n_frames, duration_sec, rms, peak, zcr)
ORDER BY media_id
"""


def q_multimodal_y4m_decode(spark, sf_dir):
    """The REAL video codec path as driver-row evidence: planted
    YUV4MPEG2 payloads (luma ramp / constant / truncated / corrupt)
    through Y4mCodec's actual frame statistics; VALUES oracle
    computed offline."""
    rows = [
        (i, bytearray(p), mt)
        for i, p, mt in multimodal.y4m_planted_payloads()
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    out = multimodal.decode_features(media, multimodal.Y4mCodec())
    return out.selectExpr(
        "media_id", "width", "height",
        "features[0] AS n_video_frames",
        "features[1] AS fps",
        "features[2] AS luma_mean",
        "features[7] AS motion",
    ).orderBy("media_id")


SQL_MULTIMODAL_Y4M = """
SELECT media_id, CAST(width AS INTEGER) AS width,
  CAST(height AS INTEGER) AS height,
  CAST(n_video_frames AS DOUBLE) AS n_video_frames,
  CAST(fps AS DOUBLE) AS fps,
  CAST(luma_mean AS DOUBLE) AS luma_mean,
  CAST(motion AS DOUBLE) AS motion
FROM (VALUES
  (CAST(1 AS BIGINT), 6, 4, 6.0, 25.0, 0.294118, 0.117647),
  (CAST(2 AS BIGINT), 2, 2, 2.0, 30.0, 0.501961, 0.0),
  (CAST(3 AS BIGINT), 6, 4, 5.0, 25.0, 0.235294, 0.117647),
  (CAST(4 AS BIGINT), 0, 0, 0.0, 0.0, 0.0, 0.0)
) AS t(media_id, width, height, n_video_frames, fps, luma_mean, motion)
ORDER BY media_id
"""


def _hexbyte_dd(h: str, i: int) -> str:
    """DuckDB: byte ``i`` of a lowercase hex digest as an integer."""
    a, b = 2 * i + 1, 2 * i + 2
    return (
        f"((strpos('0123456789abcdef', substr({h},{a},1))-1)*16 + "
        f"strpos('0123456789abcdef', substr({h},{b},1))-1)"
    )


def _sql_multimodal_decode() -> str:
    # mirrors multimodal.Sha256FakeCodec: sha256(utf8 payload), dims from
    # digest bytes 0/1 (DuckDB sha256(VARCHAR) hashes the utf-8 bytes,
    # same as hashlib.sha256(text.encode()))
    w = _hexbyte_dd("h", 0)
    ht = _hexbyte_dd("h", 1)
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         WHEN doc_id % 3 = 1 THEN 'audio/wav'
         ELSE 'video/mp4' END AS media_type,
    sha256(text) AS h,
    octet_length(encode(text)) AS n_bytes
  FROM documents)
SELECT media_id, media_type,
  CAST(64 + {w} % 192 AS INT) AS width,
  CAST(64 + {ht} % 192 AS INT) AS height,
  n_bytes
FROM m ORDER BY media_id
"""


# mirrors multimodal.frame_sample: video payloads in 32-byte chunks,
# every 4th chunk sampled → frame fi covers offset fi*128
SQL_MULTIMODAL_FRAMES = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 2),
e AS (
  SELECT media_id, n,
    CAST(unnest(generate_series(0,
      CAST(ceil(ceil(CAST(n AS DOUBLE)/32)/4) AS BIGINT) - 1)) AS INT)
      AS frame_index
  FROM m)
SELECT media_id, frame_index,
  CASE WHEN n - frame_index*128 >= 32 THEN 32
       ELSE CAST(n - frame_index*128 AS INT) END AS frame_bytes
FROM e ORDER BY media_id, frame_index
"""


SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       WHEN doc_id % 3 = 1 THEN 'audio/wav'
       ELSE 'video/mp4' END AS media_type,
  octet_length(encode(text)) AS n_bytes,
  source AS origin,
  n_chars AS payload_hint
FROM documents ORDER BY doc_id
"""


def q_events_hourly(spark, sf_dir):
    """Tumbling-window rollup — the batch twin of the streaming
    pipeline in prql_spark.streaming (same plan under readStream)."""
    ev = Catalog(spark, sf_dir).load("events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.expr("coalesce(value, 0.0)")), 2).alias("value_sum"),
        )
        .orderBy("bucket", "event_type")
    )


SQL_EVENTS_HOURLY = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
  count(*) AS n, round(sum(coalesce(value, 0.0)), 2) AS value_sum
FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type
"""


def q_asof_join(spark, sf_dir):
    """Attribute each click to the user's most recent signup."""
    ev = Catalog(spark, sf_dir).load("events")
    clicks = ev.where(F.col("event_type") == "click")
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    out = asof.asof_join(
        clicks.select("event_id", "user_id", "ts"),
        signups,
        on="ts",
        by="user_id",
        value_cols=["signup_event_id"],
    )
    return out.select("event_id", "user_id", "signup_event_id").orderBy(
        "event_id"
    )


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
signups AS (
  SELECT user_id, ts, max(event_id) AS signup_event_id
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, s.signup_event_id
FROM clicks c ASOF LEFT JOIN signups s
  ON c.user_id = s.user_id AND c.ts >= s.ts
ORDER BY c.event_id
"""


def q_asof_forward(spark, sf_dir):
    """Forward as-of with a 2-hour tolerance: each view attributed
    to the user's NEXT purchase within 2 h (conversion windows)."""
    ev = Catalog(spark, sf_dir).load("events")
    views = ev.where(F.col("event_type") == "view")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    out = asof.asof_join(
        views.select("event_id", "user_id", "ts"),
        purchases,
        on="ts",
        by="user_id",
        value_cols=["purchase_event_id"],
        direction="forward",
        tolerance_seconds=7200,
    )
    return out.select("event_id", "user_id", "purchase_event_id").orderBy(
        "event_id"
    )


SQL_ASOF_FORWARD = """
WITH views AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
purchases AS (
  SELECT user_id, ts, max(event_id) AS purchase_event_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT v.event_id, v.user_id,
  CASE WHEN p.ts IS NOT NULL
        AND epoch(p.ts) - epoch(v.ts) <= 7200
       THEN p.purchase_event_id END AS purchase_event_id
FROM views v ASOF LEFT JOIN purchases p
  ON v.user_id = p.user_id AND v.ts <= p.ts
ORDER BY v.event_id
"""


def q_split_by_hash(spark, sf_dir):
    out = splits.split_by_hash(_docs(spark, sf_dir), "doc_id", 0.8, 0.1)
    return out.select("doc_id", "split").orderBy("doc_id")


SQL_SPLIT_BY_HASH = f"""
SELECT doc_id,
  CASE WHEN substr(md5(concat('', CAST(doc_id AS VARCHAR))), 1, 4)
            < '{splits._cut(0.8)}' THEN 'train'
       WHEN substr(md5(concat('', CAST(doc_id AS VARCHAR))), 1, 4)
            < '{splits._cut(0.9)}' THEN 'val'
       ELSE 'test' END AS split
FROM documents ORDER BY doc_id
"""


def q_sample_by_hash(spark, sf_dir):
    out = splits.sample_by_hash(_docs(spark, sf_dir), "doc_id", 0.25, "s1")
    return out.select("doc_id").orderBy("doc_id")


SQL_SAMPLE_BY_HASH = f"""
SELECT doc_id FROM documents
WHERE substr(md5(concat('s1', CAST(doc_id AS VARCHAR))), 1, 4)
      < '{splits._cut(0.25)}'
ORDER BY doc_id
"""


def q_redact_pii(spark, sf_dir):
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.expr(
            "CASE WHEN doc_id % 5 = 0 THEN concat(text,"
            " ' visit https://x.example/a?b=1 or mail a.b@c.io ref 12345678')"
            " ELSE text END"
        ),
    )
    out = splits.redact_pii(docs)
    return out.select("doc_id", "text_redacted").orderBy("doc_id")


SQL_REDACT_PII = f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN concat(text,
      ' visit https://x.example/a?b=1 or mail a.b@c.io ref 12345678')
    ELSE text END AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{splits.URL_RE}', '<URL>', 'g'),
    '{splits.EMAIL_RE}', '<EMAIL>', 'g'),
    '{splits.DIGIT_RUN_RE}', '<NUM>', 'g') AS text_redacted
FROM d ORDER BY doc_id
"""


def q_strip_boilerplate(spark, sf_dir):
    out = splits.strip_boilerplate(_docs(spark, sf_dir))
    return out.select("doc_id", "text_clean").orderBy("doc_id")


SQL_STRIP_BOILERPLATE = """
SELECT doc_id,
  trim(regexp_replace(regexp_replace(text,
    '[^\\x20-\\x7E\\n\\t]', '', 'g'), '\\s+', ' ', 'g')) AS text_clean
FROM documents ORDER BY doc_id
"""


def q_sessionize(spark, sf_dir):
    """30-min-gap sessionization (batch twin of the
    applyInPandasWithState streaming pipeline)."""
    from prql_spark.streaming import sessionize

    ev = Catalog(spark, sf_dir).load("events")
    out = sessionize(ev, gap_minutes=30)
    return (
        out.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.expr("coalesce(value, 0.0)")), 2).alias("v"),
        )
        .orderBy("user_id", "session_id")
    )


def q_multimodal_resize(spark, sf_dir):
    """Resize plumbing, value-oracled: the stub truncates payloads to
    max_dim^2/64 bytes, so output sizes are exactly computable."""
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    out = multimodal.resize(media, max_dim=128)
    return out.select(
        "media_id", F.expr("length(media)").alias("n_bytes_resized")
    ).orderBy("media_id")


SQL_MULTIMODAL_RESIZE = """
SELECT doc_id AS media_id,
  least(octet_length(encode(text)), 256) AS n_bytes_resized
FROM documents ORDER BY doc_id
"""


def q_csv_roundtrip(spark, sf_dir):
    """Sources coverage, value-oracled: nation → csv (written to a
    per-sf scratch dir) → Catalog-over-csv read → aggregate. Proves
    the csv writer/reader + catalog format path preserve values."""
    import os
    import tempfile

    from prql_spark.sources import io as pio

    import hashlib

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_csvrt_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    nation = Catalog(spark, sf_dir).load("nation")
    pio.write_csv(nation, os.path.join(d, "nation"))
    back = Catalog(spark, d, fmt="csv").load("nation")
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_nationkey").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


SQL_CSV_ROUNDTRIP = """
SELECT n_regionkey, count(*) AS n,
  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


def q_zorder_roundtrip(spark, sf_dir):
    """Z-order layout writer (sources/layout.py), value-oracled as a
    lossless rewrite: orders → z-ordered parquet over (o_custkey,
    o_totalprice) → read back → aggregate. Clustering quality (per-
    file footer min/max narrowness on BOTH columns) is asserted in
    tests/test_layout.py."""
    import os
    import tempfile

    from prql_spark.sources.layout import write_zorder

    import hashlib
    import shutil

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_zrt_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    shutil.rmtree(d, ignore_errors=True)
    orders = Catalog(spark, sf_dir).load("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_zorder(orders, d, ["o_custkey", "o_totalprice"], n_files=8)
    back = spark.read.parquet(d)
    return (
        back.groupBy(F.expr("o_custkey % 10").alias("custkey_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("round(sum(o_totalprice), 2)").alias("price_sum"),
            F.expr("min(o_orderkey)").alias("min_key"),
            F.expr("max(o_orderkey)").alias("max_key"),
        )
        .orderBy("custkey_mod")
    )


def q_bucketed_join(spark, sf_dir):
    """Bucketed-layout co-located join (sources/bucketing.py),
    value-oracled as lossless: orders+lineitem written co-bucketed
    by order key, read back through the catalog, joined and
    aggregated — identical values to the plain-parquet join DuckDB
    runs. The plan contract (ZERO Exchange on the co-bucketed join,
    single-bucket pruning under an equality filter, shuffle fallback
    on mismatched bucket counts) is pinned in tests/test_layout.py."""
    import hashlib

    from prql_spark.sources.bucketing import (
        read_bucketed,
        write_bucketed,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    to, tl = f"prql_bkt_o_{tag}", f"prql_bkt_l_{tag}"
    # a PREVIOUS session's managed-table dirs survive in the
    # warehouse while the fresh in-memory catalog has never heard of
    # the tables — drop_bucketed removes both the catalog entry and
    # the orphaned path (creating over it is an AnalysisException;
    # the round-6 mimic caught exactly this on its second session)
    from prql_spark.sources.bucketing import drop_bucketed

    for t in (to, tl):
        drop_bucketed(spark, t)
    cat = Catalog(spark, sf_dir)
    write_bucketed(
        cat.load("orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ),
        to, "o_orderkey", 8, sort_cols="o_orderkey",
    )
    write_bucketed(
        cat.load("lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        tl, "l_orderkey", 8, sort_cols="l_orderkey",
    )
    o, li = read_bucketed(spark, to), read_bucketed(spark, tl)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 2)"
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


SQL_BUCKETED_JOIN = """
SELECT o_orderpriority, count(*) AS n,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


SQL_ZORDER_ROUNDTRIP = """
SELECT o_custkey % 10 AS custkey_mod, count(*) AS n,
  round(sum(o_totalprice), 2) AS price_sum,
  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY custkey_mod ORDER BY custkey_mod
"""


def q_sketch_distinct(spark, sf_dir):
    """HLL++ distinct-users-per-event-type, checked against the exact
    count (the sketch's accuracy contract is the oracled value)."""
    ev = Catalog(spark, sf_dir).load("events")
    return sketches.distinct_accuracy_check(ev, "user_id", "event_type")


SQL_SKETCH_DISTINCT = """
SELECT event_type,
  COUNT(DISTINCT user_id) AS exact_distinct,
  TRUE AS within_bound
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_sketch_quantile(spark, sf_dir):
    """percentile_approx median of event value per type, verified in
    rank space (the KLL guarantee)."""
    ev = Catalog(spark, sf_dir).load("events")
    return sketches.quantile_rank_check(ev, "value", "event_type")


SQL_SKETCH_QUANTILE = """
SELECT event_type, COUNT(*) AS n, TRUE AS within_rank_eps
FROM events GROUP BY event_type ORDER BY event_type
"""


# Flagship composition: the full corpus-cleaning pipeline as ONE
# PRQL query — extended operators chain as pipeline transforms
# (strip → score → lang-id → filter → dedup), all narrow maps except
# dedup's single hash-key exchange. This is the 100 TB shape: one
# scan, one shuffle.
# dedup_exact runs BEFORE scoring: exact duplicates share text_clean
# so quality/lang decide identically per class — the surviving SET is
# unchanged (the oracle, which filters then dedups, stays valid) and
# the regex-heavy scoring skips the duplicate mass
DOCS_PIPELINE_PRQL = """
from documents
strip_boilerplate
dedup_exact text_col:text_clean
quality_score text_col:text_clean
lang_id text_col:text_clean
filter quality > 0.45 and lang_guess == "en"
select [doc_id, lang_guess, quality, n_words]
sort [doc_id]
"""


def q_docs_clean_pipeline(spark, sf_dir):
    from prql_spark import compile_prql

    return compile_prql(DOCS_PIPELINE_PRQL, Catalog(spark, sf_dir))


def _docs_pipeline_sql() -> str:
    tc = "tc"
    stop_re = _STOP_RE
    lang = {
        k: f"len(regexp_extract_all(lower({tc}), "
        f"'\\b({'|'.join(text.LANG_SIGNATURES[k])})\\b'))"
        for k in ("en", "de", "fr", "es")
    }
    g = "greatest(s_en, s_de, s_fr, s_es)"
    return f"""
WITH c AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(text,
      '[^\\x20-\\x7E\\n\\t]', '', 'g'), '\\s+', ' ', 'g')) AS {tc}
  FROM documents),
f AS (
  SELECT doc_id, {tc},
    length({tc}) AS n,
    length(regexp_replace({tc}, '[^A-Za-z]', '', 'g')) AS alpha,
    length(regexp_replace({tc}, '[^.,;:!?]', '', 'g')) AS punct,
    len(string_split_regex(lower(trim({tc})), '\\s+')) AS n_words,
    len(regexp_extract_all(lower({tc}), '{stop_re}')) AS stops,
    {lang['en']} AS s_en, {lang['de']} AS s_de,
    {lang['fr']} AS s_fr, {lang['es']} AS s_es
  FROM c),
q AS (
  SELECT doc_id, {tc}, n_words,
    round(least(1.0, greatest(0.0,
      0.25 * least(n / 500.0, 1.0)
      + 0.35 * (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END)
      + 0.25 * least((CASE WHEN n_words = 0 THEN 0.0
                      ELSE stops / n_words END) * 4.0, 1.0)
      + 0.15 * (1.0 - least((CASE WHEN n = 0 THEN 0.0
                             ELSE punct / n END) * 10.0, 1.0)))), 6)
      AS quality,
    CASE WHEN s_fr = {g} THEN 'fr'
         WHEN s_es = {g} THEN 'es'
         WHEN s_en = {g} THEN 'en'
         ELSE 'de' END AS lang_guess
  FROM f),
flt AS (
  SELECT * FROM q WHERE quality > 0.45 AND lang_guess = 'en'),
d AS (
  SELECT doc_id, lang_guess, quality, n_words,
    min(doc_id) OVER (PARTITION BY
      md5(lower(regexp_replace(trim({tc}), '\\s+', ' ', 'g'))))
      AS keeper
  FROM flt)
SELECT doc_id, lang_guess, quality, n_words FROM d
WHERE doc_id = keeper ORDER BY doc_id
"""


def q_events_dedup(spark, sf_dir):
    """Batch twin of streaming.dedup_streaming (the
    dropDuplicatesWithinWatermark pipeline live-tested in
    tests/test_streaming.py): distinct (user_id, event_type) pairs."""
    from prql_spark.streaming import dedup_streaming

    ev = Catalog(spark, sf_dir).load("events")
    out = dedup_streaming(ev, key_cols=["user_id", "event_type"])
    return out.select("user_id", "event_type").orderBy(
        "user_id", "event_type"
    )


SQL_EVENTS_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""


def q_events_interval_join(spark, sf_dir):
    """Batch twin of streaming.interval_join (the stream-stream
    attribution join live-tested in tests/test_streaming.py): each
    purchase paired with same-user views at most 2 hours before
    it."""
    from prql_spark.streaming import interval_join

    ev = Catalog(spark, sf_dir).load("events")
    views = ev.where("event_type = 'view'").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.where("event_type = 'purchase'").select(
        "event_id", "ts", "user_id"
    )
    out = interval_join(views, purchases, within_seconds=7200)
    return out.select(
        F.col("l_event_id").alias("view_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.col("l_user_id").alias("user_id"),
        F.col("l_ts").alias("view_ts"),
        F.col("r_ts").alias("purchase_ts"),
    ).orderBy("purchase_id", "view_id")


# CAST(ts AS TIMESTAMP) truncates DuckDB's nanosecond parquet reads
# to the microsecond precision Spark's nanosAsLong conversion keeps,
# so interval-boundary pairs agree exactly.
SQL_INTERVAL_JOIN = """
WITH v AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
           FROM events WHERE event_type = 'view'),
p AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
      FROM events WHERE event_type = 'purchase')
SELECT v.event_id AS view_id, p.event_id AS purchase_id,
  v.user_id AS user_id, v.ts AS view_ts, p.ts AS purchase_ts
FROM v JOIN p ON v.user_id = p.user_id
  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 7200 SECOND
ORDER BY purchase_id, view_id
"""


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
         THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, value,
    concat(user_id, '#', CAST(sum(new_s) OVER (PARTITION BY user_id
      ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR))
      AS session_id
  FROM g)
SELECT user_id, session_id, count(*) AS n_events,
  round(sum(coalesce(value, 0.0)), 2) AS v
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def q_salted_agg(spark, sf_dir):
    from prql_spark.operators import skew

    ev = Catalog(spark, sf_dir).load("events")
    out = skew.salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": ("count", "*"),
            "total_v": ("sum", "coalesce(value, 0.0)"),
            "mx": ("max", "value"),
            "avg_v": ("avg", "coalesce(value, 0.0)"),
        },
    )
    return out.select(
        "event_type",
        "n",
        F.expr("round(total_v, 2)").alias("total_v"),
        "mx",
        F.expr("round(avg_v, 4)").alias("avg_v"),
    ).orderBy("event_type")


SQL_SALTED_AGG = """
SELECT event_type, count(*) AS n,
  round(sum(coalesce(value, 0.0)), 2) AS total_v,
  max(value) AS mx,
  round(sum(coalesce(value, 0.0)) / count(coalesce(value, 0.0)), 4)
    AS avg_v
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_profile_orders(spark, sf_dir):
    """ANALYZE-style per-column stats in one full-table pass
    (operators/profile.py); exact distinct here so DuckDB can
    hash-match (approx mode is the 100 TB default)."""
    from prql_spark.operators.profile import profile

    orders = Catalog(spark, sf_dir).load("orders")
    return profile(
        orders,
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    ).orderBy("column")


def _sql_profile_col(c: str, numeric: bool) -> str:
    avg = (
        f"round(avg({c}), 6) AS avg, round(stddev({c}), 6) AS std"
        if numeric
        else "CAST(NULL AS DOUBLE) AS avg, CAST(NULL AS DOUBLE) AS std"
    )
    return f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
  CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null,
  count(DISTINCT {c}) AS n_distinct,
  CAST(min({c}) AS VARCHAR) AS min_str,
  CAST(max({c}) AS VARCHAR) AS max_str,
  {avg}
FROM orders"""


SQL_PROFILE_ORDERS = (
    " UNION ALL ".join(
        _sql_profile_col(c, num)
        for c, num in [
            ("o_orderkey", True),
            ("o_orderstatus", False),
            ("o_totalprice", True),
            ("o_orderdate", False),
        ]
    )
    + ' ORDER BY "column"'
)


_STRATA_FRACTIONS = {"view": 0.1, "purchase": 1.0}


def q_stratified_sample(spark, sf_dir):
    ev = Catalog(spark, sf_dir).load("events")
    out = splits.stratified_sample_by_hash(
        ev, "event_id", "event_type", _STRATA_FRACTIONS,
        default_fraction=0.25,
    )
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("min(event_id)").alias("min_id"),
            F.expr("max(event_id)").alias("max_id"),
        )
        .orderBy("event_type")
    )


def _sql_stratified() -> str:
    # mirrors splits.stratified_sample_by_hash: NULL strata hash as ''
    # and take the default fraction (engine's IS NULL branch)
    h = (
        "substr(md5(concat('', coalesce(CAST(event_type AS VARCHAR), ''), "
        "'#', CAST(event_id AS VARCHAR))), 1, 4)"
    )
    from prql_spark.operators.splits import _cut

    branches = " ".join(
        f"WHEN CAST(event_type AS VARCHAR) = '{k}' "
        f"THEN {h} < '{_cut(v)}'"
        for k, v in _STRATA_FRACTIONS.items()
    )
    return f"""
SELECT event_type, count(*) AS n,
  min(event_id) AS min_id, max(event_id) AS max_id
FROM events
WHERE CASE WHEN event_type IS NULL THEN {h} < '{_cut(0.25)}'
  {branches} ELSE {h} < '{_cut(0.25)}' END
GROUP BY event_type ORDER BY event_type
"""


def q_upsert_merge(spark, sf_dir):
    """Keyed upsert into a partitioned manifest table
    (manifest.merge_snapshot): write orders partitioned by status,
    merge in price-bumped updates for keys divisible by 97 plus one
    synthetic insert, then aggregate the latest version. The DuckDB
    oracle applies the same merge relationally, so the merge's
    update/insert/preserve semantics are value-checked."""
    import hashlib
    import os
    import shutil
    import tempfile

    from prql_spark.sources.manifest import (
        merge_snapshot,
        snapshot_read,
        snapshot_write,
    )

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_upsert_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    shutil.rmtree(d, ignore_errors=True)
    orders = Catalog(spark, sf_dir).load("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snapshot_write(orders, d, partition_by=("o_orderstatus",))
    updates = orders.where("o_orderkey % 97 = 0").withColumn(
        "o_totalprice", F.expr("o_totalprice + 1000.0")
    )
    inserts = spark.createDataFrame(
        [(10**9, "F", 42.5)], "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE"
    )
    merge_snapshot(
        spark, d, updates.unionByName(inserts), on=("o_orderkey",)
    )
    return (
        snapshot_read(spark, d)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("round(sum(o_totalprice), 2)").alias("total"),
            F.expr("max(o_orderkey)").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


SQL_UPSERT_MERGE = """
WITH merged AS (
  SELECT o_orderkey, o_orderstatus,
    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
         ELSE o_totalprice END AS o_totalprice
  FROM orders
  UNION ALL
  SELECT 1000000000 AS o_orderkey, 'F' AS o_orderstatus,
         42.5 AS o_totalprice)
SELECT o_orderstatus, count(*) AS n,
  round(sum(o_totalprice), 2) AS total,
  max(o_orderkey) AS max_key
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (text.pack_sequences): per-(shard, chunk)
    doc counts and token totals at a 512-token budget."""
    out = text.pack_sequences(
        _docs(spark, sf_dir), target_tokens=512, n_shards=8
    )
    return (
        out.groupBy("shard", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(sum(n_tokens) AS BIGINT)").alias("total_tokens"),
            F.expr("min(doc_id)").alias("first_doc"),
        )
        .orderBy("shard", "chunk_id")
    )


SQL_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
      AS INT) % 8 AS shard
  FROM documents),
c AS (
  SELECT doc_id, n_tokens, shard,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t)
SELECT shard, CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS chunk_id,
  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  min(doc_id) AS first_doc
FROM c GROUP BY shard, chunk_id ORDER BY shard, chunk_id
"""


_BM25_TERMS = ["spark", "query", "join"]


def q_bm25_rank(spark, sf_dir):
    return text.bm25_rank(_docs(spark, sf_dir), _BM25_TERMS, top_n=20)


def _sql_bm25() -> str:
    k1, b = 1.2, 0.75
    tf_cols = ", ".join(
        f"len(list_filter(ws, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    parts = " + ".join(
        f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) * "
        f"(tf{i} * ({k1} + 1.0)) / "
        f"(tf{i} + {k1} * (1.0 - {b} + {b} * dl / avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents),
t AS (SELECT doc_id, len(ws) AS dl, {tf_cols} FROM w),
s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_cols} FROM t)
SELECT doc_id, round({parts}, 6) AS bm25
FROM t, s
WHERE round({parts}, 6) > 0
ORDER BY bm25 DESC, doc_id LIMIT 20
"""


def q_contamination(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    probes = docs.where("doc_id % 50 = 0")
    return text.ngram_contamination(docs, probes, n=8).orderBy("doc_id")


SQL_CONTAMINATION = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents),
g0 AS (
  SELECT doc_id, list_distinct(list_filter(list_transform(
    range(0, greatest(len(ws) - 8, 0) + 1),
    i -> concat_ws(' ', list_slice(ws, i + 1, i + 8))),
    x -> x != '')) AS grams
  FROM w),
probe AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g0 WHERE doc_id % 50 = 0),
dg AS (SELECT doc_id, unnest(grams) AS gram FROM g0)
SELECT dg.doc_id, count(*) AS n_grams,
  CAST(sum(CASE WHEN probe.gram IS NOT NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_contaminated,
  round(sum(CASE WHEN probe.gram IS NOT NULL THEN 1 ELSE 0 END)
    / count(*), 6) AS contamination
FROM dg LEFT JOIN probe ON dg.gram = probe.gram
GROUP BY dg.doc_id ORDER BY dg.doc_id
"""


_REP_PLANT = (
    "CASE WHEN doc_id % 7 = 0 THEN "
    "concat_ws('\\n', text, text, text, 'unique tail line') "
    "WHEN doc_id % 11 = 0 THEN "
    "concat(text, ' click here click here click here click here') "
    "ELSE text END"
)

_REP_PLANT_DD = """
CASE WHEN doc_id % 7 = 0 THEN
  concat_ws(chr(10), text, text, text, 'unique tail line')
WHEN doc_id % 11 = 0 THEN
  concat(text, ' click here click here click here click here')
ELSE text END
"""


def q_repetition_flags(spark, sf_dir):
    """Gopher repetition rules over documents with planted repetition
    (docs %7: duplicated lines, %11: a hammered 2-gram) so every rule
    fires on some rows and the oracle checks real discrimination."""
    docs = _docs(spark, sf_dir).withColumn("text", F.expr(_REP_PLANT))
    out = text.repetition_flags(docs)
    return out.select(
        "doc_id",
        "dup_line_frac",
        "top_2gram_char_frac",
        "dup_5gram_char_frac",
        "flag_dup_lines",
        "flag_top_2gram",
        "flag_dup_5gram",
        "passes_repetition",
    ).orderBy("doc_id")


SQL_REPETITION = f"""
WITH d AS (
  SELECT doc_id, {_REP_PLANT_DD} AS text FROM documents),
base AS (
  SELECT doc_id, text,
    list_filter(list_transform(string_split(text, chr(10)),
      x -> trim(x)), x -> x != '') AS lines,
    string_split_regex(lower(trim(text)), '\\s+') AS ws,
    greatest(length(text), 1) AS nc
  FROM d),
g AS (
  SELECT doc_id, lines, ws, nc,
    list_transform(generate_series(1, greatest(len(ws) - 1, 1)),
      i -> array_to_string(list_slice(ws, i, i + 1), ' ')) AS g2,
    list_transform(generate_series(1, greatest(len(ws) - 4, 1)),
      i -> array_to_string(list_slice(ws, i, i + 4), ' ')) AS g5
  FROM base),
f AS (
  SELECT doc_id,
    round(CASE WHEN len(lines) = 0 THEN 0.0 ELSE
      (len(lines) - len(list_distinct(lines))) * 1.0 / len(lines)
      END, 6) AS dup_line_frac,
    round(CASE WHEN len(ws) < 2 THEN 0.0 ELSE
      list_max(list_transform(list_distinct(g2),
        g -> len(list_filter(g2, x -> x = g)) * length(g))) * 1.0 / nc
      END, 6) AS top_2gram_char_frac,
    round(CASE WHEN len(ws) < 5 THEN 0.0 ELSE
      list_sum(list_transform(list_distinct(g5),
        g -> CASE WHEN len(list_filter(g5, x -> x = g)) > 1
          THEN len(list_filter(g5, x -> x = g)) * length(g)
          ELSE 0 END)) * 1.0 / nc
      END, 6) AS dup_5gram_char_frac
  FROM g)
SELECT doc_id, dup_line_frac, top_2gram_char_frac, dup_5gram_char_frac,
  dup_line_frac <= 0.30 AS flag_dup_lines,
  top_2gram_char_frac <= 0.20 AS flag_top_2gram,
  dup_5gram_char_frac <= 0.15 AS flag_dup_5gram,
  (dup_line_frac <= 0.30 AND top_2gram_char_frac <= 0.20
   AND dup_5gram_char_frac <= 0.15) AS passes_repetition
FROM f ORDER BY doc_id
"""


def q_gopher_flags(spark, sf_dir):
    out = text.gopher_quality_flags(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "flag_word_count",
        "flag_mean_word_len",
        "flag_alpha_words",
        "flag_symbol_ratio",
        "flag_distinct_words",
        "passes_gopher",
    ).orderBy("doc_id")


SQL_GOPHER = """
WITH w AS (
  SELECT doc_id, text,
    string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents),
f AS (
  SELECT doc_id,
    len(ws) AS nw,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE list_sum(list_transform(ws, x -> length(x))) / len(ws)
         END AS mwl,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
              / len(ws) END AS alpha_frac,
    CASE WHEN len(ws) = 0 THEN 1.0
         ELSE (len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\\.\\.\\.')))
              / len(ws) END AS sym_ratio,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE len(list_distinct(ws)) / len(ws) END AS dist_ratio
  FROM w)
SELECT doc_id,
  nw BETWEEN 50 AND 100000 AS flag_word_count,
  mwl BETWEEN 3.0 AND 10.0 AS flag_mean_word_len,
  alpha_frac > 0.8 AS flag_alpha_words,
  sym_ratio < 0.1 AS flag_symbol_ratio,
  dist_ratio > 0.3 AS flag_distinct_words,
  (nw BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
    AND alpha_frac > 0.8 AND sym_ratio < 0.1 AND dist_ratio > 0.3
    AS passes_gopher
FROM f ORDER BY doc_id
"""


def q_kafka_roundtrip(spark, sf_dir):
    """Kafka-shaped source plumbing (streaming/kafka_shape.py): the
    deterministic generator serializes counter-derived events to JSON
    binary in the exact Kafka connector record schema; the decode
    path parses them back with from_json. Both are pure counter math,
    so DuckDB reproduces the whole roundtrip from range(). The live
    stream twin is tested in tests/test_streaming.py."""
    from prql_spark.streaming.kafka_shape import (
        kafka_json_events,
        synthetic_kafka_batch,
    )

    records = synthetic_kafka_batch(spark, n_rows=1000)
    ev = kafka_json_events(records)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("round(sum(value), 2)").alias("value_sum"),
            F.countDistinct("user_id").alias("n_users"),
            F.expr("CAST(min(ts) AS STRING)").alias("first_ts"),
            F.expr("max(_kafka_offset)").alias("max_offset"),
        )
        .orderBy("event_type")
    )


SQL_KAFKA_ROUNDTRIP = """
WITH r AS (
  SELECT range AS value FROM range(0, 1000)),
ev AS (
  SELECT
    ['view','click','purchase','signup'][CAST(value % 4 AS INT) + 1]
      AS event_type,
    CAST(value AS DOUBLE) / 10.0 AS value_d,
    value % 50 AS user_id,
    TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (value * 7) SECOND
      AS ts,
    value AS koffset
  FROM r)
SELECT event_type, count(*) AS n,
  round(sum(value_d), 2) AS value_sum,
  count(DISTINCT user_id) AS n_users,
  CAST(strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS first_ts,
  max(koffset) AS max_offset
FROM ev GROUP BY event_type ORDER BY event_type
"""


def q_minhash_clusters(spark, sf_dir):
    """Cluster-granular dedup: minhash near-dup pairs → distributed
    connected components → (doc_id, cluster_id) labels. The
    transitive closure a pairwise keep-min policy silently skips.
    star_cap=64: over-cap buckets emit hub-and-spoke edges — O(n)
    pairs on a degenerate corpus, and for CC consumers the hub edges
    carry the same connectivity a homogeneous mega-bucket's all-pairs
    would (pinned by tests/test_graph_semdedup.py)."""
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    pairs = dedup.minhash_lsh_pairs(sigs, threshold=0.5, star_cap=64)
    return graph.dedup_clusters(pairs).orderBy("doc_id")


def _sql_minhash_clusters() -> str:
    """Oracle: the shared minhash signature replay, verified pairs
    with the same star_cap-64 mega-bucket guard the engine runs, then
    min-reachable-id per node via a recursive transitive closure:
    exactly the fixpoint the engine's label propagation converges
    to."""
    return f"""
WITH RECURSIVE {_minhash_band_ctes()},
bk AS (
  SELECT b, bslice, count(*) AS cnt, min(doc_id) AS mn
  FROM bands GROUP BY b, bslice HAVING count(*) >= 2),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l
  JOIN bands r ON l.b = r.b AND l.bslice = r.bslice
              AND l.doc_id < r.doc_id
  JOIN bk ON bk.b = l.b AND bk.bslice = l.bslice
  WHERE (bk.cnt <= 64 OR l.doc_id = bk.mn)
    AND len(list_filter(generate_series(1, 64),
            i -> l.sig[i] = r.sig[i])) / 64.0 >= 0.5),
e AS (SELECT id_a AS u, id_b AS v FROM cand
      UNION SELECT id_b, id_a FROM cand),
reach(n, m) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT e.v, reach.m FROM reach JOIN e ON e.u = reach.n)
SELECT n AS doc_id, min(m) AS cluster_id
FROM reach GROUP BY n ORDER BY doc_id
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup pruning with the PRETRAINED 64-list quantizer
    (train once, prune many shards; 64 lists — not IVF's 8 — because
    pair volume is ~n²/n_lists). 0.35 for the same reason as
    embedding_near_dups: the synthetic vectors top out near cosine
    0.48."""
    from entries._ivf_centroids import SEMDEDUP_CENTROIDS

    out = similarity.semdedup(
        _embs(spark, sf_dir), dim=64, centroids=SEMDEDUP_CENTROIDS,
        threshold=0.35,
    )
    return out.select("vec_id", "label").orderBy("vec_id")


def _sql_semdedup() -> str:
    """Oracle: the SAME unit-normalized centroid literals the engine
    embeds (normalized once in Python — see similarity.unit_normalize),
    the same two-step corpus normalization, round-9 argmax assignment
    (ties to larger index), within-cluster pairs at round-6
    normalized-dot >= 0.35, keep-min anti-join."""
    from entries._ivf_centroids import SEMDEDUP_CENTROIDS

    cn = similarity.unit_normalize(SEMDEDUP_CENTROIDS)
    cent_rows = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(cn)
    )
    norm = _DOT_DD.format(a="embedding", b="embedding")
    dot_vc = _DOT_DD.format(a="nv.vn", b="c.c")
    dot_lr = _DOT_DD.format(a="l.vn", b="r.vn")
    return f"""
WITH cent AS (SELECT * FROM (VALUES {cent_rows}) c(i, c)),
nv AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      CASE WHEN n = 0 THEN 1 ELSE n END) AS vn
  FROM (SELECT vec_id, embedding, sqrt({norm}) AS n FROM embeddings)),
assign AS (
  SELECT vec_id, vn, i,
    row_number() OVER (PARTITION BY vec_id
      ORDER BY cs DESC, i DESC) AS rk
  FROM (SELECT nv.vec_id, nv.vn, c.i,
          round({dot_vc}, 9) AS cs
        FROM nv CROSS JOIN cent c)),
corpus AS (SELECT vec_id, vn, i AS lst FROM assign WHERE rk = 1),
bk AS (
  SELECT lst, count(*) AS cnt, min(vec_id) AS mn
  FROM corpus GROUP BY lst),
losers AS (
  SELECT DISTINCT r.vec_id
  FROM corpus l JOIN corpus r
    ON l.lst = r.lst AND l.vec_id < r.vec_id
  JOIN bk ON bk.lst = l.lst
  WHERE (bk.cnt <= 256 OR l.vec_id = bk.mn)
    AND round({dot_lr}, 6) >= 0.35)
SELECT e.vec_id, e.label FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM losers w WHERE w.vec_id = e.vec_id)
ORDER BY e.vec_id
"""


def q_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality scoring: corpus unigram model
    (top-128 vocab collected once — the pretrained-tiny-model
    pattern), then a zero-shuffle literal-map scoring pass."""
    docs = _docs(spark, sf_dir)
    vocab, total = text.unigram_vocab(docs, top_v=128)
    out = text.unigram_logprob(docs, vocab, total)
    return out.select("doc_id", "lm_tokens", "lm_logprob").orderBy("doc_id")


SQL_UNIGRAM = """
WITH tok AS (
  SELECT doc_id, w
  FROM (SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents)
  WHERE w != ''),
cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
tot AS (SELECT sum(c) AS t FROM cnt),
vocab AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 128),
vn AS (SELECT count(*) AS v FROM vocab),
scored AS (
  SELECT tok.doc_id, count(*) AS n,
    round(avg(ln((coalesce(vocab.c, 0) + 1) / (tot.t + vn.v + 1))), 6)
      AS lp
  FROM tok LEFT JOIN vocab USING (w), tot, vn
  GROUP BY tok.doc_id)
SELECT d.doc_id,
  CAST(coalesce(s.n, 0) AS BIGINT) AS lm_tokens,
  s.lp AS lm_logprob
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def q_dedup_incremental(spark, sf_dir):
    """Ingestion-increment dedup: the incoming batch carries fresh
    docs AND re-crawled copies of corpus docs (same text, new ids);
    dedup_against drops exactly the re-crawls via a key-only
    anti-join against the reference corpus."""
    docs = _docs(spark, sf_dir)
    ref = docs.where("doc_id % 3 = 0")
    recrawl = ref.withColumn("doc_id", F.expr("doc_id + 100000"))
    incoming = docs.where("doc_id % 3 != 0").unionByName(recrawl)
    out = dedup.dedup_against(incoming, ref, broadcast_ref=True)
    return out.select("doc_id", "source").orderBy("doc_id")


SQL_DEDUP_INCREMENTAL = f"""
WITH ref AS (SELECT md5({NORM}) AS k FROM documents WHERE doc_id % 3 = 0),
incoming AS (
  SELECT doc_id, text, source FROM documents WHERE doc_id % 3 != 0
  UNION ALL
  SELECT doc_id + 100000, text, source FROM documents WHERE doc_id % 3 = 0)
SELECT doc_id, source FROM incoming i
WHERE NOT EXISTS (SELECT 1 FROM ref WHERE ref.k = md5({NORM_T.format(t="i.text")}))
ORDER BY doc_id
"""


def q_salted_join(spark, sf_dir):
    """Skew-proof equi-join: events ⋈ customer on the (hot) user key
    with an 8-way salt. The oracle is the PLAIN join — salting must
    be invisible in the result."""
    cat = Catalog(spark, sf_dir)
    ev = cat.load("events").select("event_id", "user_id", "event_type")
    cust = cat.load("customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    out = skew.salted_join(ev, cust, on=["user_id"], salt_buckets=8)
    return out.orderBy("event_id")


SQL_SALTED_JOIN = """
SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON c.c_custkey = e.user_id
ORDER BY e.event_id
"""


def q_diff_snapshots(spark, sf_dir):
    """Lake snapshot diff: synthesize a new orders version (drop %11
    keys, bump %13 prices, add %17 re-keyed rows) and classify every
    differing key. The oracle derives the classification
    INDEPENDENTLY from the mutation rules — not by mirroring the
    hash-join — so it checks the semantics, not the implementation."""
    from prql_spark.sources.diff import diff_datasets

    orders = Catalog(spark, sf_dir).load("orders")
    new = (
        orders.where("o_orderkey % 11 != 0")
        .withColumn(
            "o_totalprice",
            F.expr(
                "IF(o_orderkey % 13 = 0, "
                "round(o_totalprice + 1.5, 2), o_totalprice)"
            ),
        )
        .unionByName(
            orders.where("o_orderkey % 17 = 0").withColumn(
                "o_orderkey", F.expr("o_orderkey + 1000000000")
            )
        )
    )
    out = diff_datasets(orders, new, ["o_orderkey"])
    return out.orderBy("o_orderkey", "change")


SQL_DIFF_SNAPSHOTS = """
SELECT o_orderkey, 'removed' AS change FROM orders WHERE o_orderkey % 11 = 0
UNION ALL
SELECT o_orderkey, 'changed' FROM orders
WHERE o_orderkey % 11 != 0 AND o_orderkey % 13 = 0
UNION ALL
SELECT o_orderkey + 1000000000, 'added' FROM orders
WHERE o_orderkey % 17 = 0
ORDER BY o_orderkey, change
"""


def q_collocations(spark, sf_dir):
    """Top-100 PMI bigram collocations (min_count 5)."""
    return text.collocations(_docs(spark, sf_dir), min_count=5, top_k=100)


SQL_COLLOCATIONS = """
WITH ws AS (
  SELECT doc_id,
    string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents),
toks AS (
  SELECT u.w FROM (SELECT unnest(w) AS w FROM ws) u WHERE u.w != ''),
uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
tot AS (SELECT sum(c) AS t_uni FROM uni),
bigr AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        FROM ws WHERE len(w) >= 2)
  WHERE w[i] != '' AND w[i + 1] != ''),
bi AS (
  SELECT w1, w2, count(*) AS n_ab FROM bigr GROUP BY w1, w2
  HAVING count(*) >= 5),
tot_bi AS (SELECT count(*) AS t_bi FROM bigr),
scored AS (
  SELECT bi.w1, bi.w2, bi.n_ab,
    round(ln((bi.n_ab / CAST(tot_bi.t_bi AS DOUBLE)) /
      ((u1.c / CAST(tot.t_uni AS DOUBLE)) *
       (u2.c / CAST(tot.t_uni AS DOUBLE)))), 6) AS pmi
  FROM bi
  JOIN uni u1 ON u1.w = bi.w1
  JOIN uni u2 ON u2.w = bi.w2, tot, tot_bi)
SELECT w1, w2, n_ab, pmi FROM scored
ORDER BY pmi DESC, w1, w2 LIMIT 100
"""


def q_sample_per_group(spark, sf_dir):
    """Deterministic exactly-5-per-(lang, source) eval sample."""
    out = splits.sample_per_group(
        _docs(spark, sf_dir), ["lang", "source"], k=5, key_col="doc_id"
    )
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


SQL_SAMPLE_PER_GROUP = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
    row_number() OVER (PARTITION BY lang, source
      ORDER BY md5(concat('', CAST(doc_id AS VARCHAR))), doc_id) AS rk
  FROM documents)
WHERE rk <= 5 ORDER BY doc_id
"""


def q_quantile_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail tertile bucketing on the quality
    score (exact percentiles so DuckDB's quantile_cont replays the
    cuts; production uses the approx_percentile sketch path)."""
    scored = text.quality_score(_docs(spark, sf_dir))
    out = text.quantile_buckets(scored, "quality", exact=True)
    return out.select("doc_id", "quality", "bucket").orderBy("doc_id")


# quality replayed via SQL_QUALITY as a subquery; cut points are
# quantile_cont (the same linear interpolation Spark's exact
# percentile uses), rounded to 6 in both engines before the CASE
SQL_QUANTILE_BUCKETS = f"""
WITH q AS (SELECT doc_id, quality FROM ({SQL_QUALITY}) __q),
c AS (SELECT round(quantile_cont(quality, {1 / 3!r}), 6) AS c1,
             round(quantile_cont(quality, {2 / 3!r}), 6) AS c2 FROM q)
SELECT doc_id, quality,
  CASE WHEN quality <= c1 THEN 'head'
       WHEN quality <= c2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM q, c ORDER BY doc_id
"""


def q_dedup_against_near(spark, sf_dir):
    """Fuzzy decontamination: every 7th document plays the held-out
    benchmark; docs sharing >= 1 LSH band with it are dropped (the
    benchmark members themselves collide in all 16 bands)."""
    docs = _docs(spark, sf_dir)
    ref = docs.where("doc_id % 7 = 0").select("text")
    out = dedup.dedup_against_near(docs, ref, broadcast_ref=True)
    return out.select("doc_id").orderBy("doc_id")


def _sql_dedup_against_near() -> str:
    """Replays the minhash signature pipeline TWICE (documents +
    the reference subset, prefix-renamed CTEs) and joins band slices:
    the engine's xxhash64 band key only NAMES a slice — two docs
    share a bucket iff the slices are equal, which DuckDB joins on
    directly (same modeling as the minhash dedup oracle)."""
    return f"""
WITH {_minhash_band_ctes()},
{_minhash_band_ctes(prefix="r", where="AND doc_id % 7 = 0")},
losers AS (
  SELECT DISTINCT l.doc_id
  FROM bands l JOIN rbands r ON l.b = r.b AND l.bslice = r.bslice)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY doc_id
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords (min_df 5)."""
    return text.tfidf_top_terms(
        _docs(spark, sf_dir), k=3, min_df=5
    ).orderBy("doc_id", "rk")


SQL_TFIDF_TOP_TERMS = f"""
WITH t AS (
  SELECT doc_id, unnest({WORDS_DD}) AS term FROM documents),
tt AS (
  SELECT doc_id, term, count(*) AS tf FROM t
  WHERE term != '' GROUP BY doc_id, term),
dfq AS (
  SELECT term, count(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM t WHERE term != '')
  GROUP BY term HAVING count(*) >= 5),
n AS (SELECT count(*) AS n FROM documents),
s AS (
  SELECT tt.doc_id, tt.term, tt.tf, dfq.df,
    round(tt.tf * (ln((n.n + 1) / (dfq.df + 1)) + 1), 6) AS tfidf
  FROM tt JOIN dfq USING (term), n),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
    ORDER BY tfidf DESC, term) AS INTEGER) AS rk FROM s)
SELECT doc_id, term, tf, df, tfidf, rk FROM r
WHERE rk <= 3 ORDER BY doc_id, rk
"""


def q_rollup_stats(spark, sf_dir):
    """Hierarchical corpus report: doc counts + char totals per
    (lang, source), per lang, and grand total — ONE scan through a
    GROUP BY ROLLUP Expand."""
    # asc_nulls_first explicit on BOTH sides: Spark's bare ASC is
    # NULLS FIRST but DuckDB's is NULLS LAST, so genuine NULL dim
    # values would order differently inside a lvl otherwise
    return profile.rollup_stats(
        _docs(spark, sf_dir),
        ["lang", "source"],
        {"n_docs": "count(*)", "total_chars": "sum(n_chars)"},
    ).orderBy(
        F.col("lvl").asc_nulls_first(),
        F.col("lang").asc_nulls_first(),
        F.col("source").asc_nulls_first(),
    )


# CAST(sum AS BIGINT): DuckDB sums BIGINT into HUGEINT; grouping
# bitmask orientation (first dim = MSB) matches Spark's grouping_id
SQL_ROLLUP_STATS = """
SELECT lang, source,
  CAST(GROUPING(lang, source) AS INTEGER) AS lvl,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP(lang, source)
ORDER BY lvl NULLS FIRST, lang NULLS FIRST, source NULLS FIRST
"""


def q_warc_read(spark, sf_dir):
    """WARC ingestion value-oracled: deterministic planted WARC
    shards (plain + gzip member-concatenated + a truncated tail that
    must be dropped) written to scratch, parsed by read_warc, bridged
    to documents via warc_to_documents. The oracle is the expected
    records as VALUES."""
    import gzip
    import hashlib
    import os
    import tempfile

    from prql_spark.sources import io as pio

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_warc_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    os.makedirs(d, exist_ok=True)

    def rec(wtype, uri, body, crlf=True):
        nl = "\r\n" if crlf else "\n"
        h = (
            f"WARC/1.0{nl}WARC-Type: {wtype}{nl}"
            + (f"WARC-Target-URI: {uri}{nl}" if uri else "")
            + f"WARC-Date: 2024-01-01T00:00:00Z{nl}"
            f"Content-Length: {len(body)}{nl}{nl}"
        )
        return h.encode() + body + (nl + nl).encode()

    with open(os.path.join(d, "s0.warc"), "wb") as f:
        f.write(
            rec("warcinfo", None, b"software: planted")
            + rec("response", "http://ex.test/a",
                  b"HTTP/1.1 200 OK\r\n\r\n<html>alpha page</html>")
            + rec("conversion", "http://ex.test/a", b"alpha page text",
                  crlf=False)
        )
    with open(os.path.join(d, "s1.warc.gz"), "wb") as f:
        f.write(
            gzip.compress(
                rec("conversion", "http://ex.test/b", b"beta text body")
            )
            + gzip.compress(
                rec("response", "http://ex.test/c",
                    b"HTTP/1.1 200 OK\r\n\r\n<p>gamma</p>")
            )
        )
    trunc = rec("response", "http://ex.test/d", b"will be truncated")
    with open(os.path.join(d, "s2.warc"), "wb") as f:
        f.write(trunc[: len(trunc) - 25])
    # bare-LF HTTP message: header strip must fall back to '\n\n'
    with open(os.path.join(d, "s3.warc"), "wb") as f:
        f.write(
            rec("response", "http://ex.test/e",
                b"HTTP/1.1 200 OK\nServer: x\n\ndelta page", crlf=False)
        )
    # truncated gzip shard: EOFError path — whole shard skipped
    gz = gzip.compress(
        rec("response", "http://ex.test/f", b"never lands")
    )
    with open(os.path.join(d, "s4.warc.gz"), "wb") as f:
        f.write(gz[: len(gz) - 10])

    docs = pio.warc_to_documents(pio.read_warc(spark, str(d)))
    return docs.select(
        F.expr("element_at(split(doc_id, '/'), -1)").alias("rec_key"),
        "url",
        "text",
        F.expr("length(text)").alias("n_chars"),
    ).orderBy("rec_key")


SQL_WARC_READ = """
SELECT * FROM (VALUES
  ('s0.warc#107', 'http://ex.test/a', '<html>alpha page</html>',
   CAST(23 AS INTEGER)),
  ('s0.warc#274', 'http://ex.test/a', 'alpha page text',
   CAST(15 AS INTEGER)),
  ('s1.warc.gz#0', 'http://ex.test/b', 'beta text body',
   CAST(14 AS INTEGER)),
  ('s1.warc.gz#141', 'http://ex.test/c', '<p>gamma</p>',
   CAST(12 AS INTEGER)),
  ('s3.warc#0', 'http://ex.test/e', 'delta page',
   CAST(10 AS INTEGER))
) AS t(rec_key, url, text, n_chars)
ORDER BY rec_key
"""


_MIX_TARGETS = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}


def q_rebalance_mix(spark, sf_dir):
    """Static source-mix rebalancing: downsample the over-represented
    languages so the output matches the 50/20/20/10 target mix at the
    largest downsample-only size."""
    out = splits.rebalance_to_mix(
        _docs(spark, sf_dir), "lang", _MIX_TARGETS, key_col="doc_id"
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def _sql_rebalance_mix() -> str:
    """Replays the whole rebalance: per-lang counts → scale = min
    count/share → keep fractions → the 4-hex-digit md5 cut
    (mix_fractions' float arithmetic mirrored op-for-op; shares are
    precomputed Python literals, exactly as the engine derives
    them)."""
    total = sum(_MIX_TARGETS.values())
    shares = {k: v / total for k, v in _MIX_TARGETS.items()}
    share_case = " ".join(
        f"WHEN '{k}' THEN {s!r}" for k, s in shares.items()
    )
    return f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
s AS (SELECT lang, n,
        CASE lang {share_case} ELSE NULL END AS share FROM c),
sc AS (SELECT min(n / share) AS scale FROM s
       WHERE share IS NOT NULL AND share > 0),
f AS (SELECT lang, least(1.0, (share * scale) / n) AS frac
      FROM s, sc WHERE share IS NOT NULL AND n > 0),
cuts AS (SELECT lang,
  CASE WHEN frac >= 1.0 THEN 'g'
       ELSE lower(lpad(to_hex(greatest(
              CAST(trunc(frac * 65536) AS INTEGER), 0)), 4, '0'))
  END AS cut FROM f)
SELECT d.doc_id, d.lang
FROM documents d JOIN cuts ON cuts.lang = d.lang
WHERE substr(md5(concat('', d.lang, '#',
        CAST(d.doc_id AS VARCHAR))), 1, 4) < cut
ORDER BY d.doc_id
"""


def q_chunk_documents(spark, sf_dir):
    """Intra-document chunking: 40-token budget, 8-token overlap —
    long docs explode into overlapping chunks, short docs stay
    whole."""
    out = text.chunk_documents(
        _docs(spark, sf_dir), max_tokens=40, overlap=8
    )
    return out.select(
        "doc_id", "chunk_id", "chunk_tokens", "chunk_text"
    ).orderBy("doc_id", "chunk_id")


SQL_CHUNK_DOCUMENTS = f"""
WITH w AS (SELECT doc_id, {CWORDS_DD} AS ws FROM documents),
c AS (
  SELECT doc_id, ws,
    unnest(generate_series(0,
      CAST(ceil(CAST(greatest(len(ws) - 8, 1) AS DOUBLE) / 32)
        AS INT) - 1)) AS chunk_id
  FROM w)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
  CAST(least(40, len(ws) - chunk_id * 32) AS INTEGER) AS chunk_tokens,
  array_to_string(
    list_slice(ws, chunk_id * 32 + 1, chunk_id * 32 + 40), ' '
  ) AS chunk_text
FROM c ORDER BY doc_id, chunk_id
"""


def q_script_profile(spark, sf_dir):
    """Unicode-script routing profile over the corpus (plus planted
    non-Latin rows so every script column discriminates)."""
    from pyspark.sql import Row

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = spark.createDataFrame(
        [
            Row(doc_id=900001, text="Привет мир как дела"),
            Row(doc_id=900002, text="日本語のテキストです"),
            Row(doc_id=900003, text="مرحبا بالعالم"),
            Row(doc_id=900004, text="नमस्ते दुनिया"),
            Row(doc_id=900005, text="12345 !!!"),
            Row(doc_id=900006, text="hello Привет"),
        ]
    )
    out = text.script_profile(docs.unionByName(planted))
    return out.select(
        "doc_id", "dominant_script", "latin_frac", "cyrillic_frac",
        "cjk_frac", "arabic_frac", "devanagari_frac",
    ).orderBy("doc_id")


def _sql_script_profile() -> str:
    """Mirrors script_profile: RE2 unicode classes (same ranges as
    the engine's Java-regex classes), fraction-of-letter-chars, and
    the (count, name)-struct max tie-break via list_sort."""
    # \uXXXX (Java) → \x{XXXX} (RE2); ranges are BMP-only so Spark's
    # UTF-16 length and DuckDB's codepoint length agree
    ranges = {
        "latin": r"a-zA-Z\x{00c0}-\x{024f}",
        "cyrillic": r"\x{0400}-\x{04ff}",
        "cjk": r"\x{3040}-\x{30ff}\x{3400}-\x{9fff}\x{ac00}-\x{d7af}",
        "arabic": r"\x{0600}-\x{06ff}",
        "devanagari": r"\x{0900}-\x{097f}",
    }
    planted = ", ".join(
        f"({i}, '{t}')"
        for i, t in [
            (900001, "Привет мир как дела"),
            (900002, "日本語のテキストです"),
            (900003, "مرحبا بالعالم"),
            (900004, "नमस्ते दुनिया"),
            (900005, "12345 !!!"),
            (900006, "hello Привет"),
        ]
    )
    cnt = ", ".join(
        f"length(regexp_replace(text, '[^{r}]', '', 'g')) AS c_{k}"
        for k, r in ranges.items()
    )
    tot = " + ".join(f"c_{k}" for k in ranges)
    fr = ", ".join(
        f"round(c_{k} / CAST(greatest({tot}, 1) AS DOUBLE), 6) AS {k}_frac"
        for k in ranges
    )
    structs = ", ".join(
        f"{{'c': c_{k}, 's': '{k}'}}" for k in ranges
    )
    return f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {planted}) p(doc_id, text)),
s AS (SELECT doc_id, {cnt} FROM u)
SELECT doc_id,
  CASE WHEN {tot} = 0 THEN 'none'
       ELSE (list_sort([{structs}])[-1]).s END AS dominant_script,
  {fr}
FROM s ORDER BY doc_id
"""


# deterministic HTML wrap (same expression both engines): the corpus
# text becomes the <p> body with 'e' swapped for '&amp;' so entity
# decoding is exercised on every row; lang/source land in tag + comment
# positions that extraction must drop or keep correctly.
_HTML_WRAP = (
    "concat('<html><head><style>p {{margin:0}}</style>"
    "<script>var t = 1;</script></head><body><h1>', lang, "
    "'</h1><p>', replace({text}, 'e', '&amp;'), '</p><!-- ', source, "
    "' --></body></html>')"
)


def q_html_to_text(spark, sf_dir):
    """HTML text extraction value-oracled end-to-end: every document
    wrapped in deterministic markup (style/script/comment blocks,
    entities), extracted back by the JVM-side regexp chain; DuckDB
    replays wrap + extraction with the identical RE2-safe patterns."""
    docs = _docs(spark, sf_dir).withColumn(
        "html", F.expr(_HTML_WRAP.format(text="text"))
    )
    out = text.html_to_text(docs, text_col="html")
    return out.select(
        "doc_id",
        F.col("text_extracted").alias("text_out"),
        F.expr("length(text_extracted)").alias("n_chars_out"),
    ).orderBy("doc_id")


def _sql_html_to_text() -> str:
    """DuckDB mirror: the SAME expression builder as the engine
    (text.html_to_text_expr) in its duckdb dialect — one source of
    truth, the chains cannot drift."""
    from prql_spark.operators.text import html_to_text_expr

    e = html_to_text_expr("html", dialect="duckdb")
    wrap = _HTML_WRAP.format(text="text").replace("{{", "{").replace(
        "}}", "}"
    )
    return f"""
WITH w AS (SELECT doc_id, {wrap} AS html FROM documents),
x AS (SELECT doc_id, {e} AS text_out FROM w)
SELECT doc_id, text_out, CAST(length(text_out) AS INTEGER) AS n_chars_out
FROM x ORDER BY doc_id
"""


# every doc gets the same planted footer paragraph (the boilerplate
# case paragraph dedup exists for) between two slices of its text
# chr(10): identical newline spelling on BOTH engines (Spark's ''
# literals unescape \n, DuckDB's standard strings do not)
_PARA_WRAP = (
    "concat(substring(text, 1, 120), chr(10), chr(10), "
    "'share and subscribe for more updates', chr(10), chr(10), "
    "substring(text, 121))"
)


def q_dedup_paragraphs(spark, sf_dir):
    """Corpus-wide paragraph dedup value-oracled: the planted shared
    footer survives only at its first (min doc_id) occurrence; DuckDB
    replays split → normalize → first-occurrence winner → ordered
    reassembly."""
    docs = _docs(spark, sf_dir).withColumn("text", F.expr(_PARA_WRAP))
    return dedup.dedup_paragraphs(docs).orderBy("doc_id")


SQL_DEDUP_PARAGRAPHS = f"""
WITH w AS (SELECT doc_id, {_PARA_WRAP} AS t FROM documents),
a AS (SELECT doc_id, string_split_regex(t, '\\n{{2,}}') AS arr FROM w),
p AS (SELECT doc_id, arr,
        unnest(generate_series(1, len(arr))) AS i FROM a),
p2 AS (SELECT doc_id, i - 1 AS pi, arr[i] AS para FROM p
       WHERE trim(arr[i]) != ''),
pn AS (SELECT doc_id, pi, para,
        lower(trim(regexp_replace(para, '\\s+', ' ', 'g'))) AS k
       FROM p2),
rk AS (SELECT *, row_number() OVER (PARTITION BY k
         ORDER BY doc_id, pi) AS r FROM pn)
SELECT doc_id,
  string_agg(para, e'\\n\\n' ORDER BY pi) AS text_deduped,
  CAST(count(*) AS INTEGER) AS n_paras_kept
FROM rk WHERE r = 1 GROUP BY doc_id ORDER BY doc_id
"""


# planted shared LINE (cookie banner) in every doc, mid-text
_LINE_WRAP = (
    "concat(substring(text, 1, 80), chr(10), "
    "'cookie notice: accept all cookies', chr(10), "
    "substring(text, 81))"
)


def q_dedup_lines(spark, sf_dir):
    """Line-granularity span dedup value-oracled: the planted cookie
    banner survives only in the lowest-id doc."""
    docs = _docs(spark, sf_dir).withColumn("text", F.expr(_LINE_WRAP))
    return dedup.dedup_lines(docs).orderBy("doc_id")


SQL_DEDUP_LINES = f"""
WITH w AS (SELECT doc_id, {_LINE_WRAP} AS t FROM documents),
a AS (SELECT doc_id, string_split_regex(t, '\\n+') AS arr FROM w),
p AS (SELECT doc_id, arr,
        unnest(generate_series(1, len(arr))) AS i FROM a),
p2 AS (SELECT doc_id, i - 1 AS pi, arr[i] AS para FROM p
       WHERE trim(arr[i]) != ''),
pn AS (SELECT doc_id, pi, para,
        lower(trim(regexp_replace(para, '\\s+', ' ', 'g'))) AS k
       FROM p2),
rk AS (SELECT *, row_number() OVER (PARTITION BY k
         ORDER BY doc_id, pi) AS r FROM pn)
SELECT doc_id,
  string_agg(para, e'\\n' ORDER BY pi) AS text_deduped,
  CAST(count(*) AS INTEGER) AS n_lines_kept
FROM rk WHERE r = 1 GROUP BY doc_id ORDER BY doc_id
"""


# deterministic planted URLs: every 7th doc on a blocklisted ad
# domain, every 3rd doc with a shallow path ({cast}: the engines
# spell string casts differently)
_URL_WRAP = (
    "concat('https://', CASE WHEN doc_id % 7 = 0 "
    "THEN concat(source, '.ads.invalid') "
    "ELSE concat(source, '.example.org') END, '/', lang, "
    "CASE WHEN doc_id % 3 = 0 THEN '' "
    "ELSE concat('/p/', CAST(doc_id AS {cast})) END)"
)
_URL_BLOCK = ("ads.invalid",)


def q_url_features(spark, sf_dir):
    """URL triage value-oracled: host/domain/tld/path-depth extraction
    and the blocklist flag over deterministic planted URLs; DuckDB
    replays the identical RE2-safe regexes."""
    docs = _docs(spark, sf_dir).withColumn(
        "url", F.expr(_URL_WRAP.format(cast="STRING"))
    )
    out = text.url_features(docs, block_domains=_URL_BLOCK)
    return out.select(
        "doc_id", "url", "url_host", "url_domain", "url_tld",
        F.col("url_path_depth").cast("int").alias("url_path_depth"),
        "url_blocked",
    ).orderBy("doc_id")


def _sql_url_features() -> str:
    from prql_spark.operators.text import URL_HOST_RE, URL_PATH_RE

    wrap = _URL_WRAP.format(cast="VARCHAR")
    d = _URL_BLOCK[0]
    return f"""
WITH w AS (SELECT doc_id, {wrap} AS url FROM documents),
h AS (SELECT doc_id, url,
        lower(regexp_extract(url, '{URL_HOST_RE}', 2)) AS url_host,
        regexp_extract(url, '{URL_PATH_RE}', 1) AS pth FROM w),
x AS (SELECT *, string_split_regex(url_host, '[.]') AS hl FROM h)
SELECT doc_id, url, url_host,
  CASE WHEN len(hl) >= 2
       THEN array_to_string(list_slice(hl, len(hl) - 1, len(hl)), '.')
       ELSE url_host END AS url_domain,
  hl[len(hl)] AS url_tld,
  CAST(len(list_filter(string_split(pth, '/'), s -> s != ''))
       AS INTEGER) AS url_path_depth,
  (url_host = '{d}' OR ends_with(url_host, '.{d}')) AS url_blocked
FROM x ORDER BY doc_id
"""


# deterministic dirty wrapper for the normalization entry: mojibake
# apostrophe/quotes/ellipsis + CRLF + zero-width + NBSP + tab runs
# around every doc's text. chr() only for ASCII codepoints (Spark's
# chr is ASCII-only: chr(n) == chr(n % 256)); unicode chars are
# embedded literally — both engines parse them identically inside
# string literals.
_DIRTY_WRAP = (
    "concat('Itâ€™s', chr(13), chr(10), '“quoted”', '​', "
    "' ', text, '  â€¦', chr(9), chr(9), ' Ã©')"
)

# planted blocklist: a 2-label suffix every %7 host falls under, a
# MORE specific 3-label entry for one source (most-specific-match
# coverage), and one exact-host entry on the clean branch
_BL_TABLE = ("ads.invalid", "src3.ads.invalid", "src5.example.org")


def q_text_normalize(spark, sf_dir):
    """Crawl-text normalization value-oracled: mojibake repair,
    typography folding, zero-width/control strip and whitespace
    tidy over deterministically dirtied docs; the DuckDB oracle
    replays the chain from the SAME emitter (textnorm._normalize_expr),
    so every rule is value-verified."""
    docs = _docs(spark, sf_dir).withColumn("text", F.expr(_DIRTY_WRAP))
    out = textnorm.normalize_text(docs)
    return out.select("doc_id", "text", "text_was_dirty").orderBy("doc_id")


def _sql_text_normalize() -> str:
    from prql_spark.operators.textnorm import _normalize_expr

    e = _normalize_expr("text", "duckdb")
    return f"""
WITH w AS (SELECT doc_id, {_DIRTY_WRAP} AS text FROM documents)
SELECT doc_id, {e} AS text,
       coalesce(({e} != text), FALSE) AS text_was_dirty
FROM w ORDER BY doc_id
"""


def q_url_blocklist(spark, sf_dir):
    """Large-blocklist URL filtering value-oracled: the K
    broadcast-hash-join suffix-chain match (corpus never shuffles)
    against a planted 3-entry table, most-specific match asserted;
    DuckDB replays it as a correlated most-labels-first lookup."""
    docs = _docs(spark, sf_dir).withColumn(
        "url", F.expr(_URL_WRAP.format(cast="STRING"))
    )
    bl = spark.createDataFrame(
        [(d,) for d in _BL_TABLE], "domain string"
    )
    out = textnorm.url_blocklist(docs, bl)
    return out.select(
        "doc_id", "url_host", "blocked_domain", "url_blocked"
    ).orderBy("doc_id")


def _sql_url_blocklist() -> str:
    from prql_spark.operators.text import URL_HOST_RE

    wrap = _URL_WRAP.format(cast="VARCHAR")
    vals = ", ".join(f"('{d}')" for d in _BL_TABLE)
    return f"""
WITH w AS (SELECT doc_id, {wrap} AS url FROM documents),
h AS (SELECT doc_id,
        lower(regexp_extract(url, '{URL_HOST_RE}', 2)) AS url_host
      FROM w),
bl(domain) AS (VALUES {vals})
SELECT doc_id, url_host,
  (SELECT domain FROM bl
   WHERE url_host = domain OR ends_with(url_host, '.' || domain)
   ORDER BY len(string_split(domain, '.')) DESC, domain LIMIT 1
  ) AS blocked_domain,
  EXISTS (SELECT 1 FROM bl
          WHERE url_host = domain
             OR ends_with(url_host, '.' || domain)) AS url_blocked
FROM h ORDER BY doc_id
"""


# a 12-word suffix appended to EVERY doc: its 5 interior 8-gram
# windows are shared corpus-wide (windows straddling the doc/suffix
# boundary stay unique), so each doc has a known duplicated-window
# floor for the oracle to verify
_DUPWIN_SUFFIX = (
    "' alpha beta gamma delta epsilon zeta eta theta iota "
    "kappa lambda mu'"
)


def q_dup_window_fraction(spark, sf_dir):
    """Windowed exact-substring duplication signal value-oracled:
    every doc carries a planted shared 12-word suffix; DuckDB replays
    gram explode → occurrence counts → per-doc duplicated fraction."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.expr(f"concat(text, {_DUPWIN_SUFFIX})")
    )
    return dedup.duplicated_window_fraction(docs, n=8).orderBy("doc_id")


SQL_DUP_WINDOW_FRACTION = f"""
WITH w AS (
  SELECT doc_id,
    {WORDS_DD.replace("text", f"concat(text, {_DUPWIN_SUFFIX})")} AS ws
  FROM documents),
g0 AS (
  SELECT doc_id, unnest(list_transform(
    range(0, greatest(len(ws) - 8, 0) + 1),
    i -> array_to_string(list_slice(ws, i + 1, i + 8), ' '))) AS gram
  FROM w),
g AS (SELECT * FROM g0 WHERE gram != ''),
c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram)
SELECT doc_id,
  count(*) AS n_windows,
  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS dup_windows,
  round(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END)
    / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
FROM g JOIN c USING (gram)
GROUP BY doc_id ORDER BY doc_id
"""


def q_remove_dup_windows(spark, sf_dir):
    """Duplicated-window REMOVAL value-oracled: every doc carries the
    planted shared 12-word suffix, whose 5 interior 8-gram windows
    are corpus-wide duplicates covering all 12 suffix words — DuckDB
    replays gram marking → word coverage → anti-join → ordered
    reassembly and must see the suffix cut from every document."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.expr(f"concat(text, {_DUPWIN_SUFFIX})")
    )
    return dedup.remove_duplicated_windows(docs, n=8).orderBy("doc_id")


SQL_REMOVE_DUP_WINDOWS = f"""
WITH w AS (
  SELECT doc_id, concat(text, {_DUPWIN_SUFFIX}) AS t FROM documents),
b AS (SELECT doc_id,
        string_split_regex(trim(t), '\\s+') AS ws,
        string_split_regex(lower(trim(t)), '\\s+') AS lws
      FROM w),
gi AS (SELECT doc_id, lws,
         unnest(range(0, greatest(len(lws) - 8, 0) + 1)) AS wi
       FROM b),
g0 AS (SELECT doc_id, wi,
         array_to_string(list_slice(lws, wi + 1, wi + 8), ' ') AS gram
       FROM gi),
g AS (SELECT * FROM g0 WHERE gram != ''),
c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
mk AS (SELECT doc_id, wi FROM g JOIN c USING (gram) WHERE cnt >= 2),
cov0 AS (SELECT doc_id,
           unnest(generate_series(wi, wi + 7)) AS j FROM mk),
cov AS (SELECT DISTINCT doc_id, j FROM cov0),
wd AS (SELECT doc_id, ws, len(ws) AS m,
         unnest(generate_series(1, len(ws))) AS i FROM b),
w2 AS (SELECT doc_id, m, i - 1 AS j, ws[i] AS word FROM wd
       WHERE ws[i] != ''),
k AS (SELECT w2.doc_id, w2.m, w2.j, w2.word
      FROM w2 LEFT JOIN cov
        ON cov.doc_id = w2.doc_id AND cov.j = w2.j
      WHERE cov.j IS NULL)
SELECT doc_id,
  string_agg(word, ' ' ORDER BY j) AS text_cleaned,
  CAST(any_value(m) AS BIGINT) AS n_words,
  CAST(any_value(m) - count(*) AS BIGINT) AS n_removed_words,
  round((any_value(m) - count(*)) / CAST(any_value(m) AS DOUBLE), 6)
    AS removed_fraction
FROM k GROUP BY doc_id ORDER BY doc_id
"""


# a 3-sentence suffix appended to EVERY doc: its one interior
# 3-sentence window is shared corpus-wide, so C4-rule removal must
# cut exactly those 3 sentences from every document
_DUPSENT_SUFFIX = (
    "' Like this page. Share this page with your friends. "
    "Subscribe to our newsletter now.'"
)


def q_remove_dup_sentences(spark, sf_dir):
    """C4 three-sentence-span removal value-oracled: the planted
    shared 3-sentence suffix must vanish from every document; DuckDB
    replays sentence segmentation → per-sentence md5 keys → window
    marking → coverage → anti-join → ordered reassembly."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.expr(f"concat(text, {_DUPSENT_SUFFIX})")
    )
    return dedup.remove_duplicated_sentences(docs, n=3).orderBy("doc_id")


def _sql_remove_dup_sentences() -> str:
    from prql_spark.operators.dedup import sentence_split_expr

    split_dd = sentence_split_expr(
        f"concat(text, {_DUPSENT_SUFFIX})", dialect="duckdb"
    )
    return f"""
WITH b AS (SELECT doc_id, {split_dd} AS sa FROM documents),
kb AS (SELECT doc_id, sa, list_transform(sa, s ->
         md5(lower(trim(regexp_replace(s, '\\s+', ' ', 'g'))))) AS sk
       FROM b),
gi AS (SELECT doc_id, sk,
         unnest(range(0, greatest(len(sk) - 3, 0) + 1)) AS wi
       FROM kb),
g AS (SELECT doc_id, wi,
        array_to_string(list_slice(sk, wi + 1, wi + 3), ' ') AS wk
      FROM gi),
c AS (SELECT wk, count(*) AS cnt FROM g GROUP BY wk),
mk AS (SELECT doc_id, wi FROM g JOIN c USING (wk) WHERE cnt >= 2),
cov0 AS (SELECT doc_id,
           unnest(generate_series(wi, wi + 2)) AS si FROM mk),
cov AS (SELECT DISTINCT doc_id, si FROM cov0),
sd AS (SELECT doc_id, sa,
         len(list_filter(sa, s -> trim(s) != '')) AS m,
         unnest(generate_series(1, len(sa))) AS i FROM b),
s2 AS (SELECT doc_id, m, i - 1 AS si, sa[i] AS sent FROM sd
       WHERE trim(sa[i]) != ''),
k AS (SELECT s2.doc_id, s2.m, s2.si, s2.sent
      FROM s2 LEFT JOIN cov
        ON cov.doc_id = s2.doc_id AND cov.si = s2.si
      WHERE cov.si IS NULL)
SELECT doc_id,
  string_agg(sent, ' ' ORDER BY si) AS text_cleaned,
  CAST(any_value(m) AS BIGINT) AS n_sentences,
  CAST(any_value(m) - count(*) AS BIGINT) AS n_removed_sentences,
  round((any_value(m) - count(*)) / CAST(any_value(m) AS DOUBLE), 6)
    AS removed_fraction
FROM k GROUP BY doc_id ORDER BY doc_id
"""


# deterministic planted leakage: every doc gets a split from
# doc_id % 3; every 10th doc is re-added under a shifted id with a
# split GUARANTEED to differ — those groups must surface
_LEAK_BASE_SPLIT = (
    "CASE doc_id % 3 WHEN 0 THEN 'train' WHEN 1 THEN 'val' "
    "ELSE 'test' END"
)
_LEAK_DUP_SPLIT = "IF(doc_id % 3 = 0, 'test', 'train')"


def q_split_leakage(spark, sf_dir):
    """Cross-split leakage audit value-oracled: planted duplicate
    docs under different splits must surface as leaked text groups
    (with any natural same-text groups the corpus already has);
    DuckDB replays normalize → md5 group → distinct-split HAVING."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = docs.withColumn("split", F.expr(_LEAK_BASE_SPLIT))
    dup = (
        docs.where("doc_id % 10 = 0")
        .withColumn("split", F.expr(_LEAK_DUP_SPLIT))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "text", "split",
        )
    )
    return splits.split_leakage(
        base.select("doc_id", "text", "split").unionByName(dup)
    ).orderBy("text_key")


SQL_SPLIT_LEAKAGE = f"""
WITH b AS (
  SELECT doc_id, text, {_LEAK_BASE_SPLIT} AS split FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text,
    CASE WHEN doc_id % 3 = 0 THEN 'test' ELSE 'train' END
  FROM documents WHERE doc_id % 10 = 0),
k AS (SELECT
        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
          AS text_key,
        split, doc_id
      FROM b)
SELECT text_key, count(*) AS n_docs,
  CAST(count(DISTINCT split) AS INTEGER) AS n_splits,
  array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM k GROUP BY text_key
HAVING count(DISTINCT split) >= 2
ORDER BY text_key
"""


def _ahash_planted_media(spark):
    import numpy as np

    base = multimodal.netpbm_planted_payloads()
    grad = np.zeros((6, 9, 3), dtype=np.uint8)
    grad[:, :, 0] = np.arange(9, dtype=np.uint8) * 28
    grad[:, :, 1] = 77
    grad[:, :, 2] = np.arange(6, dtype=np.uint8)[:, None] * 40
    g2 = grad.copy()
    g2[0, 0] = [10, 70, 3]
    g2[5, 8] = [250, 80, 200]
    near = (6, b"P6\n9 6\n255\n" + g2.tobytes(),
            "image/x-portable-pixmap")
    rows = [(i, bytearray(p), t) for i, p, t in base + [near]]
    return spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )


def q_image_ahash(spark, sf_dir):
    """Perceptual image average-hash through the REAL netpbm codec,
    value-oracled: planted payloads (incl. a 2-pixel-nudged NEAR-DUP
    of the gradient and two undecodables) must produce the offline-
    computed 64-bit hashes — NULL hash + ok=false for undecodables.
    The near-dup PAIRING (ahash → banded simhash machinery, planted
    pair at Hamming 1) is pinned in tests/test_operators.py."""
    out = multimodal.image_ahash(
        _ahash_planted_media(spark), multimodal.NetpbmCodec()
    )
    return out.orderBy("media_id")


# expected 64-bit hashes computed OFFLINE by running NetpbmCodec's
# luma_grid + mean-threshold on the planted payloads (round 6)
SQL_IMAGE_AHASH = """
SELECT CAST(media_id AS BIGINT) AS media_id, media_type,
  CAST(ahash AS BIGINT) AS ahash, ok
FROM (VALUES
  (1, 'image/x-portable-pixmap', -506390040455094048, true),
  (2, 'image/x-portable-graymap', -17179869184, true),
  (3, 'image/x-portable-graymap', -16557367361536, true),
  (4, 'image/x-portable-pixmap', NULL, false),
  (5, 'image/x-portable-graymap', NULL, false),
  (6, 'image/x-portable-pixmap', -218159664303382304, true)
) AS t(media_id, media_type, ahash, ok)
ORDER BY media_id
"""


def q_image_phash(spark, sf_dir):
    """DCT perceptual hash through the REAL netpbm codec,
    value-oracled: the same planted payloads as the ahash entry must
    produce the offline-computed 63-bit DCT hashes (NULL + ok=false
    for undecodables). The re-light robustness head-to-head vs
    ahash and the near-dup pairing are pinned in
    tests/test_operators.py::TestImagePhash."""
    out = multimodal.image_phash(
        _ahash_planted_media(spark), multimodal.NetpbmCodec()
    )
    return out.orderBy("media_id")


# expected 63-bit hashes computed OFFLINE by running NetpbmCodec's
# 32x32 luma_grid + orthonormal DCT-II + 1e-6 rounding + median
# threshold on the planted payloads. Regenerated in round 9: the
# round-8 literals were computed WITHOUT the rounding step and
# turned out to encode that host's BLAS kernel noise — the planted
# flat-fill payloads have ~50 of 63 true-zero coefficients, and the
# unrounded near-median bits flipped 12-16 bits when the runtime
# BLAS changed between rounds (driver-green r8, red r9 on identical
# code). image_phash now rounds before thresholding, making these
# values host-independent; id 6 (the only payload with a real
# spectrum) hashes identically before and after the fix.
SQL_IMAGE_PHASH = """
SELECT CAST(media_id AS BIGINT) AS media_id, media_type,
  CAST(phash AS BIGINT) AS phash, ok
FROM (VALUES
  (1, 'image/x-portable-pixmap', 36028799166447658, true),
  (2, 'image/x-portable-graymap', 36170086410649642, true),
  (3, 'image/x-portable-graymap', 551903330384, true),
  (4, 'image/x-portable-pixmap', NULL, false),
  (5, 'image/x-portable-graymap', NULL, false),
  (6, 'image/x-portable-pixmap', 3074504075575481642, true)
) AS t(media_id, media_type, phash, ok)
ORDER BY media_id
"""


def q_video_framehash(spark, sf_dir):
    """Per-frame perceptual video hashes through the REAL y4m codec,
    value-oracled: planted banded-pattern videos (incl. a trimmed
    copy sharing 5 of 6 frame hashes and an undecodable payload that
    contributes no rows) must produce the offline-computed 64-bit
    hashes. The video near-dup PAIRING (shared-frame counting via
    the star-capped bucket machinery) is pinned in
    tests/test_operators.py."""
    rows = [
        (i, bytearray(p), t)
        for i, p, t in multimodal.y4m_ahash_planted_payloads()
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    return multimodal.video_frame_hashes(
        media, multimodal.Y4mCodec()
    ).orderBy("media_id", "frame_index")


# expected hashes computed OFFLINE by Y4mCodec.frame_luma_grids +
# mean-threshold on the planted payloads (round 6)
SQL_VIDEO_FRAMEHASH = """
SELECT CAST(media_id AS BIGINT) AS media_id,
  CAST(frame_index AS INTEGER) AS frame_index,
  CAST(fhash AS BIGINT) AS fhash
FROM (VALUES
  (1, 0, -4294967296), (1, 1, 72057594021150720),
  (1, 2, 281474976645120), (1, 3, 1099511627520),
  (1, 4, 4294967295), (1, 5, -72057594021150721),
  (2, 0, 72057594021150720), (2, 1, 281474976645120),
  (2, 2, 1099511627520), (2, 3, 4294967295),
  (2, 4, -72057594021150721),
  (3, 0, -3689348814741910324), (3, 1, -5425512962855750476),
  (3, 2, -6148914691236517206), (3, 3, 6510615555426900570)
) AS t(media_id, frame_index, fhash)
ORDER BY media_id, frame_index
"""


def q_audio_fingerprint(spark, sf_dir):
    """Energy-delta audio fingerprints through the REAL WAV codec,
    value-oracled: the planted half-volume copy MUST produce the
    bit-identical fingerprint (exact volume invariance — relative
    energy comparisons), the differently-modulated signal lands ~30
    bits away, garbage gets NULL + ok=false. Near-dup pairing via
    the banded machinery is pinned in tests/test_operators.py."""
    rows = [
        (i, bytearray(p), t)
        for i, p, t in multimodal.wav_fingerprint_planted_payloads()
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    return multimodal.audio_fingerprint(
        media, multimodal.WavCodec()
    ).orderBy("media_id")


# expected fingerprints computed OFFLINE by WavCodec.audio_envelope
# + delta-threshold on the planted payloads (round 6); ids 1 and 2
# EQUAL by construction (volume invariance)
SQL_AUDIO_FINGERPRINT = """
SELECT CAST(media_id AS BIGINT) AS media_id, media_type,
  CAST(afp AS BIGINT) AS afp, ok
FROM (VALUES
  (1, 'audio/wav', 559000778369465375, true),
  (2, 'audio/wav', 559000778369465375, true),
  (3, 'audio/wav', 3717948417956963891, true),
  (4, 'audio/wav', NULL, false)
) AS t(media_id, media_type, afp, ok)
ORDER BY media_id
"""


_HIER_NPROBE = 2  # of 8 superclusters — genuinely partial probing


def q_assign_hier(spark, sf_dir):
    """Hierarchical (two-level) quantizer assignment value-oracled:
    64 deterministic lists → 8 superclusters, each vector probes its
    2 best supers and argmaxes only their member centroids. DuckDB
    replays super-selection and the partial argmax with the same
    literals, round-9 cosines, and ties-to-larger-index contract."""
    cents = similarity.pseudo_centroids(64, 64)
    out = similarity.assign_lists_hier(
        _embs(spark, sf_dir), cents, nprobe_super=_HIER_NPROBE
    )
    return out.select("vec_id", "list_id").orderBy("vec_id")


def _sql_assign_hier() -> str:
    cents = similarity.pseudo_centroids(64, 64)
    sup, super_of = similarity.super_quantize(cents)
    cn = similarity.unit_normalize(cents)

    def arr(v):
        return "[%s]::DOUBLE[]" % ", ".join(repr(x) for x in v)

    sup_rows = ", ".join(
        f"({i}, {arr(c)})" for i, c in enumerate(sup)
    )
    cent_rows = ", ".join(
        f"({super_of[i]}, {i}, {arr(c)})" for i, c in enumerate(cn)
    )
    cos_ds = _cos_dd("d.embedding", "s.sc")
    cos_dc = _cos_dd("d.embedding", "c.c")
    return f"""
WITH sup AS (SELECT * FROM (VALUES {sup_rows}) s(si, sc)),
cent AS (SELECT * FROM (VALUES {cent_rows}) c(si, i, c)),
pr AS (
  SELECT vec_id, si FROM (
    SELECT d.vec_id, s.si,
      row_number() OVER (PARTITION BY d.vec_id
        ORDER BY round({cos_ds}, 9) DESC, s.si DESC) AS rk
    FROM embeddings d CROSS JOIN sup s) WHERE rk <= {_HIER_NPROBE}),
sc AS (
  SELECT d.vec_id, c.i,
    row_number() OVER (PARTITION BY d.vec_id
      ORDER BY round({cos_dc}, 9) DESC, c.i DESC) AS rk
  FROM pr JOIN embeddings d ON d.vec_id = pr.vec_id
          JOIN cent c ON c.si = pr.si)
SELECT vec_id, CAST(i AS INTEGER) AS list_id
FROM sc WHERE rk = 1 ORDER BY vec_id
"""


# ---- round-7 additions: true BPE, near-dup pair emitters ----------


def q_bpe_stats(spark, sf_dir):
    """True-BPE token statistics on the planted merges table: the
    greedy merge loop (lowest rank first, left-to-right
    non-overlapping within an iteration) runs in an Arrow-batched
    pandas UDF; DuckDB replays the SAME loop with a recursive CTE
    over DISTINCT pre-tokens — counts AND longest-merged-token both
    value-checked."""
    from prql_spark.operators import bpe as bpe_mod

    return (
        bpe_mod.bpe_token_stats(_docs(spark, sf_dir))
        .select(
            "doc_id", "n_pretokens", "bpe_n_tokens", "bpe_max_token_len"
        )
        .orderBy("doc_id")
    )


def _sql_bpe_stats() -> str:
    """DuckDB replay of the greedy BPE merge loop: recursion over
    DISTINCT pre-tokens (the same Zipf-dedup trick the UDF's memo
    exploits); per step, the lowest-ranked adjacent pair is merged at
    every left-to-right non-overlapping occurrence (run-parity over
    consecutive match positions), to a fixpoint."""
    from prql_spark.operators import bpe as bpe_mod

    merges = "[" + ", ".join(
        "{'l': '%s', 'r': '%s', 'rk': %d}" % (left, right, i)
        for i, (left, right) in enumerate(bpe_mod.PLANTED_MERGES)
    ) + "]"
    # lowest applicable merge rank over adjacent symbol pairs (NULL =
    # fixpoint); merges are unique per pair so the inner filter has
    # at most one element
    brk = (
        "list_min(list_transform("
        "list_filter(generate_series(1, len(syms)-1), "
        f"i -> len(list_filter({merges}, "
        "mm -> mm.l = syms[i] AND mm.r = syms[i+1])) > 0), "
        f"i -> list_filter({merges}, "
        "mm -> mm.l = syms[i] AND mm.r = syms[i+1])[1].rk))"
    )
    return f"""
WITH RECURSIVE
pts AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{text.BPE_ISH}')) AS pt
  FROM documents),
ptc AS (SELECT doc_id, pt, count(*) AS n FROM pts GROUP BY doc_id, pt),
enc AS (
  SELECT pt, string_split(pt, '') AS syms
  FROM (SELECT DISTINCT pt FROM pts)
  UNION ALL
  SELECT pt,
    flatten(list_transform(generate_series(1, len(syms)), j ->
      CASE WHEN list_contains(mg, j) THEN [syms[j] || syms[j+1]]
           WHEN list_contains(mg, j - 1) THEN []
           ELSE [syms[j]] END)) AS syms
  FROM (
    SELECT pt, syms,
      list_filter(mt, i -> (i - list_max(list_filter(mt,
        q2 -> q2 <= i AND NOT list_contains(mt, q2 - 1)))) % 2 = 0
      ) AS mg
    FROM (
      SELECT pt, syms,
        list_filter(generate_series(1, len(syms)-1),
          i -> syms[i] = bp.l AND syms[i+1] = bp.r) AS mt
      FROM (
        SELECT pt, syms,
          list_filter({merges}, mm -> mm.rk = brk)[1] AS bp
        FROM (SELECT pt, syms, {brk} AS brk FROM enc)
        WHERE brk IS NOT NULL)))),
fixed AS (
  SELECT pt, syms FROM (SELECT pt, syms, {brk} AS brk FROM enc)
  WHERE brk IS NULL),
agg AS (
  SELECT ptc.doc_id,
    CAST(sum(ptc.n * len(f.syms)) AS BIGINT) AS bpe_n_tokens,
    CAST(max(list_max(list_transform(f.syms, s -> length(s))))
         AS BIGINT) AS bpe_max_token_len
  FROM ptc JOIN fixed f USING (pt) GROUP BY ptc.doc_id)
SELECT d.doc_id,
  CAST(len(regexp_extract_all(d.text, '{text.BPE_ISH}')) AS BIGINT)
    AS n_pretokens,
  coalesce(a.bpe_n_tokens, 0) AS bpe_n_tokens,
  coalesce(a.bpe_max_token_len, 0) AS bpe_max_token_len
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def _simhash_pairs_from_values_sql(
    values: str, max_hamming: int
) -> str:
    """Banded near-pair replay from pinned signature VALUES: the
    SAME simhash_band_bounds(max_hamming + 1) slices the engine
    unrolls, star-cap guard, bit_count(xor) verify."""
    bounds = dedup.simhash_band_bounds(max_hamming + 1)
    keys = ", ".join(
        f"(h >> {off}) & {(1 << w) - 1}" if w < 64 else "h"
        for off, w in bounds
    )
    return f"""
WITH sigs(doc_id, h) AS (VALUES {values}),
banded AS (
  SELECT doc_id, h, b, ([{keys}])[b + 1] AS key
  FROM sigs, (SELECT unnest(generate_series(0, {len(bounds) - 1})) AS b)),
bk AS (
  SELECT b, key, count(*) AS cnt, min(doc_id) AS mn
  FROM banded GROUP BY b, key HAVING count(*) >= 2),
pairs AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
    bit_count(xor(l.h, r.h)) AS hamming
  FROM banded l
  JOIN banded r ON l.b = r.b AND l.key = r.key
               AND l.doc_id < r.doc_id
  JOIN bk ON bk.b = l.b AND bk.key = l.key
  WHERE bk.cnt <= 64 OR l.doc_id = bk.mn)
SELECT DISTINCT id_a AS media_id_a, id_b AS media_id_b,
  CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
ORDER BY media_id_a, media_id_b
"""


def q_image_neardups(spark, sf_dir):
    """End-to-end image near-dup PAIRING (r6 verdict item #5): the
    planted netpbm payloads (gradient + its 2-pixel nudge at Hamming
    1, plus unrelated and undecodable images) through image_ahash →
    pigeonhole-banded pairing. The oracle replays banding + verify
    from the SAME pinned hashes SQL_IMAGE_AHASH carries."""
    return multimodal.image_near_dups(
        _ahash_planted_media(spark),
        max_hamming=6,
        codec=multimodal.NetpbmCodec(),
    ).orderBy("media_id_a", "media_id_b")


SQL_IMAGE_NEARDUPS = _simhash_pairs_from_values_sql(
    "(1, -506390040455094048), (2, -17179869184), "
    "(3, -16557367361536), (6, -218159664303382304)",
    max_hamming=6,
)


def q_audio_neardups(spark, sf_dir):
    """End-to-end audio near-dup PAIRING: the planted WAVs (a signal
    and its half-volume copy — fingerprints bit-identical by the
    volume-invariance contract — plus a ~30-bit-away signal and
    garbage) through audio_fingerprint → banded pairing."""
    rows = [
        (i, bytearray(p), t)
        for i, p, t in multimodal.wav_fingerprint_planted_payloads()
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    return multimodal.audio_near_dups(
        media, max_hamming=6, codec=multimodal.WavCodec()
    ).orderBy("media_id_a", "media_id_b")


SQL_AUDIO_NEARDUPS = _simhash_pairs_from_values_sql(
    "(1, 559000778369465375), (2, 559000778369465375), "
    "(3, 3717948417956963891)",
    max_hamming=6,
)


def q_video_neardups(spark, sf_dir):
    """End-to-end video near-dup PAIRING: planted y4m videos (a
    6-frame banded clip and its first-frame-TRIMMED copy sharing 5
    frame hashes, unrelated footage, an undecodable payload) through
    per-frame hashing → shared-frame counting. Oracle replays the
    distinct-video bucket pairing from the pinned frame hashes."""
    rows = [
        (i, bytearray(p), t)
        for i, p, t in multimodal.y4m_ahash_planted_payloads()
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media binary, media_type string"
    )
    return multimodal.video_near_dups(
        media, min_shared_frames=2, codec=multimodal.Y4mCodec()
    ).orderBy("media_id_a", "media_id_b")


SQL_VIDEO_NEARDUPS = """
WITH fh(media_id, frame_index, fhash) AS (VALUES
  (1, 0, -4294967296), (1, 1, 72057594021150720),
  (1, 2, 281474976645120), (1, 3, 1099511627520),
  (1, 4, 4294967295), (1, 5, -72057594021150721),
  (2, 0, 72057594021150720), (2, 1, 281474976645120),
  (2, 2, 1099511627520), (2, 3, 4294967295),
  (2, 4, -72057594021150721),
  (3, 0, -3689348814741910324), (3, 1, -5425512962855750476),
  (3, 2, -6148914691236517206), (3, 3, 6510615555426900570)),
f2 AS (
  SELECT DISTINCT media_id, fhash FROM fh
  WHERE fhash NOT IN (0, -1))
SELECT l.media_id AS media_id_a, r.media_id AS media_id_b,
  CAST(count(DISTINCT l.fhash) AS BIGINT) AS shared_frames
FROM f2 l JOIN f2 r ON l.fhash = r.fhash AND l.media_id < r.media_id
GROUP BY l.media_id, r.media_id
HAVING count(DISTINCT l.fhash) >= 2
ORDER BY media_id_a, media_id_b
"""


def q_near_split_leakage(spark, sf_dir):
    """NEAR-duplicate cross-split leakage audit (r6 verdict #5): a
    deterministic 50/50 md5 split over documents, then minhash
    near-pairs whose sides landed in different splits — the
    paraphrase leak the exact audit misses. Fully value-oracled: the
    split rule and the whole minhash pipeline replay in DuckDB."""
    docs = splits.split_by_hash(
        _docs(spark, sf_dir), "doc_id", train=0.5, val=0.0
    )
    return splits.near_split_leakage(docs, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def _sql_near_split_leakage() -> str:
    from prql_spark.operators.splits import _cut

    c1 = _cut(0.5)
    split = (
        "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) "
        f"< '{c1}' THEN 'train' ELSE 'test' END"
    )
    return f"""
WITH {_minhash_band_ctes()},
bk AS (
  SELECT b, bslice, count(*) AS cnt, min(doc_id) AS mn
  FROM bands GROUP BY b, bslice HAVING count(*) >= 2),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
    len(list_filter(generate_series(1, 64),
        i -> l.sig[i] = r.sig[i])) / 64.0 AS est_jaccard
  FROM bands l
  JOIN bands r ON l.b = r.b AND l.bslice = r.bslice
              AND l.doc_id < r.doc_id
  JOIN bk ON bk.b = l.b AND bk.bslice = l.bslice
  WHERE bk.cnt <= 64 OR l.doc_id = bk.mn),
sp AS (SELECT doc_id, {split} AS split FROM documents)
SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b,
  p.est_jaccard
FROM pairs p
JOIN sp sa ON sa.doc_id = p.id_a
JOIN sp sb ON sb.doc_id = p.id_b
WHERE sa.split != sb.split AND p.est_jaccard >= 0.5
ORDER BY id_a, id_b
"""


def q_snapshot_timetravel(spark, sf_dir):
    """Manifest-committed versioned dataset (sources/manifest.py):
    v1 = overwrite with a third of orders, v2 = append another
    third (parent files referenced, not rewritten), v3 = compaction
    commit (same rows, fewer files, old version still readable).
    Reading each version and aggregating value-checks the whole
    commit protocol — atomicity, append semantics, and row
    preservation through compaction — against a DuckDB oracle that
    recomputes each version's content relationally."""
    import hashlib
    import os
    import shutil
    import tempfile

    from prql_spark.sources.manifest import (
        compact_snapshot,
        snapshot_read,
        snapshot_write,
    )

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_snap_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    shutil.rmtree(d, ignore_errors=True)
    orders = Catalog(spark, sf_dir).load("orders").select(
        "o_orderkey", "o_totalprice"
    )
    snapshot_write(orders.where("o_orderkey % 3 = 0").repartition(8), d)
    snapshot_write(orders.where("o_orderkey % 3 = 1"), d, mode="append")
    compact_snapshot(spark, d, target_mb=1024)
    parts = [
        snapshot_read(spark, d, v)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("round(sum(o_totalprice), 2)").alias("total"),
            F.expr("max(o_orderkey)").alias("max_key"),
        )
        .withColumn("version", F.lit(v).cast("int"))
        .select("version", "n", "total", "max_key")
        for v in (1, 2, 3)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


SQL_SNAPSHOT_TIMETRAVEL = """
WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
     v2 AS (SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 1))
SELECT 1 AS version, count(*) AS n,
       round(sum(o_totalprice), 2) AS total,
       max(o_orderkey) AS max_key FROM v1
UNION ALL
SELECT 2, count(*), round(sum(o_totalprice), 2), max(o_orderkey) FROM v2
UNION ALL
SELECT 3, count(*), round(sum(o_totalprice), 2), max(o_orderkey) FROM v2
ORDER BY version
"""


def q_snapshot_changes(spark, sf_dir):
    """Incremental reads over a manifest table
    (manifest.snapshot_changes): three append-only commits of orders
    thirds; 'changes since v1' must be exactly the later two thirds
    and 'changes since v2' the last third — DuckDB recomputes both
    slices relationally, value-checking that added-files == added-
    rows across the append chain."""
    import hashlib
    import os
    import shutil
    import tempfile

    from prql_spark.sources.manifest import (
        snapshot_changes,
        snapshot_write,
    )

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_snapc_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    shutil.rmtree(d, ignore_errors=True)
    orders = Catalog(spark, sf_dir).load("orders").select(
        "o_orderkey", "o_totalprice"
    )
    snapshot_write(orders.where("o_orderkey % 3 = 0"), d)
    snapshot_write(orders.where("o_orderkey % 3 = 1"), d, mode="append")
    snapshot_write(orders.where("o_orderkey % 3 = 2"), d, mode="append")
    parts = [
        snapshot_changes(spark, d, v)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("round(sum(o_totalprice), 2)").alias("total"),
            F.expr("max(o_orderkey)").alias("max_key"),
        )
        .withColumn("since_version", F.lit(v).cast("int"))
        .select("since_version", "n", "total", "max_key")
        for v in (1, 2)
    ]
    return parts[0].unionByName(parts[1]).orderBy("since_version")


SQL_SNAPSHOT_CHANGES = """
WITH c1 AS (SELECT * FROM orders WHERE o_orderkey % 3 IN (1, 2)),
     c2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 2)
SELECT 1 AS since_version, count(*) AS n,
       round(sum(o_totalprice), 2) AS total,
       max(o_orderkey) AS max_key FROM c1
UNION ALL
SELECT 2, count(*), round(sum(o_totalprice), 2), max(o_orderkey) FROM c2
ORDER BY since_version
"""


def q_snapshot_scan(spark, sf_dir):
    """File-skipping range scan over a manifest table
    (manifest.attach_stats + snapshot_scan): orders committed
    range-clustered on o_orderkey (disjoint per-file ranges),
    footer stats attached, then a narrow key range scanned — files
    outside the range are skipped at PLANNING time (pytest pins the
    file count via input_file_name; here DuckDB value-checks that
    the skipping scan returns exactly the WHERE-filter rows)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from prql_spark.sources.manifest import (
        attach_stats,
        snapshot_scan,
        snapshot_write,
    )

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_snaps_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    shutil.rmtree(d, ignore_errors=True)
    orders = Catalog(spark, sf_dir).load("orders").select(
        "o_orderkey", "o_totalprice"
    )
    snapshot_write(
        orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        d,
    )
    attach_stats(spark, d, ("o_orderkey",))
    return (
        snapshot_scan(spark, d, "o_orderkey", lo=1000, hi=5000)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("round(sum(o_totalprice), 2)").alias("total"),
            F.expr("min(o_orderkey)").alias("min_key"),
            F.expr("max(o_orderkey)").alias("max_key"),
        )
    )


SQL_SNAPSHOT_SCAN = """
SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
"""


def q_snapshot_partitioned(spark, sf_dir):
    """Partitioned manifest table (manifest.snapshot_write
    partition_by=): two commits of orders halves, hive-partitioned
    by o_orderstatus inside each commit dir, partition values
    recorded as manifest [v, v] stats at write time (parsed from
    the staged paths — no scan). The result value-checks the whole
    surface: the per-status aggregate proves the partition column
    round-trips through the hive layout with the writer's type and
    every row lands in the right partition across an append; the
    'F:pruned' row re-reads one status through snapshot_scan, whose
    partition pruning opens ONLY that hive dir (file count pinned
    in tests/test_manifest.py; DuckDB checks the values here)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from prql_spark.sources.manifest import (
        snapshot_read,
        snapshot_scan,
        snapshot_write,
    )

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_snapp_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    shutil.rmtree(d, ignore_errors=True)
    orders = Catalog(spark, sf_dir).load("orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    snapshot_write(
        orders.where("o_orderkey % 2 = 0"), d,
        partition_by=("o_orderstatus",),
    )
    snapshot_write(
        orders.where("o_orderkey % 2 = 1"), d,
        mode="append", partition_by=("o_orderstatus",),
    )
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.expr("round(sum(o_totalprice), 2)").alias("total"),
    ]
    full = (
        snapshot_read(spark, d)
        .groupBy("o_orderstatus")
        .agg(*agg)
    )
    pruned = (
        snapshot_scan(spark, d, "o_orderstatus", lo="F", hi="F")
        .agg(*agg)
        .withColumn("o_orderstatus", F.lit("F:pruned"))
        .select("o_orderstatus", "n", "total")
    )
    return full.unionByName(pruned).orderBy("o_orderstatus")


SQL_SNAPSHOT_PARTITIONED = """
SELECT o_orderstatus, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'F:pruned', count(*), round(sum(o_totalprice), 2)
FROM orders WHERE o_orderstatus = 'F'
ORDER BY o_orderstatus
"""


def q_snapshot_merge(spark, sf_dir):
    """Row-level MERGE + DELETE on a manifest table, copy-on-write
    (manifest.merge_snapshot / delete_snapshot): orders committed
    key-clustered with write-time key stats; the merge updates every
    key ≡ 7 (mod 100) (+100000 to its total) and inserts three
    synthetic keys — touched files found by stats pruning + one
    semi-join probe, untouched files referenced verbatim; the delete
    then removes every key ≡ 13 (mod 100). DuckDB replays the same
    anti-join ∪ source ∪ filter algebra relationally, value-checking
    update/insert/delete semantics end to end. The file-accounting
    contract (only touched files rewrite) is pinned in
    tests/test_manifest.py."""
    import hashlib
    import os
    import shutil
    import tempfile

    from prql_spark.sources.manifest import (
        delete_snapshot,
        merge_snapshot,
        snapshot_read,
        snapshot_write,
    )

    d = os.path.join(
        tempfile.gettempdir(),
        "prql_spark_snapm_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    shutil.rmtree(d, ignore_errors=True)
    orders = Catalog(spark, sf_dir).load("orders").select(
        "o_orderkey", "o_totalprice"
    )
    snapshot_write(
        orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        d,
        stats_cols=("o_orderkey",),
    )
    src = orders.where("o_orderkey % 100 = 7").withColumn(
        "o_totalprice", F.col("o_totalprice") + 100000.0
    )
    extra = spark.createDataFrame(
        [(900000001, 1.25), (900000002, 4.5), (900000003, 7.75)],
        "o_orderkey LONG, o_totalprice DOUBLE",
    )
    merge_snapshot(spark, d, src.unionByName(extra), on=("o_orderkey",))
    delete_snapshot(spark, d, "o_orderkey % 100 = 13")
    return snapshot_read(spark, d).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("round(sum(o_totalprice), 2)").alias("total"),
        F.expr("max(o_orderkey)").alias("max_key"),
    )


SQL_SNAPSHOT_MERGE = """
WITH src AS (
  SELECT o_orderkey, o_totalprice + 100000 AS o_totalprice
  FROM orders WHERE o_orderkey % 100 = 7
  UNION ALL
  SELECT * FROM (VALUES (900000001, 1.25), (900000002, 4.5),
                        (900000003, 7.75)) v(o_orderkey, o_totalprice)
), merged AS (
  SELECT o.o_orderkey, o.o_totalprice FROM orders o
  WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM src)
  UNION ALL
  SELECT * FROM src
)
SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
       max(o_orderkey) AS max_key
FROM merged WHERE NOT (o_orderkey % 100 = 13)
"""


def q_top_items(spark, sf_dir):
    """Frequent-items sketch (sketches.top_items): approx_top_k over
    a 15-value composite of orders — k exceeds the distinct count,
    so every count is exact (nothing evicted from the sketch) and
    the DuckDB oracle is the plain exact GROUP BY. The sketch's
    scale contract (bounded memory, map-side partials) is what the
    operator exists for; its exactness in the no-eviction regime is
    what the oracle can verify."""
    orders = Catalog(spark, sf_dir).load("orders").withColumn(
        "bucket", F.expr("concat(o_orderstatus, '-', o_orderpriority)")
    )
    return sketches.top_items(orders, "bucket", k=32)


SQL_TOP_ITEMS = """
SELECT concat(o_orderstatus, '-', o_orderpriority) AS item,
       count(*) AS cnt
FROM orders GROUP BY 1 ORDER BY cnt DESC, item
"""


def q_shuffle_deterministic(spark, sf_dir):
    """Deterministic training shuffle (splits.shuffle_for_training):
    the corpus ordered by md5(seed || doc_id) through a range
    exchange + within-partition sort (total order, no single-node
    step). The DuckDB oracle recomputes the same keyed hash and
    order, value-checking that the shuffle is reproducible
    cross-engine — the property a training run pins its data order
    on."""
    docs = Catalog(spark, sf_dir).load("documents").select("doc_id")
    out = splits.shuffle_for_training(
        docs, seed=42, key_cols=["doc_id"], partitions=8, keep_key=True
    )
    return (
        out.orderBy("__shuffle_key")
        .limit(200)
        .select("doc_id", F.col("__shuffle_key").alias("shuffle_key"))
    )


SQL_SHUFFLE_DETERMINISTIC = """
SELECT doc_id,
       md5(concat_ws(chr(31), '42', CAST(doc_id AS VARCHAR)))
         AS shuffle_key
FROM documents ORDER BY shuffle_key LIMIT 200
"""


Build = Callable[[SparkSession, str], DataFrame]

# name -> (build function, DuckDB oracle SQL) for every operator entry,
# built once per process, on first import
ENTRIES: dict[str, tuple[Build, str]] = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "text_token_count": (q_token_count, SQL_TOKEN_COUNT),
    "text_quality_score": (q_quality, SQL_QUALITY),
    "text_lang_id": (q_lang_id, SQL_LANG_ID),
    "text_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "dedup_ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "text_ngram_counts": (q_ngram_counts, SQL_NGRAM_COUNTS),
    "text_doc_frequency": (q_doc_frequency, SQL_DOC_FREQUENCY),
    # md5-based signatures since round 3 → fully value-oracled
    # (DuckDB replays the whole signature pipeline)
    "dedup_minhash_lsh": (q_dedup_minhash, _sql_minhash_dedup()),
    "dedup_simhash_pairs": (q_simhash_pairs, _sql_simhash_pairs()),
    "ann_bruteforce_topk": (q_ann_bruteforce, SQL_ANN_BRUTEFORCE),
    "ann_lsh_topk": (q_ann_lsh, _sql_ann_lsh()),
    # pretrained coarse quantizer as literals → search path fully
    # value-oracled (scripts/gen_ivf_centroids.py)
    "ann_ivf_topk": (q_ann_ivf, _sql_ann_ivf()),
    "embedding_near_dups": (q_embedding_near_dups, _sql_embedding_near_dups()),
    # decode/frame_sample: the mapInPandas fake decoder is
    # sha256-deterministic, so even the stub is value-oracled
    "multimodal_decode": (q_multimodal_decode, _sql_multimodal_decode()),
    "multimodal_metadata": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "multimodal_frame_sample": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "events_hourly_rollup": (q_events_hourly, SQL_EVENTS_HOURLY),
    "asof_join_attribution": (q_asof_join, SQL_ASOF_JOIN),
    "asof_forward_tolerance": (q_asof_forward, SQL_ASOF_FORWARD),
    "split_by_hash": (q_split_by_hash, SQL_SPLIT_BY_HASH),
    "sample_by_hash": (q_sample_by_hash, SQL_SAMPLE_BY_HASH),
    "text_redact_pii": (q_redact_pii, SQL_REDACT_PII),
    "text_strip_boilerplate": (q_strip_boilerplate, SQL_STRIP_BOILERPLATE),
    "events_sessionize": (q_sessionize, SQL_SESSIONIZE),
    "events_dedup_within_watermark": (q_events_dedup, SQL_EVENTS_DEDUP),
    "events_interval_join": (q_events_interval_join, SQL_INTERVAL_JOIN),
    "docs_clean_pipeline": (q_docs_clean_pipeline, _docs_pipeline_sql()),
    "sketch_distinct_users": (q_sketch_distinct, SQL_SKETCH_DISTINCT),
    "sketch_value_median": (q_sketch_quantile, SQL_SKETCH_QUANTILE),
    "multimodal_resize": (q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "sources_csv_roundtrip": (q_csv_roundtrip, SQL_CSV_ROUNDTRIP),
    "skew_salted_aggregate": (q_salted_agg, SQL_SALTED_AGG),
    "kafka_json_roundtrip": (q_kafka_roundtrip, SQL_KAFKA_ROUNDTRIP),
    "sources_zorder_roundtrip": (q_zorder_roundtrip, SQL_ZORDER_ROUNDTRIP),
    "sources_bucketed_join": (q_bucketed_join, SQL_BUCKETED_JOIN),
    "splits_leakage_audit": (q_split_leakage, SQL_SPLIT_LEAKAGE),
    "multimodal_image_ahash": (q_image_ahash, SQL_IMAGE_AHASH),
    "multimodal_video_framehash": (q_video_framehash, SQL_VIDEO_FRAMEHASH),
    "multimodal_audio_fingerprint": (
        q_audio_fingerprint, SQL_AUDIO_FINGERPRINT
    ),
    "text_bm25_rank": (q_bm25_rank, _sql_bm25()),
    "text_contamination": (q_contamination, SQL_CONTAMINATION),
    "text_gopher_flags": (q_gopher_flags, SQL_GOPHER),
    "text_repetition_flags": (q_repetition_flags, SQL_REPETITION),
    "profile_orders": (q_profile_orders, SQL_PROFILE_ORDERS),
    "stratified_sample": (q_stratified_sample, _sql_stratified()),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "sources_upsert_merge": (q_upsert_merge, SQL_UPSERT_MERGE),
    "dedup_minhash_clusters": (q_minhash_clusters, _sql_minhash_clusters()),
    "semdedup_prune": (q_semdedup, _sql_semdedup()),
    "text_unigram_logprob": (q_unigram_logprob, SQL_UNIGRAM),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "sample_per_group": (q_sample_per_group, SQL_SAMPLE_PER_GROUP),
    "text_collocations": (q_collocations, SQL_COLLOCATIONS),
    "skew_salted_join": (q_salted_join, SQL_SALTED_JOIN),
    "sources_diff_snapshots": (q_diff_snapshots, SQL_DIFF_SNAPSHOTS),
    # the REAL decoder on planted payloads: expected pixel stats
    # computed offline, pinned as VALUES
    "multimodal_netpbm_decode": (
        q_multimodal_netpbm_decode, SQL_MULTIMODAL_NETPBM
    ),
    "text_quantile_buckets": (q_quantile_buckets, SQL_QUANTILE_BUCKETS),
    "dedup_against_near": (q_dedup_against_near, _sql_dedup_against_near()),
    "text_tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "profile_rollup": (q_rollup_stats, SQL_ROLLUP_STATS),
    "sources_warc_read": (q_warc_read, SQL_WARC_READ),
    "splits_rebalance_mix": (q_rebalance_mix, _sql_rebalance_mix()),
    "multimodal_wav_decode": (q_multimodal_wav_decode, SQL_MULTIMODAL_WAV),
    "multimodal_y4m_decode": (q_multimodal_y4m_decode, SQL_MULTIMODAL_Y4M),
    "text_chunk_documents": (q_chunk_documents, SQL_CHUNK_DOCUMENTS),
    "text_script_profile": (q_script_profile, _sql_script_profile()),
    "text_html_to_text": (q_html_to_text, _sql_html_to_text()),
    "ann_assign_hier": (q_assign_hier, _sql_assign_hier()),
    "dedup_paragraphs": (q_dedup_paragraphs, SQL_DEDUP_PARAGRAPHS),
    "dedup_lines": (q_dedup_lines, SQL_DEDUP_LINES),
    "text_url_features": (q_url_features, _sql_url_features()),
    "dedup_window_fraction": (q_dup_window_fraction, SQL_DUP_WINDOW_FRACTION),
    "dedup_remove_windows": (q_remove_dup_windows, SQL_REMOVE_DUP_WINDOWS),
    "dedup_remove_sentences": (
        q_remove_dup_sentences, _sql_remove_dup_sentences()
    ),
    # round-7: BPE merge loop replayed via recursive CTE; media
    # near-dup pairing replayed from the pinned decode hashes;
    # near-leakage replays split rule + full minhash pipeline
    "text_token_count_bpe": (q_bpe_stats, _sql_bpe_stats()),
    "multimodal_image_neardups": (q_image_neardups, SQL_IMAGE_NEARDUPS),
    "multimodal_audio_neardups": (q_audio_neardups, SQL_AUDIO_NEARDUPS),
    "multimodal_video_neardups": (q_video_neardups, SQL_VIDEO_NEARDUPS),
    "splits_near_leakage": (q_near_split_leakage, _sql_near_split_leakage()),
    "text_normalize": (q_text_normalize, _sql_text_normalize()),
    "text_url_blocklist": (q_url_blocklist, _sql_url_blocklist()),
    # round-8: manifest commit protocol replayed relationally;
    # frequent-items in the exact (no-eviction) regime; keyed-
    # hash shuffle order recomputed cross-engine
    "sources_snapshot_timetravel": (
        q_snapshot_timetravel, SQL_SNAPSHOT_TIMETRAVEL
    ),
    "sources_snapshot_partitioned": (
        q_snapshot_partitioned, SQL_SNAPSHOT_PARTITIONED
    ),
    "sources_snapshot_merge": (q_snapshot_merge, SQL_SNAPSHOT_MERGE),
    "sources_snapshot_changes": (q_snapshot_changes, SQL_SNAPSHOT_CHANGES),
    "sources_snapshot_scan": (q_snapshot_scan, SQL_SNAPSHOT_SCAN),
    "multimodal_image_phash": (q_image_phash, SQL_IMAGE_PHASH),
    "sketch_top_items": (q_top_items, SQL_TOP_ITEMS),
    "splits_shuffle_deterministic": (
        q_shuffle_deterministic, SQL_SHUFFLE_DETERMINISTIC
    ),
}
