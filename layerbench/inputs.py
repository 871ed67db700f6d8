"""Seeded input generators, independent of the system under test.

Everything here uses numpy and pyarrow only: the tables are written as
single parquet files, in the schema of the synthetic TPC-H-like test
tables the engine's entries and oracles are written against (reduced
TPC-H star schema, an ``events`` stream table and a ``documents``
corpus of lower-case words). The same seed always yields byte-identical
inputs; each table draws from its own child stream, so changing one
table's size never shifts another table's values.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = np.datetime64("1970-01-01", "D")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# the test corpus vocabulary: lower-case ASCII words and single spaces
# only, the character set every document oracle is validated on
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANG_WORDS = {
    "en": "the and of to in is that it with for was on are this have".split(),
    "de": "der die und das ist nicht von mit ein eine zu den dem auf".split(),
    "fr": "le la les et des une est pour dans que qui sur pas vous".split(),
    "es": "el la los las y una es para con que por del se como".split(),
    "zh": [],
}
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH).astype(int)
    hi = (np.datetime64(end, "D") - _EPOCH).astype(int)
    days = rng.integers(lo, hi + 1, n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The reduced TPC-H star plus ``events``, sized like the test
    tables at scale factor ``sf`` (lineitem ~6M x sf rows)."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i // 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = _rng(seed, "part")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            r.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n_part) / 10, 1),
    })
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        # cents in multiples of 4: a mean of up to 7 prices then never
        # ends in an exact half cent, the tie Spark and DuckDB round
        # differently (window_moving_average)
        "o_totalprice": r.integers(25_000, 12_500_000, n_ord) * 4 / 100,
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        # whole units: price x (1 - discount) sums stay whole cents, so
        # round(sum, 2) never meets a half-cent tie either engine may
        # break its own way
        "l_extendedprice": r.integers(900, 105_000, n_line).astype(np.float64),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line),
    })
    r = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    value = _money(r, 0.0, 560.0, n_ev)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(start + r.integers(0, span, n_ev)),
                       pa.timestamp("us")),
        "user_id": r.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        # ~2% missing values exercise the null-handling transforms
        "value": pa.array(value, mask=r.random(n_ev) < 0.02),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    return out


def write_tpch(seed: int, sf: float, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    rows, size = {}, 0
    for name, t in tpch_tables(seed, sf).items():
        size += _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return {"sf": sf, "table_rows": rows, "bytes": size}


def _doc_text(rng, lang: str) -> list[str]:
    n = int(rng.integers(8, 90))
    words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
    flavor = LANG_WORDS[lang]
    if flavor:
        for i in np.flatnonzero(rng.random(n) < 0.25):
            words[i] = flavor[int(rng.integers(0, len(flavor)))]
    return words


def documents(seed: int, n_docs: int, exact_share: float = 0.05,
              near_share: float = 0.10) -> tuple[pa.Table, dict]:
    """A corpus with planted duplicates: ``exact_share`` of the docs
    copy an earlier doc verbatim, ``near_share`` copy one with about a
    tenth of its words replaced (near duplicates under 5-gram
    shingling); the rest are fresh random word sequences."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    langs: list[str] = []
    kinds = r.random(n_docs)
    n_exact = n_near = 0
    for i in range(n_docs):
        k = kinds[i]
        if i > 0 and k < exact_share:
            j = int(r.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            n_exact += 1
            continue
        if i > 0 and k < exact_share + near_share:
            j = int(r.integers(0, i))
            words = texts[j].split(" ")
            for w in np.flatnonzero(r.random(len(words)) < 0.1):
                words[w] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            langs.append(langs[j])
            n_near += 1
            continue
        lang = LANGS[int(r.integers(0, len(LANGS)))]
        texts.append(" ".join(_doc_text(r, lang)))
        langs.append(lang)
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, {"docs": n_docs, "planted_exact": n_exact,
                   "planted_near": n_near,
                   "planted_dup_share": round((n_exact + n_near) / n_docs, 4)}


def write_documents(seed: int, n_docs: int, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    table, info = documents(seed, n_docs)
    info["bytes"] = _write(table, os.path.join(out_dir, "documents.parquet"))
    info["text_bytes"] = int(sum(table.column("n_chars").to_pylist()))
    return info


LAKE_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
])


def _lake_rows(rng, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 5_000, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
    }, schema=LAKE_SCHEMA)


def lake_batches(seed: int, base_rows: int, batch_rows: int,
                 n_appends: int, n_merges: int) -> dict[str, pa.Table]:
    """The orders-derived commit sequence inputs: a base table, append
    batches with fresh keys, and merge sources that update existing
    keys and insert a few new ones. Keys are unique within each batch
    (merge replaces whole rows per key)."""
    r = _rng(seed, "lake")
    out = {"base": _lake_rows(r, r.permutation(base_rows))}
    next_key = base_rows
    for k in range(n_appends):
        keys = np.arange(next_key, next_key + batch_rows)
        next_key += batch_rows
        out[f"append{k}"] = _lake_rows(r, r.permutation(keys))
    for k in range(n_merges):
        upd = r.choice(base_rows, size=batch_rows // 2, replace=False)
        new = np.arange(next_key, next_key + batch_rows // 10)
        next_key += batch_rows // 10
        out[f"merge{k}"] = _lake_rows(r, np.concatenate([upd, new]))
    return out


def write_lake(seed: int, out_dir: str, base_rows: int, batch_rows: int,
               n_appends: int, n_merges: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    rows, size = {}, 0
    for name, t in lake_batches(seed, base_rows, batch_rows, n_appends,
                                n_merges).items():
        size += _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return {"table_rows": rows, "bytes": size}
