"""The correctness gate's comparison: an entry's Spark rows against
its DuckDB oracle over the same parquet tables — column names, row
count and order-insensitive values (floats rounded to 5 places,
datetimes to the second). ``scripts/check_entry.py`` runs it over
every entry; the tier-1 tests run it over synthesized tables.
"""

from __future__ import annotations

import math

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 5)
        return 0.0 if r == 0 else r
    if hasattr(v, "isoformat"):
        return v.isoformat()[:19]
    return v


def compare(rows: list, cols: list, con, sql: str) -> str | None:
    """Why ``rows`` (with column names ``cols``) differ from the
    oracle ``sql`` on ``con``, or None when they match."""
    try:
        res = con.execute(sql)
        want_cols = [d[0].lower() for d in res.description]
        want = res.fetchall()
    except Exception as e:
        return f"oracle error {str(e).splitlines()[0][:100]}"
    cols = [c.lower() for c in cols]
    if cols != want_cols:
        return f"cols {cols} != {want_cols}"
    if len(rows) != len(want):
        return f"rowcount {len(rows)} != {len(want)}"
    got_s = sorted([tuple(norm(v) for v in r) for r in rows], key=repr)
    want_s = sorted([tuple(norm(v) for v in r) for r in want], key=repr)
    if got_s != want_s:
        diffs = [(g, w) for g, w in zip(got_s, want_s) if g != w][:3]
        return f"values differ, e.g. {diffs}"
    return None
