"""Independent result checks, run outside every timed region.

Results are compared the way the engine's correctness gate compares
them: same column names, same row count, and the same multiset of rows
after normalising values (numbers rounded to 5 decimals, timestamps to
the second).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import re

import duckdb
import pyarrow as pa


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        r = round(f, 5)
        return 0.0 if r == 0 else r
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()[:19]
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0].lower() for d in res.description], res.fetchall()


def table_rows(t: pa.Table) -> tuple[list[str], list[tuple]]:
    cols = [c.lower() for c in t.column_names]
    data = t.to_pydict()
    return cols, list(zip(*[data[c] for c in t.column_names]))


def _decimals(x: float) -> int:
    s = repr(x)
    return len(s) - s.index(".") - 1 if "." in s and "e" not in s else 0


_ROUND = re.compile(r"round\s*\(.*?,\s*(\d+)\s*\)", re.I | re.S)


def rounded_places(sql: str) -> frozenset[int]:
    """The decimal places the SQL rounds results to, ``round(x, k)``."""
    return frozenset(int(k) for k in _ROUND.findall(sql))


def rounding_tie(a, b, places: frozenset[int]) -> bool:
    """Two numbers one unit apart in their common last decimal place
    ``k``, where the query rounds to ``k`` places: the two engines broke
    a rounding tie (x.xx5) differently, because their floating-point
    sums landed on either side of it."""
    if not (isinstance(a, float) and isinstance(b, float)):
        return False
    k = _decimals(a)
    return k in places and k == _decimals(b) and math.isclose(
        abs(a - b), 10.0 ** -k, rel_tol=1e-6)


def compare(got: tuple[list[str], list[tuple]],
            want: tuple[list[str], list[tuple]],
            places: frozenset[int] = frozenset()) -> str | None:
    """None when equal, else a one-line reason. ``places``: the decimal
    places the expected values were rounded to (see ``rounding_tie``)."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    g = sorted((tuple(norm(v) for v in r) for r in gr), key=repr)
    w = sorted((tuple(norm(v) for v in r) for r in wr), key=repr)
    for a, b in zip(g, w):
        if a != b and not all(x == y or rounding_tie(x, y, places)
                              for x, y in zip(a, b)):
            return f"values differ, e.g. {a!r} != {b!r}"[:300]
    return None


def close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)
