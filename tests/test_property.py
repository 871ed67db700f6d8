"""Property-based compiler testing (hypothesis).

Random PRQL expression trees over lineitem columns are compiled by
the engine and cross-checked against DuckDB evaluating the
equivalent SQL — the same oracle strategy as the driver, but over a
generated expression space instead of hand-picked queries.

Numeric expressions avoid division (engine-identical NULL/inf
semantics differ) and compare rounded to 4 decimals.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from prql_spark import compile_prql

NUM_COLS = ["l_quantity", "l_discount", "l_tax", "l_linenumber"]
STR_COLS = ["l_returnflag", "l_linestatus"]


class E:
    """Expression node that renders to both PRQL and DuckDB SQL."""

    def __init__(self, prql, sql, kind):
        self.prql = prql
        self.sql = sql
        self.kind = kind  # num | bool


def leaf_num():
    return st.one_of(
        st.sampled_from([E(c, c, "num") for c in NUM_COLS]),
        st.integers(-100, 100).map(
            lambda n: E(f"({n})" if n < 0 else str(n), str(n), "num")
        ),
        st.floats(
            -50, 50, allow_nan=False, allow_infinity=False
        ).map(lambda f: E(f"({round(f,3)})" if f < 0 else str(round(f, 3)),
                          str(round(f, 3)), "num")),
    )


def num_expr(depth=2):
    if depth == 0:
        return leaf_num()
    sub = num_expr(depth - 1)
    return st.one_of(
        leaf_num(),
        st.tuples(sub, st.sampled_from(["+", "-", "*"]), sub).map(
            lambda t: E(
                f"({t[0].prql} {t[1]} {t[2].prql})",
                f"({t[0].sql} {t[1]} {t[2].sql})",
                "num",
            )
        ),
        sub.map(
            lambda e: E(f"(- {e.prql})", f"(- {e.sql})", "num")
        ),
        st.tuples(sub, sub).map(
            lambda t: E(
                f"({t[0].prql} ?? {t[1].prql})",
                f"coalesce({t[0].sql}, {t[1].sql})",
                "num",
            )
        ),
    )


def bool_expr():
    n = num_expr(1)
    cmps = {"==": "=", "!=": "<>", "<": "<", "<=": "<=", ">": ">", ">=": ">="}
    base = st.one_of(
        st.tuples(n, st.sampled_from(sorted(cmps)), n).map(
            lambda t: E(
                f"({t[0].prql} {t[1]} {t[2].prql})",
                f"({t[0].sql} {cmps[t[1]]} {t[2].sql})",
                "bool",
            )
        ),
        st.tuples(
            st.sampled_from(STR_COLS), st.sampled_from(["A", "N", "R", "O", "F"])
        ).map(
            lambda t: E(
                f'({t[0]} == "{t[1]}")', f"({t[0]} = '{t[1]}')", "bool"
            )
        ),
    )
    return st.one_of(
        base,
        st.tuples(base, st.sampled_from(["and", "or"]), base).map(
            lambda t: E(
                f"({t[0].prql} {t[1]} {t[2].prql})",
                f"({t[0].sql} {t[1].upper()} {t[2].sql})",
                "bool",
            )
        ),
    )


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 4)
    return round(float(v), 4) if isinstance(v, int) else v


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(e=num_expr(2), cond=bool_expr())
def test_random_expression_parity(spark, catalog, oracle, e, cond):
    prql = (
        "from lineitem\n"
        f"filter {cond.prql}\n"
        f"derive [v = {e.prql}]\n"
        "aggregate [n = count, s = sum v, mx = max v]"
    )
    df = compile_prql(prql, catalog)
    got = df.collect()[0]
    want = oracle.execute(
        f"SELECT count(*) AS n, sum(v) AS s, max(v) AS mx FROM ("
        f"SELECT {e.sql} AS v FROM lineitem WHERE {cond.sql}) t"
    ).fetchone()
    assert got.n == want[0], (prql, got, want)
    assert _norm(got.s) == _norm(want[1]), (prql, got, want)
    assert _norm(got.mx) == _norm(want[2]), (prql, got, want)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    lo=st.integers(-5, 0),
    hi=st.integers(0, 5),
    fn=st.sampled_from(["sum", "min", "max", "count"]),
    partitioned=st.booleans(),
)
def test_random_window_frames(spark, catalog, oracle, lo, hi, fn, partitioned):
    """Random ROWS frames: engine vs DuckDB over orders."""
    prql_fn = {"sum": "sum o_totalprice", "min": "min o_totalprice",
               "max": "max o_totalprice", "count": "count"}[fn]
    sql_fn = {"sum": "sum(o_totalprice)", "min": "min(o_totalprice)",
              "max": "max(o_totalprice)", "count": "count(*)"}[fn]
    grp = "group [o_orderstatus] (\n" if partitioned else ""
    grp_end = ")\n" if partitioned else ""
    part = "PARTITION BY o_orderstatus " if partitioned else ""
    edge = lambda v: ("CURRENT ROW" if v == 0
                      else f"{-v} PRECEDING" if v < 0 else f"{v} FOLLOWING")
    prql = (
        "from orders\n"
        f"{grp}"
        f"sort [o_orderkey]\n"
        f"window rows:{lo}..{hi} (\n"
        f"  derive [v = {prql_fn}]\n"
        ")\n"
        f"{grp_end}"
        "derive [vr = round (v * 1.0) 2]\n"
        "select [o_orderkey, vr]"
    )
    df = compile_prql(prql, catalog)
    got = sorted((r.o_orderkey, _norm(r.vr)) for r in df.collect())
    want = sorted(
        (a, _norm(b))
        for a, b in oracle.execute(
            f"SELECT o_orderkey, round({sql_fn} OVER ({part}"
            f"ORDER BY o_orderkey ROWS BETWEEN {edge(lo)} AND {edge(hi)})"
            f" * 1.0, 2) AS vr FROM orders"
        ).fetchall()
    )
    assert got == want, (prql, got[:3], want[:3])


# --------------------------------------------------- pipeline shapes
# Metamorphic check for the SQL backend: a random transform chain
# must produce identical results via (a) the DataFrame compiler,
# (b) to_sql("duckdb") run in DuckDB, (c) to_sql("spark") run via
# spark.sql. Exercises layer merge/push corners (filter-after-derive,
# sort-then-take, select pruning, post-agg steps) that the fixed
# driver entries don't enumerate.


@st.composite
def pipeline(draw):
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    steps = []
    sorted_now = False
    n_steps = draw(st.integers(2, 5))
    derived = 0
    for _ in range(n_steps):
        choices = ["filter", "derive", "sort", "select"]
        if sorted_now:
            choices.append("take")
        kind = draw(st.sampled_from(choices))
        if kind == "filter":
            k = draw(st.integers(2, 7))
            op = draw(st.sampled_from(["<", "<=", ">", ">=", "!="]))
            steps.append(f"filter (n_nationkey % {k}) {op} {k // 2}")
        elif kind == "derive":
            derived += 1
            name = f"d{derived}"
            mul = draw(st.integers(-3, 3))
            other = (
                "n_regionkey" if "n_regionkey" in cols else "n_nationkey"
            )
            steps.append(
                f"derive [{name} = n_nationkey * {mul} + {other}]"
            )
            cols.append(name)
        elif kind == "sort":
            key = draw(st.sampled_from(list(cols)))
            sign = draw(st.sampled_from(["-", ""]))
            steps.append(f"sort [{sign}{key}, n_nationkey]")
            sorted_now = True
        elif kind == "select":
            keep = [
                c
                for c in cols
                if c == "n_nationkey" or draw(st.booleans())
            ]
            steps.append(f"select [{', '.join(keep)}]")
            cols = keep
            # sort keys may be gone; order is still well-defined in
            # the DataFrame path, but stop offering take afterwards
            sorted_now = False
        elif kind == "take":
            lo = draw(st.integers(1, 3))
            hi = draw(st.integers(4, 12))
            form = draw(st.sampled_from(["n", "range"]))
            steps.append(
                f"take {hi}" if form == "n" else f"take {lo}..{hi}"
            )
    if draw(st.booleans()):
        key = "n_regionkey" if "n_regionkey" in cols else "n_nationkey"
        steps.append(
            f"group [{key}] (aggregate [n = count, "
            "s = sum n_nationkey])"
        )
    return "from nation\n" + "\n".join(steps)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(prql=pipeline())
def test_random_pipeline_three_backend_parity(spark, catalog, oracle, prql):
    from prql_spark import to_sql

    df = compile_prql(prql, catalog)
    want = sorted(
        [tuple(_norm(v) for v in r) for r in df.collect()], key=repr
    )
    res = oracle.execute(to_sql(prql, catalog, dialect="duckdb"))
    duck = sorted(
        [tuple(_norm(v) for v in r) for r in res.fetchall()], key=repr
    )
    assert duck == want, prql
    catalog.load("nation").createOrReplaceTempView("nation")
    sdf = spark.sql(to_sql(prql, catalog, dialect="spark"))
    got = sorted(
        [tuple(_norm(v) for v in r) for r in sdf.collect()], key=repr
    )
    assert got == want, prql


@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(prql=pipeline())
def test_random_pipeline_format_json_roundtrip(prql):
    """The formatter and JSON codec hold over the generated pipeline
    space, not just hand-picked queries: parse(format(x)) == parse(x)
    (idempotent), from_json(to_json(x)) == parse(x). Pure-Python —
    no Spark session, so the example budget is cheap."""
    from prql_spark.ast_io import format_prql, from_json, to_json
    from prql_spark.parser import parse

    q0 = parse(prql)
    formatted = format_prql(prql)
    assert parse(formatted) == q0, formatted
    assert format_prql(formatted) == formatted
    assert from_json(to_json(prql)) == q0


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(e=num_expr(2), cond=bool_expr())
def test_random_expression_format_roundtrip(e, cond):
    """Formatter parity over the random EXPRESSION space (operator
    precedence, unary minus, nesting): the re-emitted pipeline
    parses to the identical AST."""
    from prql_spark.ast_io import format_prql
    from prql_spark.parser import parse

    prql = f"from lineitem\nderive [x = {e.prql}]\nfilter {cond.prql}"
    q0 = parse(prql)
    assert parse(format_prql(prql)) == q0, format_prql(prql)


# ---------------------------------------------------------------
# Pruning soundness: a file the stats pruner skips can NEVER contain
# a matching row. _sql_bounds (the one bounds rule, for
# delete_snapshot and the PRQL pushdown alike) extracts conservative
# bounds from a random SQL predicate; _overlaps_bounds decides from
# the file's true [min, max]; DuckDB evaluates ground truth on the
# file's actual rows. The "conservative, never wrong" contract as a
# property, not a scenario list.

_PL = st.integers(-5, 15)
_PC = st.sampled_from(["a", "b"])
_POP = st.sampled_from(["=", "<", "<=", ">", ">=", "!="])

_ATOM = st.one_of(
    st.tuples(_PC, _POP, _PL).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    # reversed literal, parenthesized unary minus
    st.tuples(_PL, _POP, _PC).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.tuples(_PC, _POP, st.integers(0, 5)).map(
        lambda t: f"{t[0]} {t[1]} (- {t[2]})"
    ),
    # arithmetic: non-sargable, skipped without hiding its neighbours
    st.tuples(
        _PC, st.sampled_from(["+", "-", "*"]), st.integers(1, 3), _POP, _PL
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]} {t[3]} {t[4]}"),
    st.tuples(_PC, _PL, _PL).map(
        lambda t: f"{t[0]} BETWEEN {min(t[1], t[2])} AND {max(t[1], t[2])}"
    ),
    st.tuples(_PC, st.lists(_PL, min_size=1, max_size=4)).map(
        lambda t: f"{t[0]} IN ({', '.join(str(v) for v in t[1])})"
    ),
    # a non-sargable atom the extractor must SKIP, never misread
    st.tuples(_PC, _PL).map(lambda t: f"{t[0]} % 3 = {t[1] % 3}"),
)

_PRED = st.recursive(
    _ATOM,
    lambda inner: st.one_of(
        st.tuples(inner, inner).map(lambda t: f"({t[0]}) AND ({t[1]})"),
        st.tuples(inner, inner).map(lambda t: f"({t[0]}) OR ({t[1]})"),
        # unparenthesized mixes: AND binds tighter than OR
        st.tuples(inner, st.sampled_from(["AND", "OR"]), inner).map(
            lambda t: f"{t[0]} {t[1]} {t[2]}"
        ),
        inner.map(lambda p: f"NOT ({p})"),
    ),
    max_leaves=4,
)


@settings(max_examples=300, deadline=None)
@given(
    pred=_PRED,
    rows=st.lists(
        st.tuples(_PL, _PL), min_size=1, max_size=6
    ),
    stat_a=st.booleans(),
    stat_b=st.booleans(),
)
def test_stats_pruning_never_wrong(pred, rows, stat_a, stat_b):
    import duckdb

    from prql_spark.sources.manifest import _overlaps_bounds, _sql_bounds

    bounds = _sql_bounds(pred)
    if not bounds:
        return  # nothing extracted: nothing pruned, trivially sound
    stats = {}
    if stat_a:
        stats["a"] = [min(r[0] for r in rows), max(r[0] for r in rows)]
    if stat_b:
        stats["b"] = [min(r[1] for r in rows), max(r[1] for r in rows)]
    f = {"stats": stats}
    if _overlaps_bounds(f, bounds):
        return  # kept: the exact predicate decides — always sound
    values = ", ".join(f"({a}, {b})" for a, b in rows)
    # DuckDB 1.0.0's optimizer raises InternalException (NULL
    # unique_ptr) on some same-column OR/BETWEEN mixes; unoptimized
    # evaluation returns the right count
    con = duckdb.connect()
    try:
        con.execute("PRAGMA disable_optimizer")
        n = con.execute(
            f"SELECT count(*) FROM (VALUES {values}) t(a, b) WHERE {pred}"
        ).fetchone()[0]
    finally:
        con.close()
    assert n == 0, (
        f"pruned a file with {n} matching rows: pred={pred!r} "
        f"bounds={bounds!r} stats={stats!r} rows={rows!r}"
    )
