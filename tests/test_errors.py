"""Span-carrying compile errors (parity target:
/root/reference/prql-compiler/src/error.rs — errors annotated with
source spans instead of surfacing as downstream engine stacks)."""

from __future__ import annotations

import pytest

from prql_spark import compile_prql
from prql_spark.compiler import PrqlCompileError


def test_unknown_column_reports_prql_line_col(catalog):
    q = (
        "from orders\n"
        "derive [a = o_totalprice * 2]\n"
        "derive [b = a + 1]\n"
        "filter b > 0\n"
        "derive [c = b * 2]\n"
        "derive [d = c + 1]\n"
        "derive [e = d * 2]\n"
        "derive [f = e + 1]\n"
        "derive [bad = o_totalpricee + 1]\n"
        "select [bad]\n"
    )
    with pytest.raises(PrqlCompileError) as ei:
        compile_prql(q, catalog)
    msg = str(ei.value)
    assert "o_totalpricee" in msg
    assert "line 9" in msg  # PRQL location, not a Catalyst stack
    assert "^" in msg  # caret points into the source line
    assert "AnalysisException" not in msg


def test_unknown_alias_reports_span(catalog):
    with pytest.raises(PrqlCompileError) as ei:
        compile_prql(
            "from o=orders\nselect [x.o_orderkey]", catalog
        )
    assert "x.o_orderkey" in str(ei.value)
    assert "line 2" in str(ei.value)


def test_unpartitioned_window_warns(catalog):
    import warnings

    from prql_spark.compiler import PrqlPlanWarning

    with pytest.warns(PrqlPlanWarning, match="without PARTITION BY"):
        compile_prql(
            "from orders\nsort [o_orderdate]\n"
            "derive [rt = sum o_totalprice]",
            catalog,
        )
    # the partitioned form must stay silent
    with warnings.catch_warnings():
        warnings.simplefilter("error", PrqlPlanWarning)
        compile_prql(
            "from orders\nsort [o_orderdate]\n"
            "group [o_custkey] (derive [rt = sum o_totalprice])",
            catalog,
        )


def test_known_alias_still_resolves(catalog):
    df = compile_prql(
        "from o=orders\nselect [o.o_orderkey]\ntake 3", catalog
    )
    assert df.columns == ["o_orderkey"]
    assert len(df.collect()) == 3


def test_nonspark_dialect_warns(catalog):
    import warnings as w

    from prql_spark.compiler import PrqlPlanWarning

    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        compile_prql("prql dialect:mssql\n\nfrom orders\ntake 1", catalog)
    assert any(
        isinstance(x.message, PrqlPlanWarning) and "dialect" in str(x.message)
        for x in rec
    )
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        compile_prql("prql dialect:generic\n\nfrom orders\ntake 1", catalog)
    assert not any("dialect" in str(x.message) for x in rec)


def test_take_range_non_literal_edges_report_prql_error(catalog):
    import pytest

    from prql_spark import PrqlCompileError, compile_prql

    with pytest.raises(PrqlCompileError, match="integer literal"):
        compile_prql("from nation\ntake a..b", catalog)


def test_compile_never_raises_raw_python_errors(catalog):
    # fuzz the compile layer: random pipeline text either compiles or
    # raises a PRQL-level error (parse/compile); raw Python exceptions
    # (IndexError/AttributeError/StopIteration...) are bugs. Spark
    # AnalysisException is acceptable only via s-strings, which this
    # alphabet cannot form (no quotes).
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from prql_spark import PrqlCompileError, compile_prql
    from prql_spark.parser import PrqlParseError

    word = st.sampled_from(
        "filter sort take group aggregate select derive join window "
        "n_name n_nationkey x sum min count 1 2 0.5 -1 a..b 1..3 "
        "[ ] ( ) | , = == + - * / not and or".split()
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(word, min_size=1, max_size=8))
    def run(words):
        text = "from nation\n" + " ".join(words)
        try:
            compile_prql(text, catalog)
        except (PrqlParseError, PrqlCompileError):
            pass

    run()


def test_sql_parameter_on_dataframe_path_reports_prql_error(catalog):
    """$1 on the DataFrame engine: a span-carrying PRQL error naming
    the SQL backend — not an 'unknown column' resolution failure."""
    import pytest

    from prql_spark.compiler import PrqlCompileError, compile_prql

    with pytest.raises(PrqlCompileError) as ei:
        compile_prql("from orders\nfilter o_custkey == $1", catalog)
    msg = str(ei.value)
    assert "SQL backend" in msg and "line 2" in msg and "$1" in msg


def test_jinja_on_dataframe_path_reports_prql_error(catalog):
    """An unrendered jinja template cannot execute on the DataFrame
    engine: a PRQL error naming the SQL backend, for both source and
    expression position."""
    import pytest

    from prql_spark.compiler import PrqlCompileError, compile_prql

    with pytest.raises(PrqlCompileError, match="SQL backend"):
        compile_prql("from {{ ref('t') }}\ntake 1", catalog)
    with pytest.raises(PrqlCompileError, match="SQL backend"):
        compile_prql(
            "from orders\nderive [x = {{ var('v') }}]", catalog
        )


@pytest.mark.parametrize(
    "prql, extra",
    [
        (
            "from orders\nfilter o_orderkey > 5 o_orderkey < 3",
            "o_orderkey < 3",
        ),
        # the `in` typo: a PRQL error, not Spark's FILTER_NOT_BOOLEAN
        ("from orders\nfilter o_orderkey in 100..", "in 100.."),
        ("from orders\ntake 5 10", "10"),
        ("from orders o_custkey", "o_custkey"),
        ("from o = orders o_custkey", "o_custkey"),
        (
            "from orders\ngroup o_custkey (aggregate [n = count]) x",
            "x",
        ),
        # inside an inlined user function's body
        (
            "func big lo -> (filter o_orderkey > lo o_orderkey < 3)\n"
            "from orders\nbig 5",
            "o_orderkey < 3",
        ),
    ],
)
def test_extra_transform_argument_reports_span(catalog, prql, extra):
    """A positional argument a transform does not read raises at its
    own line:col in both engines — never dropped silently."""
    from prql_spark import to_sql
    from prql_spark.parser import _line_col

    where = _line_col(prql, prql.rindex(extra))
    for compile_ in (compile_prql, to_sql):
        with pytest.raises(PrqlCompileError) as ei:
            compile_(prql, catalog)
        assert f"unexpected argument at {where}" in str(ei.value)
