"""SQL-text backend (to_sql) — reference parity: prql-python to_sql.

The drift-killer test: every PRQL driver entry must produce identical
results via (a) the DataFrame compiler, (b) generated DuckDB SQL run
in DuckDB, (c) generated Spark SQL run via spark.sql, and (d) the
hand-written oracle SQL the driver actually executes. (d) is what
caught q12 in round 1 — any future PRQL-vs-oracle drift fails here
before the driver sees it.
"""

from __future__ import annotations

import pytest

from prql_spark import PrqlCompileError, compile_prql, to_sql

import __spark_entry__ as entry_mod
from entries.oracle_check import TABLES


def _canon(rows, cols):
    def norm(v):
        if isinstance(v, float):
            return round(v, 4)
        return str(v)

    return sorted(tuple(norm(v) for v in r) for r in rows), sorted(
        c.lower() for c in cols
    )


@pytest.mark.parametrize("name", sorted(entry_mod._PRQL_QUERIES))
def test_prql_entry_four_way(name, catalog, spark, oracle):
    prql, oracle_sql = entry_mod._PRQL_QUERIES[name]
    df = compile_prql(prql, catalog)
    want = _canon([tuple(r) for r in df.collect()], df.columns)

    dsql = to_sql(prql, catalog, dialect="duckdb")
    res = oracle.execute(dsql)
    assert _canon(res.fetchall(), [d[0] for d in res.description]) == want, (
        f"generated DuckDB SQL diverges for {name}:\n{dsql}"
    )

    for t in TABLES:
        catalog.load(t).createOrReplaceTempView(t)
    sdf = spark.sql(to_sql(prql, catalog, dialect="spark"))
    assert _canon([tuple(r) for r in sdf.collect()], sdf.columns) == want

    res = oracle.execute(oracle_sql)
    assert _canon(res.fetchall(), [d[0] for d in res.description]) == want, (
        f"hand-written oracle SQL diverges from PRQL for {name}"
    )


def test_extended_operator_not_sql_expressible(catalog):
    with pytest.raises(PrqlCompileError, match="DataFrame-native"):
        to_sql("from documents\nquality_score text_col:text", catalog)


def test_table_defs_become_ctes(catalog):
    sql = to_sql(
        "table big = (\n  from orders\n  filter o_totalprice > 100\n)\n"
        "from big\ntake 5",
        catalog,
        dialect="duckdb",
    )
    assert sql.startswith("WITH")
    assert '"big" AS (' in sql


def test_spark_dialect_quotes_backticks(catalog):
    sql = to_sql("from orders\nselect [o_orderkey]", catalog)
    assert "`o_orderkey`" in sql and '"' not in sql


def test_dialect_aliases_cover_reference_enum(catalog, oracle):
    """Every dialect of the reference enum (ast/dialect.rs:6-27) has
    an emitter; the double-quoted ones are runnable (DuckDB stands in
    for postgres/sqlite/... — same ANSI surface at this stage), the
    backtick ones emit valid identifiers, and an unknown dialect
    fails with a PRQL error, not a KeyError."""
    prql = "from orders\nfilter o_totalprice > 100\ntake 5"
    ansi_sql = to_sql(prql, catalog, dialect="ansi")
    for d in ("generic", "postgres", "sqlite", "snowflake", "mssql",
              "clickhouse", "duckdb"):
        sql = to_sql(prql, catalog, dialect=d)
        assert sql == ansi_sql  # one ANSI emitter behind the aliases
        assert oracle.execute(sql).fetchall()  # runnable
    for d in ("mysql", "bigquery"):
        sql = to_sql(prql, catalog, dialect=d)
        assert "`o_totalprice`" in sql and '"' not in sql
    for d in ("spark", "hive"):
        assert "`" in to_sql(prql, catalog, dialect=d)
    with pytest.raises(PrqlCompileError, match="unknown SQL dialect"):
        to_sql(prql, catalog, dialect="oracle9i")
    # string literals: ANSI '' escaping in the non-spark backtick
    # dialects (spark backslash-escapes instead)
    pq = "from nation\nfilter n_name == \"O'NEIL\"\nselect [n_name]"
    assert "'O''NEIL'" in to_sql(pq, catalog, dialect="mysql")
    assert "'O''NEIL'" in to_sql(pq, catalog, dialect="postgres")


def test_compile_alias_matches_reference_embedding_api(catalog):
    """prql_spark.compile(text, catalog[, dialect]) — the
    prql-python-named entry point — is to_sql verbatim."""
    import prql_spark

    prql = "from orders\ntake 3"
    assert prql_spark.compile(prql, catalog) == to_sql(prql, catalog)
    assert prql_spark.compile(prql, catalog, dialect="postgres") == to_sql(
        prql, catalog, dialect="postgres"
    )


def test_generated_oracles_fresh(catalog):
    """entries/_gen_oracles.py must match what gen_oracles.py
    would emit today — fails when a PRQL entry changes without
    rerunning the generator."""
    from entries._gen_oracles import ORACLES
    from entries.typed_oracle import typed_oracle_sql

    assert set(ORACLES) == set(entry_mod._PRQL_QUERIES)
    for name, (prql, _sql) in entry_mod._PRQL_QUERIES.items():
        assert ORACLES[name] == typed_oracle_sql(prql, catalog), (
            f"stale generated oracle for {name}; "
            "rerun scripts/gen_oracles.py"
        )


@pytest.mark.parametrize("name", sorted(entry_mod._PRQL_QUERIES))
def test_generated_oracle_matches_results(name, catalog, oracle):
    """The generated+type-wrapped oracle must return the same values
    as the DataFrame plan (this is what the driver executes now)."""
    from entries._gen_oracles import ORACLES

    prql, _ = entry_mod._PRQL_QUERIES[name]
    df = compile_prql(prql, catalog)
    want = _canon([tuple(r) for r in df.collect()], df.columns)
    res = oracle.execute(ORACLES[name])
    assert _canon(res.fetchall(), [d[0] for d in res.description]) == want


def test_derive_overwrite_after_join_keeps_join_columns(catalog, spark, oracle):
    # overwrite-derive after a join must keep join-added columns in
    # the emitted projection (regression: base_cols predate the join)
    prql = """
from n=nation
join r=region [r_regionkey == n_regionkey]
derive [n_name = s"lower({n_name})"]
select [n_name, r_name]
sort [n_name]
take 5
"""
    df = compile_prql(prql, catalog)
    want = [tuple(r) for r in df.collect()]
    res = oracle.execute(to_sql(prql, catalog, dialect="duckdb"))
    assert res.fetchall() == want
    assert [d[0] for d in res.description] == ["n_name", "r_name"]


def test_group_take_without_sort_runs_in_duckdb(catalog, oracle):
    # synthesized window order must not leak Spark-only functions
    # into duckdb-dialect SQL (regression: monotonically_increasing_id)
    prql = "from nation\ngroup [n_regionkey] (take 2)"
    sql = to_sql(prql, catalog, dialect="duckdb")
    assert "monotonically_increasing_id" not in sql
    rows = oracle.execute(sql).fetchall()
    assert len(rows) == 10  # 2 per region, arbitrary member choice


def test_sql_parameters_pass_through_every_dialect(catalog, oracle):
    """Reference book/src/examples/sql-parameters.md: `filter id ==
    $1` compiles to `WHERE id = $1` — the placeholder survives
    verbatim in every dialect (the caller's driver binds it)."""
    from prql_spark.sql_backend import _DIALECT_EMITTERS, to_sql

    q = (
        "from orders\n"
        "filter o_custkey == $1\n"
        "select [o_orderkey, o_totalprice]"
    )
    for dialect in _DIALECT_EMITTERS:
        sql = to_sql(q, catalog, dialect=dialect)
        assert "$1" in sql, (dialect, sql)
    # and in a computed expression
    q2 = "from orders\nderive [bumped = o_totalprice * $2]\ntake 3"
    assert "$2" in to_sql(q2, catalog, dialect="generic")
    # the emitted SQL is real: DuckDB binds the parameter and runs it
    rows = oracle.execute(
        to_sql(q, catalog, dialect="duckdb"), [1]
    ).fetchall()
    assert all(len(r) == 2 for r in rows)


def test_jinja_blocks_pass_through(catalog):
    """Reference prql.pest `jinja` rule / parser.rs:615: `{{ ... }}`
    parses as an Ident of its raw text and survives verbatim in the
    emitted SQL (dbt renders the template afterwards) — in FROM
    position and in expression position."""
    from prql_spark.sql_backend import to_sql

    q = "from {{ ref('stg_orders') }}\naggregate [total = sum order_id]"
    sql = to_sql(q, catalog, dialect="generic")
    assert "FROM {{ ref('stg_orders') }}" in sql
    assert 'SUM("order_id")' in sql

    q2 = (
        "from orders\nderive [cutoff = {{ var('cutoff') }}]\n"
        "filter o_totalprice > cutoff\nselect [o_orderkey]"
    )
    sql2 = to_sql(q2, catalog, dialect="generic")
    assert "{{ var('cutoff') }}" in sql2
