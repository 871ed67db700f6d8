"""DuckDB oracle SQL generated from a PRQL entry's own source.

``scripts/gen_oracles.py`` writes these strings into
``entries/_gen_oracles.py``; ``tests/test_to_sql.py`` checks that the
file is fresh and that each string returns the engine's rows.
"""

from __future__ import annotations

from prql_spark import Catalog, compile_prql, to_sql

_DUCK_TYPES = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def typed_oracle_sql(prql: str, catalog: Catalog) -> str:
    """DuckDB oracle SQL generated from PRQL, with the outer
    projection cast to the SPARK result types.

    The cast wrapper is what makes generated SQL result-hash-safe:
    DuckDB types aggregates differently (e.g. sum(int) → HUGEINT
    where Spark yields BIGINT — the round-1 q12 red row), so every
    column is cast to the type the Spark plan actually produces.
    Decimal(p,s) maps verbatim; unmappable types (arrays/structs)
    leave the column uncast.
    """
    sql = to_sql(prql, catalog, dialect="duckdb").strip()
    schema = compile_prql(prql, catalog).schema
    cols = []
    for f in schema.fields:
        s = f.dataType.simpleString()
        t = _DUCK_TYPES.get(s)
        if t is None and s.startswith("decimal("):
            t = s.upper()
        q = '"' + f.name.replace('"', '""') + '"'
        cols.append(f"CAST({q} AS {t}) AS {q}" if t else q)
    return (
        "SELECT " + ", ".join(cols) + " FROM (\n" + sql + "\n) AS __typed"
    )
