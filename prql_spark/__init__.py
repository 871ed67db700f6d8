"""prql_spark — a PySpark-native analytics engine speaking PRQL.

Public surface:
- ``compile_prql(text, catalog)`` — PRQL → lazy Spark DataFrame.
- ``Catalog`` — table name → DataFrame resolution (parquet dirs etc.).
- ``build_spark`` — SparkSession with scale-appropriate defaults.
- ``prql_spark.operators.<family>`` — training-data pipeline
  operators (``dedup``, ``similarity``, ``text``, ``multimodal``, ...);
  import the family module, the package itself exports nothing.

The query entries of ``__spark_entry__.py`` and their DuckDB oracles
are a harness, not part of this package: they live in ``entries/``
beside it.
"""

from prql_spark.ast_io import format_prql, from_json, to_json
from prql_spark.compiler import PrqlCompileError, compile_prql
from prql_spark.parser import PrqlParseError, parse
from prql_spark.session import build_spark
from prql_spark.sources.catalog import Catalog
from prql_spark.sql_backend import to_sql

__all__ = [
    "Catalog",
    "PrqlCompileError",
    "PrqlParseError",
    "build_spark",
    "compile",
    "compile_prql",
    "format_prql",
    "from_json",
    "parse",
    "to_json",
    "to_sql",
]


def compile(text: str, catalog: "Catalog", dialect: str = "spark") -> str:
    """PRQL → SQL text — the reference's embedding-API surface
    (prql-python exposes ``compile(prql) -> sql``; see
    prql-python/src/lib.rs). Unlike the reference we resolve against
    a catalog, so the emitted SQL carries explicit column lists and
    validated names instead of star-expansion left to the target
    engine. ``compile_prql`` is the DataFrame-returning sibling."""
    return to_sql(text, catalog, dialect=dialect)


def explain(text: str, catalog: "Catalog", mode: str = "formatted") -> str:
    """Compile PRQL and return Spark's physical-plan explanation."""
    import contextlib
    import io

    df = compile_prql(text, catalog)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()
