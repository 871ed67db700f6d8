"""PRQL → SQL-text backend.

Parity target: the reference's primary artifact is SQL text
(prql-compiler/src/translator.rs, prql-python/src/lib.rs ``to_sql``).
This module reuses the exact same resolver/transform logic as the
DataFrame compiler — ``SqlCompiler`` subclasses ``Compiler`` and only
overrides the relational seam (``r_*``) plus identifier quoting — so
the SQL it emits and the DataFrame plan the engine runs can never
drift apart.

Dialects:
- ``spark``  — backtick identifiers, Spark string escaping; the
  output runs under ``spark.sql(...)``.
- ``duckdb`` / ``ansi`` — double-quoted identifiers, ``''`` string
  escaping (no backslash escapes). This is what the driver's DuckDB
  oracle executes, so oracle SQL can be *generated* from the same
  PRQL source instead of hand-written (drift-proof).

One deliberate deviation from the reference: compilation is
schema-aware (table schemas come from the Catalog), because eager
unknown-column errors and ``alias.*`` expansion need column lists.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from prql_spark.compiler import Compiler, PrqlCompileError, _esc_str, _q
from prql_spark.sources.catalog import Catalog

_JOIN_KW = {
    "inner": "JOIN",
    "left": "LEFT JOIN",
    "right": "RIGHT JOIN",
    "full": "FULL JOIN",
}


@dataclass
class _Layer:
    """One SELECT statement in the emitted chain."""

    src: str | None  # FROM text; None = previous layer
    base_cols: list = field(default_factory=list)
    joins: list = field(default_factory=list)  # rendered JOIN clauses
    hints: list = field(default_factory=list)  # /*+ ... */ (spark)
    select: list | None = None  # [(alias, sql)]; None = *
    add_cols: list = field(default_factory=list)  # SELECT *, sql AS alias
    where: list = field(default_factory=list)
    group: list | None = None  # [] = global aggregate
    distinct: bool = False
    order: list | None = None  # [(sql, asc)]
    limit: int | None = None
    offset: int | None = None

    @property
    def shaped(self) -> bool:
        """True if the layer already reshapes rows/columns, so a new
        transform must wrap it in a fresh SELECT."""
        return bool(
            self.select is not None
            or self.add_cols
            or self.group is not None
            or self.distinct
            or self.limit is not None
            or self.offset is not None
        )


class _SqlRel:
    """The SQL backend's stand-in for a DataFrame: a layer stack plus
    the tracked output column list (schema is not propagated)."""

    __slots__ = ("layers", "columns")
    schema = None  # _ident() checks this attr; None = names only

    def __init__(self, layers: list[_Layer], columns: list[str]):
        self.layers = layers
        self.columns = columns


class SqlCompiler(Compiler):
    DIALECT = "duckdb"
    # DuckDB allows ROW_NUMBER()/frames without ORDER BY (order is
    # then unspecified — matching the DataFrame path's arbitrary
    # order); monotonically_increasing_id() does not exist there
    SYNTH_ORDER = None

    def __init__(self, catalog: Catalog, src: str = ""):
        super().__init__(catalog, src)
        self.ctes: dict[str, "_SqlRel"] = {}

    def _sub(self) -> "SqlCompiler":
        sub = type(self)(self.catalog, self.src)
        sub.ctes = self.ctes  # shared: nested table-defs register here
        return sub

    def _param(self, node):
        # SQL text is handed to a driver that binds placeholders —
        # pass $n through verbatim in every dialect (reference:
        # book/src/examples/sql-parameters.md: `filter id == $1` →
        # `WHERE id = $1`)
        from prql_spark.compiler import CExpr

        return CExpr(node.name)

    def _jinja(self, node):
        # dbt renders the template before the SQL runs — verbatim
        from prql_spark.compiler import CExpr

        return CExpr(node.name)

    # ------------------------------------------------- dialect seam

    QUOTE = "double"  # identifier quoting: "double" | "backtick"

    def _qi(self, name: str) -> str:
        if self.QUOTE == "backtick":
            return _q(name)  # the DataFrame path's quoting, verbatim
        if name.startswith('"'):
            return name
        return '"' + name.replace("`", "").replace('"', '""') + '"'

    def _esc(self, s: str) -> str:
        if self.DIALECT == "spark":
            return _esc_str(s)  # the DataFrame path's escaping
        return "'" + s.replace("'", "''") + "'"

    def _filter_barrier(self, sql: str) -> str:
        # the Filter/Project pushdown barrier is a Catalyst
        # physical-plan concern; emitted SQL text stays plain (the
        # DuckDB oracle has no `shuffle` and needs none)
        return sql

    # ------------------------------------------------ layer helpers

    def _top(self) -> _Layer:
        return self.df.layers[-1]

    def _push(self):
        self.df.layers.append(
            _Layer(src=None, base_cols=list(self.df.columns))
        )

    def _fresh(self) -> _Layer:
        """Top layer, pushing first if it is already shaped."""
        if self._top().shaped:
            self._push()
        return self._top()

    # --------------------------------------------- relational seam

    def _source_rel(self, tname: str) -> tuple[str, list[str]]:
        """FROM text + column list for a table name; local table defs
        are registered as CTEs on first use."""
        if tname in self.local_tables:
            rel = self.local_tables[tname]
            self.ctes.setdefault(tname, rel)
            return tname, list(rel.columns)
        if tname.startswith("{{"):
            # jinja source (dbt): emit verbatim; columns unknowable
            # until dbt renders the template — the "*" sentinel turns
            # off eager name resolution for this relation
            return tname, ["*"]
        try:
            probe = self.catalog.load(tname)
        except KeyError as e:
            raise PrqlCompileError(f"unknown table {tname!r}: {e}") from None
        return tname, list(probe.columns)

    def r_from(self, tname: str, version: int | None = None):
        if version is not None:
            raise PrqlCompileError(
                "from: version: (time travel) requires the DataFrame "
                "engine on a manifest table — SQL text has no way to "
                "address a committed version"
            )
        src, cols = self._source_rel(tname)
        self.df = _SqlRel([_Layer(src=src, base_cols=list(cols))], cols)

    def r_with_columns(self, items):
        overwrites = [n for n, _ in items if n in self.df.columns]
        t = self._fresh()
        if overwrites:
            # withColumns overwrite semantics: replace in place. The
            # projection must cover the CURRENT output columns (the
            # tracked self.df.columns), not the layer's base_cols —
            # base_cols predate any joins on this layer, so using them
            # would silently drop join-added columns.
            cur = list(self.df.columns)
            t.select = [(c, self._qi(c)) for c in cur]
            for n, s in items:
                if n in cur:
                    i = next(
                        j for j, (a, _) in enumerate(t.select) if a == n
                    )
                    t.select[i] = (n, s)
                else:
                    t.select.append((n, s))
                    self.df.columns.append(n)
            return
        t.add_cols.extend(items)
        self.df.columns.extend(n for n, _ in items)

    def r_select(self, items):
        t = self._fresh()
        t.select = list(items)
        self.df.columns = [n for n, _ in items]

    def r_filter(self, cond: str):
        self._fresh().where.append(cond)

    def r_agg(self, keys, aggs):
        t = self._top()
        if t.shaped or t.order is not None:
            self._push()
            t = self._top()
        t.group = list(keys)
        t.select = [
            (k.strip('"').strip("`"), k) for k in keys
        ] + list(aggs)
        self.df.columns = [n for n, _ in t.select]

    def r_order(self, spec):
        t = self._top()
        if t.limit is not None or t.offset is not None:
            self._push()
            t = self._top()
        t.order = list(spec)

    def r_offset(self, n: int):
        t = self._top()
        if t.offset is not None or t.limit is not None:
            self._push()
            t = self._top()
        t.offset = n

    def r_limit(self, n: int):
        t = self._top()
        if t.limit is not None:
            self._push()
            t = self._top()
        t.limit = n

    def r_distinct_on(self, cols):
        if set(cols) == set(self.df.columns):
            t = self._fresh()
            t.distinct = True
            return
        # partial-key distinct: arbitrary row per key via ROW_NUMBER
        # (window must be ordered for Spark; key order is as arbitrary
        # as dropDuplicates' pick)
        part = ", ".join(self._qi(c) for c in cols)
        rn = "__prql_rn"
        self.r_window_take(
            rn,
            f"PARTITION BY {part} ORDER BY {self._qi(cols[0])}",
            f"{self._qi(rn)} = 1",
        )

    def r_window_take(self, rn: str, over: str, cond: str):
        keep = list(self.df.columns)
        t = self._fresh()
        t.add_cols.append((rn, f"ROW_NUMBER() OVER ({over})"))
        self.df.columns.append(rn)
        self._push()
        t2 = self._top()
        t2.where.append(cond)
        t2.select = [(c, self._qi(c)) for c in keep]
        self.df.columns = keep

    def r_join(
        self, right, rtable, ralias, how, renames, using_cols=None, cond=None
    ):
        src, rcols = self._source_rel(rtable)
        if renames:
            proj = ", ".join(
                f"{self._qi(c)} AS {self._qi(renames.get(c, c))}"
                for c in rcols
            )
            right = f"(SELECT {proj} FROM {src}) AS {self._qi(ralias)}"
        elif ralias != rtable:
            right = f"{src} AS {self._qi(ralias)}"
        else:
            right = src
        t = self._top()
        if t.shaped or t.order is not None:
            self._push()
            t = self._top()
        if self.DIALECT == "spark" and self.catalog.is_broadcast(rtable):
            # mirror the DataFrame path's F.broadcast on catalog dims
            t.hints.append(f"BROADCAST({ralias})")
        if using_cols is not None:
            keys = ", ".join(self._qi(c) for c in using_cols)
            t.joins.append(f"{_JOIN_KW[how]} {right} USING ({keys})")
            new = [
                renames.get(c, c) for c in rcols if c not in using_cols
            ]
        else:
            t.joins.append(f"{_JOIN_KW[how]} {right} ON {cond}")
            new = [renames.get(c, c) for c in rcols]
        self.df.columns = self.df.columns + new

    # extended (DataFrame-native) operators have no SQL form
    def _apply_extended(self, name, step):
        raise PrqlCompileError(
            f"{name!r} is a DataFrame-native operator and cannot be "
            "emitted as SQL text; use compile_prql for this pipeline"
        )

    # ------------------------------------------------------ emission

    def _layer_sql(self, layer: _Layer, src: str) -> str:
        if layer.select is not None:
            projs = ", ".join(
                sql if sql == self._qi(alias) or sql == alias
                else f"{sql} AS {self._qi(alias)}"
                for alias, sql in layer.select
            )
        elif layer.add_cols:
            adds = ", ".join(
                f"{sql} AS {self._qi(alias)}"
                for alias, sql in layer.add_cols
            )
            projs = f"*, {adds}"
        else:
            projs = "*"
        hint = f"/*+ {', '.join(layer.hints)} */ " if layer.hints else ""
        parts = [
            f"SELECT {hint}{'DISTINCT ' if layer.distinct else ''}{projs}",
            f"FROM {src}",
        ]
        parts.extend(layer.joins)
        if layer.where:
            parts.append(
                "WHERE " + " AND ".join(f"({w})" for w in layer.where)
            )
        if layer.group:
            parts.append("GROUP BY " + ", ".join(layer.group))
        if layer.order:
            parts.append(
                "ORDER BY "
                + ", ".join(
                    f"{sql}{'' if asc else ' DESC'}"
                    for sql, asc in layer.order
                )
            )
        if layer.limit is not None:
            parts.append(f"LIMIT {layer.limit}")
        if layer.offset is not None:
            parts.append(f"OFFSET {layer.offset}")
        return "\n".join(parts)

    def _rel_sql(self, rel: _SqlRel, with_ctes: dict | None = None) -> str:
        """Render a layer stack; intermediate layers become CTEs named
        table_0.. (the reference's atomic-pipeline naming)."""
        ctes: list[tuple[str, str]] = []
        if with_ctes:
            for name, sub in with_ctes.items():
                ctes.append((self._qi(name), self._rel_sql(sub)))
        prev = None
        body = ""
        for i, layer in enumerate(rel.layers):
            src = layer.src if layer.src is not None else prev
            body = self._layer_sql(layer, src)
            if i < len(rel.layers) - 1:
                name = f"table_{i}"
                ctes.append((name, body))
                prev = name
        if ctes:
            with_sql = ",\n".join(
                f"{name} AS (\n{sql}\n)" for name, sql in ctes
            )
            return f"WITH {with_sql}\n{body}"
        return body

    def emit(self) -> str:
        rel = self.df
        last = rel.layers[-1]
        if self.sort and last.order is None and last.limit is None:
            # the tracked sort survived later transforms — re-emit it
            # on the outermost SELECT (subquery ORDER BY is not
            # guaranteed to survive in SQL; the DataFrame path keeps
            # the Sort node, so match that)
            cols = set(rel.columns)
            if all(
                s.strip('"').strip("`") in cols for s, _ in self.sort
            ):
                last.order = list(self.sort)
        return self._rel_sql(rel, with_ctes=self.ctes) + "\n"


class _SparkSqlCompiler(SqlCompiler):
    DIALECT = "spark"
    QUOTE = "backtick"
    SYNTH_ORDER = Compiler.SYNTH_ORDER  # spark.sql requires the order


class _BacktickAnsiCompiler(SqlCompiler):
    """MySQL / BigQuery-style: backtick identifiers, ANSI ''-escaped
    string literals."""

    QUOTE = "backtick"


# Reference dialect enum (prql-compiler/src/ast/dialect.rs:6-27). The
# reference v0's per-dialect handlers are nearly empty — dialects
# differ only in surface conventions at this stage — so each name maps
# onto one of the three emitters by identifier-quoting convention:
# double-quoted ANSI (runnable under DuckDB/Postgres/SQLite/...) or
# backtick (Spark/Hive/MySQL/BigQuery). Spark's own emitter also
# synthesizes window ORDER BY (its analyzer requires it).
_DIALECT_EMITTERS: dict[str, type] = {
    "spark": _SparkSqlCompiler,
    "hive": _SparkSqlCompiler,
    "duckdb": SqlCompiler,
    "ansi": SqlCompiler,
    "generic": SqlCompiler,
    "postgres": SqlCompiler,
    "sqlite": SqlCompiler,
    "snowflake": SqlCompiler,
    "mssql": SqlCompiler,
    "clickhouse": SqlCompiler,
    "mysql": _BacktickAnsiCompiler,
    "bigquery": _BacktickAnsiCompiler,
}


def to_sql(text, catalog: Catalog, dialect: str = "spark") -> str:
    """Compile PRQL to SQL text (reference parity: ``to_sql``,
    prql-compiler/src/ast/dialect.rs:6-27 for the dialect surface).

    ``dialect="spark"``/``"hive"`` emit backtick-quoted SQL (runnable
    via ``spark.sql``); ``"duckdb"``/``"ansi"``/``"generic"``/
    ``"postgres"``/``"sqlite"``/``"snowflake"``/``"mssql"``/
    ``"clickhouse"`` emit double-quoted ANSI SQL (the DuckDB oracle
    runs it); ``"mysql"``/``"bigquery"`` emit backtick identifiers
    with ANSI string literals. Raises for DataFrame-native extended
    operators or an unknown dialect.
    """
    from prql_spark.parser import parse
    from prql_spark.plans.nodes import Query as _Query

    cls = _DIALECT_EMITTERS.get(dialect)
    if cls is None:
        raise PrqlCompileError(
            f"unknown SQL dialect {dialect!r}; expected one of "
            + ", ".join(sorted(_DIALECT_EMITTERS))
        )
    # a pre-built Query AST (the from_json path) compiles directly
    q = text if isinstance(text, _Query) else parse(text)
    c = cls(catalog, src=text if isinstance(text, str) else "")
    c.compile_query(q)
    return c.emit()
