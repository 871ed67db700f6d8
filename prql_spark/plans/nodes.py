"""AST node definitions for the PRQL (v0 dialect) front-end.

Mirrors the shapes produced by the reference grammar
(/root/reference/prql-compiler/src/prql.pest) and AST
(/root/reference/prql-compiler/src/ast/item.rs), re-expressed as
plain Python dataclasses. These are *logical plan* inputs — the
compiler lowers them straight to PySpark DataFrame operations.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class Node:
    __slots__ = ()


@dataclass
class Lit(Node):
    """Literal: kind in int|float|str|bool|null|date|time|timestamp|interval."""

    value: object
    kind: str


@dataclass
class Ident(Node):
    """Possibly-dotted identifier, e.g. ``ii.quantity`` or ``e.*``.

    ``pos`` is the source offset of the token (-1 when synthesized),
    so compile-time resolution errors can report PRQL line/col —
    parity with the reference's span-annotated errors
    (prql-compiler/src/error.rs)."""

    name: str
    pos: int = field(default=-1, compare=False)


@dataclass
class Param(Node):
    """SQL query parameter ``$1`` (reference:
    book/src/examples/sql-parameters.md — ``filter id == $1`` compiles
    to ``WHERE id = $1``). Only the SQL-text backend can emit it (the
    placeholder is bound by the caller's driver at execution time);
    the DataFrame path raises a span-carrying error."""

    name: str  # full token text, e.g. "$1"
    pos: int = field(default=-1, compare=False)


@dataclass
class RangeLit(Node):
    """``a..b`` — either edge may be None (open)."""

    start: object  # Node | None
    end: object  # Node | None


@dataclass
class Unary(Node):
    op: str  # '-' | '+' | '!'
    expr: Node


@dataclass
class Binary(Node):
    op: str
    left: Node
    right: Node


@dataclass
class FuncCall(Node):
    """``arg_pos`` holds each positional argument's source offset,
    for span-carrying arity errors."""

    name: str
    args: list = field(default_factory=list)
    named: dict = field(default_factory=dict)
    arg_pos: list = field(default_factory=list, compare=False, repr=False)


@dataclass
class SString(Node):
    """s-string: parts is a list of str (verbatim SQL) or Node (interp)."""

    parts: list


@dataclass
class FString(Node):
    parts: list


@dataclass
class ListExpr(Node):
    items: list


@dataclass
class Assign(Node):
    """``name = expr`` item (column alias / table alias)."""

    name: str
    expr: Node


@dataclass
class ExprPipeline(Node):
    """Parenthesized expression pipeline: ``(x | f 1 | g)``."""

    steps: list


@dataclass
class FuncDef(Node):
    name: str
    pos_params: list  # [str]
    named_params: dict  # {str: Node default}
    body: Node


@dataclass
class TableDef(Node):
    name: str
    pipeline: ExprPipeline


@dataclass
class Query(Node):
    func_defs: dict  # {name: FuncDef}
    tables: list  # [TableDef]
    pipeline: ExprPipeline
    dialect: str | None = None  # from `prql dialect:...` header
    version: str | None = None  # from `prql version:...` header
