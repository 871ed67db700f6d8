"""AST serialization and PRQL formatting.

Reference parity: prql-compiler/src/lib.rs:34-44 exposes ``format``
(PRQL → formatted PRQL) and ``from_json`` (JSON AST → query) next to
``to_sql``; prql-python (src/lib.rs:13-16) additionally exposes
``to_json``. This module is the Python-native equivalent over the
repo's dataclass AST (plans/nodes.py):

- :func:`to_dict` / :func:`to_json` — encode any AST node as plain
  JSON (the CLI's ``--ast`` output format: a ``_type`` discriminator
  per node, source positions dropped).
- :func:`from_dict` / :func:`from_json` — the exact inverse; tool
  authors can transform the JSON AST and load it back.
- :func:`format_prql` — parse → canonical re-emission. The canonical
  form is semantics-preserving, not byte-preserving: comments and
  type annotations (which the parser does not retain, matching the
  reference v0) are dropped, lists are single-line, nested pipelines
  use ``|`` separators. The round-trip contract is
  ``parse(format_prql(src)) == parse(src)`` (AST equality; spans are
  excluded from comparison).
"""

from __future__ import annotations

import dataclasses
import json

from prql_spark.parser import parse
from prql_spark.plans.nodes import (
    Assign,
    Binary,
    ExprPipeline,
    FString,
    FuncCall,
    FuncDef,
    Ident,
    ListExpr,
    Lit,
    Node,
    Param,
    Query,
    RangeLit,
    SString,
    TableDef,
    Unary,
)

_NODE_TYPES = {
    cls.__name__: cls
    for cls in (
        Assign, Binary, ExprPipeline, FString, FuncCall, FuncDef,
        Ident, ListExpr, Lit, Param, Query, RangeLit, SString,
        TableDef, Unary,
    )
}


# ------------------------------------------------------------- to JSON

def to_dict(node):
    """Encode an AST node (or container of nodes) as JSON-able data.

    Mirrors the CLI ``--ast`` encoding: each dataclass becomes a dict
    with a ``_type`` discriminator; source offsets (the fields that
    take no part in equality) are dropped — they are diagnostics, not
    semantics."""
    if dataclasses.is_dataclass(node):
        d = {"_type": type(node).__name__}
        for f in dataclasses.fields(node):
            if not f.compare:
                continue
            d[f.name] = to_dict(getattr(node, f.name))
        return d
    if isinstance(node, dict):
        return {k: to_dict(v) for k, v in node.items()}
    if isinstance(node, (list, tuple)):
        return [to_dict(v) for v in node]
    if isinstance(node, (str, int, float, bool)) or node is None:
        return node
    return str(node)


def to_json(src_or_query, indent: int | None = None) -> str:
    """PRQL source (or an already-parsed Query) → JSON AST text."""
    q = (
        src_or_query
        if isinstance(src_or_query, Query)
        else parse(src_or_query)
    )
    return json.dumps(to_dict(q), indent=indent)


# ----------------------------------------------------------- from JSON

def from_dict(d):
    """Inverse of :func:`to_dict` — rebuild AST nodes from plain
    data. Dicts carrying ``_type`` become nodes; bare dicts/lists
    recurse (FuncCall.named, Query.func_defs, part lists)."""
    if isinstance(d, dict):
        t = d.get("_type")
        if t is None:
            return {k: from_dict(v) for k, v in d.items()}
        cls = _NODE_TYPES.get(t)
        if cls is None:
            raise ValueError(f"unknown AST node type {t!r}")
        kwargs = {
            k: from_dict(v) for k, v in d.items() if k != "_type"
        }
        node = cls(**kwargs)
        # interval literals carry a (count, unit) tuple that JSON
        # round-trips as a list
        if (
            isinstance(node, Lit)
            and node.kind == "interval"
            and isinstance(node.value, list)
        ):
            node.value = tuple(node.value)
        return node
    if isinstance(d, list):
        return [from_dict(v) for v in d]
    return d


def from_json(text: str) -> Query:
    """JSON AST text → Query (reference ``from_json`` parity). The
    result feeds ``compile_ast`` / the SQL backend exactly like a
    parsed query."""
    q = from_dict(json.loads(text))
    if not isinstance(q, Query):
        raise ValueError(
            f"JSON AST root must be a Query, got {type(q).__name__}"
        )
    return q


# ------------------------------------------------------------ formatter

# parser precedence levels (parser.py _parse_logical.._parse_mul):
# and/or share ONE left-associative level; a child at a looser level,
# or an equal-level RIGHT operand, needs parentheses to re-parse into
# the same tree.
_PREC = {
    "or": 1, "and": 1, "??": 2,
    "==": 3, "!=": 3, ">=": 3, "<=": 3, ">": 3, "<": 3,
    "+": 4, "-": 4, "*": 5, "/": 5, "%": 5,
}
_UNARY_PREC = 6


def _fmt_float(v: float) -> str:
    s = repr(v)
    if "e" in s or "E" in s:  # the lexer has no exponent syntax
        s = f"{v:.12f}".rstrip("0").rstrip(".") or "0"
        if "." not in s:
            s += ".0"
    return s


def _quote(v: str) -> str:
    if '"' not in v and "\n" not in v:
        return f'"{v}"'
    if "'" not in v and "\n" not in v:
        return f"'{v}'"
    # Triple forms: the lexer (parser._lex_quoted) terminates at the
    # FIRST occurrence of the closing run, so the value must not
    # contain the closer anywhere AND must not END with the quote
    # char (a trailing quote fuses with the closer into an earlier
    # terminator: '"""a\'b"' + '"""' lexes back as 'a\'b' plus a
    # stray quote). A value that ends with one quote char is always
    # representable in the OTHER triple form.
    if '"""' not in v and not v.endswith('"'):
        return f'"""{v}"""'
    if "'''" not in v and not v.endswith("'"):
        return f"'''{v}'''"
    # Unreachable for any string produced by the lexer itself (lexed
    # content can never contain its closing run nor end with its
    # quote char — the closer would have matched earlier), so
    # format(parse(src)) never lands here; only hand-built ASTs can.
    raise ValueError(
        "string literal not representable in PRQL (no escape "
        f"syntax): {v!r}"
    )


def _lit(node: Lit) -> str:
    k = node.kind
    if k == "int":
        return str(node.value)
    if k == "float":
        return _fmt_float(node.value)
    if k == "str":
        return _quote(node.value)
    if k == "bool":
        return "true" if node.value else "false"
    if k == "null":
        return "null"
    if k == "date" or k == "time":
        return f"@{node.value}"
    if k == "timestamp":
        return "@" + str(node.value).replace(" ", "T")
    if k == "interval":
        count, unit = node.value
        return f"{count}{unit}"
    raise ValueError(f"unknown literal kind {k!r}")


def _interp(parts: list, sigil: str) -> str:
    body = "".join(
        p if isinstance(p, str) else "{" + _step(p) + "}"
        for p in parts
    )
    return sigil + _quote(body)


def _is_simple(node: Node) -> bool:
    """Safe to juxtapose as a function argument without parens: a
    term the arg-parser cannot merge into a neighboring expression."""
    if isinstance(node, Lit):
        # a negative number would lex as a binary minus against the
        # previous argument — but none exists (the lexer produces
        # unsigned literals; negatives are Unary nodes)
        return True
    return isinstance(
        node, (Ident, Param, SString, FString, ListExpr)
    )


def _arg(node: Node) -> str:
    if _is_simple(node):
        return _expr(node, 0)
    # Binary/Range args are emitted BARE: the argument parser reads
    # each via the same greedy parse_expr that produced it, stopping
    # exactly at the next argument's term-start token. Parenthesizing
    # them would be WRONG for ident-headed operands — inside parens
    # the grammar switches to the pipeline-step (juxtaposition)
    # context, and "(m1 or m2)" re-parses as a CALL m1(or, m2).
    # EXCEPT operator-headed emissions ("-a != b"): a bare leading
    # -/+/! breaks the argument loop entirely, and parens are safe
    # there precisely because the content does NOT start with an
    # identifier (found by the hypothesis roundtrip sweep).
    if isinstance(node, (Binary, RangeLit)):
        s = _expr(node, 0)
        return f"({s})" if s[:1] in ("-", "+", "!") else s
    return "(" + _step(node) + ")"


def _call(fc: FuncCall) -> str:
    parts = [fc.name]
    for k, v in fc.named.items():
        if k == "_assigns":
            parts.extend(f"{a.name}={_arg(a.expr)}" for a in v)
        else:
            parts.append(f"{k}:{_arg(v)}")
    parts.extend(_arg(a) for a in fc.args)
    return " ".join(parts)


def _step(node: Node) -> str:
    """expr_call context (pipeline step, list item, assign RHS):
    function calls appear bare, by juxtaposition."""
    if isinstance(node, FuncCall):
        return _call(node)
    return _expr(node, 0)


def _expr(node: Node, prec: int) -> str:
    if isinstance(node, Lit):
        return _lit(node)
    if isinstance(node, (Ident, Param)):
        return node.name
    if isinstance(node, Binary):
        p = _PREC[node.op]
        s = (
            f"{_expr(node.left, p)} {node.op} "
            f"{_expr(node.right, p + 1)}"
        )
        return f"({s})" if p < prec else s
    if isinstance(node, Unary):
        return node.op + _expr(node.expr, _UNARY_PREC)
    if isinstance(node, RangeLit):
        lo = "" if node.start is None else _expr(node.start, _UNARY_PREC)
        hi = "" if node.end is None else _expr(node.end, _UNARY_PREC)
        s = f"{lo}..{hi}"
        # a range is parsed at term level — inside any operator it
        # must be parenthesized to survive re-parsing
        return f"({s})" if prec > 0 else s
    if isinstance(node, FuncCall):
        return "(" + _call(node) + ")"
    if isinstance(node, SString):
        return _interp(node.parts, "s")
    if isinstance(node, FString):
        return _interp(node.parts, "f")
    if isinstance(node, ListExpr):
        items = []
        for it in node.items:
            if isinstance(it, Assign):
                items.append(f"{it.name} = {_step(it.expr)}")
            else:
                items.append(_step(it))
        return "[" + ", ".join(items) + "]"
    if isinstance(node, Assign):
        return f"{node.name} = {_step(node.expr)}"
    if isinstance(node, ExprPipeline):
        return "(" + " | ".join(_step(s) for s in node.steps) + ")"
    raise ValueError(f"cannot format node {type(node).__name__}")


def format_query(q: Query) -> str:
    lines: list[str] = []
    if q.dialect or q.version:
        head = "prql"
        if q.dialect:
            head += f" dialect:{q.dialect}"
        if q.version:
            head += f" version:{q.version}"
        lines.append(head)
        lines.append("")
    for fd in q.func_defs.values():
        sig = [f"func {fd.name}"]
        sig.extend(fd.pos_params)
        sig.extend(
            f"{k}:{_arg(v)}" for k, v in fd.named_params.items()
        )
        lines.append(" ".join(sig) + " -> " + _expr(fd.body, 0))
    if q.func_defs:
        lines.append("")
    for td in q.tables:
        lines.append(f"table {td.name} = (")
        lines.extend(f"  {_step(s)}" for s in td.pipeline.steps)
        lines.append(")")
        lines.append("")
    lines.extend(_step(s) for s in q.pipeline.steps)
    return "\n".join(lines).strip() + "\n"


def format_prql(src: str) -> str:
    """PRQL → canonically formatted PRQL (reference ``format``
    parity). Guaranteed: the output parses to an AST equal to the
    input's (comments/type annotations excepted — the parser does
    not retain them, matching reference v0 behavior)."""
    return format_query(parse(src))
