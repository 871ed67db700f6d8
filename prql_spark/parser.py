"""PRQL (v0 dialect) lexer + recursive-descent parser.

Grammar parity target: /root/reference/prql-compiler/src/prql.pest.
Precedence (low→high): logical (and|or) < coalesce (??) < compare
(== != < <= > >=) < add (+ -) < mul (* / %) < unary < term.
Function application is by juxtaposition (``sum x``, ``lag 7 x``);
args are full expressions, so ``sum a * b`` == ``sum (a * b)`` and a
bare leading operator terminates the arg list (``foo - 1`` is
subtraction, per the ``!operator`` guard in the reference grammar).
"""

from __future__ import annotations

import re

from prql_spark.plans.nodes import (
    Assign,
    Binary,
    ExprPipeline,
    FString,
    FuncCall,
    FuncDef,
    Ident,
    Lit,
    ListExpr,
    Param,
    Query,
    RangeLit,
    SString,
    TableDef,
    Unary,
)


class PrqlParseError(Exception):
    pass


def _line_col(src: str, pos: int) -> str:
    line = src.count("\n", 0, pos) + 1
    col = pos - (src.rfind("\n", 0, pos) + 1) + 1
    return f"line {line}, col {col}"


# ---------------------------------------------------------------- lexer

_KEYWORDS = {"prql", "table", "func"}
# parity: prql-compiler/src/ast/dialect.rs:6 (strum-serialized names),
# plus "spark" — this engine's native target
_DIALECTS = {
    "ansi", "bigquery", "clickhouse", "generic", "hive",
    "mssql", "mysql", "postgres", "sqlite", "snowflake", "spark",
}
_INTERVAL_KINDS = (
    "microseconds milliseconds seconds minutes hours days weeks months years"
).split()

# token kinds: NL IDENT NUMBER STRING SSTRING FSTRING DATE TIME TS
#              INTERVAL OP KEYWORD BOOL NULL EOF ARROW DOTDOT


class Tok:
    __slots__ = ("kind", "value", "pos")

    def __init__(self, kind, value, pos):
        self.kind = kind
        self.value = value
        self.pos = pos

    def __repr__(self):  # pragma: no cover
        return f"Tok({self.kind},{self.value!r})"


_IDENT_START = re.compile(r"[A-Za-z_$`]")
_IDENT_RE = re.compile(r"(?:[A-Za-z_$][A-Za-z0-9_]*|`[^`\n]*`)")
_NUM_RE = re.compile(r"\d+")

_TWO_CHAR_OPS = {"==", "!=", ">=", "<=", "??", "->"}
_ONE_CHAR_OPS = set("+-*/%<>=:,()[]|!")


def _lex_ident(src: str, i: int) -> tuple[str, int]:
    """Lex a dotted ident: segment ('.' segment)*, segment may be `..` quoted."""
    parts = []
    while True:
        m = _IDENT_RE.match(src, i)
        if not m:
            if src[i : i + 1] == "*" and parts:
                parts.append("*")
                i += 1
                break
            raise PrqlParseError(f"bad identifier at {i}: {src[i:i+20]!r}")
        parts.append(m.group(0))
        i = m.end()
        # dotted continuation, but not `..` (range)
        if src[i : i + 1] == "." and src[i + 1 : i + 2] != ".":
            i += 1
            continue
        break
    return ".".join(parts), i


def _lex_quoted(src: str, i: int) -> tuple[str, int]:
    """Lex a quoted string starting at src[i] (single or triple quotes).

    Returns (inner_text, next_index)."""
    q = src[i]
    if src[i : i + 3] == q * 3:
        endq = q * 3
        i += 3
    else:
        endq = q
        i += 1
    j = src.find(endq, i)
    if j < 0:
        raise PrqlParseError(f"unterminated string at {i}")
    return src[i:j], j + len(endq)


def tokenize(src: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c in " \t\r":
            i += 1
            continue
        if c == "#":
            j = src.find("\n", i)
            i = n if j < 0 else j
            continue
        if c == "\n":
            toks.append(Tok("NL", "\n", i))
            i += 1
            continue
        if c == "@":  # date/time/timestamp literal
            m = re.match(
                r"@(\d{4}-\d{2}-\d{2}T[0-9:.+\-Z]+|\d{4}-\d{2}-\d{2}|[0-9:.]+)",
                src[i:],
            )
            if not m:
                raise PrqlParseError(f"bad date literal at {i}")
            v = m.group(1)
            kind = "TS" if "T" in v else ("DATE" if "-" in v else "TIME")
            toks.append(Tok(kind, v, i))
            i += m.end()
            continue
        if c.isdigit():
            m = _NUM_RE.match(src, i)
            j = m.end()
            is_float = False
            if src[j : j + 1] == "." and src[j + 1 : j + 2] != ".":
                m2 = _NUM_RE.match(src, j + 1)
                if m2:
                    j = m2.end()
                    is_float = True
            text = src[i:j]
            # interval literal: 7days
            for k in _INTERVAL_KINDS:
                if src.startswith(k, j):
                    toks.append(Tok("INTERVAL", (text, k), i))
                    j += len(k)
                    break
            else:
                toks.append(
                    Tok("NUMBER", float(text) if is_float else int(text), i)
                )
            i = j
            continue
        if c in "sf" and src[i + 1 : i + 2] in ('"', "'"):
            inner, j = _lex_quoted(src, i + 1)
            toks.append(Tok("SSTRING" if c == "s" else "FSTRING", inner, i))
            i = j
            continue
        if c in "\"'":
            inner, j = _lex_quoted(src, i)
            toks.append(Tok("STRING", inner, i))
            i = j
            continue
        two = src[i : i + 2]
        if two == "..":
            toks.append(Tok("DOTDOT", "..", i))
            i += 2
            continue
        if two in _TWO_CHAR_OPS:
            toks.append(Tok("ARROW" if two == "->" else "OP", two, i))
            i += 2
            continue
        if _IDENT_START.match(c):
            name, j = _lex_ident(src, i)
            if re.fullmatch(r"\$\d+", name):  # SQL parameter $1, $2…
                toks.append(Tok("PARAM", name, i))
                i = j
                continue
            if name == "true" or name == "false":
                toks.append(Tok("BOOL", name == "true", i))
            elif name == "null":
                toks.append(Tok("NULL", None, i))
            elif name in _KEYWORDS:
                toks.append(Tok("KEYWORD", name, i))
            else:
                toks.append(Tok("IDENT", name, i))
            i = j
            continue
        if src.startswith("{{", i):
            # dbt Jinja passthrough (reference prql.pest `jinja` rule;
            # parser.rs:615 keeps the raw text as an Ident)
            j = src.find("}}", i + 2)
            if j < 0:
                raise PrqlParseError(f"unterminated jinja block at {i}")
            toks.append(Tok("JINJA", src[i : j + 2], i))
            i = j + 2
            continue
        if c in _ONE_CHAR_OPS:
            toks.append(Tok("OP", c, i))
            i += 1
            continue
        raise PrqlParseError(f"unexpected char {c!r} at {i}")
    toks.append(Tok("EOF", None, n))
    return toks


# ---------------------------------------------------------------- parser

_COMPARE = {"==", "!=", ">=", "<=", ">", "<"}
_TERM_STARTS = {
    "IDENT",
    "NUMBER",
    "STRING",
    "SSTRING",
    "FSTRING",
    "DATE",
    "TIME",
    "TS",
    "INTERVAL",
    "BOOL",
    "NULL",
    "DOTDOT",
    "PARAM",
    "JINJA",
}


class Parser:
    def __init__(self, toks: list[Tok], src: str = ""):
        self.toks = toks
        self.src = src
        self.i = 0

    def err(self, msg: str, tok=None) -> PrqlParseError:
        pos = (tok or self.peek()).pos
        loc = f" at {_line_col(self.src, pos)}" if self.src else f" at {pos}"
        return PrqlParseError(msg + loc)

    # -- token helpers
    def peek(self, k=0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def at_op(self, *vals) -> bool:
        t = self.peek()
        return t.kind == "OP" and t.value in vals

    def eat_op(self, val):
        if not self.at_op(val):
            raise self.err(f"expected {val!r}, got {self.peek().value!r}")
        return self.next()

    def skip_nl(self):
        while self.peek().kind == "NL":
            self.next()

    # -- query
    def parse_query(self) -> Query:
        func_defs: dict = {}
        tables: list[TableDef] = []
        pipelines: list[ExprPipeline] = []
        self.skip_nl()
        # optional `prql dialect:... version:...` header
        # (validated against the reference's dialect enum,
        # prql-compiler/src/ast/dialect.rs:6 — unknown names fail there
        # too, via strum::EnumString)
        dialect = version = None
        if self.peek().kind == "KEYWORD" and self.peek().value == "prql":
            self.next()
            while self.peek().kind not in ("NL", "EOF"):
                t = self.next()
                if t.kind != "IDENT":
                    raise self.err("bad prql header item", t)
                key = t.value
                if not self.at_op(":"):
                    raise self.err(f"expected : after header key {key!r}")
                self.next()
                val = self.next()
                if key == "dialect":
                    dialect = str(val.value)
                    if dialect not in _DIALECTS:
                        raise self.err(
                            f"unknown dialect {dialect!r}; expected one "
                            f"of {sorted(_DIALECTS)}",
                            val,
                        )
                elif key == "version":
                    version = str(val.value)
                else:
                    raise self.err(f"unknown prql header key {key!r}", t)
        self.skip_nl()
        while self.peek().kind != "EOF":
            t = self.peek()
            if t.kind == "KEYWORD" and t.value == "func":
                fd = self.parse_func_def()
                func_defs[fd.name] = fd
            elif t.kind == "KEYWORD" and t.value == "table":
                tables.append(self.parse_table_def())
            else:
                pipelines.append(self.parse_pipeline(top=True))
            self.skip_nl()
        if not pipelines:
            raise PrqlParseError("query has no main pipeline")
        return Query(func_defs, tables, pipelines[-1], dialect, version)

    def parse_func_def(self) -> FuncDef:
        self.next()  # func
        name = self._ident_name()
        self._skip_type_annotation()
        pos_params: list[str] = []
        named_params: dict = {}
        while self.peek().kind == "IDENT":
            pname = self.next().value
            if self.at_op(":"):
                self.next()
                named_params[pname] = self.parse_term()
            else:
                pos_params.append(pname)
            self._skip_type_annotation()
        if self.peek().kind != "ARROW":
            raise PrqlParseError(f"expected -> in func def {name}")
        self.next()
        body = self.parse_expr()
        return FuncDef(name, pos_params, named_params, body)

    def _ident_name(self) -> str:
        t = self.next()
        if t.kind != "IDENT":
            raise self.err(f"expected identifier, got {t.value!r}", t)
        return t.value

    def _skip_type_annotation(self):
        if self.at_op("<"):
            depth = 0
            while True:
                t = self.next()
                if t.kind == "OP" and t.value == "<":
                    depth += 1
                elif t.kind == "OP" and t.value == ">":
                    depth -= 1
                    if depth == 0:
                        return
                elif t.kind == "EOF":
                    raise PrqlParseError("unterminated type annotation")

    def parse_table_def(self) -> TableDef:
        self.next()  # table
        name = self._ident_name()
        self.eat_op("=")
        self.skip_nl()
        self.eat_op("(")
        pipe = self.parse_pipeline()
        self.skip_nl()
        self.eat_op(")")
        return TableDef(name, pipe)

    # -- pipelines
    def parse_pipeline(self, top=False) -> ExprPipeline:
        """Steps separated by NL or |, until ) or EOF (or next def at top)."""
        steps = []
        self.skip_nl()
        while True:
            steps.append(self.parse_expr_call())
            # separators
            saw_sep = False
            while self.peek().kind == "NL" or self.at_op("|"):
                self.next()
                saw_sep = True
            t = self.peek()
            if t.kind == "EOF" or (t.kind == "OP" and t.value == ")"):
                break
            if top and t.kind == "KEYWORD":
                break
            if not saw_sep:
                raise self.err(
                    f"expected a pipeline separator (newline or |) "
                    f"before {t.value!r}", t
                )
        return ExprPipeline(steps)

    # -- expr_call: func application by juxtaposition, or plain expr
    def parse_expr_call(self):
        t = self.peek()
        if t.kind == "IDENT" and self._starts_call_args(1):
            return self.parse_func_call_after_ident(self.next().value)
        return self.parse_expr()

    def _starts_call_args(self, k: int) -> bool:
        """After an ident at peek(0), does peek(k) start an argument?"""
        t = self.peek(k)
        if t.kind in _TERM_STARTS:
            return True
        if t.kind == "OP" and t.value in ("[", "("):
            return True
        return False

    def parse_func_call_after_ident(self, name: str) -> FuncCall:
        args: list = []
        named: dict = {}
        arg_pos: list = []
        while True:
            t = self.peek()
            if t.kind == "IDENT":
                nxt = self.peek(1)
                if nxt.kind == "OP" and nxt.value == ":":
                    self.next()
                    self.next()
                    named[t.value] = self.parse_expr()
                    continue
                if nxt.kind == "OP" and nxt.value == "=":
                    # assign arg (e.g. join alias `p=positions`): body is a
                    # plain expr per the reference grammar (no juxtaposition)
                    self.next()
                    self.next()
                    named.setdefault("_assigns", []).append(
                        Assign(t.value, self.parse_expr())
                    )
                    continue
                arg_pos.append(t.pos)
                args.append(self.parse_expr())
                continue
            if t.kind in _TERM_STARTS or (
                t.kind == "OP" and t.value in ("[", "(")
            ):
                arg_pos.append(t.pos)
                args.append(self.parse_expr())
                continue
            break
        return FuncCall(name, args, named, arg_pos)

    # -- expressions (precedence climbing)
    def parse_expr(self):
        return self._parse_logical()

    def _parse_logical(self):
        left = self._parse_coalesce()
        while (
            self.peek().kind == "IDENT"
            and self.peek().value in ("and", "or")
        ):
            op = self.next().value
            right = self._parse_coalesce()
            left = Binary(op, left, right)
        return left

    def _parse_coalesce(self):
        left = self._parse_compare()
        while self.at_op("??"):
            self.next()
            left = Binary("??", left, self._parse_compare())
        return left

    def _parse_compare(self):
        left = self._parse_add()
        while self.peek().kind == "OP" and self.peek().value in _COMPARE:
            op = self.next().value
            left = Binary(op, left, self._parse_add())
        return left

    def _parse_add(self):
        left = self._parse_mul()
        while self.at_op("+", "-"):
            op = self.next().value
            left = Binary(op, left, self._parse_mul())
        return left

    def _parse_mul(self):
        left = self._parse_unary()
        while self.at_op("*", "/", "%"):
            op = self.next().value
            left = Binary(op, left, self._parse_unary())
        return left

    def _parse_unary(self):
        if self.at_op("-", "+", "!"):
            op = self.next().value
            inner = self._parse_unary()
            # `-2..2` lexes as -(2..2); the minus belongs to the start edge
            if (
                op in "+-"
                and isinstance(inner, RangeLit)
                and isinstance(inner.start, Lit)
                and inner.start.kind in ("int", "float", "interval")
            ):
                start = inner.start
                if op == "-":
                    if start.kind == "interval":
                        start = Unary("-", start)
                    else:
                        start = Lit(-start.value, start.kind)
                return RangeLit(start, inner.end)
            return Unary(op, inner)
        return self._parse_postfix_range(self.parse_term())

    def _parse_postfix_range(self, node):
        """a..b range where `a` was already parsed as a term."""
        if self.peek().kind == "DOTDOT":
            self.next()
            end = None
            if self.peek().kind in _TERM_STARTS and self.peek().kind != "DOTDOT":
                end = self.parse_term()
            return RangeLit(node, end)
        return node

    def parse_term(self):
        t = self.peek()
        if t.kind == "DOTDOT":  # open-start range `..b`
            self.next()
            end = None
            if self.peek().kind in _TERM_STARTS:
                end = self.parse_term()
            return RangeLit(None, end)
        if t.kind == "NUMBER":
            self.next()
            return Lit(t.value, "float" if isinstance(t.value, float) else "int")
        if t.kind == "STRING":
            self.next()
            return Lit(t.value, "str")
        if t.kind == "BOOL":
            self.next()
            return Lit(t.value, "bool")
        if t.kind == "NULL":
            self.next()
            return Lit(None, "null")
        if t.kind == "DATE":
            self.next()
            return Lit(t.value, "date")
        if t.kind == "TIME":
            self.next()
            return Lit(t.value, "time")
        if t.kind == "TS":
            self.next()
            return Lit(t.value.replace("T", " "), "timestamp")
        if t.kind == "INTERVAL":
            self.next()
            return Lit(t.value, "interval")
        if t.kind == "SSTRING":
            self.next()
            return SString(_parse_interpolation(t.value))
        if t.kind == "FSTRING":
            self.next()
            return FString(_parse_interpolation(t.value))
        if t.kind == "PARAM":
            self.next()
            return Param(t.value, pos=t.pos)
        if t.kind == "JINJA":
            # reference parity: the block IS an Ident whose name is
            # the raw text (prql-compiler/src/parser.rs:615-630)
            self.next()
            return Ident(t.value, pos=t.pos)
        if t.kind == "IDENT":
            self.next()
            return Ident(t.value, pos=t.pos)
        if t.kind == "OP" and t.value == "[":
            return self.parse_list()
        if t.kind == "OP" and t.value == "(":
            self.next()
            pipe = self.parse_pipeline()
            self.skip_nl()
            self.eat_op(")")
            if len(pipe.steps) == 1:
                return pipe.steps[0]
            return pipe
        what = "end of input" if t.kind == "EOF" else repr(t.value)
        raise self.err(f"unexpected {what}", t)

    def parse_list(self) -> ListExpr:
        self.eat_op("[")
        items = []
        self.skip_nl()
        while not self.at_op("]"):
            t = self.peek()
            if (
                t.kind == "IDENT"
                and self.peek(1).kind == "OP"
                and self.peek(1).value == "="
            ):
                self.next()
                self.next()
                self.skip_nl()
                items.append(Assign(t.value, self.parse_expr_call()))
            else:
                items.append(self.parse_expr_call())
            self.skip_nl()
            if self.at_op(","):
                self.next()
                self.skip_nl()
            else:
                break
        self.skip_nl()
        self.eat_op("]")
        return ListExpr(items)


def _parse_interpolation(raw: str) -> list:
    """Split s/f-string body into [str|Node] parts; {expr} is re-parsed."""
    parts: list = []
    i, n = 0, len(raw)
    buf = []
    while i < n:
        c = raw[i]
        if c == "{":
            j = _matching_brace(raw, i)
            if buf:
                parts.append("".join(buf))
                buf = []
            inner = raw[i + 1 : j]
            p = Parser(tokenize(inner))
            pipe = p.parse_pipeline()
            parts.append(
                pipe.steps[0] if len(pipe.steps) == 1 else pipe
            )
            i = j + 1
        else:
            buf.append(c)
            i += 1
    if buf:
        parts.append("".join(buf))
    return parts


def _matching_brace(s: str, i: int) -> int:
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "{":
            depth += 1
        elif s[j] == "}":
            depth -= 1
            if depth == 0:
                return j
    raise PrqlParseError("unterminated { in interpolated string")


def parse(src: str) -> Query:
    """Parse PRQL source into a Query AST."""
    try:
        toks = tokenize(src)
    except PrqlParseError as e:
        m = re.search(r"at (\d+)$", str(e))
        if m:
            raise PrqlParseError(
                f"{str(e)[: m.start()]}at {_line_col(src, int(m.group(1)))}"
            ) from None
        raise
    return Parser(toks, src).parse_query()
