"""PRQL → PySpark DataFrame compiler.

Semantics parity target: /root/reference/prql-compiler/src/semantic/
(transforms.prql declares the 10 transforms; transforms.rs resolves
them) and src/sql/ (materializer.rs inlines functions; translator.rs
emits SQL). The Spark-first difference: PRQL pipelines are already
dataflow order, and so are DataFrame ops — so each transform lowers
directly to a DataFrame operation and Catalyst does the planning
(predicate pushdown, column pruning, join selection, whole-stage
codegen). No SQL-text topology (CTE splitting / HAVING-vs-WHERE /
un_group) is ever needed.

Expression strategy: every PRQL expression compiles to a Spark SQL
expression *string* used via ``F.expr`` — 100% JVM-side, codegen-
eligible, zero Python UDFs in the core language.
"""

from __future__ import annotations

import functools
import re
import warnings

from pyspark.sql import DataFrame, functions as F

from prql_spark.functions import stdlib
from prql_spark.parser import PrqlParseError, _line_col, parse
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
    Unary,
)
from prql_spark.plans.physical import materialize, single_eval
from prql_spark.sources.catalog import Catalog


class PrqlCompileError(Exception):
    pass


class PrqlPlanWarning(UserWarning):
    """A compiled plan carries a known scale hazard (emitted via
    ``warnings.warn`` so pipelines can escalate with -W error)."""


TRANSFORMS = {
    "from",
    "select",
    "derive",
    "filter",
    "aggregate",
    "sort",
    "take",
    "join",
    "group",
    "window",
}


@functools.cache
def _extended_transforms() -> dict:
    """df→df operators exposed as PRQL pipeline steps (imported on
    first use to keep parser-only use light)."""
    from prql_spark.operators import (
        dedup,
        multimodal,
        sketches,
        splits,
        text,
    )
    from prql_spark.operators import textnorm
    from prql_spark.streaming import sessionize

    return {
        "dedup_exact": dedup.dedup_exact,
        "dedup_minhash_lsh": dedup.dedup_minhash_lsh,
        "token_count": text.token_count,
        "quality_score": text.quality_score,
        "lang_id": text.lang_id,
        "fingerprint": text.fingerprint,
        "split_by_hash": splits.split_by_hash,
        "sample_by_hash": splits.sample_by_hash,
        "redact_pii": splits.redact_pii,
        "strip_boilerplate": splits.strip_boilerplate,
        "sessionize": sessionize,
        "gopher_quality_flags": text.gopher_quality_flags,
        "repetition_flags": text.repetition_flags,
        "bm25_rank": text.bm25_rank,
        "sample_per_group": splits.sample_per_group,
        "collocations": text.collocations,
        "quantile_buckets": text.quantile_buckets,
        "tfidf_top_terms": text.tfidf_top_terms,
        "chunk_documents": text.chunk_documents,
        "html_to_text": text.html_to_text,
        "dedup_paragraphs": dedup.dedup_paragraphs,
        "dedup_lines": dedup.dedup_lines,
        "url_features": text.url_features,
        "duplicated_window_fraction": dedup.duplicated_window_fraction,
        "remove_duplicated_windows": dedup.remove_duplicated_windows,
        "remove_duplicated_sentences": dedup.remove_duplicated_sentences,
        "split_leakage": splits.split_leakage,
        # multimodal chain: documents → media rows → perceptual
        # hashes/fingerprints, PRQL-composable end to end
        "synthesize_media": multimodal.synthesize_media,
        "image_ahash": multimodal.image_ahash,
        "audio_fingerprint": multimodal.audio_fingerprint,
        "video_frame_hashes": multimodal.video_frame_hashes,
        # round-8: normalization, frequent items, training shuffle
        "normalize_text": textnorm.normalize_text,
        "top_items": sketches.top_items,
        "shuffle_for_training": splits.shuffle_for_training,
    }


_CMP_MAP = {"==": "=", "!=": "<>", "and": "AND", "or": "OR"}

_NAME_SAFE = re.compile(r"[^A-Za-z0-9_]+")

def _q(name: str) -> str:
    """Backtick-quote a flat column name for Spark SQL."""
    if name.startswith("`"):
        return name
    return f"`{name}`"


def _esc_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _iter_calls(node):
    """Yield every FuncCall in an AST subtree (iterative walk)."""
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, FuncCall):
            yield n
            stack.extend(n.args)
            stack.extend(n.named.values())
        elif isinstance(n, ExprPipeline):
            stack.extend(n.steps)
        elif isinstance(n, ListExpr):
            stack.extend(n.items)
        elif isinstance(n, Assign):
            stack.append(n.expr)
        elif isinstance(n, Unary):
            stack.append(n.expr)
        elif isinstance(n, Binary):
            stack.extend((n.left, n.right))
        elif isinstance(n, (SString, FString)):
            stack.extend(p for p in n.parts if not isinstance(p, str))
        elif isinstance(n, RangeLit):
            stack.extend(x for x in (n.start, n.end) if x is not None)
        elif isinstance(n, (list, tuple)):
            stack.extend(n)


def _call_table_name(fc: FuncCall) -> str | None:
    """The table name a from/join step references (mirrors
    Compiler._table_ref, but total — returns None on shapes that
    _table_ref would reject, leaving the error to compilation)."""
    assigns = fc.named.get("_assigns") or []
    if assigns and isinstance(assigns[0], Assign):
        e = assigns[0].expr
        return e.name if isinstance(e, Ident) else None
    if fc.args and isinstance(fc.args[0], Ident):
        return fc.args[0].name
    return None


def _table_ref_counts(q: Query) -> list[int]:
    """How many from/join sites reference each of ``q.tables``. A name
    resolves to the latest table defined before the referencing
    pipeline, else to the catalog (func bodies excluded: a reference
    that only exists post-inlining is merely uncounted — the CTE then
    stays inline, never the reverse)."""
    counts = [0] * len(q.tables)
    bound: dict = {}  # name -> index of the definition in scope
    for i, pipe in enumerate([t.pipeline for t in q.tables] + [q.pipeline]):
        for fc in _iter_calls(pipe):
            if fc.name in ("from", "join"):
                j = bound.get(_call_table_name(fc))
                if j is not None:
                    counts[j] += 1
        if i < len(q.tables):
            bound[q.tables[i].name] = i
    return counts


def _has_shuffle_step(pipe: ExprPipeline) -> bool:
    """True when the pipeline contains a transform whose re-execution
    pays a shuffle (group/aggregate/sort/take top-k): the gate for
    materializing a multi-referenced CTE.

    A bare, unsorted ``take`` counts too. It need not shuffle, but it
    is not guaranteed to return the same rows when it re-executes, so
    two inline consumers could each see different rows; one
    materialization gives both the same rows."""
    return any(
        fc.name in ("group", "aggregate", "sort", "take")
        for fc in _iter_calls(pipe)
    )


class CExpr:
    """A compiled expression: Spark SQL text + aggregation kind."""

    __slots__ = ("sql", "kind")

    def __init__(self, sql: str, kind: str = "plain"):
        self.sql = sql
        self.kind = kind  # plain | agg | win


class Compiler:
    # synthesized window ORDER BY when the pipeline has no sort (Spark
    # requires ordered row_number/frames; DuckDB-dialect backends set
    # this to None and omit the clause — monotonically_increasing_id
    # does not exist there)
    SYNTH_ORDER: str | None = "monotonically_increasing_id()"

    def __init__(self, catalog: Catalog, src: str = ""):
        self.catalog = catalog
        self.src = src  # original PRQL text, for span-carrying errors
        self.funcs: dict[str, FuncDef] = {}
        self.local_tables: dict[str, DataFrame] = {}
        # pipeline state
        self.df: DataFrame | None = None
        self.scope: dict[str, str] = {}  # logical name -> flat column
        self.sort: list[tuple[str, bool]] = []  # (sql, ascending)
        self.group_keys: list[str] | None = None
        self.frame: str | None = None
        # 'wrap': agg/window funcs get OVER(...); 'agg': plain agg SQL
        self.window_mode = "wrap"
        # manifest table just loaded by `from` and not yet transformed
        # past filters — the first filter's SQL re-plans its scan
        # through manifest file-skipping (Catalog.load_pruned)
        self._manifest_from: str | None = None
        # columns produced in THIS pipeline by operators marked
        # large_expressions — filters referencing them get the
        # pushdown barrier
        self._heavy_cols: set[str] = set()

    # -------------------------------------------------- dialect seam
    # (sql_backend.SqlCompiler overrides these to emit DuckDB/ANSI
    #  text; the base class always speaks Spark SQL)

    def _qi(self, name: str) -> str:
        return _q(name)

    def _esc(self, s: str) -> str:
        return _esc_str(s)

    def _sub(self) -> "Compiler":
        """A fresh compiler of the same kind, for table-def pipelines."""
        return type(self)(self.catalog, self.src)

    # ---------------------------------------------- relational seam
    # All relation mutations go through these. The base class lowers
    # eagerly to a DataFrame (Catalyst sees the whole declarative
    # plan — pushdown/pruning/broadcast still apply); SqlCompiler
    # overrides them to build SQL text, mirroring the reference's
    # resolve-then-translate split (prql-compiler/src/translator.rs).

    def r_from(self, tname: str, version: int | None = None):
        self.df = self._load(tname, version=version)

    def r_with_columns(self, items: list[tuple[str, str]]):
        self.df = self.df.withColumns({n: F.expr(s) for n, s in items})

    def r_select(self, items: list[tuple[str, str]]):
        self.df = self.df.select(*[F.expr(s).alias(n) for n, s in items])

    def r_filter(self, cond: str):
        self.df = self.df.where(F.expr(cond))

    def r_agg(self, keys: list[str], aggs: list[tuple[str, str]]):
        cols = [F.expr(s).alias(n) for n, s in aggs]
        if keys:
            self.df = self.df.groupBy(*[F.expr(k) for k in keys]).agg(*cols)
        else:
            self.df = self.df.groupBy().agg(*cols)

    def r_order(self, spec: list[tuple[str, bool]]):
        self.df = self.df.orderBy(
            *[F.expr(s).asc() if asc else F.expr(s).desc() for s, asc in spec]
        )

    def r_offset(self, n: int):
        self.df = self.df.offset(n)

    def r_limit(self, n: int):
        self.df = self.df.limit(n)

    def r_distinct_on(self, cols: list[str]):
        self.df = self.df.dropDuplicates(cols)

    def r_window_take(self, rn: str, over: str, cond: str):
        self.df = (
            self.df.withColumn(rn, F.expr(f"ROW_NUMBER() OVER ({over})"))
            .where(F.expr(cond))
            .drop(rn)
        )

    def r_join(
        self,
        right: DataFrame,
        rtable: str,
        ralias: str,
        how: str,
        renames: dict[str, str],
        using_cols: list[str] | None = None,
        cond: str | None = None,
    ):
        """Join ``right`` (``_load(rtable)``) to the current frame."""
        if self.catalog.is_broadcast(rtable):
            right = F.broadcast(right)
        if renames:
            right = right.withColumnsRenamed(renames)
        if using_cols is not None:
            self.df = self.df.join(right, on=using_cols, how=how)
        else:
            self.df = self.df.join(right, on=F.expr(cond), how=how)

    # ------------------------------------------------------------ query

    def _err(self, msg: str, node=None, pos=None) -> PrqlCompileError:
        """Compile error annotated with the PRQL source location of
        ``node`` or offset ``pos`` (parity: prql-compiler/src/error.rs
        span reporting)."""
        if pos is None:
            pos = getattr(node, "pos", -1)
        if pos is not None and pos >= 0 and self.src:
            start = self.src.rfind("\n", 0, pos) + 1
            end = self.src.find("\n", pos)
            end = len(self.src) if end == -1 else end
            return PrqlCompileError(
                f"{msg} at {_line_col(self.src, pos)}\n"
                f"  | {self.src[start:end]}\n"
                f"  | {' ' * (pos - start)}^"
            )
        return PrqlCompileError(msg)

    def _arity(self, step: FuncCall, n: int) -> None:
        """Raise at the first positional argument past the ``n`` the
        transform reads (``filter k > 5 k < 3`` must not drop ``k < 3``);
        an AST read back from JSON has no offsets, so no line:col."""
        if len(step.args) > n:
            pos = step.arg_pos[n] if n < len(step.arg_pos) else -1
            raise self._err(f"{step.name}: unexpected argument", pos=pos)

    def compile_query(self, q: Query) -> DataFrame:
        self.funcs = dict(q.func_defs)
        refs = _table_ref_counts(q)
        for i, t in enumerate(q.tables):
            sub = self._sub()
            sub.funcs = dict(self.funcs)
            sub.local_tables = dict(self.local_tables)
            df = sub.compile_pipeline(t.pipeline)
            # A `table` CTE referenced from TWO OR MORE downstream
            # from/join sites is re-EXECUTED per reference by Spark
            # (DataFrame reuse shares the plan, not the work): q21's
            # order_supp ran its lineitem⋈orders aggregate twice —
            # two scans of the largest table, two broadcast builds,
            # two shuffles. Materialize such a CTE once.
            # Gated on the CTE being shuffle-bearing (group/
            # aggregate/sort/take): a narrow filter-CTE is CHEAPER
            # re-executed inline, where each consumer keeps its own
            # column pruning and predicate pushdown.
            if (
                isinstance(df, DataFrame)  # the SQL backend compiles
                # through here with _SqlRel stand-ins: CTE text needs
                # no materialization (the dialect emits WITH)
                and refs[i] >= 2
                and _has_shuffle_step(t.pipeline)
            ):
                df = materialize(df)
            self.local_tables[t.name] = df
        return self.compile_pipeline(q.pipeline)

    def compile_pipeline(self, pipe: ExprPipeline) -> DataFrame:
        for step in pipe.steps:
            self.apply_transform(step)
        if self.df is None:
            raise PrqlCompileError("pipeline produced no table (missing from?)")
        return self.df

    # ------------------------------------------------------- transforms

    def apply_transform(self, step):
        if isinstance(step, Ident) and (
            step.name in TRANSFORMS or step.name in _extended_transforms()
        ):
            step = FuncCall(step.name, [], {})
        if not isinstance(step, FuncCall):
            raise PrqlCompileError(f"pipeline step is not a transform: {step}")
        name = step.name
        if (
            name == "aggregate"
            and self._manifest_from is not None
            and self._metadata_count_aggregate(step)
        ):
            return
        if name != "filter":
            # any transform other than a filter consumes the pristine
            # manifest scan (columns may be renamed/derived past it);
            # t_from re-arms for the next manifest source
            self._manifest_from = None
        if name in TRANSFORMS:
            getattr(self, f"t_{name}")(step)
        elif name in self.funcs:
            # user-defined table-level function — inline and re-apply
            self.apply_transform(self._inline_user(name, step.args, step.named))
        elif name in _extended_transforms():
            self._apply_extended(name, step)
        else:
            raise PrqlCompileError(f"unknown transform or function {name!r}")

    def _apply_extended(self, name: str, step: FuncCall):
        """Training-data operators as pipeline transforms:
        ``from documents | quality_score | filter quality > 0.5``.
        Named args pass through as keyword arguments (literals only)."""
        fn = _extended_transforms()[name]
        if step.args:
            raise PrqlCompileError(
                f"{name}: use named args (e.g. {name} key_col:doc_id)"
            )
        kwargs = {}
        for k, v in step.named.items():
            if k == "_assigns":
                continue
            if isinstance(v, Lit):
                kwargs[k] = v.value
            elif isinstance(v, Ident):
                kwargs[k] = v.name
            elif isinstance(v, ListExpr) and all(
                isinstance(e, (Lit, Ident)) for e in v.items
            ):
                # list args of literals (bm25_rank query:["a","b"]) or
                # column names (sample_per_group group_cols:[lang])
                kwargs[k] = [
                    e.value if isinstance(e, Lit) else e.name
                    for e in v.items
                ]
            else:
                raise PrqlCompileError(
                    f"{name}: named arg {k} must be a literal, identifier,"
                    f" or list of literals/identifiers"
                )
        before_cols = set(self.df.columns)
        self.df = fn(self.df, **kwargs)
        # the operator declares whether its new columns are large
        # expression trees (operators/text.py:_large_expressions)
        if getattr(fn, "large_expressions", False):
            self._heavy_cols.update(set(self.df.columns) - before_cols)
        # operators may add/drop columns — rebuild the bare-name scope,
        # keeping qualified names that still resolve
        cols = set(self.df.columns)
        new_scope = {c: c for c in cols}
        for logical, flat in self.scope.items():
            if flat in cols:
                new_scope.setdefault(logical, flat)
        self.scope = new_scope

    # -- from
    def t_from(self, step: FuncCall):
        alias, tname = self._table_ref(step)
        version = None
        vnode = step.named.get("version")
        if vnode is not None:
            # time travel from the query language: `from tbl
            # version:3` reads that committed version of a manifest
            # table (errors on plain parquet / registered frames)
            if not (isinstance(vnode, Lit) and vnode.kind == "int"):
                raise PrqlCompileError(
                    "from: version must be an integer literal "
                    "(e.g. `from tbl version:3`)"
                )
            version = vnode.value
        self.r_from(tname, version=version)
        self.scope = {}
        for c in self.df.columns:
            self.scope[c] = c
            self.scope[f"{alias}.{c}"] = c
            if alias != tname:
                self.scope[f"{tname}.{c}"] = c
        # arm manifest file-skipping pushdown: only for the DataFrame
        # engine (the SQL-text backend just emits text), only for
        # tables the catalog resolved through a manifest, and only at
        # the LATEST version (load_pruned and metadata_count answer
        # from the latest manifest — a time-traveled read must not
        # prune or count against a newer file list)
        if (
            version is None
            and isinstance(self.df, DataFrame)
            and tname in getattr(self.catalog, "_manifest_paths", {})
        ):
            self._manifest_from = tname

    def _table_ref(self, step: FuncCall) -> tuple[str, str]:
        assigns = step.named.get("_assigns") or []
        self._arity(step, 0 if assigns else 1)
        if assigns:
            a = assigns[0]
            if not isinstance(a.expr, Ident):
                raise PrqlCompileError("table alias must bind an identifier")
            return a.name, a.expr.name
        if not step.args or not isinstance(step.args[0], Ident):
            raise PrqlCompileError(f"{step.name} needs a table name")
        t = step.args[0].name
        return t, t

    def _load(self, name: str, version: int | None = None) -> DataFrame:
        if name in self.local_tables:
            if version is not None:
                raise PrqlCompileError(
                    f"from {name}: version: applies to manifest "
                    "tables in the catalog, not pipeline tables"
                )
            return self.local_tables[name]
        if name.startswith("{{"):
            # reference parity: a jinja block parses as an Ident of
            # its raw text (parser.rs:615). Only SQL text can carry
            # it onward (dbt renders the template before execution).
            raise PrqlCompileError(
                f"jinja source {name!r} requires the SQL backend "
                "(to_sql); the DataFrame engine cannot resolve an "
                "unrendered template"
            )
        try:
            return self.catalog.load(name, version)
        except KeyError as e:
            raise PrqlCompileError(f"unknown table {name!r}: {e}") from None
        except ValueError as e:
            raise PrqlCompileError(str(e)) from None

    # -- derive
    def t_derive(self, step: FuncCall):
        items = self._items(step)
        cols = []
        for it in items:
            name, node = self._named_item(it)
            cols.append((name, self.expr(node).sql))
            # lateral aliases: later items in the same derive may
            # reference this one (withColumns resolves them in order)
            self.scope[name] = name
        self.r_with_columns(cols)

    # -- select
    def t_select(self, step: FuncCall):
        items = self._items(step)
        out_cols = []
        new_scope: dict[str, str] = {}
        for it in items:
            if isinstance(it, Ident) and it.name.endswith(".*"):
                qual = it.name[:-2]
                pref = qual + "."
                seen = set()
                for logical, flat in self.scope.items():
                    if logical.startswith(pref) and flat not in seen:
                        seen.add(flat)
                        short = logical[len(pref):]
                        out_cols.append((short, self._qi(flat)))
                        new_scope[short] = short
                        new_scope[logical] = short
                continue
            name, node = self._named_item(it)
            ce = self.expr(node)
            out_cols.append((name, ce.sql))
            new_scope[name] = name
            # lateral aliases: later select items may reference this
            # one (Spark resolves lateral column aliases in select)
            self.scope[name] = name
        self.r_select(out_cols)
        self.scope = new_scope

    # -- filter
    def t_filter(self, step: FuncCall):
        if not step.args:
            raise PrqlCompileError("filter needs a condition")
        self._arity(step, 1)
        # ANY filter — sargable or not, QUALIFY or plain — consumes
        # the pristine manifest scan: (a) the metadata-count fast
        # path must never answer past a predicate with the full-table
        # manifest count, and (b) load_pruned replaces self.df
        # with a re-planned base scan, which is only sound while
        # self.df IS the bare scan (a later filter re-planning would
        # silently drop this filter's predicate from the result).
        manifest_from, self._manifest_from = self._manifest_from, None
        ce = self.expr(step.args[0])
        if ce.kind == "win":
            # QUALIFY-style lowering: SQL forbids window functions in
            # WHERE, so materialize the windowed condition as a column,
            # filter on it, and drop it (what the reference's SQL
            # layer does with a wrapping subquery).
            tmp = "__prql_qualify"
            self.r_with_columns([(tmp, ce.sql)])
            self.r_filter(self._qi(tmp))
            keep = [c for c in self.df.columns if c != tmp]
            self.r_select([(c, self._qi(c)) for c in keep])
            return
        if manifest_from is not None:
            # the exact filter below still decides every row
            pruned = self.catalog.load_pruned(manifest_from, ce.sql)
            if pruned is not None:
                self.df = pruned
        if self._barrier_heavy(step.args[0], ce):
            return
        self.r_filter(ce.sql)

    def _barrier_heavy(self, node, ce: CExpr) -> bool:
        """Cost-gated Filter/Project barrier (round 12, guide §4.4):
        when the filter references a column built by an operator
        marked ``large_expressions`` (a giant regex/fold expression
        tree), Catalyst's predicate pushdown would substitute the
        defining expression into the pushed Filter, leaving it in
        BOTH the Filter and the Project that outputs the column —
        every surviving row pays the scoring chain twice (the
        docs_clean_pipeline double-eval; §4.4's duplication, JVM
        edition). Wrapping the CONDITION in a nondeterministic no-op
        does not help: a Filter — even a nondeterministic one — may
        be pushed through a 1-1 deterministic Project (same rows
        either way), and the alias substitution still fires. What
        stops the push is `fields.forall(_.deterministic)` on the
        PROJECT — so the referenced heavy columns themselves are
        re-projected through a value-identity NONDETERMINISTIC no-op
        (see :meth:`_filter_barrier`). CollapseProject inlines the
        scoring expression into the wrapper (used once), producing
        ONE Project that computes the chain once; the filter then
        tests the projected column. Values are identical
        row-for-row; only evaluation placement changes. Heavy
        columns NOT referenced by any later filter are never
        wrapped, and pipelines that never filter on scored columns
        keep fully-pushable plans — that is the cost gate.

        Conjuncts that do NOT touch a heavy column are applied as a
        separate filter BEFORE the barrier projection (AND is
        commutative — identical surviving set), so a mixed
        ``filter quality > 0.45 and ds == "2024-01-01"`` keeps its
        sargable half pushing all the way to the scan.

        Returns True when it handled the filter itself (the caller
        skips the plain r_filter)."""
        if not self._heavy_cols or ce.kind != "plain":
            return False
        live = self._heavy_cols & set(self.df.columns)

        def refs_heavy(sql: str) -> list[str]:
            return [
                c
                for c in sorted(live)
                if re.search(
                    r"(?<![A-Za-z0-9_])%s(?![A-Za-z0-9_])"
                    % re.escape(c),
                    sql,
                )
            ]

        hit = refs_heavy(ce.sql)
        if not hit:
            return False

        def conjuncts(n):
            if isinstance(n, Binary) and n.op == "and":
                return conjuncts(n.left) + conjuncts(n.right)
            return [n]

        parts = conjuncts(node)
        cheap, heavy = [], []
        if len(parts) > 1:
            for p in parts:
                pe = self.expr(p)
                (heavy if refs_heavy(pe.sql) else cheap).append(pe.sql)
        else:
            heavy = [ce.sql]
        if cheap:
            self.r_filter(" AND ".join(cheap))
        self.r_with_columns(
            [(c, self._filter_barrier(self._qi(c))) for c in hit]
        )
        self.r_filter(" AND ".join(heavy))
        return True

    def _filter_barrier(self, sql: str) -> str:
        """Dialect seam: the Spark engine wraps with the
        nondeterministic no-op (see ``plans.physical.single_eval``);
        SQL-text backends (the DuckDB oracle) emit the plain
        expression — the barrier is a physical-plan concern, not a
        semantic one."""
        return single_eval(sql)

    def _metadata_count_aggregate(self, step: FuncCall) -> bool:
        """The 100 TB ``SELECT count(*)`` that doesn't scan 100 TB:
        ``from tbl | aggregate [n = count]`` straight after a
        manifest-table ``from`` is answered from the manifest's
        per-file row counts (catalog.metadata_count →
        snapshot_count) — ZERO Spark tasks when write-time/footer
        coverage is complete, one plain count() job otherwise (same
        result either way). Only the bare-COUNT global aggregate
        qualifies; any other shape (count x, extra aggregates, a
        group context) falls through to the normal plan. Returns
        True when the fast path replaced the plan."""
        items = self._items(step)
        if len(items) != 1:
            return False
        try:
            name, node = self._named_item(items[0])
        except PrqlCompileError:
            return False
        bare_count = (
            isinstance(node, Ident) and node.name == "count"
        ) or (
            isinstance(node, FuncCall)
            and node.name == "count"
            and not node.args
            and not node.named
        )
        if not bare_count:
            return False
        n = getattr(self.catalog, "metadata_count", lambda _t: None)(
            self._manifest_from
        )
        if n is None:
            return False
        spark = self.df.sparkSession
        # a VALUES inline table IS a LocalRelation, so collect()
        # launches ZERO jobs (a bare literal SELECT plans over
        # OneRowRelation — one trivial job; createDataFrame would
        # parallelize an RDD — also one)
        self.df = spark.sql(
            f"SELECT * FROM VALUES (CAST({int(n)} AS BIGINT)) "
            f"AS t(`{name}`)"
        )
        self._manifest_from = None
        self.scope = {name: name}
        self.sort = []
        return True

    # -- aggregate (top level; group-level handled in t_group)
    def t_aggregate(self, step: FuncCall, keys: list[str] | None = None):
        items = self._items(step)
        prev_mode = self.window_mode
        self.window_mode = "agg"
        aggs = []
        new_scope: dict[str, str] = {}
        try:
            for it in items:
                name, node = self._named_item(it)
                aggs.append((name, self.expr(node).sql))
                new_scope[name] = name
        finally:
            self.window_mode = prev_mode
        self.r_agg(keys or [], aggs)
        for k in keys or []:
            flat = k.strip("`").strip('"')
            new_scope[flat] = flat
        self.scope = new_scope
        self.sort = []

    # -- sort
    def t_sort(self, step: FuncCall):
        items = self._items(step)
        sort_spec: list[tuple[str, bool]] = []
        for it in items:
            asc = True
            node = it
            if isinstance(node, Unary) and node.op in ("-", "+"):
                asc = node.op == "+"
                node = node.expr
            sort_spec.append((self.expr(node).sql, asc))
        self.sort = sort_spec
        if self.group_keys is None:
            self.r_order(sort_spec)

    # -- take
    def t_take(self, step: FuncCall):
        if not step.args:
            raise PrqlCompileError("take needs a count or range")
        self._arity(step, 1)
        node = step.args[0]
        if isinstance(node, Lit) and node.kind == "int":
            lo, hi = 1, node.value
        elif isinstance(node, RangeLit):
            def _edge(e, default):
                if e is None:
                    return default
                if isinstance(e, Lit) and e.kind == "int":
                    return e.value
                raise PrqlCompileError(
                    "take range ends must be integer literals "
                    "(got a non-literal or non-integer edge)"
                )

            lo = _edge(node.start, 1)
            hi = _edge(node.end, None)
        else:
            raise PrqlCompileError(
                "take expects a positive integer or an integer range "
                "like `take 10` / `take 101..110`"
            )
        if self.group_keys is not None:
            self._take_in_group(lo, hi)
            return
        if lo > 1:
            self.r_offset(lo - 1)
        if hi is not None:
            self.r_limit(hi - lo + 1)

    def _take_in_group(self, lo: int, hi):
        keys = self.group_keys
        if lo == 1 and hi == 1 and not self.sort:
            # distinct-on-keys fast path (PRQL's distinct idiom):
            # arbitrary row per key, no window/sort shuffle beyond the agg
            self.r_distinct_on([k.strip("`").strip('"') for k in keys])
            return
        over = self._over_clause(need_order=True, with_frame=False)
        rn = "__prql_rn"
        cond = f"{self._qi(rn)} <= {hi}" if lo == 1 else (
            f"{self._qi(rn)} BETWEEN {lo} AND {hi}"
            if hi is not None
            else f"{self._qi(rn)} >= {lo}"
        )
        self.r_window_take(rn, over, cond)

    # -- join
    def t_join(self, step: FuncCall):
        ralias = rtable = None
        conds = None
        side = "inner"
        for a in step.named.get("_assigns", []):
            ralias, rtable = a.name, a.expr.name
        if "side" in step.named:
            s = step.named["side"]
            side = s.name if isinstance(s, Ident) else str(s.value)
        args = list(step.args)
        for a in args:
            if isinstance(a, Ident) and rtable is None:
                ralias = rtable = a.name
            elif isinstance(a, ListExpr):
                conds = a.items
            else:
                conds = [a]
        if rtable is None or conds is None:
            raise PrqlCompileError("join needs a table and conditions")
        how = {"inner": "inner", "left": "left", "right": "right", "full": "full"}[
            side
        ]
        right = self._load(rtable)
        rcols = right.columns
        using = all(
            isinstance(c, Ident) and "." not in c.name for c in conds
        ) and all(c.name in rcols for c in conds if isinstance(c, Ident))
        left_flat = set(self.scope.values())

        if using:
            using_cols = [c.name for c in conds]
            # de-conflict non-key duplicate columns from the right side
            ren = {
                c: f"{ralias}__{c}"
                for c in rcols
                if c in left_flat and c not in using_cols
            }
            self.r_join(right, rtable, ralias, how, ren, using_cols=using_cols)
            for c in rcols:
                flat = ren.get(c, c)
                self.scope.setdefault(c, flat)
                self.scope[f"{ralias}.{c}"] = flat
                if ralias != rtable:
                    self.scope[f"{rtable}.{c}"] = flat
            return

        # expression join: flatten right-side name conflicts first
        ren = {c: f"{ralias}__{c}" for c in rcols if c in left_flat}
        for c in rcols:
            flat = ren.get(c, c)
            self.scope.setdefault(c, flat)
            self.scope[f"{ralias}.{c}"] = flat
            if ralias != rtable:
                self.scope[f"{rtable}.{c}"] = flat
        cond_sqls = [self.expr(c).sql for c in conds]
        cond = " AND ".join(f"({s})" for s in cond_sqls)
        self.r_join(right, rtable, ralias, how, ren, cond=cond)

    # -- group
    def t_group(self, step: FuncCall):
        if len(step.args) < 2:
            raise PrqlCompileError("group needs keys and a pipeline")
        self._arity(step, 2)
        keys_node, pipe_node = step.args[0], step.args[1]
        key_items = (
            keys_node.items if isinstance(keys_node, ListExpr) else [keys_node]
        )
        keys = [self.expr(k).sql for k in key_items]
        steps = (
            pipe_node.steps
            if isinstance(pipe_node, ExprPipeline)
            else [pipe_node]
        )
        saved_sort = self.sort
        self.sort = []
        self.group_keys = keys
        ran_aggregate = False
        try:
            for s in steps:
                if isinstance(s, FuncCall) and s.name == "aggregate":
                    self.t_aggregate(s, keys=keys)
                    self.group_keys = None  # post-agg steps see flat table
                    ran_aggregate = True
                else:
                    self.apply_transform(s)
        finally:
            self.group_keys = None
            # after an aggregate the pre-group sort refers to columns
            # that no longer exist — a later window would emit ORDER BY
            # on them and fail analysis; keep it only for the
            # take/window-context form of group
            if not ran_aggregate:
                self.sort = saved_sort

    # -- window
    def t_window(self, step: FuncCall):
        frame = self._frame_clause(step.named)
        steps = []
        for a in step.args:
            if isinstance(a, ExprPipeline):
                steps.extend(a.steps)
            else:
                steps.append(a)
        prev = self.frame
        self.frame = frame
        try:
            for s in steps:
                self.apply_transform(s)
        finally:
            self.frame = prev

    def _frame_clause(self, named: dict) -> str | None:
        def edge(node, default):
            if node is None:
                return default
            neg = False
            if isinstance(node, Unary) and node.op == "-":
                node, neg = node.expr, True
            if isinstance(node, Lit) and node.kind == "interval":
                # `range:-7days..0` over a time-ordered window →
                # RANGE BETWEEN INTERVAL 7 DAY PRECEDING ...
                n, unit = node.value
                sql = f"INTERVAL {n} {unit.rstrip('s').upper()}"
                return f"{sql} {'PRECEDING' if neg else 'FOLLOWING'}"
            v = node.value if isinstance(node, Lit) else None
            if v is None:
                raise PrqlCompileError(
                    "window frame edges must be integers or intervals"
                )
            if neg:
                v = -v
            if v == 0:
                return "CURRENT ROW"
            return f"{-v} PRECEDING" if v < 0 else f"{v} FOLLOWING"

        if "expanding" in named and getattr(named["expanding"], "value", False):
            return "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        if "rolling" in named:
            n = named["rolling"].value
            return f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"
        for key, kw in (("rows", "ROWS"), ("range", "RANGE")):
            if key in named:
                r = named[key]
                if not isinstance(r, RangeLit):
                    raise PrqlCompileError(f"window {key}: expected a range")
                lo = edge(r.start, "UNBOUNDED PRECEDING")
                hi = edge(r.end, "UNBOUNDED FOLLOWING")
                return f"{kw} BETWEEN {lo} AND {hi}"
        return None

    # ------------------------------------------------------ expressions

    def expr(self, node) -> CExpr:
        if isinstance(node, Lit):
            return CExpr(self._lit(node))
        if isinstance(node, Ident):
            return self._ident(node)
        if isinstance(node, Unary):
            inner = self.expr(node.expr)
            if node.op == "-":
                return CExpr(f"(- {inner.sql})", inner.kind)
            if node.op == "!":
                return CExpr(f"(NOT {inner.sql})", inner.kind)
            return inner
        if isinstance(node, Binary):
            return self._binary(node)
        if isinstance(node, FuncCall):
            return self._call(node.name, node.args, node.named)
        if isinstance(node, SString):
            return CExpr(self._interp(node.parts))
        if isinstance(node, FString):
            parts = []
            for p in node.parts:
                parts.append(self._esc(p) if isinstance(p, str) else self.expr(p).sql)
            return CExpr(f"CONCAT({', '.join(parts)})")
        if isinstance(node, Param):
            return self._param(node)
        if isinstance(node, ExprPipeline):
            return self._expr_pipeline(node)
        if isinstance(node, RangeLit):
            raise PrqlCompileError("range literal outside take/in")
        raise PrqlCompileError(f"cannot compile expression {node!r}")

    def _jinja(self, node: Ident) -> CExpr:
        raise self._err(
            f"jinja block {node.name!r} requires the SQL backend "
            "(to_sql); the DataFrame engine cannot evaluate an "
            "unrendered template",
            node,
        )

    def _param(self, node: Param) -> CExpr:
        # The DataFrame engine executes immediately — there is no
        # later bind step a $n placeholder could wait for. The SQL
        # backend overrides this and passes the parameter through
        # verbatim (reference: book/src/examples/sql-parameters.md).
        raise self._err(
            f"query parameter {node.name!r} requires the SQL backend "
            "(to_sql); the DataFrame engine has no bind step",
            node,
        )

    def _lit(self, node: Lit) -> str:
        k = node.kind
        if k == "int":
            return str(node.value)
        if k == "float":
            return repr(node.value)
        if k == "str":
            return self._esc(node.value)
        if k == "bool":
            return "TRUE" if node.value else "FALSE"
        if k == "null":
            return "NULL"
        if k == "date":
            return f"DATE '{node.value}'"
        if k == "timestamp":
            return f"TIMESTAMP '{node.value}'"
        if k == "time":
            return self._esc(node.value)
        if k == "interval":
            n, unit = node.value
            return f"INTERVAL {n} {unit.rstrip('s').upper()}"
        raise PrqlCompileError(f"unknown literal kind {k}")

    def _ident(self, node: Ident) -> CExpr:
        name = node.name
        if name.startswith("{{"):
            # jinja in expression position: verbatim on the SQL
            # backend (dbt renders it), impossible on the DataFrame
            # engine — route through the Param seam's policy
            return self._jinja(node)
        if name in self.scope:
            return CExpr(self._qi(self.scope[name]))
        if name in stdlib.ZERO_ARG:
            return self._call(name, [], {})
        if name in self.funcs and not self.funcs[name].pos_params:
            return self.expr(self._inline_user(name, [], {}))
        # eager resolution: an unknown name would otherwise surface
        # later as a Catalyst analysis stack with no PRQL location
        if self.df is not None and "*" not in set(self.df.columns):
            bare = name.strip("`")
            cols = set(self.df.columns)
            if "." not in bare:
                if bare not in cols:
                    raise self._err(f"unknown column {name!r}", node)
            else:
                head = bare.split(".", 1)[0]
                # allow struct-field access on a real struct column;
                # anything else dotted must be a known alias.column
                schema = getattr(self.df, "schema", None)
                if schema is None:
                    # SQL-text backend: names only — require the head
                    # to at least be a tracked column
                    if head not in cols:
                        raise self._err(
                            f"unknown column or alias {name!r}", node
                        )
                else:
                    field = next(
                        (f for f in schema.fields if f.name == head),
                        None,
                    )
                    if field is None or not field.dataType.typeName() == "struct":
                        raise self._err(
                            f"unknown column or alias {name!r}", node
                        )
        # pass through (Spark analyzes against the plan)
        return CExpr(self._qi(name) if "." not in name else name)

    def _binary(self, node: Binary) -> CExpr:
        if node.op == "??":
            l, r = self.expr(node.left), self.expr(node.right)
            return CExpr(
                f"COALESCE({l.sql}, {r.sql})", _max_kind(l.kind, r.kind)
            )
        # null comparisons
        if node.op in ("==", "!=") and (
            _is_null(node.right) or _is_null(node.left)
        ):
            operand = node.left if _is_null(node.right) else node.right
            ce = self.expr(operand)
            neg = " NOT" if node.op == "!=" else ""
            return CExpr(f"({ce.sql} IS{neg} NULL)", ce.kind)
        l, r = self.expr(node.left), self.expr(node.right)
        op = _CMP_MAP.get(node.op, node.op)
        return CExpr(f"({l.sql} {op} {r.sql})", _max_kind(l.kind, r.kind))

    def _expr_pipeline(self, node: ExprPipeline) -> CExpr:
        cur = node.steps[0]
        for step in node.steps[1:]:
            if isinstance(step, Ident):
                step = FuncCall(step.name, [], {})
            if not isinstance(step, FuncCall):
                raise PrqlCompileError("cannot pipe into a non-function")
            step = FuncCall(step.name, step.args + [cur], step.named)
            cur = step
        return self.expr(cur)

    # -- function calls
    def _call(self, name: str, args: list, named: dict) -> CExpr:
        if name in self.funcs:
            return self.expr(self._inline_user(name, args, named))

        if name == "count":
            inner = "*" if not args else self.expr(args[0]).sql
            return self._agg_result(f"COUNT({inner})")
        if name in stdlib.AGG_TEMPLATES:
            a = [self.expr(x).sql for x in args]
            return self._agg_result(stdlib.AGG_TEMPLATES[name].format(*a))
        if name in ("lag", "lead"):
            fn = name.upper()
            if len(args) == 2:
                off = self.expr(args[0]).sql
                col = self.expr(args[1]).sql
            else:
                off, col = "1", self.expr(args[0]).sql
            return self._win_result(f"{fn}({col}, {off})")
        if name in stdlib.WIN_TEMPLATES:
            return self._win_result(stdlib.WIN_TEMPLATES[name])
        if name in stdlib.FIRST_LAST:
            col = self.expr(args[-1]).sql
            return self._win_result(
                f"{stdlib.FIRST_LAST[name]}({col})", full_frame=True
            )
        if name == "round":
            a = [self.expr(x).sql for x in args]
            if len(a) == 1:
                return CExpr(f"ROUND({a[0]})")
            # v0 stdlib order: round column n_digits; accept either if
            # one side is clearly the literal digit count
            if isinstance(args[0], Lit) and not isinstance(args[1], Lit):
                return CExpr(f"ROUND({a[1]}, {a[0]})")
            return CExpr(f"ROUND({a[0]}, {a[1]})")
        if name == "coalesce":
            a = [self.expr(x).sql for x in args]
            return CExpr(f"COALESCE({', '.join(a)})")
        if name == "in":
            if len(args) != 2:
                raise PrqlCompileError("in expects (range, value)")
            rng, value = args[0], args[1]
            v = self.expr(value).sql
            if isinstance(rng, RangeLit):
                lo = self.expr(rng.start).sql if rng.start is not None else None
                hi = self.expr(rng.end).sql if rng.end is not None else None
                if lo is not None and hi is not None:
                    return CExpr(f"({v} BETWEEN {lo} AND {hi})")
                if lo is not None:
                    return CExpr(f"({v} >= {lo})")
                if hi is not None:
                    return CExpr(f"({v} <= {hi})")
                return CExpr("TRUE")
            if isinstance(rng, ListExpr):
                opts = ", ".join(self.expr(x).sql for x in rng.items)
                return CExpr(f"({v} IN ({opts}))")
            raise PrqlCompileError("in expects a range or list first arg")
        if name == "as":
            # v0 stdlib: `as column type`; tolerate either order
            if len(args) != 2:
                raise PrqlCompileError("as expects (column, type)")
            t0 = (
                args[0].name.lower()
                if isinstance(args[0], Ident)
                else None
            )
            t1 = (
                args[1].name.lower()
                if isinstance(args[1], Ident)
                else None
            )
            if t1 in stdlib.SQL_TYPE_NAMES:
                col, typ = self.expr(args[0]).sql, args[1].name
            elif t0 in stdlib.SQL_TYPE_NAMES:
                col, typ = self.expr(args[1]).sql, args[0].name
            else:
                raise PrqlCompileError("as: could not identify the type arg")
            return CExpr(f"CAST({col} AS {typ.upper()})")
        if name in stdlib.EXTRA_SCALAR:
            a = [self.expr(x).sql for x in args]
            return CExpr(f"{stdlib.EXTRA_SCALAR[name]}({', '.join(a)})")
        raise PrqlCompileError(f"unknown function {name!r}")

    def _agg_result(self, sql: str) -> CExpr:
        if self.window_mode == "agg":
            return CExpr(sql, "agg")
        over = self._over_clause(need_order=False, with_frame=True)
        return CExpr(f"{sql} OVER ({over})", "win")

    def _win_result(self, sql: str, full_frame: bool = False) -> CExpr:
        if self.window_mode == "agg":
            # window funcs aren't valid inside aggregate
            raise PrqlCompileError(f"window function in aggregate: {sql}")
        over = self._over_clause(
            need_order=True, with_frame=False, full_frame=full_frame
        )
        return CExpr(f"{sql} OVER ({over})", "win")

    def _over_clause(
        self,
        need_order: bool,
        with_frame: bool,
        full_frame: bool = False,
    ) -> str:
        parts = []
        if self.group_keys:
            parts.append("PARTITION BY " + ", ".join(self.group_keys))
        frame = self.frame if with_frame else None
        order = self.sort
        if (
            (need_order or frame or full_frame)
            and not order
            and self.SYNTH_ORDER
        ):
            order = [(self.SYNTH_ORDER, True)]
        if order and not self.group_keys:
            # plan lint: an ORDER BY window with no PARTITION BY is a
            # single-task total sort at scale — fine on a dim table,
            # a straggler on a fact table. Surfaced as a warning so
            # strict pipelines can fail on it (-W error).
            warnings.warn(
                "window has ORDER BY without PARTITION BY — it will "
                "execute as a single task at scale; wrap it in "
                "group [...] to partition",
                PrqlPlanWarning,
                stacklevel=2,
            )
        if order and (need_order or frame or full_frame):
            spec = ", ".join(
                f"{sql}{'' if asc else ' DESC'}" for sql, asc in order
            )
            parts.append("ORDER BY " + spec)
        if frame:
            parts.append(frame)
        elif full_frame:
            parts.append(
                "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
            )
        return " ".join(parts)

    # -- s-string interpolation
    def _interp(self, parts: list) -> str:
        out = []
        for p in parts:
            out.append(p if isinstance(p, str) else self.expr(p).sql)
        return "".join(out)

    # -- user function inlining (reference: sql/materializer.rs)
    def _inline_user(self, name: str, args: list, named: dict):
        fd = self.funcs[name]
        if len(args) > len(fd.pos_params):
            raise PrqlCompileError(
                f"{name}: too many args ({len(args)} > {len(fd.pos_params)})"
            )
        binding: dict = {}
        for pname, arg in zip(fd.pos_params, args):
            binding[pname] = arg
        for pname, default in fd.named_params.items():
            binding[pname] = named.get(pname, default)
        missing = [p for p in fd.pos_params if p not in binding]
        if missing:
            raise PrqlCompileError(f"{name}: missing args {missing}")
        return _substitute(fd.body, binding)

    # ------------------------------------------------------ item helpers

    def _items(self, step: FuncCall) -> list:
        items: list = []
        for a in step.args:
            if isinstance(a, ListExpr):
                items.extend(a.items)
            else:
                items.append(a)
        for a in step.named.get("_assigns", []):
            items.append(a)
        if not items:
            raise PrqlCompileError(f"{step.name}: no arguments")
        return items

    def _named_item(self, it) -> tuple[str, object]:
        if isinstance(it, Assign):
            return it.name, it.expr
        return self._auto_name(it), it

    def _auto_name(self, node) -> str:
        if isinstance(node, Ident):
            return node.name.split(".")[-1]
        if isinstance(node, FuncCall):
            bits = [node.name] + [
                a.name.split(".")[-1] for a in node.args if isinstance(a, Ident)
            ]
            return _NAME_SAFE.sub("_", "_".join(bits)).strip("_")
        sql = self.expr(node).sql
        return _NAME_SAFE.sub("_", sql).strip("_").lower()[:40] or "expr"


def _max_kind(a: str, b: str) -> str:
    order = {"plain": 0, "win": 1, "agg": 2}
    return a if order[a] >= order[b] else b


def _is_null(node) -> bool:
    return isinstance(node, Lit) and node.kind == "null"


def _substitute(node, binding: dict):
    """Replace parameter idents with bound argument ASTs (deep copy)."""
    if isinstance(node, Ident):
        return binding.get(node.name, node)
    if isinstance(node, Lit):
        return node
    if isinstance(node, Unary):
        return Unary(node.op, _substitute(node.expr, binding))
    if isinstance(node, Binary):
        return Binary(
            node.op,
            _substitute(node.left, binding),
            _substitute(node.right, binding),
        )
    if isinstance(node, FuncCall):
        return FuncCall(
            node.name,
            [_substitute(a, binding) for a in node.args],
            {
                k: (
                    [_substitute(x, binding) for x in v]
                    if isinstance(v, list)
                    else _substitute(v, binding)
                )
                for k, v in node.named.items()
            },
            node.arg_pos,
        )
    if isinstance(node, SString):
        return SString(
            [p if isinstance(p, str) else _substitute(p, binding) for p in node.parts]
        )
    if isinstance(node, FString):
        return FString(
            [p if isinstance(p, str) else _substitute(p, binding) for p in node.parts]
        )
    if isinstance(node, ListExpr):
        return ListExpr([_substitute(i, binding) for i in node.items])
    if isinstance(node, Assign):
        return Assign(node.name, _substitute(node.expr, binding))
    if isinstance(node, ExprPipeline):
        return ExprPipeline([_substitute(s, binding) for s in node.steps])
    if isinstance(node, RangeLit):
        return RangeLit(
            _substitute(node.start, binding) if node.start is not None else None,
            _substitute(node.end, binding) if node.end is not None else None,
        )
    return node


def compile_prql(text, catalog: Catalog) -> DataFrame:
    """Compile PRQL source — or an already-built ``Query`` AST (the
    ``from_json`` path, reference lib.rs:40 parity) — to a (lazy)
    Spark DataFrame."""
    from prql_spark.plans.nodes import Query as _Query

    if isinstance(text, _Query):
        q, text = text, ""
    else:
        try:
            q = parse(text)
        except PrqlParseError as e:
            raise PrqlParseError(
                f"{e}\n--- in query:\n{text}"
            ) from None
    if q.dialect is not None and q.dialect not in (
        "generic", "ansi", "hive", "spark"
    ):
        warnings.warn(
            f"query requests dialect:{q.dialect}, but prql_spark always "
            "compiles to Spark semantics — dialect-specific SQL quirks "
            "are not emulated",
            PrqlPlanWarning,
            stacklevel=2,
        )
    try:
        return Compiler(catalog, src=text).compile_query(q)
    except PrqlCompileError:
        raise
    except Exception as e:  # noqa: BLE001 — boundary translation
        # residual Catalyst analysis errors (e.g. type mismatches the
        # schema-light resolver can't pre-check) surface as PRQL
        # compile errors, not JVM stacks (reference error.rs parity)
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException):
            msg = str(e).split(";", 1)[0].strip()
            raise PrqlCompileError(
                f"Spark rejected the compiled query: {msg}"
            ) from e
        raise
