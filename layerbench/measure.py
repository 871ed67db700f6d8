"""Phase-split measurement core and span tracer.

One op runs in three phases, each timed on its own:

- build: the caller's ``build()`` — PRQL compile, operator wiring or an
  eager commit — including the Spark jobs it starts on the driver;
- plan: ``queryExecution().executedPlan()`` forced on the very
  DataFrame that is drained next, so the drain reuses that
  QueryExecution instead of planning a second time;
- exec: the drain (``toArrow()``, every column of the result).

With tracing on, every phase and every call into a program layer runs
inside a span. A span sets its own Spark job group, so after the op
the jobs, stages and task metrics of each span are read back from the
status store. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

GROUP_KEY = "spark.jobGroup.id"

# span name -> layer; a span's self time is its duration minus the
# part of it its child spans cover
LAYER_OF = {
    "op": "op",
    "build": "build",
    "parser": "parser",
    "sql_backend": "sql_backend",
    "catalog": "catalog",
    "compiler": "compiler",
    "operators": "operators",
    "manifest.commit": "manifest",
    "manifest.read": "manifest",
    "plan": "plan",
    "exec": "exec",
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # the Spark job group of the span, unique across tracers
    group: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "op": self.op, "start": self.start, "end": self.end,
                **{k: v for k, v in self.attrs.items() if k != "ast"}}


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch
    per span and starts no job groups."""

    _tracers = itertools.count()

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.prefix = f"layerbench{next(self._tracers)}"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, parent.id if parent else None, name, self.op_id,
                 time.perf_counter(), attrs=attrs, group=f"{self.prefix}-{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(GROUP_KEY, s.group)
        try:
            yield s
        finally:
            self.sc.setLocalProperty(
                GROUP_KEY, parent.group if parent else None)
            self._stack.pop()
            s.end = time.perf_counter()

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]


def traced(tracer: Tracer, name: str, fn: Callable, **attrs) -> Callable:
    """``fn`` wrapped in a span; ``after(span, result)`` in ``attrs``
    may record facts about the result (sizes) on the span."""
    after = attrs.pop("after", None)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, fn=fn.__name__, **attrs) as s:
            out = fn(*args, **kwargs)
            if after is not None and s is not None:
                after(s, out)
            return out

    return wrapper


def patch(targets: list[tuple[Any, str, Callable[[Callable], Callable]]]):
    """Replace ``owner.attr`` by ``wrap(original)`` for each target;
    returns the function that restores the originals."""
    saved = []
    for owner, attr, wrap in targets:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, wrap(orig))

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo


def instrument(tracer: Tracer):
    """Install spans around the public functions of each program layer,
    from outside the program: module attributes and class methods are
    replaced by timing wrappers. Returns the undo function."""
    import prql_spark
    from prql_spark import compiler, parser, sql_backend
    from prql_spark.sources import catalog, manifest

    try:  # the concrete class overrides the base DataFrame's methods
        from pyspark.sql.classic.dataframe import DataFrame as Frame
    except ImportError:
        Frame = DataFrame

    def ast_size(s, out):
        s.attrs["ast"] = out

    def sql_size(s, out):
        s.attrs["sql_bytes"] = len(out)

    def count_materialized(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            cur = tracer.current()
            if cur is not None:
                cur.attrs["materialized"] = cur.attrs.get("materialized", 0) + 1
            return fn(*args, **kwargs)
        return wrapper

    def span_as(name, **attrs):
        return lambda fn: traced(tracer, name, fn, **attrs)

    targets = [
        (parser, "parse", span_as("parser", after=ast_size)),
        (compiler, "parse", span_as("parser", after=ast_size)),
        (prql_spark, "parse", span_as("parser", after=ast_size)),
        (compiler, "compile_prql", span_as("compiler")),
        (prql_spark, "compile_prql", span_as("compiler")),
        (sql_backend, "to_sql", span_as("sql_backend", after=sql_size)),
        (prql_spark, "to_sql", span_as("sql_backend", after=sql_size)),
        (catalog.Catalog, "load", span_as("catalog")),
        (catalog.Catalog, "load_pruned", span_as("catalog")),
        (catalog.Catalog, "metadata_count", span_as("catalog")),
        (Frame, "localCheckpoint", count_materialized),
        (Frame, "checkpoint", count_materialized),
    ]
    for fn in ("snapshot_write", "merge_snapshot", "delete_snapshot",
               "compact_snapshot", "optimize_snapshot"):
        targets.append((manifest, fn, span_as("manifest.commit")))
    for fn in ("snapshot_read", "snapshot_changes", "snapshot_pruned_read"):
        targets.append((manifest, fn, span_as("manifest.read")))
    return patch(targets)


@dataclass
class OpResult:
    name: str
    kind: str
    wall: float
    ok: bool
    error: str | None = None
    op_id: int = 0


def run_op(spark, tracer: Tracer, name: str, kind: str,
           build: Callable[[], Any], drain: bool = True):
    """Run one op through build, plan and exec; returns
    ``(OpResult, df, value)``: the DataFrame ``build`` returned (None
    for an eager op) and the value to check — the drained Arrow table,
    the planned DataFrame (``drain=False``) or whatever an eager
    ``build`` returned. A raising op is reported, never re-raised."""
    tracer.op_id += 1
    df = value = None
    t0 = time.perf_counter()
    try:
        with tracer.span("op", op_name=name, kind=kind):
            with tracer.span("build"):
                value = build()
            if isinstance(value, DataFrame):
                df = value
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                if drain:
                    with tracer.span("exec"):
                        value = df.toArrow()
    except Exception as e:  # noqa: BLE001 — a failed op is a result
        wall = time.perf_counter() - t0
        first = str(e).splitlines()[0][:300] if str(e) else ""
        return (OpResult(name, kind, wall, False, f"{type(e).__name__}: {first}",
                         tracer.op_id), df, None)
    return (OpResult(name, kind, time.perf_counter() - t0, True, None,
                     tracer.op_id), df, value)


# ------------------------------------------------------------ read-back

_STAGE_FIELDS = ("numTasks", "numCompleteTasks", "numFailedTasks",
                 "executorRunTime", "jvmGcTime", "shuffleWriteBytes",
                 "memoryBytesSpilled", "diskBytesSpilled")


def collect_jobs(spark, spans: list[Span]) -> None:
    """Attach job counts and summed stage metrics to each span, read
    from the status store once the listener bus has drained. Must run
    right after the op, before the retained-jobs/stages limits evict
    them."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    for s in spans:
        jobs = tracker.getJobIdsForGroup(s.group)
        s.attrs["jobs"] = len(jobs)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = dict.fromkeys(_STAGE_FIELDS, 0)
        n_stages = 0
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted stage
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped (reused shuffle output) or pending
            n_stages += 1
            for f in _STAGE_FIELDS:
                totals[f] += getattr(st, f)()
        s.attrs["stages"] = n_stages
        s.attrs.update(totals)


_PLAN_LINE = re.compile(r"^[\s:|+\-]*([A-Za-z][A-Za-z0-9]*)")


def plan_shape(df: DataFrame) -> dict:
    """Node, exchange and scan counts of ``df``'s executed plan — the
    final adaptive plan when it has run, the initial one otherwise."""
    text = df._jdf.queryExecution().executedPlan().toString()
    lines = text.splitlines()
    if "== Final Plan ==" in text:
        start = next(i for i, ln in enumerate(lines) if "== Final Plan ==" in ln)
        end = next((i for i, ln in enumerate(lines)
                    if "== Initial Plan ==" in ln), len(lines))
        lines = lines[start + 1:end]
    elif lines and lines[0].startswith("AdaptiveSparkPlan"):
        lines = lines[1:]
    names = []
    for ln in lines:
        m = _PLAN_LINE.match(ln)
        if m and "==" not in ln:
            names.append(m.group(1))
    return {
        "nodes": len(names),
        "exchanges": sum(n.endswith("Exchange") for n in names),
        "scans": sum(n.endswith("Scan") or n == "Scan" for n in names),
    }


def self_times(spans: list[Span]) -> dict[int, float]:
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent in child:
            child[s.parent] += s.dur
    return {s.id: s.dur - child[s.id] for s in spans}
