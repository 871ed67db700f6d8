"""Physical-plan lints.

``lint_broadcast_misses`` walks the compiled physical plan and flags
every shuffle join (SortMergeJoin / ShuffledHashJoin) where one
side's file scans total LESS than the session's
autoBroadcastJoinThreshold — i.e. Spark shuffled a side it could have
broadcast. That happens when stats are stale/absent, when a config
disabled broadcasting, or when a hint forced a shuffle; at cluster
scale the miss turns a map-side join into a full exchange of the
fact table, which is exactly the regression worth a loud warning.

Plan inspection is driver-side metadata only (no job runs), but it
does force query planning, so the lint is opt-in — call it from
tests / CI / the CLI rather than on every compile.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

from prql_spark.compiler import PrqlPlanWarning

_SHUFFLE_JOINS = ("SortMergeJoin", "ShuffledHashJoin")


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _walk(node):
    # AQE wraps the whole query in AdaptiveSparkPlan, whose tree
    # children are empty (the plan lives in a field) — descend into
    # the initial plan; re-planned stages only shrink shuffle joins
    # further, so linting the initial plan is the conservative choice.
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from _walk(node.initialPlan())
        return
    yield node
    for c in _children(node):
        yield from _walk(c)


def _scan_bytes(node) -> int | None:
    """Total file-scan bytes under ``node``; None when the subtree has
    a non-file source (unknown size — never flag those)."""
    total = 0
    saw_scan = False
    for n in _walk(node):
        name = n.nodeName()
        if "Scan" not in name:
            continue
        saw_scan = True
        try:
            total += int(n.relation().location().sizeInBytes())
        except Exception:
            return None
    return total if saw_scan else None


def byte_conf(spark, key: str, default: str) -> int:
    """A byte-size conf ("268435456", "10MB", "134217728b") in bytes:
    plain digits parse in Python, anything else through Spark's own
    size parser."""
    raw = spark.conf.get(key, default)
    try:
        return int(raw)
    except ValueError:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                raw
            )
        )


def lint_broadcast_misses(
    df: DataFrame, threshold: int | None = None, warn: bool = True
) -> list[str]:
    """Return (and by default ``warnings.warn``) a message per shuffle
    join whose smaller side scans under the broadcast threshold."""
    spark = df.sparkSession
    if threshold is None:
        threshold = byte_conf(
            spark, "spark.sql.autoBroadcastJoinThreshold", "10MB"
        )
    findings: list[str] = []
    plan = df._jdf.queryExecution().executedPlan()
    for node in _walk(plan):
        if node.nodeName() not in _SHUFFLE_JOINS:
            continue
        sides = _children(node)
        sizes = [_scan_bytes(s) for s in sides]
        known = [s for s in sizes if s is not None]
        if not known:
            continue
        small = min(known)
        if 0 <= small < threshold > 0:
            findings.append(
                f"{node.nodeName()} shuffles a side whose file scans "
                f"total {small} bytes (< autoBroadcastJoinThreshold "
                f"{threshold}) — broadcast() the small side, refresh "
                f"its stats, or let AQE re-plan"
            )
    if warn:
        for msg in findings:
            warnings.warn(msg, PrqlPlanWarning, stacklevel=2)
    return findings


def lint_python_udfs(df: DataFrame, warn: bool = True) -> list[str]:
    """Flag ROW-AT-A-TIME Python evaluation in the physical plan
    (`BatchEvalPython` — plain @udf): 10-100× slower than either
    built-in expressions or Arrow-batched Pandas UDFs
    (`ArrowEvalPython` / mapInPandas, which are the repo's only
    sanctioned Python path and are NOT flagged). A user composing
    their own @udf into a pipeline gets a loud pointer at the fix
    before it ships to a 1000-executor cluster."""
    findings: list[str] = []
    plan = df._jdf.queryExecution().executedPlan()
    for node in _walk(plan):
        if node.nodeName() == "BatchEvalPython":
            findings.append(
                "BatchEvalPython in the plan: a row-at-a-time Python "
                "UDF — rewrite as built-in pyspark.sql.functions "
                "expressions or an Arrow-batched @pandas_udf "
                "(10-100x on the hot path)"
            )
    if warn:
        for msg in findings:
            warnings.warn(msg, PrqlPlanWarning, stacklevel=2)
    return findings
