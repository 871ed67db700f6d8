"""Per-column dataset profiling (ANALYZE-style stats) — SURVEY §2 #67.

One FULL-TABLE PASS computes every column's stats in a single
aggregate (partial-aggregated map-side, one 1-row result): row count,
null count, distinct count, min/max, and for numeric columns
avg/stddev. The wide 1-row result is unpivoted to one row per column
with ``stack`` — a driver-sized transform.

Distinct counts: ``exact=True`` uses count(DISTINCT col) (Catalyst
expands multi-distinct into one Expand + aggregate — still one scan);
``exact=False`` swaps in HLL++ ``approx_count_distinct``, the 100 TB
default, where a ±2% answer is worth avoiding the expand blow-up.
The oracled entry uses exact so DuckDB hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_NUMERIC = ("int", "bigint", "smallint", "tinyint", "double", "float")


def _is_numeric(dtype: str) -> bool:
    # decimal(p,s) is how money columns arrive on a standard TPC-H
    # load — excluding it silently nulls avg/std exactly where users
    # look first
    return dtype in _NUMERIC or dtype.startswith("decimal")


def profile(
    df: DataFrame,
    cols: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Stats table: one row per column with
    (column, n_rows, n_null, n_distinct, min_str, max_str, avg, std).

    min/max are emitted as strings so one schema covers every input
    type; avg/std are NULL for non-numeric columns.
    """
    if cols is None:
        cols = [
            c
            for c, t in df.dtypes
            if _is_numeric(t)
            or t in ("string", "date")
            or t.startswith("timestamp")
        ]
    if not cols:
        raise ValueError("profile: no profilable columns")
    dtypes = dict(df.dtypes)

    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        q = "`" + c.replace("`", "``") + "`"
        aggs.append(F.expr(f"sum(CASE WHEN {q} IS NULL THEN 1 ELSE 0 END)").alias(f"__null_{i}"))
        if exact:
            aggs.append(F.expr(f"count(DISTINCT {q})").alias(f"__dist_{i}"))
        else:
            aggs.append(F.expr(f"approx_count_distinct({q})").alias(f"__dist_{i}"))
        aggs.append(F.expr(f"CAST(min({q}) AS STRING)").alias(f"__min_{i}"))
        aggs.append(F.expr(f"CAST(max({q}) AS STRING)").alias(f"__max_{i}"))
        if _is_numeric(dtypes[c]):
            # decimal columns: CAST to DOUBLE first — avg over decimal
            # returns decimal, and the output schema must be one
            # DOUBLE column regardless of input type
            e = (
                f"CAST({q} AS DOUBLE)"
                if dtypes[c].startswith("decimal")
                else q
            )
            aggs.append(F.expr(f"round(avg({e}), 6)").alias(f"__avg_{i}"))
            aggs.append(F.expr(f"round(stddev({e}), 6)").alias(f"__std_{i}"))
        else:
            aggs.append(F.expr("CAST(NULL AS DOUBLE)").alias(f"__avg_{i}"))
            aggs.append(F.expr("CAST(NULL AS DOUBLE)").alias(f"__std_{i}"))

    wide = df.agg(*aggs)
    stacked = ", ".join(
        "'%s', __null_%d, __dist_%d, __min_%d, __max_%d, "
        "__avg_%d, __std_%d"
        % (c.replace("\\", "\\\\").replace("'", "\\'"), i, i, i, i, i, i)
        for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stacked}) AS "
        "(column, n_null, n_distinct, min_str, max_str, avg, std)",
    ).select(
        "column", "n_rows", "n_null", "n_distinct",
        "min_str", "max_str", "avg", "std",
    )


def rollup_stats(
    df: DataFrame,
    dims: list[str],
    aggs: dict[str, str],
    cube: bool = False,
) -> DataFrame:
    """Hierarchical corpus report: metrics at every prefix level of
    ``dims`` via GROUP BY ROLLUP (``cube=True`` → every dim subset,
    GROUP BY CUBE) — the one-pass corpus dashboard query (per-lang ×
    per-source doc counts, token totals, grand total) a training-data
    pipeline reports after each build.

    ``aggs``: output_name -> SQL aggregate expression.

    Scale shape: rollup/cube compile to ONE aggregating scan + an
    Expand node (n_levels × the map-side rows, combined map-side
    before the single hash exchange) — no second pass per level. A
    ``lvl`` grouping_id column disambiguates rollup NULLs from
    genuine NULL dim values (the standard bitmask, identical in
    Spark and DuckDB).

    Empty input yields the SQL answer, the grand-total row alone:
    its aggregates run over ``df.limit(0)`` (no scan) and it is kept
    only while the column-less probe ``df.limit(1)`` is empty.
    """
    if not dims:
        raise ValueError("rollup_stats: dims must be non-empty")
    exprs = [F.expr(e).alias(name) for name, e in aggs.items()]
    grouped = (df.cube(*dims) if cube else df.rollup(*dims)).agg(
        F.expr(f"CAST(grouping_id({', '.join(dims)}) AS INT)").alias(
            "lvl"
        ),
        *exprs,
    )
    total = df.limit(0).agg(*exprs).select(
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in df.select(*dims).schema],
        F.lit((1 << len(dims)) - 1).alias("lvl"), *aggs.keys(),
    ).join(df.limit(1), how="left_anti")
    return grouped.select(*dims, "lvl", *aggs.keys()).unionByName(total)
