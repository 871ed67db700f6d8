"""Snapshot diffing: which keys were added, removed, or changed
between two versions of a table (any two DataFrames — e.g. two
``snapshot_read`` versions of a manifest table).

The audit complement to ``merge_snapshot``: after (or before) a
merge, diff the versions to see exactly what the increment did —
or compare a rebuilt table against the previous run's output as a
regression gate.

Scale shape: each side is projected to (key, row-hash) BEFORE the
join — a narrow map — so the only shuffle carries 16-byte hashes
plus keys, never rows, regardless of row width. One full-outer hash
join keyed on the key columns classifies every key in a single pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def row_hash_expr(cols: list[str], char_fn: str = "char") -> str:
    """md5 over the compared columns, NULL-safe and
    concatenation-unambiguous: values are joined with \\x01 and NULLs
    stand in as \\x02 (plain concat_ws would make ('ab', '') collide
    with ('a', 'b') and skips NULLs entirely). ``char_fn`` is
    ``char`` for Spark, ``chr`` for DuckDB — same bytes, same md5."""
    parts = ", ".join(
        f"coalesce(CAST({c} AS STRING), {char_fn}(2))" for c in cols
    )
    return f"md5(concat_ws({char_fn}(1), {parts}))"


def diff_datasets(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """(key..., change) for every key that differs between snapshots:
    ``added`` (only in new), ``removed`` (only in old), ``changed``
    (both, compared columns differ). Unchanged keys are not emitted.

    ``compare_cols=None`` compares every non-key column of ``old``;
    an explicit empty list is a presence-only diff (added/removed,
    never changed). Keys are assumed unique per snapshot (a lake
    primary key — the same contract merge_snapshot merges by); NULL
    keys never match across sides, so a NULL-keyed row shows up as
    removed+added.
    """
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in key_cols]
    cc = compare_cols
    h = row_hash_expr(cc)
    o = old.select(*key_cols, F.expr(h).alias("__h_old"))
    n = new.select(*key_cols, F.expr(h).alias("__h_new"))
    j = o.join(n, key_cols, "full_outer")
    return j.select(
        *key_cols,
        F.expr(
            "CASE WHEN __h_old IS NULL THEN 'added' "
            "WHEN __h_new IS NULL THEN 'removed' "
            "WHEN __h_old != __h_new THEN 'changed' END"
        ).alias("change"),
    ).where(F.col("change").isNotNull())
