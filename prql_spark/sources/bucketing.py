"""Bucketed-table layout: shuffle-free co-located joins.

The 100 TB lever the z-order writer (layout.py) does not cover:
z-ordering narrows SCANS (multi-column min-max pruning), bucketing
removes JOIN exchanges. Writing two fact tables bucketed by the same
key into the same bucket count pre-partitions them ON DISK — Spark's
scan reports the hash partitioning, and a subsequent equi-join on
the bucket key plans as a SortMergeJoin with ZERO Exchange on either
side. On a 1000-executor cluster joining two 50 TB fact tables,
skipping both shuffles is the difference between a network-bound job
and a local-disk-bound one. Equality filters on the bucket column
additionally prune to a single bucket's files
(``SelectedBucketsCount`` in the scan).

Bucketed data must live in the session catalog (parquet+metastore
``saveAsTable`` — plain ``parquet(path)`` cannot record bucket
metadata); ``spark.sql.sources.bucketing.enabled`` (default true)
turns the layout into plan guarantees at read time.

The plan contracts (no exchange on co-bucketed joins; single-bucket
pruning under equality filters) are pinned by tests/test_layout.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    n_buckets: int,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed parquet table in the session
    catalog. ``n_buckets`` must MATCH across tables that will join
    (mismatched counts fall back to a shuffle — Spark only elides
    exchanges when both sides hash into the same bucket space).
    ``sort_cols`` additionally sorts within each bucket file, which
    lets the join skip its per-partition sort too."""
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    w = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols is not None:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Load a bucketed table (scan carries the bucket partitioning,
    so downstream joins/aggregations on the bucket key skip their
    exchange)."""
    return spark.table(table)


def drop_bucketed(spark: SparkSession, table: str) -> None:
    """Drop the catalog entry AND any orphaned warehouse directory.

    With the in-memory catalog, a managed table written by a
    PREVIOUS session leaves its directory behind while the fresh
    catalog has never heard of the table — `DROP TABLE` alone is a
    no-op then, and the next `saveAsTable` fails on the existing
    location. Removing the path covers both cases.

    The name is validated (``tbl`` or ``db.tbl``, word chars only)
    BEFORE anything touches the filesystem — a pathological name
    containing ``/`` or ``..`` must never reach rmtree. If the table
    is still in the catalog, its actual location wins; otherwise the
    fallback path mirrors Spark's managed-table layout — the name
    LOWERCASED (the session catalog is case-insensitive and stores
    lowercase directories) under ``<warehouse>/<db>.db/`` for a
    db-qualified name."""
    import os
    import re
    import shutil

    if not re.fullmatch(r"[A-Za-z0-9_]+(\.[A-Za-z0-9_]+)?", table):
        raise ValueError(f"unsafe table name: {table!r}")
    location = None
    # ask the catalog first: a DESCRIBE of an absent table fails
    # analysis, which Spark logs at ERROR with its stack traces
    if spark.catalog.tableExists(table):
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        for row in desc:
            if row["col_name"] == "Location":
                location = row["data_type"].removeprefix("file:")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if location is None:
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        lowered = table.lower()
        if "." in lowered:
            db, tbl = lowered.split(".", 1)
            location = os.path.join(wh, f"{db}.db", tbl)
        else:
            location = os.path.join(wh, lowered)
    shutil.rmtree(location, ignore_errors=True)
