"""Partition-scoped parquet upsert (merge-into for a plain lake).

Without a table format (Delta/Iceberg aren't in this container), an
upsert into parquet is a partition-level rewrite. This implements the
scale-sane version:

1. find the partitions the updates touch (distinct partition values
   of the update set — small);
2. read ONLY those partitions of the existing data (partition
   pruning keeps this proportional to touched data, not table size);
3. anti-join away rows being replaced, union the updates;
4. write with ``partitionOverwriteMode=dynamic`` so Spark replaces
   exactly the touched partitions and leaves the rest of the table's
   files untouched.

Cost at 100 TB: proportional to the touched partitions, never the
whole table. The merged frame is locally checkpointed before the
write because Spark refuses to overwrite a path it is concurrently
reading (the classic self-overwrite hazard); the checkpoint bounds
that materialization to the touched partitions too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prql_spark.plans.physical import materialize


def _dataset_exists(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds a non-empty dataset (ignoring _/.
    metadata entries), for ANY filesystem Spark can reach.

    Resolved through Hadoop's FileSystem API so s3://, hdfs://, abfs://
    and file: URIs all work — an os.path check would silently miss a
    remote dataset and turn the merge into a destructive full
    overwrite of the lake path.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return False
    for st in fs.listStatus(p):
        if not st.getPath().getName().startswith(("_", ".")):
            return True
    return False


def upsert_parquet(
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str | None = None,
    strict: bool = False,
    count_rows: bool = False,
) -> dict:
    """Merge ``updates`` into the parquet dataset at ``path`` by
    ``key_cols`` (update-or-insert). Returns {"touched_partitions",
    "rows_written"} for observability; ``rows_written`` is None unless
    ``count_rows=True`` (counting is a whole extra job over the
    touched partitions, so it is opt-in).

    With ``partition_col``, the dataset must be partitioned by it and
    only touched partitions are rewritten; without it, the whole
    dataset is rewritten (correct but full-cost — prefer partitioned
    tables for upsert workloads).

    CONTRACT (partitioned mode): a key's partition value must be
    stable — the pruned scan only reads touched partitions, so an
    update that moves a key to a different partition would leave the
    stale row behind. Partition your table by a function of the key
    (or an immutable attribute) as lake upserts conventionally
    require. ``strict=True`` verifies the contract with one extra
    key-only scan of the untouched partitions and raises on
    violation. NULL partition values in ``updates`` are rejected:
    dynamic overwrite of the null partition cannot be pruned safely.
    """
    spark = updates.sparkSession

    if not _dataset_exists(spark, path):
        w = updates.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(path)
        return {
            "touched_partitions": None,
            "rows_written": updates.count() if count_rows else None,
        }

    existing = spark.read.parquet(path)
    touched = None
    if partition_col:
        touched = [
            r[0]
            for r in updates.select(partition_col).distinct().collect()
        ]
        if any(t is None for t in touched):
            raise ValueError(
                "upsert_parquet: NULL partition values in updates — "
                "the null partition cannot be pruned safely (isin(NULL) "
                "matches nothing, so its existing rows would be lost)"
            )
        if strict:
            # contract check: no update key may already live in an
            # UNtouched partition (key-only columns → pruned+projected
            # scan; cost proportional to untouched keys, run only on
            # request)
            stale = (
                spark.read.parquet(path)
                # null-safe complement: ~isin() is NULL (dropped) for
                # a NULL partition value, which would hide stale rows
                # in exactly the un-prunable null partition
                .where(
                    F.col(partition_col).isNull()
                    | ~F.col(partition_col).isin(touched)
                )
                .select(*key_cols)
                .join(updates.select(*key_cols).distinct(), key_cols)
            )
            if stale.limit(1).count() > 0:
                raise ValueError(
                    "upsert_parquet: update moves key(s) across "
                    "partitions — the stale copy in the old partition "
                    "would survive. Delete it first or repartition the "
                    "table by a key-stable column."
                )
        # partition-pruned scan: only touched partitions are read
        existing = existing.where(F.col(partition_col).isin(touched))
    kept = existing.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    merged = kept.unionByName(updates.select(existing.columns))
    # break lineage from `path` before overwriting it (eager: the
    # source must be fully read before the overwrite deletes it);
    # bounded by the touched partitions thanks to the pruned scan
    merged = materialize(merged, eager=True)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        w = merged.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {
        "touched_partitions": touched,
        # the checkpoint is already materialized, so this count scans
        # local checkpoint blocks, not the lake — still one extra job,
        # hence opt-in
        "rows_written": merged.count() if count_rows else None,
    }
