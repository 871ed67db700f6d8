"""The only two ways the compiler and the operators cut Catalyst's
plan on purpose: ``materialize`` (compute a shared intermediate once)
and ``single_eval`` (evaluate an expression once per row). Imports
only pyspark, so any module can use it without an import cycle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def materialize(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: compute it once, then every consumer
    scans the stored blocks (``ExistingRDD``) instead of re-running
    the subtree.

    - ``DISK_ONLY``: the default MEMORY_AND_DISK blocks of superseded
      intermediates sit in storage memory until the ContextCleaner's
      next GC cycle, so wall times swung with the session's heap
      state (the round-10 connected-components variance fix). Slim
      reads from local disk are milliseconds, and the cost becomes a
      function of the data again.
    - lazy by default: the consumer's first action fills the
      checkpoint, in the same job. (Under AQE, a frame that contains
      an exchange still runs its shuffle map stages at call time:
      adaptive planning executes them to settle the final plan.)
      ``eager=True`` runs the whole frame now; use it only when the
      source must be read before something else happens (an in-place
      overwrite of the source).
    - a local checkpoint, NOT fault-tolerant: the blocks live on the
      executors that computed them, and a lost executor fails the
      consuming job rather than recomputing them.

    The method is looked up on ``df`` at call time, so instrumentation
    that patches ``DataFrame.localCheckpoint`` sees every call."""
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)


def single_eval(sql: str) -> str:
    """Wrap a Spark SQL expression so Catalyst evaluates it once per
    row: ``IF(spark_partition_id() >= 0, sql, NULL)``.

    The wrapper is nondeterministic, so the optimizer will not
    substitute the aliased expression into a Filter (or any other
    operator) that references it. Partition ids are non-negative, so
    the true branch ALWAYS returns the value unchanged for any type,
    and both If and spark_partition_id are codegen-able — the wrapped
    chain stays in whole-stage codegen. Two rejected forms, both
    measured on docs_clean_pipeline: ``shuffle(array(c))[1]`` (the
    singleton permutation) is CodegenFallback and dragged the entire
    chain into interpreted eval — costing more than the double
    evaluation it removed (1.46 → 1.75 s) — and
    ``IF(rand(seed) < 2.0, ...)`` is folded away entirely by Spark 4's
    rand-comparison simplification (the duplication came straight
    back). The partition-id compare survives the optimizer, costs one
    int compare per row, and keeps plan dumps byte-stable (no seed)."""
    return f"IF(spark_partition_id() >= 0, {sql}, NULL)"
