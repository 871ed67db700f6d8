"""The plan-cutting helpers in prql_spark/plans/physical.py: the one
materialization barrier and the one single-evaluation barrier."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prql_spark.plans.physical import materialize, single_eval


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _narrow(spark):
    return spark.createDataFrame(
        [(i, i % 3) for i in range(20)], "a long, b long"
    ).where("a > 2")


def test_materialize_is_lazy(spark):
    df = _narrow(spark)
    before = _jobs(spark)
    out = materialize(df)
    assert _jobs(spark) == before  # no Spark job until a consumer acts
    assert sorted(r.a for r in out.collect()) == list(range(3, 20))


def test_materialize_eager_runs_before_return(spark):
    df = _narrow(spark)
    before = _jobs(spark)
    out = materialize(df, eager=True)
    assert _jobs(spark) > before
    assert out.count() == 17


def test_materialize_consumer_scans_stored_rdd(spark):
    out = materialize(_narrow(spark)).where("b = 1").select("a")
    plan = _plan(out)
    assert "ExistingRDD" in plan
    assert "LocalTableScan" not in plan  # the source is not re-read


def test_materialize_lost_blocks_raise(spark):
    """Local checkpoint blocks are not fault-tolerant: once they are
    gone (as when their executor dies) the next read must fail loudly,
    never recompute silently to something else or return fewer rows."""
    sc = spark.sparkContext
    df = spark.range(200).groupBy((F.col("id") % 7).alias("k")).count()
    before = set(sc._jsc.getPersistentRDDs().keySet())
    out = materialize(df)
    # the lazy checkpoint registers its RDD at call time
    (rdd_id,) = set(sc._jsc.getPersistentRDDs().keySet()) - before
    assert sorted(out.collect()) == sorted(df.collect())
    sc._jsc.sc().unpersistRDD(rdd_id, True)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        out.collect()


def test_single_eval_is_value_identity(spark):
    df = spark.createDataFrame(
        [(1, "x", [1, 2]), (2, None, None)], "i int, s string, a array<int>"
    )
    got = df.select(
        *[F.expr(single_eval(c)).alias(c) for c in df.columns]
    ).collect()
    assert got == df.collect()
