"""Unit tests of the measurement core on tiny DataFrames.

    python3 -m pytest layerbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os

import pytest

from layerbench import host, inputs, measure, oracle
from layerbench.run import tail


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from prql_spark import build_spark

    s = build_spark("layerbench-test", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _grouped(spark):
    return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()


def _final(df) -> bool:
    return "isFinalPlan=true" in df._jdf.queryExecution().executedPlan().toString()


def test_drain_reuses_the_planned_query_execution(spark):
    tracer = measure.Tracer(spark.sparkContext, enabled=True)
    res, df, value = measure.run_op(spark, tracer, "q", "query",
                                    lambda: _grouped(spark))
    assert res.ok and value.num_rows == 7
    # the drain finalized the adaptive plan that the plan phase forced
    assert _final(df)


def test_a_derived_drain_plans_a_second_time(spark):
    """Why the plan phase must be forced on the drained DataFrame:
    counting a derived frame builds a new QueryExecution, so the
    planned one never runs and the second planning is booked to exec."""
    df = _grouped(spark)
    df._jdf.queryExecution().executedPlan()
    df.groupBy().count().collect()
    assert not _final(df)


def test_phases_are_contiguous_and_jobs_land_in_their_span(spark):
    tracer = measure.Tracer(spark.sparkContext, enabled=True)

    def build():
        with tracer.span("catalog"):
            spark.range(10).count()  # an eager job during build
        return _grouped(spark)

    res, _df, _v = measure.run_op(spark, tracer, "q", "query", build)
    spans = tracer.op_spans(res.op_id)
    measure.collect_jobs(spark, spans)
    by = {s.name: s for s in spans}
    assert [s.name for s in spans] == ["op", "build", "catalog", "plan", "exec"]
    assert by["catalog"].attrs["jobs"] >= 1  # count() runs one or two jobs
    assert by["build"].attrs["jobs"] == 0  # the nested span took it
    assert by["plan"].attrs["jobs"] == 0
    assert by["exec"].attrs["jobs"] >= 1
    assert by["exec"].attrs["numTasks"] >= 1
    assert by["exec"].attrs["shuffleWriteBytes"] > 0
    selfs = measure.self_times(spans)
    root = by["op"]
    assert 1 - selfs[root.id] / root.dur > 0.97
    assert spark.sparkContext.getLocalProperty(measure.GROUP_KEY) is None


def test_disabled_tracer_records_nothing(spark):
    tracer = measure.Tracer(spark.sparkContext, enabled=False)
    res, _df, value = measure.run_op(spark, tracer, "q", "query",
                                     lambda: _grouped(spark))
    assert res.ok and value.num_rows == 7
    assert tracer.spans == []


def test_failed_op_is_reported_not_raised(spark):
    tracer = measure.Tracer(spark.sparkContext, enabled=True)

    def build():
        raise ValueError("boom")

    res, df, value = measure.run_op(spark, tracer, "q", "query", build)
    assert not res.ok and "boom" in res.error and df is None and value is None
    assert tracer.current() is None


def test_instrument_nests_layer_spans_and_undoes(spark):
    import prql_spark
    from prql_spark.sources.catalog import Catalog

    orig = (prql_spark.compile_prql, Catalog.load)
    tracer = measure.Tracer(spark.sparkContext, enabled=True)
    undo = measure.instrument(tracer)
    try:
        cat = Catalog(spark)
        cat.register("t", spark.range(5))
        res, df, _v = measure.run_op(
            spark, tracer, "q", "query",
            lambda: prql_spark.compile_prql("from t\ntake 2", cat))
    finally:
        undo()
    assert res.ok
    names = [s.name for s in tracer.op_spans(res.op_id)]
    assert names[:5] == ["op", "build", "compiler", "parser", "catalog"]
    assert (prql_spark.compile_prql, Catalog.load) == orig
    assert measure.plan_shape(df)["nodes"] >= 1


def test_plan_shape_counts_exchanges_and_scans(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(p)
    df = spark.read.parquet(p).selectExpr("id % 3 AS k").groupBy("k").count()
    df.collect()
    shape = measure.plan_shape(df)
    assert shape["exchanges"] >= 1 and shape["scans"] == 1


def test_self_times():
    spans = [measure.Span(0, None, "op", 1, 0.0, 10.0),
             measure.Span(1, 0, "build", 1, 0.0, 4.0),
             measure.Span(2, 1, "catalog", 1, 1.0, 3.0),
             measure.Span(3, 0, "exec", 1, 4.0, 9.5)]
    assert measure.self_times(spans) == {0: 0.5, 1: 2.0, 2: 2.0, 3: 5.5}


def test_tail_has_ten_samples_beyond_or_is_the_max():
    v, pct, beyond = tail([float(i) for i in range(31)])
    assert (v, round(pct, 1), beyond) == (20.0, 67.7, 10)
    assert sum(x > v for x in range(31)) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_inputs_are_seeded():
    a = inputs.tpch_tables(7, 0.001)
    b = inputs.tpch_tables(7, 0.001)
    c = inputs.tpch_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    d1, info = inputs.documents(7, 300)
    d2, _ = inputs.documents(7, 300)
    assert d1.equals(d2) and info["planted_exact"] > 0


def test_tree_rss_covers_this_process():
    assert os.getpid() in host.descendants(os.getpid())
    assert host.tree_rss() > 0


def test_rounding_tie_only_at_the_places_the_sql_rounds_to():
    sql = "SELECT round(sum(a * (1 - b)), 2) AS r FROM t"
    places = oracle.rounded_places(sql)
    assert places == {2}
    got, want = (["r"], [(376281.64,)]), (["r"], [(376281.65,)])
    assert oracle.compare(got, want, places) is None
    assert oracle.compare(got, want) is not None  # no round in the SQL
    # one unit apart, but not at a rounded place
    assert oracle.compare((["r"], [(0.5,)]), (["r"], [(0.6,)]), places)
    assert oracle.compare((["r"], [(25.5,)]), (["r"], [(25.6,)]), places)
