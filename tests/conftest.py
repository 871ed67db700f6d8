from __future__ import annotations

import math
import os
import uuid
from collections import OrderedDict

import pytest

from entries.oracle_check import oracle_connection
from prql_spark import Catalog, build_spark

SF_DIR = os.environ.get("PRQL_SPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_spark("prql_spark-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def catalog(spark):
    return Catalog(spark, SF_DIR)


@pytest.fixture
def empty_relation_cache(monkeypatch):
    """The catalog's process-wide relation cache, emptied for one test
    (the previous one comes back afterwards): job-count and cold-cache
    assertions then do not depend on which tests ran before."""
    from prql_spark.sources import catalog as cat_mod

    monkeypatch.setattr(cat_mod, "_relations", OrderedDict())
    return cat_mod._relations


@pytest.fixture(scope="session")
def oracle():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def assert_df_matches_sql(df, con, sql, sort=False):
    """Compare a Spark DataFrame against DuckDB results.

    Column-name and value equality; order-insensitive when sort=True.
    """
    got_cols = [c.lower() for c in df.columns]
    res = con.execute(sql)
    want_cols = [d[0].lower() for d in res.description]
    assert got_cols == want_cols, f"columns {got_cols} != {want_cols}"
    got = [tuple(_norm(v) for v in row) for row in df.collect()]
    want = [tuple(_norm(v) for v in row) for row in res.fetchall()]
    if sort:
        got = sorted(got, key=repr)
        want = sorted(want, key=repr)
    assert got == want, (
        f"rows differ: got {len(got)} want {len(want)}\n"
        f"first got: {got[:3]}\nfirst want: {want[:3]}"
    )


def jobs_started(spark, fn):
    """Run ``fn()`` under a fresh Spark job group and return
    ``(result, number of Spark jobs it started)``."""
    sc = spark.sparkContext
    group = f"jobs-started-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, len(sc.statusTracker().getJobIdsForGroup(group) or [])
