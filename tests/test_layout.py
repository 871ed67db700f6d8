"""Z-order layout writer: clustering quality measured from parquet
footer stats (the same min/max metadata engines prune with)."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from prql_spark.sources.catalog import Catalog
from prql_spark.sources.layout import write_zorder

from .conftest import SF_DIR


def _file_ranges(path: str, col: str) -> list[tuple[float, float]]:
    out = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        out.append((min(mins), max(maxs)))
    return out


def _avg_coverage(ranges, lo, hi) -> float:
    span = hi - lo
    return sum((b - a) / span for a, b in ranges) / len(ranges)


def test_zorder_clusters_both_columns(spark, tmp_path):
    orders = Catalog(spark, SF_DIR).load("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lo_c, hi_c, lo_p, hi_p, n, total = orders.selectExpr(
        "min(o_custkey)", "max(o_custkey)",
        "min(o_totalprice)", "max(o_totalprice)",
        "count(*)", "round(sum(o_totalprice), 2)",
    ).first()

    zdir = str(tmp_path / "z")
    write_zorder(orders, zdir, ["o_custkey", "o_totalprice"], n_files=16)

    # baseline: plain range-sort by custkey only
    bdir = str(tmp_path / "b")
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(bdir)
    )

    z_cust = _avg_coverage(_file_ranges(zdir, "o_custkey"), lo_c, hi_c)
    z_price = _avg_coverage(_file_ranges(zdir, "o_totalprice"), lo_p, hi_p)
    b_cust = _avg_coverage(_file_ranges(bdir, "o_custkey"), lo_c, hi_c)
    b_price = _avg_coverage(_file_ranges(bdir, "o_totalprice"), lo_p, hi_p)

    # single-column sort: perfect on its column, useless on the other
    assert b_cust < 0.15 and b_price > 0.85
    # z-order: BOTH columns' per-file ranges are fractions of global
    assert z_cust < 0.6 and z_price < 0.6, (z_cust, z_price)

    # and the rewrite is lossless
    rn, rtotal = (
        spark.read.parquet(zdir)
        .selectExpr("count(*)", "round(sum(o_totalprice), 2)")
        .first()
    )
    assert (rn, rtotal) == (n, total)
    shutil.rmtree(zdir, ignore_errors=True)
    shutil.rmtree(bdir, ignore_errors=True)


def test_zorder_skewed_and_timestamp(spark, tmp_path):
    # quantile bucketing must spread a heavily-skewed column; ts
    # column exercises the timestamp cast path
    ev = Catalog(spark, SF_DIR).load("events").select(
        "event_id", "ts", "user_id"
    ).withColumn(
        "user_id",
        F.expr("CASE WHEN user_id % 10 < 8 THEN 1 ELSE user_id END"),
    )
    zdir = str(tmp_path / "zs")
    write_zorder(ev, zdir, ["ts", "user_id"], n_files=8)
    files = glob.glob(os.path.join(zdir, "*.parquet"))
    assert len(files) >= 4
    assert spark.read.parquet(zdir).count() == ev.count()
    shutil.rmtree(zdir, ignore_errors=True)


def test_bucketed_join_elides_exchanges(spark):
    """The bucketing contract at 100 TB: two tables written with the
    SAME bucket key and count join WITHOUT any Exchange (both scans
    carry the on-disk hash partitioning), sortBy additionally lets
    the join skip its sorts; an equality filter on the bucket column
    prunes the scan to ONE bucket; a MISMATCHED bucket count falls
    back to shuffling (the guarantee is conditional, and the test
    proves both directions)."""
    from prql_spark.sources.bucketing import (
        drop_bucketed,
        read_bucketed,
        write_bucketed,
    )

    cat = Catalog(spark, SF_DIR)
    orders = cat.load("orders").select("o_orderkey", "o_totalprice")
    lineitem = cat.load("lineitem").select("l_orderkey", "l_quantity")
    tables = ["t_bkt_o", "t_bkt_l", "t_bkt_l6"]
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for t in tables:  # clear orphans from any crashed prior run
            drop_bucketed(spark, t)
        write_bucketed(orders, "t_bkt_o", "o_orderkey", 4,
                       sort_cols="o_orderkey")
        write_bucketed(lineitem, "t_bkt_l", "l_orderkey", 4,
                       sort_cols="l_orderkey")
        write_bucketed(lineitem, "t_bkt_l6", "l_orderkey", 6)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = read_bucketed(spark, "t_bkt_o")
        li = read_bucketed(spark, "t_bkt_l")
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # BOTH shuffles elided
        # row parity with the plain-parquet join (layout is lossless)
        plain = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        assert j.count() == plain.count()
        # equality filter on the bucket key prunes to one bucket —
        # the planner's autoBucketedScan would otherwise drop the
        # bucketed read entirely for a plain filter (no join/agg
        # needing the partitioning), so pin it on for the assertion
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "false",
        )
        try:
            fplan = (
                o.where(F.col("o_orderkey") == 42)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "SelectedBucketsCount: 1 out of 4" in fplan, fplan
        finally:
            spark.conf.unset(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled"
            )
        # mismatched bucket counts cannot co-locate: exchange is back
        l6 = read_bucketed(spark, "t_bkt_l6")
        mplan = (
            l6.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" in mplan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", old_thresh
        )
        for t in tables:
            drop_bucketed(spark, t)


def test_drop_bucketed_rejects_unsafe_names(spark):
    """A table name must never steer rmtree outside the warehouse
    dir — path-bearing names are rejected BEFORE any FS action
    (r6 VERDICT #8 / ADVICE), and valid names resolve through the
    managed-table layout (lowercased; db-qualified → <db>.db/)."""
    import os

    import pytest

    from prql_spark.sources.bucketing import drop_bucketed

    for bad in ("../evil", "a/b", "x..y", "", "a.b.c", "t;drop"):
        with pytest.raises(ValueError, match="unsafe table name"):
            drop_bucketed(spark, bad)
    # db-qualified + mixed case: the fallback path targets the
    # lowercased <db>.db/<tbl> layout, so the orphan is removed even
    # when the catalog has never heard of the table
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    orphan = os.path.join(wh, "mydb.db", "mytbl")
    os.makedirs(orphan, exist_ok=True)
    drop_bucketed(spark, "MyDb.MyTbl")
    assert not os.path.exists(orphan)


def test_drop_bucketed_never_describes_an_absent_table(spark):
    """A name the catalog does not hold is never DESCRIBEd: the failed
    analysis would log TABLE_OR_VIEW_NOT_FOUND at ERROR, with two Java
    stack traces, on every fresh name."""
    from prql_spark.sources.bucketing import drop_bucketed

    class Recording:
        def __init__(self, inner):
            self._inner = inner
            self.statements = []

        def sql(self, statement, *args, **kwargs):
            self.statements.append(statement)
            return self._inner.sql(statement, *args, **kwargs)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    session = Recording(spark)
    drop_bucketed(session, "prql_bkt_absent")
    assert session.statements
    assert not [s for s in session.statements if s.startswith("DESCRIBE")]
