"""Source/sink round-trips + catalog behavior (SURVEY §2 #24/#25)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from prql_spark import Catalog, compile_prql
from prql_spark.sources import io as pio
from prql_spark.sources.bucketing import write_bucketed
from tests.conftest import assert_df_matches_sql, jobs_started


def test_csv_roundtrip(spark, catalog, tmp_path):
    d = str(tmp_path / "nation_csv")
    nation = catalog.load("nation")
    pio.write_csv(nation, d)
    back = pio.read_csv(spark, d)
    assert back.count() == 25
    assert set(back.columns) == set(nation.columns)


def test_json_roundtrip(spark, catalog, tmp_path):
    d = str(tmp_path / "region_json")
    region = catalog.load("region")
    region.write.mode("overwrite").json(d)
    back = pio.read_json(spark, d)
    assert {tuple(sorted(r.asDict().items())) for r in back.collect()} == {
        tuple(sorted(r.asDict().items())) for r in region.collect()
    }


def test_partitioned_parquet_prunes(spark, catalog, tmp_path):
    d = str(tmp_path / "orders_part")
    orders = catalog.load("orders")
    pio.write_parquet(orders, d, partition_by=["o_orderstatus"])
    # partition dirs exist
    assert glob.glob(os.path.join(d, "o_orderstatus=*"))
    back = spark.read.parquet(d)
    sub = back.where(F.col("o_orderstatus") == "F")
    plan = sub._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (pruned read, no data filter)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    want = orders.where("o_orderstatus = 'F'").count()
    assert sub.count() == want


def test_catalog_over_csv_dir(spark, catalog, tmp_path):
    """The PRQL front-end runs unchanged over a csv-backed catalog."""
    d = str(tmp_path / "csvdata")
    os.makedirs(d, exist_ok=True)
    for t in ("nation", "region"):
        catalog.load(t).coalesce(1).write.mode("overwrite").option(
            "header", True
        ).csv(os.path.join(d, f"{t}.csv"))
    csv_cat = Catalog(spark, d, fmt="csv")
    df = compile_prql(
        "from nation\njoin region [r_regionkey == n_regionkey]\n"
        "group [r_name] (aggregate [n = count])\nsort [r_name]",
        csv_cat,
    )
    rows = df.collect()
    assert len(rows) == 5 and all(r.n == 5 for r in rows)


def test_catalog_register_and_broadcast_flag(spark, catalog):
    df = catalog.load("region")
    cat = Catalog(spark, None if False else "/root/testdata/sf0.001")
    cat.register("dim", df, broadcast=True)
    assert cat.is_broadcast("dim")
    assert cat.load("dim") is df


def test_bucketed_tables_join_without_shuffle(spark, catalog, tmp_path):
    """bucketBy layout lets a same-key join skip both exchanges."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # forbid broadcast so the join exercises the bucketed exchange path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    orders = catalog.load("orders")
    lineitem = catalog.load("lineitem")
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "k"), "b_orders", ["k"], 8
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "k"), "b_lineitem", ["k"], 8
    )
    j = spark.table("b_orders").join(spark.table("b_lineitem"), "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # bucket layout reused
    assert j.count() == lineitem.count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_orc_roundtrip_with_pushdown(spark, catalog, tmp_path):
    d = str(tmp_path / "orders_orc")
    orders = catalog.load("orders").limit(2000)
    pio.write_orc(orders, d, partition_by=["o_orderstatus"])
    back = pio.read_orc(spark, d)
    want = {r.o_orderkey for r in orders.collect()}
    assert {r.o_orderkey for r in back.collect()} == want
    # partition pruning: a status filter must not scan other dirs
    pruned = back.where(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_write_jsonl_roundtrip(spark, catalog, tmp_path):
    from prql_spark.sources import io as pio

    nation = catalog.load("nation")
    d = str(tmp_path / "nation_jsonl")
    pio.write_jsonl(nation, d)
    import glob as g

    files = g.glob(d + "/*.json")
    assert files  # line-delimited json part files
    with open(files[0]) as f:
        first = f.readline()
    assert first.strip().startswith("{")
    back = pio.read_json(spark, d)
    assert back.count() == nation.count()
    a = {r.n_nationkey for r in back.collect()}
    assert a == {r.n_nationkey for r in nation.collect()}


def test_read_binary_files(spark, tmp_path):
    d = tmp_path / "blobs"
    d.mkdir()
    (d / "a.ppm").write_bytes(b"P6\n2 1\n255\n" + bytes(6))
    (d / "b.ppm").write_bytes(b"P6\n1 1\n255\n" + bytes(300))
    (d / "skip.txt").write_bytes(b"not media")
    df = pio.read_binary_files(spark, str(d), glob="*.ppm")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.ppm", "b.ppm"}
    assert bytes(rows["a.ppm"].content)[:2] == b"P6"
    assert rows["a.ppm"].length == 17
    # metadata-column pruning by size
    small = pio.read_binary_files(spark, str(d), glob="*.ppm", max_bytes=100)
    assert [r.path.rsplit("/", 1)[-1] for r in small.collect()] == ["a.ppm"]
    # feeds the multimodal decode path end-to-end
    from prql_spark.operators.multimodal import NetpbmCodec, decode_features

    media = df.select(
        F.expr("xxhash64(path)").alias("media_id"),
        F.col("content").alias("media"),
        F.lit("image/x-portable-pixmap").alias("media_type"),
    )
    decoded = decode_features(media, NetpbmCodec()).collect()
    assert {(r.width, r.height) for r in decoded} == {(2, 1), (1, 1)}


def test_read_text_files(spark, tmp_path):
    d = tmp_path / "texts"
    d.mkdir()
    (d / "x.txt").write_text("line one\nline two\n")
    (d / "y.txt").write_text("single doc body\n")
    lines = pio.read_text_files(spark, str(d))
    got = {(r.doc_path.rsplit("/", 1)[-1], r.text) for r in lines.collect()}
    assert ("x.txt", "line one") in got and ("x.txt", "line two") in got
    docs = pio.read_text_files(spark, str(d), whole_file=True)
    by_file = {r.doc_path.rsplit("/", 1)[-1]: r.text for r in docs.collect()}
    assert by_file["y.txt"].strip() == "single doc body"
    assert "line one\nline two" in by_file["x.txt"]


def test_diff_datasets(spark):
    from prql_spark.sources.diff import diff_datasets

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k int, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (5, "e", 50), (4, None, 40)],
        "k int, s string, v int",
    )
    got = {
        (r.k, r.change) for r in diff_datasets(old, new, ["k"]).collect()
    }
    assert got == {(2, "changed"), (3, "removed"), (5, "added")}
    # NULL values inside compared columns are hashed, not skipped
    n2 = spark.createDataFrame([(4, "x", 40)], "k int, s string, v int")
    got2 = {
        (r.k, r.change)
        for r in diff_datasets(old.where("k = 4"), n2, ["k"]).collect()
    }
    assert got2 == {(4, "changed")}
    # concat ambiguity guard: ('ab','') vs ('a','b') must differ
    a = spark.createDataFrame([(1, "ab", "")], "k int, x string, y string")
    b = spark.createDataFrame([(1, "a", "b")], "k int, x string, y string")
    assert {(r.k, r.change) for r in diff_datasets(a, b, ["k"]).collect()} == {
        (1, "changed")
    }
    # compare_cols narrows the comparison
    assert diff_datasets(old, new, ["k"], compare_cols=["v"]).where(
        "k = 2"
    ).count() == 0


def test_read_text_files_linesep(spark, tmp_path):
    d = tmp_path / "recsep"
    d.mkdir()
    (d / "r.rec").write_text("alpha|beta|gamma")
    rows = {
        r.text
        for r in pio.read_text_files(spark, str(d), line_sep="|").collect()
    }
    assert rows == {"alpha", "beta", "gamma"}


def _warc_record(wtype, uri, body, crlf=True, extra=""):
    nl = "\r\n" if crlf else "\n"
    hdr = (
        f"WARC/1.0{nl}"
        f"WARC-Type: {wtype}{nl}"
        + (f"WARC-Target-URI: {uri}{nl}" if uri else "")
        + f"WARC-Date: 2024-01-01T00:00:00Z{nl}"
        + extra
        + f"Content-Length: {len(body)}{nl}{nl}"
    )
    return hdr.encode() + body + (nl + nl).encode()


def test_read_warc(spark, tmp_path):
    import gzip

    d = tmp_path / "warc"
    d.mkdir()
    # plain WARC: warcinfo (skipped) + response + conversion; one
    # bare-LF record in the middle
    blob = (
        _warc_record("warcinfo", None, b"software: test")
        + _warc_record("response", "http://a.example/x",
                       b"HTTP/1.1 200 OK\r\n\r\n<html>A</html>",
                       extra="Content-Type: application/http\r\n")
        + _warc_record("conversion", "http://a.example/x",
                       b"plain text A", crlf=False)
    )
    (d / "shard0.warc").write_bytes(blob)
    # gzip member-concatenated shard (the Common Crawl layout)
    gz = gzip.compress(
        _warc_record("response", "http://b.example/y", b"<html>B</html>")
    ) + gzip.compress(
        _warc_record("conversion", "http://b.example/y", b"plain text B")
    )
    (d / "shard1.warc.gz").write_bytes(gz)
    # truncated record must be dropped, not mis-sliced
    trunc = _warc_record("response", "http://c.example/z", b"full body")
    (d / "shard2.warc").write_bytes(trunc[: len(trunc) - 18])

    out = pio.read_warc(spark, str(d)).collect()
    by_uri = {}
    for r in out:
        by_uri.setdefault(r.target_uri, []).append(r)
    assert set(by_uri) == {"http://a.example/x", "http://b.example/y"}
    types_a = {r.warc_type for r in by_uri["http://a.example/x"]}
    assert types_a == {"response", "conversion"}
    conv_a = next(r for r in by_uri["http://a.example/x"]
                  if r.warc_type == "conversion")
    assert bytes(conv_a.payload) == b"plain text A"
    assert bytes(
        next(r for r in by_uri["http://b.example/y"]
             if r.warc_type == "response").payload
    ) == b"<html>B</html>"
    # record_types filter
    only_conv = pio.read_warc(
        spark, str(d), record_types=("conversion",)
    ).collect()
    assert {r.warc_type for r in only_conv} == {"conversion"}
    assert all(r.record_offset >= 0 for r in out)


def test_warc_to_documents(spark, tmp_path):
    d = tmp_path / "warc2"
    d.mkdir()
    (d / "s.warc").write_bytes(
        _warc_record("response", "http://a.example/p",
                     b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                     b"<html>hello</html>")
        + _warc_record("conversion", "http://a.example/p", b"hello text")
    )
    docs = pio.warc_to_documents(pio.read_warc(spark, str(d))).collect()
    by_url = {}
    for r in docs:
        by_url.setdefault(r.url, []).append(r)
    texts = {r.text for r in by_url["http://a.example/p"]}
    # response: HTTP headers stripped; conversion: verbatim
    assert texts == {"<html>hello</html>", "hello text"}
    assert all("#" in r.doc_id for r in docs)


def test_warc_to_documents_charset(spark, tmp_path):
    d = tmp_path / "warc3"
    d.mkdir()
    latin = "caf\xe9 r\xe9sum\xe9".encode("iso-8859-1")
    (d / "s.warc").write_bytes(
        _warc_record(
            "conversion", "http://l.example/", latin,
            extra="Content-Type: text/plain; charset=ISO-8859-1\r\n",
        )
        + _warc_record("conversion", "http://u.example/",
                       "caf\xe9 utf8".encode("utf-8"))
    )
    docs = {r.url: r.text
            for r in pio.warc_to_documents(
                pio.read_warc(spark, str(d))).collect()}
    # declared latin-1 decodes correctly; undeclared stays utf-8
    assert docs["http://l.example/"] == "caf\xe9 r\xe9sum\xe9"
    assert docs["http://u.example/"] == "caf\xe9 utf8"


# ------------------------------------------------- catalog schema cache


def _fresh_load(spark, data_dir, name, **kw):
    """Load ``name`` through a new Catalog; return (df, jobs started)."""
    return jobs_started(spark, lambda: Catalog(spark, data_dir, **kw).load(name))


def _write_pq(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def test_catalog_repeat_load_starts_no_job(spark, tmp_path):
    """A single parquet file resolves once per file signature: the
    miss reads the footer, and a second load through a FRESH Catalog
    returns the cached frame."""
    _write_pq(str(tmp_path / "t.parquet"), k=[1, 2, 3], v=["a", "b", "c"])
    first, n_first = _fresh_load(spark, str(tmp_path), "t")
    second, n_second = _fresh_load(spark, str(tmp_path), "t")
    assert n_first == 0  # the miss reads the footer on the driver
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_catalog_cache_sees_file_rewritten_in_place(spark, tmp_path):
    f = str(tmp_path / "t.parquet")
    _write_pq(f, k=[1, 2])
    assert _fresh_load(spark, str(tmp_path), "t")[0].columns == ["k"]
    assert _fresh_load(spark, str(tmp_path), "t")[1] == 0  # cached
    _write_pq(f, k=[3, 4, 5], extra=["x", "y", "z"])
    df, n = _fresh_load(spark, str(tmp_path), "t")
    assert n == 0
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(3, "x"), (4, "y"), (5, "z")]


def test_catalog_cache_sees_file_added_to_directory(spark, tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    _write_pq(str(d / "part-0.parquet"), k=[1, 2])
    assert _fresh_load(spark, str(tmp_path), "t")[0].count() == 2
    _write_pq(str(d / "part-1.parquet"), k=[3])
    df, n = _fresh_load(spark, str(tmp_path), "t")
    assert n >= 1
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]


def test_catalog_cache_follows_binary_as_string(spark, tmp_path):
    from pyspark.sql.types import BinaryType, StringType

    _write_pq(str(tmp_path / "t.parquet"), b=[b"ab", b"cd"])
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        df = _fresh_load(spark, str(tmp_path), "t")[0]
        assert df.schema["b"].dataType == BinaryType()
        spark.conf.set(key, "true")
        df = _fresh_load(spark, str(tmp_path), "t")[0]
        assert df.schema["b"].dataType == StringType()
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
        spark.conf.set(key, "false")
        df, n = _fresh_load(spark, str(tmp_path), "t")
        assert n == 0  # back to the first entry
        assert df.schema["b"].dataType == BinaryType()
    finally:
        spark.conf.set(key, prev)


def test_catalog_csv_hit_matches_miss(spark, tmp_path):
    """An ``inferSchema`` csv catalog returns the same schema and rows
    from the cached schema as from inference."""
    (tmp_path / "t.csv").write_text(
        "id,price,name,day\n1,2.5,a,2024-01-02\n2,,b c,2024-02-03\n")
    miss, n_miss = _fresh_load(spark, str(tmp_path), "t", fmt="csv")
    hit, n_hit = _fresh_load(spark, str(tmp_path), "t", fmt="csv")
    assert n_miss >= 1 and n_hit == 0
    assert [f.dataType.simpleString() for f in miss.schema] == [
        "int", "double", "string", "date"]
    assert hit.schema == miss.schema
    assert sorted(hit.collect(), key=repr) == sorted(miss.collect(), key=repr)


def test_catalog_nanosecond_timestamps(spark, tmp_path):
    """parquet TIMESTAMP(NANOS) columns surface as TimestampType with
    exact (truncated) microseconds, on the inferring load and on the
    cached one."""
    import pyarrow as pa
    from pyspark.sql.types import TimestampType

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999, 1_000]
    _write_pq(str(tmp_path / "t.parquet"), id=[0, 1, 2],
              ts=pa.array(ns, pa.timestamp("ns")))
    for _ in range(2):
        df, n = _fresh_load(spark, str(tmp_path), "t")
        assert df.schema["ts"].dataType == TimestampType()
        got = sorted(tuple(r) for r in df.select(
            "id", F.unix_micros("ts")).collect())
        assert got == [(i, v // 1000) for i, v in enumerate(ns)]
    assert n == 0  # the second load planned from the cached schema


def test_prql_build_on_warm_cache_starts_no_job(spark, catalog):
    """Pure-PRQL TPC-H programs build with zero Spark jobs once their
    tables' schemas are cached: only the drain runs jobs."""
    from __spark_entry__ import _PRQL_QUERIES

    text = _PRQL_QUERIES["q8_market_share"][0]
    compile_prql(text, Catalog(spark, catalog.data_dir))  # warm
    df, n = jobs_started(
        spark, lambda: compile_prql(text, Catalog(spark, catalog.data_dir)))
    assert n == 0
    assert df.count() > 0


def test_schema_cache_concurrent_use_stays_bounded(monkeypatch):
    """Loads from many threads share the cache: LRU bookkeeping and
    eviction never lose an entry they return or exceed the bound."""
    import sys
    import threading

    from prql_spark.sources import catalog as cat_mod

    monkeypatch.setattr(cat_mod, "_RELATION_CACHE_MAX", 8)
    monkeypatch.setattr(cat_mod, "_relations", type(cat_mod._relations)())
    errors = []

    def worker(w):
        try:
            for i in range(2000):
                key = ("k", (w * 7 + i) % 13)
                got = cat_mod._cache_get(key)
                assert got is None or got == key[1]
                cat_mod._cache_put(key, key[1])
                with cat_mod._relations_lock:
                    assert len(cat_mod._relations) <= 8
        except Exception as e:  # surfaced by the main thread
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,))
                   for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(cat_mod._relations) <= 8


def test_catalog_hit_returns_same_frame(spark, tmp_path):
    """A hit hands back the resolved frame itself: no Spark resolution
    on repeat loads, from any Catalog of the same session."""
    _write_pq(str(tmp_path / "t.parquet"), k=[1, 2])
    first = Catalog(spark, str(tmp_path)).load("t")
    second, n = _fresh_load(spark, str(tmp_path), "t")
    assert second is first and n == 0


def test_catalog_new_session_gets_own_entry(spark, tmp_path):
    """The key names the owning session: another session resolves its
    own frame and never gets this session's."""
    _write_pq(str(tmp_path / "t.parquet"), k=[1, 2])
    mine = Catalog(spark, str(tmp_path)).load("t")
    other = spark.newSession()
    theirs = Catalog(other, str(tmp_path)).load("t")
    assert theirs is not mine
    assert theirs.sparkSession is other and mine.sparkSession is spark
    assert Catalog(other, str(tmp_path)).load("t") is theirs
    assert Catalog(spark, str(tmp_path)).load("t") is mine
    assert sorted(theirs.collect()) == sorted(mine.collect())


def test_catalog_footer_failure_falls_back_to_inference(
        spark, tmp_path, monkeypatch, empty_relation_cache):
    """If the driver-side footer read raises, the load takes Spark's
    inferring read: same schema and rows, at the cost of its job."""
    from prql_spark.sources import catalog as cat_mod

    _write_pq(str(tmp_path / "t.parquet"), k=[1, 2, 3], v=["a", "b", None])
    footer, n_footer = _fresh_load(spark, str(tmp_path), "t")
    assert n_footer == 0

    def broken(spark, path):
        raise RuntimeError("footer unreadable")

    empty_relation_cache.clear()
    monkeypatch.setattr(cat_mod, "_footer_schema", broken)
    inferred, n_inferred = _fresh_load(spark, str(tmp_path), "t")
    assert n_inferred >= 1
    assert inferred is not footer
    assert inferred.schema == footer.schema
    assert sorted(inferred.collect(), key=repr) == sorted(
        footer.collect(), key=repr)


def _parity_files(spark, d):
    """Single parquet files of every kind the footer path must read
    exactly as Spark's inference does: the test tables, an
    arrow-written file of many types, an arrow INT96 file, and the
    12-type fixture written by Spark."""
    import datetime as dt
    import shutil
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from entries.oracle_check import TABLES
    from tests.conftest import SF_DIR

    files = [os.path.join(SF_DIR, f"{t}.parquet") for t in TABLES]
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), None]
    arrow = pa.table({
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([2, 3], pa.int16()),
        "i32": pa.array([None, 4], pa.int32()),
        "f32": pa.array([0.5, None], pa.float32()),
        "f64": [1e300, -0.0],
        "s": ["x", None],
        "b": [b"\x00\xff", b""],
        "flag": [True, None],
        "day": pa.array([dt.date(2024, 1, 2), None], pa.date32()),
        "ts_us": pa.array(ts, pa.timestamp("us")),
        "ts_ms_utc": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "ts_ns": pa.array(ts, pa.timestamp("ns")),
        "dec": pa.array([Decimal("12.34"), None], pa.decimal128(10, 2)),
        "arr": pa.array([[1, 2], None], pa.list_(pa.int32())),
        "st": pa.array([{"x": 1, "y": "a"}, None],
                       pa.struct([("x", pa.int32()), ("y", pa.string())])),
        "mp": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
    })
    files.append(os.path.join(d, "arrow.parquet"))
    pq.write_table(arrow, files[-1])
    files.append(os.path.join(d, "int96.parquet"))
    pq.write_table(arrow.select(["ts_us", "ts_ns", "s"]), files[-1],
                   use_deprecated_int96_timestamps=True)

    schema = (
        "l BIGINT, i INT, d DOUBLE, m DECIMAL(12,2), s STRING, "
        "b BINARY, f BOOLEAN, day DATE, ts TIMESTAMP, "
        "arr ARRAY<STRING>, st STRUCT<x: INT, y: STRING>, "
        "mp MAP<STRING, INT>"
    )
    rows = [
        (1, 2, 0.5, Decimal("1234567890.12"), "a", b"\x00\x01", True,
         dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
         ["p", "q"], (7, "z"), {"k": 1}),
        (9, -3, -1e300, Decimal("-0.01"), "", b"", False,
         dt.date(1970, 1, 1), dt.datetime(1999, 12, 31, 23, 59, 59),
         [], (None, None), {}),
        (20,) + (None,) * 11,
    ]
    out = os.path.join(d, "spark_out")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    files.append(os.path.join(d, "types.parquet"))
    shutil.copy(part, files[-1])
    return files


def test_catalog_footer_schema_matches_inference(
        spark, tmp_path, monkeypatch, empty_relation_cache):
    """The footer path gives Spark's inferred schema and the same rows
    for every kind of file, under each parquet type-mapping conf, and
    the Catalog load over it starts no job."""
    from prql_spark.sources import catalog as cat_mod

    files = _parity_files(spark, str(tmp_path))
    flips = [
        {},
        {"spark.sql.parquet.binaryAsString": "true"},
        {"spark.sql.parquet.int96AsTimestamp": "false"},
        {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"},
    ]
    prev = {k: spark.conf.get(k) for flip in flips for k in flip}
    try:
        for flip in flips:
            for k, v in prev.items():
                spark.conf.set(k, flip.get(k, v))
            for f in files:
                label = (os.path.basename(f), flip)
                d, name = os.path.dirname(f), os.path.basename(f)[:-8]
                try:
                    inferred = spark.read.parquet(f)
                except AnalysisException:
                    # INT96 with int96AsTimestamp off: Spark refuses the
                    # file, and so does the footer read and the load
                    with pytest.raises(AnalysisException):
                        cat_mod._footer_schema(spark, f)
                    empty_relation_cache.clear()
                    with pytest.raises(AnalysisException):
                        Catalog(spark, d).load(name)
                    continue
                schema = cat_mod._footer_schema(spark, f)
                assert schema == inferred.schema, label
                got = spark.read.schema(schema).parquet(f)
                assert sorted(map(repr, got.collect())) == sorted(
                    map(repr, inferred.collect())), label

                empty_relation_cache.clear()
                via_footer, n = _fresh_load(spark, d, name)
                assert n == 0, label
                empty_relation_cache.clear()
                with monkeypatch.context() as m:
                    m.setattr(cat_mod, "_footer_schema",
                              lambda spark, path: None)
                    via_inference = Catalog(spark, d).load(name)
                assert via_footer.schema == via_inference.schema, label
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_prql_build_on_cold_cache_starts_no_job(
        spark, catalog, empty_relation_cache):
    """Even the first compile of q8 (8 tables, one first use each)
    starts no Spark job before the drain: every table's schema comes
    from its footer on the driver."""
    from __spark_entry__ import _PRQL_QUERIES

    text = _PRQL_QUERIES["q8_market_share"][0]
    df, n = jobs_started(
        spark, lambda: compile_prql(text, Catalog(spark, catalog.data_dir)))
    assert n == 0
    assert df.count() > 0


def test_self_join_on_shared_frame_matches_oracle(
        spark, catalog, oracle, empty_relation_cache):
    """Two loads of one table in one plan are the same frame. q8 joins
    nation twice (n1, n2) and a PRQL self-join joins orders to itself;
    both still return the oracle's rows."""
    from __spark_entry__ import _PRQL_QUERIES

    assert spark.conf.get(
        "spark.sql.analyzer.failAmbiguousSelfJoin") == "true"
    assert Catalog(spark, catalog.data_dir).load("nation") is Catalog(
        spark, catalog.data_dir).load("nation")
    text, sql = _PRQL_QUERIES["q8_market_share"]
    assert_df_matches_sql(
        compile_prql(text, Catalog(spark, catalog.data_dir)), oracle, sql)

    self_join = """
from a=orders
join b=orders [a.o_custkey == b.o_custkey]
filter a.o_orderkey < b.o_orderkey
derive [gap = b.o_totalprice - a.o_totalprice]
group [a.o_custkey] (aggregate [n = count, lo = min gap, hi = max gap])
sort [o_custkey]
"""
    assert_df_matches_sql(
        compile_prql(self_join, Catalog(spark, catalog.data_dir)), oracle,
        """
SELECT a.o_custkey, count(*) AS n,
  min(b.o_totalprice - a.o_totalprice) AS lo,
  max(b.o_totalprice - a.o_totalprice) AS hi
FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
WHERE a.o_orderkey < b.o_orderkey
GROUP BY a.o_custkey ORDER BY a.o_custkey
""")


def test_ambiguous_ref_on_shared_frame_raises(spark, catalog):
    """A Dataset-bound column ref into a self-join of two loads of one
    table raises instead of resolving silently to one side."""
    a = Catalog(spark, catalog.data_dir).load("orders")
    b = Catalog(spark, catalog.data_dir).load("orders")
    with pytest.raises(AnalysisException, match="ambiguous"):
        a.join(b, "o_custkey").select(a["o_orderkey"]).collect()
