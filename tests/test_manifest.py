"""Manifest-committed versioned datasets (sources/manifest.py):
atomic commits, time travel, append semantics, zero-deletion-window
compaction, vacuum safety, commit races."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from prql_spark.sources.manifest import (
    CommitProtocol,
    RenameCommitProtocol,
    attach_stats,
    compact_snapshot,
    delete_snapshot,
    merge_snapshot,
    snapshot_history,
    snapshot_read,
    snapshot_restore,
    snapshot_write,
    vacuum_snapshot,
)
from tests.conftest import jobs_started


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_overwrite_append_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    r1 = snapshot_write(spark.range(0, 100), path)
    assert r1 == {"version": 1, "n_files": r1["n_files"], "operation": "overwrite"}
    r2 = snapshot_write(spark.range(100, 150), path, mode="append")
    assert r2["version"] == 2
    r3 = snapshot_write(spark.range(1000, 1010), path)  # overwrite
    assert r3["version"] == 3

    assert _ids(snapshot_read(spark, path, 1)) == list(range(100))
    assert _ids(snapshot_read(spark, path, 2)) == list(range(150))
    assert _ids(snapshot_read(spark, path)) == list(range(1000, 1010))

    hist = {r.version: r for r in snapshot_history(spark, path).collect()}
    assert hist[2].parent == 1 and hist[2].operation == "append"
    assert hist[3].operation == "overwrite"


def test_append_references_parent_files_without_rewrite(spark, tmp_path):
    path = str(tmp_path / "ref")
    snapshot_write(spark.range(100).coalesce(1), path)
    m1 = json.load(open(os.path.join(
        path, "_manifests", f"v{1:010d}.json")))
    snapshot_write(spark.range(100, 200).coalesce(1), path, mode="append")
    m2 = json.load(open(os.path.join(
        path, "_manifests", f"v{2:010d}.json")))
    # parent's physical files are referenced verbatim in the child
    assert set(f["path"] for f in m1["files"]) <= set(
        f["path"] for f in m2["files"]
    )


def test_compact_keeps_old_version_readable(spark, tmp_path):
    path = str(tmp_path / "cmp")
    snapshot_write(spark.range(5000).repartition(16), path)
    res = compact_snapshot(spark, path, target_mb=256)
    assert res["compacted"]
    assert res["n_files_before"] == 16 and res["n_files_after"] == 1
    # both versions readable, identical content — no deletion window
    assert _ids(snapshot_read(spark, path, 1)) == list(range(5000))
    assert _ids(snapshot_read(spark, path, 2)) == list(range(5000))
    # idempotent
    assert not compact_snapshot(spark, path, target_mb=256)["compacted"]


def test_vacuum_deletes_only_unreferenced(spark, tmp_path):
    path = str(tmp_path / "vac")
    snapshot_write(spark.range(1000).repartition(8), path)
    compact_snapshot(spark, path, target_mb=256)  # v2: 1 file
    snapshot_write(spark.range(50), path, mode="append")  # v3
    res = vacuum_snapshot(spark, path, keep_versions=2, min_age_s=0)
    assert res["kept_versions"] == [2, 3]
    assert res["dropped_files"] == 8  # v1's fragments only
    # retained versions still read perfectly
    assert _ids(snapshot_read(spark, path, 2)) == list(range(1000))
    assert _ids(snapshot_read(spark, path, 3)) == sorted(
        list(range(1000)) + list(range(50))
    )
    with pytest.raises(ValueError, match="not in"):
        snapshot_read(spark, path, 1)


def test_reader_ignores_staged_tmp_manifests(spark, tmp_path):
    path = str(tmp_path / "tmpm")
    snapshot_write(spark.range(10), path)
    # a dying writer's staged (never-renamed) manifest must be invisible
    stage = os.path.join(path, "_manifests", ".v0000000002.json.zz.tmp")
    with open(stage, "w") as f:
        f.write('{"version": 2, "files": []}')
    assert _ids(snapshot_read(spark, path)) == list(range(10))
    assert snapshot_history(spark, path).count() == 1


def test_commit_race_retries_onto_next_version(spark, tmp_path):
    path = str(tmp_path / "race")
    snapshot_write(spark.range(10), path)
    # simulate a concurrent winner claiming v2 between list and rename:
    # pre-place v2 so the writer's first attempt loses the rename
    with open(
        os.path.join(path, "_manifests", f"v{2:010d}.json"), "w"
    ) as f:
        json.dump(
            {"version": 2, "parent": 1, "operation": "overwrite",
             "commit": "x", "files": []},
            f,
        )
    res = snapshot_write(spark.range(20, 30), path, mode="overwrite")
    assert res["version"] == 3
    assert _ids(snapshot_read(spark, path, 3)) == list(range(20, 30))


def test_failed_write_leaves_no_new_version(spark, tmp_path):
    path = str(tmp_path / "fail")
    snapshot_write(spark.range(10), path)
    df = spark.range(5).withColumn(
        "boom", F.expr("assert_true(id < 3)")
    )
    with pytest.raises(Exception):
        snapshot_write(df, path, mode="append")
    # the dead writer's staged files are unreferenced; the table is
    # exactly as before
    assert snapshot_history(spark, path).count() == 1
    assert _ids(snapshot_read(spark, path)) == list(range(10))


def test_read_plans_from_manifest_not_directory_listing(spark, tmp_path):
    # a stray parquet file inside data/ that no manifest references
    # must NOT appear in any read — the manifest is the file index
    path = str(tmp_path / "stray")
    snapshot_write(spark.range(10).coalesce(1), path)
    stray_dir = os.path.join(path, "data", "orphaned")
    spark.range(500, 510).coalesce(1).write.parquet(stray_dir)
    assert _ids(snapshot_read(spark, path)) == list(range(10))


def test_append_schema_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "schem")
    snapshot_write(spark.range(10).withColumn("v", F.lit("x")), path)
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_write(
            spark.range(10).withColumn("v", F.lit(1)), path, mode="append"
        )
    # same columns in different order is fine (signature is sorted)
    snapshot_write(
        spark.range(5).withColumn("v", F.lit("y")).select("v", "id"),
        path, mode="append",
    )


def test_catalog_loads_manifest_table(spark, tmp_path):
    from prql_spark import compile_prql
    from prql_spark.sources.catalog import Catalog

    snapshot_write(
        spark.range(30).withColumnRenamed("id", "k"),
        str(tmp_path / "versions"),
    )
    snapshot_write(
        spark.range(30, 40).withColumnRenamed("id", "k"),
        str(tmp_path / "versions"), mode="append",
    )
    cat = Catalog(spark, str(tmp_path))
    assert cat.load("versions").count() == 40       # latest
    assert cat.load("versions", version=1).count() == 30  # time travel
    # PRQL `from` resolves the manifest table like any other
    out = compile_prql("from versions\naggregate [n = count]", cat)
    assert out.collect()[0].n == 40
    with pytest.raises(ValueError, match="version"):
        cat.load("versions", version=99)


def test_snapshot_changes_incremental_read(spark, tmp_path):
    from prql_spark.sources.manifest import snapshot_changes

    path = str(tmp_path / "incr")
    snapshot_write(spark.range(100), path)
    snapshot_write(spark.range(100, 180), path, mode="append")
    snapshot_write(spark.range(180, 200), path, mode="append")
    assert _ids(snapshot_changes(spark, path, 1)) == list(range(100, 200))
    assert _ids(snapshot_changes(spark, path, 2)) == list(range(180, 200))
    assert snapshot_changes(spark, path, 3).count() == 0  # up to date
    with pytest.raises(ValueError, match="not in"):
        snapshot_changes(spark, path, 9)
    # an overwrite breaks added-files == added-rows: must raise
    snapshot_write(spark.range(5), path)  # v4 overwrite
    with pytest.raises(ValueError, match="not append"):
        snapshot_changes(spark, path, 2)


def test_stray_file_in_commit_dir_not_read(spark, tmp_path):
    # dir-grouped planning must fall back to exact file paths when a
    # commit dir holds a file the manifest does not reference
    path = str(tmp_path / "straym")
    snapshot_write(spark.range(10).coalesce(1), path)
    m = json.load(open(os.path.join(path, "_manifests", f"v{1:010d}.json")))
    commit_dir = os.path.dirname(
        os.path.join(path, m["files"][0]["path"])
    )
    spark.range(700, 705).coalesce(1).write.parquet(
        str(tmp_path / "side")
    )
    import glob as _g
    import shutil as _sh

    (side_file,) = _g.glob(str(tmp_path / "side" / "*.parquet"))
    _sh.copy(side_file, os.path.join(commit_dir, "stray.parquet"))
    assert _ids(snapshot_read(spark, path)) == list(range(10))


@pytest.mark.parametrize("stray_dir", [None, "other=1", "bucket=zz"])
def test_stray_file_in_partitioned_commit_dir_not_read(
    spark, tmp_path, stray_dir
):
    # the partitioned read plans each commit dir with basePath; a file
    # the manifest does not reference is not read, whether it sits in
    # a col=value dir (None), under a partition column the table does
    # not have, or under a value Spark cannot cast (both make Spark
    # refuse the one-path plan)
    path = str(tmp_path / "strayp")
    df = spark.range(10).withColumn("bucket", (F.col("id") % 2).cast("int"))
    snapshot_write(df, path, partition_by=("bucket",))
    m = json.load(open(os.path.join(path, "_manifests", f"v{1:010d}.json")))
    part_dir = os.path.dirname(os.path.join(path, m["files"][0]["path"]))
    assert os.path.basename(part_dir).startswith("bucket=")
    if stray_dir is not None:
        part_dir = os.path.join(os.path.dirname(part_dir), stray_dir)
        os.makedirs(part_dir)
    spark.range(700, 705).coalesce(1).write.parquet(str(tmp_path / "side"))
    import glob as _g
    import shutil as _sh

    (side_file,) = _g.glob(str(tmp_path / "side" / "*.parquet"))
    _sh.copy(side_file, os.path.join(part_dir, "stray.parquet"))
    got = snapshot_read(spark, path)
    assert sorted((r.id, r.bucket) for r in got.collect()) == [
        (i, i % 2) for i in range(10)
    ]


def test_stray_file_not_read_by_schema_inference(spark, tmp_path):
    # a schema-evolved version lets Spark infer (mergeSchema), and
    # inference reads every listed footer: the listing that finds the
    # stray must come from a plan that only lists, or a non-parquet
    # stray fails the read
    path = str(tmp_path / "straye")
    snapshot_write(spark.range(10).coalesce(1), path)
    snapshot_write(
        spark.range(10, 15).withColumn("lang", F.lit("en")).coalesce(1),
        path, mode="append", allow_new_columns=True,
    )
    m = json.load(open(os.path.join(path, "_manifests", f"v{2:010d}.json")))
    assert m["merge_schema"]
    commit_dir = os.path.dirname(os.path.join(path, m["files"][0]["path"]))
    with open(os.path.join(commit_dir, "stray.parquet"), "w") as f:
        f.write("not parquet")
    assert _ids(snapshot_read(spark, path)) == list(range(15))


class _ListingRefused:
    """A Hadoop FileSystem proxy whose ``listFiles`` raises while
    ``state["reading"]`` is set; every other call reaches the real
    FileSystem."""

    def __init__(self, fs, state):
        self._fs, self._state = fs, state

    def listFiles(self, *args):
        if self._state["reading"]:
            raise AssertionError("listFiles while planning a read")
        return self._fs.listFiles(*args)

    def __getattr__(self, name):
        return getattr(self._fs, name)


@pytest.mark.parametrize("partition_by", [None, ("bucket",)])
def test_reads_take_the_listing_from_spark(
    spark, tmp_path, monkeypatch, partition_by
):
    """Reads plan each commit dir from Spark's own file index, never a
    Python-side listing, and return the right rows over several
    commits, one of whose dirs holds files a merge superseded."""
    from prql_spark.sources import manifest as mf
    from prql_spark.sources.manifest import snapshot_pruned_read

    state = {"reading": False}
    real_fs = mf._fs

    def proxied_fs(spark_, path_):
        fs, jvm = real_fs(spark_, path_)
        return _ListingRefused(fs, state), jvm

    monkeypatch.setattr(mf, "_fs", proxied_fs)

    def batch(lo, hi):
        return spark.range(lo, hi, numPartitions=2).withColumn(
            "bucket", (F.col("id") % 3).cast("int")
        )

    def rows(df):
        return sorted((r.id, r.bucket) for r in df.collect())

    path = str(tmp_path / "spark_listing")
    kw = {"partition_by": partition_by, "stats_cols": ("id",)}
    snapshot_write(batch(0, 100), path, **kw)
    snapshot_write(batch(100, 200), path, mode="append", **kw)
    snapshot_write(batch(200, 300), path, mode="append", **kw)
    # an identity update rewrites the files holding ids 150-154
    merge_snapshot(spark, path, batch(150, 155), on=("id",))
    want = [(i, i % 3) for i in range(300)]

    state["reading"] = True
    assert rows(snapshot_read(spark, path)) == want
    assert rows(snapshot_read(spark, path, 1)) == want[:100]
    df, kept, total = snapshot_pruned_read(spark, path, {"id": (120, 180)})
    assert 0 < kept <= total
    assert rows(df.where("id BETWEEN 120 AND 180")) == want[120:181]


@pytest.mark.parametrize("partition_by", [None, ("bucket",)])
def test_deleted_referenced_file_raises(spark, tmp_path, partition_by):
    """A file the manifest references but the disk lost fails the read
    at planning; it never reads as a table with fewer rows."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "lost")
    df = spark.range(100, numPartitions=4).withColumn(
        "bucket", (F.col("id") % 2).cast("int")
    )
    snapshot_write(df, path, partition_by=partition_by)
    m = json.load(open(os.path.join(path, "_manifests", f"v{1:010d}.json")))
    os.remove(os.path.join(path, m["files"][0]["path"]))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        snapshot_read(spark, path)


def test_attach_stats_and_file_skipping_scan(spark, tmp_path):
    from prql_spark.sources.manifest import (
        attach_stats,
        snapshot_changes,
        snapshot_scan,
    )

    path = str(tmp_path / "stats")
    # sorted write -> tight disjoint per-file ranges (16 files)
    df = spark.range(16000).withColumn("v", F.col("id") * 2)
    df.repartitionByRange(16, "id").sortWithinPartitions("id").write \
        .parquet(os.path.join(path, "data", "c0"))
    # route through snapshot_write for a real commit instead
    import shutil
    shutil.rmtree(path)
    snapshot_write(
        df.repartitionByRange(16, "id").sortWithinPartitions("id"), path
    )
    res = attach_stats(spark, path, ("id",))
    assert res["files_with_stats"] == res["n_files"] == 16

    out = snapshot_scan(spark, path, "id", lo=4000, hi=4999)
    got = sorted(r.id for r in out.collect())
    assert got == list(range(4000, 5000))
    # the planner touched ~1-2 files, not 16
    n_input_files = out.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    assert n_input_files <= 3

    # exactness without stats: files lacking stats are always read
    snapshot_write(
        spark.createDataFrame([(4500, 9000)], "id long, v long"),
        path, mode="append",
    )
    out2 = snapshot_scan(spark, path, "id", lo=4000, hi=4999)
    assert out2.count() == 1001  # planted extra row included

    # a stats commit is safe to cross for incremental reads
    assert sorted(
        r.id for r in snapshot_changes(spark, path, 1).collect()
    ) == [4500]

    # bounds with no overlapping file -> empty, correct schema
    empty = snapshot_scan(spark, path, "id", lo=10**9)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "v"}


# ------------------------------------------------------------------
# property: random op sequences vs a pure-Python model of the table
# ------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("overwrite"), st.integers(1, 30)),
        st.tuples(st.just("append"), st.integers(1, 30)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("optimize"), st.just(0)),
        st.tuples(st.just("merge"), st.integers(1, 10)),
        st.tuples(st.just("delete"), st.integers(1, 10)),
        st.tuples(st.just("racing_compact"), st.integers(1, 5)),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_manifest_matches_model_under_random_ops(spark, tmp_path_factory, ops):
    """Any sequence of overwrite/append/compact/optimize/merge/
    delete/vacuum — including an append RACING a compaction — leaves
    every RETAINED version's content exactly what a trivial Python
    model predicts: the whole commit protocol, not one scenario. A
    racing append must surface as a conflict raise (the append wins;
    the compaction commits nothing) — never a lost update."""
    from prql_spark.sources import manifest as mf
    from prql_spark.sources.manifest import (
        compact_snapshot,
        delete_snapshot,
        merge_snapshot,
        optimize_snapshot,
        snapshot_read,
        vacuum_snapshot,
    )

    path = str(tmp_path_factory.mktemp("model") / "tbl")
    model: dict[int, list[int]] = {}  # version -> expected ids
    next_id = 0
    latest: list[int] = []
    retained = set()

    def commit(ids):
        model[len(model) + 1] = list(ids)
        retained.add(len(model))

    for op, arg in ops:
        if op == "overwrite":
            ids = list(range(next_id, next_id + arg))
            next_id += arg
            snapshot_write(
                spark.createDataFrame([(i,) for i in ids], "id long"),
                path,
            )
            latest = ids
            commit(latest)
        elif op == "append":
            if not model:
                continue  # append needs a parent to be interesting
            ids = list(range(next_id, next_id + arg))
            next_id += arg
            snapshot_write(
                spark.createDataFrame([(i,) for i in ids], "id long"),
                path, mode="append",
            )
            latest = latest + ids
            commit(latest)
        elif op == "compact":
            if not model:
                continue
            if compact_snapshot(spark, path, target_mb=1024)["compacted"]:
                commit(latest)
        elif op == "optimize":
            if not model:
                continue
            optimize_snapshot(spark, path, zorder_by=("id",), target_files=1)
            commit(latest)
        elif op == "merge":
            if not model:
                continue
            ids = list(range(next_id, next_id + arg))
            next_id += arg
            src_ids = ids + latest[:1]  # inserts + one same-row upsert
            merge_snapshot(
                spark, path,
                spark.createDataFrame([(i,) for i in src_ids], "id long"),
                on=("id",),
            )
            latest = sorted(set(latest) | set(ids))
            commit(latest)
        elif op == "delete":
            if not model or not latest:
                continue
            cut = next_id - arg
            remaining = [i for i in latest if i < cut]
            if remaining == latest or not remaining:
                continue  # noop or empty-table delete: skip
            delete_snapshot(spark, path, f"id >= {cut}")
            latest = remaining
            commit(latest)
        elif op == "racing_compact":
            if not model:
                continue
            real = mf._stage_commit
            raced: dict = {"ids": list(range(next_id, next_id + arg))}

            def stage_then_race(df, b, f_, j, *a, **kw):
                out = real(df, b, f_, j, *a, **kw)
                mf._stage_commit = real
                snapshot_write(
                    spark.createDataFrame(
                        [(i,) for i in raced["ids"]], "id long"
                    ),
                    path, mode="append",
                )
                raced["fired"] = True
                return out

            mf._stage_commit = stage_then_race
            try:
                res = compact_snapshot(spark, path, target_mb=1024)
                # if the compactor staged, the race fired and the
                # commit MUST have raised — reaching here means no-op
                assert not raced.get("fired") and not res["compacted"]
            except RuntimeError:
                assert raced.get("fired")
                next_id += arg
                latest = latest + raced["ids"]
                commit(latest)
            finally:
                mf._stage_commit = real
        else:  # vacuum
            if not model:
                continue
            keep = sorted(retained)[-arg:]
            vacuum_snapshot(spark, path, keep_versions=arg, min_age_s=0)
            retained.intersection_update(keep)
    for v in sorted(retained):
        got = sorted(r.id for r in snapshot_read(spark, path, v).collect())
        assert got == sorted(model[v]), (v, ops)


def test_snapshot_restore_rolls_back(spark, tmp_path):
    from prql_spark.sources.manifest import (
        snapshot_history,
        snapshot_restore,
    )

    path = str(tmp_path / "rest")
    snapshot_write(spark.range(100), path)                    # v1 good
    snapshot_write(spark.range(5), path)                      # v2 garbage
    res = snapshot_restore(spark, path, 1)
    assert res == {"version": 3, "restored_from": 1, "n_files": res["n_files"]}
    assert _ids(snapshot_read(spark, path)) == list(range(100))
    # the bad version stays inspectable until vacuumed
    assert _ids(snapshot_read(spark, path, 2)) == list(range(5))
    hist = {r.version: r for r in snapshot_history(spark, path).collect()}
    assert hist[3].operation == "restore"
    with pytest.raises(ValueError, match="not in"):
        snapshot_restore(spark, path, 77)


def test_zorder_snapshot_prunes_on_both_columns(spark, tmp_path):
    """The layout levers compose: z-order clustering -> snapshot
    commit -> footer stats -> file-skipping scans that prune on
    EITHER z column from the same single layout."""
    from prql_spark.sources.layout import zorder_frame
    from prql_spark.sources.manifest import attach_stats, snapshot_scan

    path = str(tmp_path / "ztbl")
    df = spark.range(40000).selectExpr(
        "id % 200 AS a", "CAST(id / 200 AS LONG) AS b", "id AS v"
    )
    snapshot_write(zorder_frame(df, ["a", "b"], n_files=16), path)
    attach_stats(spark, path, ("a", "b"))

    def n_files(out):
        return out.select(
            F.input_file_name().alias("f")
        ).distinct().count()

    scan_a = snapshot_scan(spark, path, "a", lo=10, hi=19)
    assert scan_a.count() == 10 * 200
    scan_b = snapshot_scan(spark, path, "b", lo=0, hi=19)
    assert scan_b.count() == 20 * 200
    # both selective scans touch a proper subset of the 16 files —
    # the same layout serves range predicates on either column
    assert n_files(scan_a) < 16
    assert n_files(scan_b) < 16


def test_schema_evolution_add_column(spark, tmp_path):
    from prql_spark.sources.manifest import snapshot_history

    path = str(tmp_path / "evolve")
    snapshot_write(spark.range(10), path)
    wide = spark.range(10, 15).withColumn("lang", F.lit("en"))
    # without the opt-in: still rejected
    with pytest.raises(ValueError, match="allow_new_columns"):
        snapshot_write(wide, path, mode="append")
    snapshot_write(wide, path, mode="append", allow_new_columns=True)
    out = snapshot_read(spark, path)
    assert set(out.columns) == {"id", "lang"}
    rows = {r.id: r.lang for r in out.collect()}
    assert len(rows) == 15
    assert rows[3] is None and rows[12] == "en"  # old rows null-fill
    # evolution is sticky: later same-schema appends keep merging
    snapshot_write(
        spark.range(15, 18).withColumn("lang", F.lit("de")),
        path, mode="append",
    )
    assert snapshot_read(spark, path).count() == 18
    # the old version still reads with its own narrow schema
    assert snapshot_read(spark, path, 1).columns == ["id"]
    # dropping a column is never allowed
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_write(
            spark.range(3), path, mode="append", allow_new_columns=True
        )
    assert snapshot_history(spark, path).count() == 3


def test_validate_snapshot_fsck(spark, tmp_path):
    from prql_spark.sources.manifest import (
        validate_snapshot,
        vacuum_snapshot,
    )

    path = str(tmp_path / "fsck")
    snapshot_write(spark.range(100).coalesce(2), path)
    snapshot_write(spark.range(100, 120), path, mode="append")
    rep = validate_snapshot(spark, path)
    assert rep["ok"] and rep["versions"] == [1, 2]

    # vacuum keeps the chain valid
    vacuum_snapshot(spark, path, keep_versions=1, min_age_s=0)
    assert validate_snapshot(spark, path)["ok"]

    # corrupt: delete one referenced data file
    m = json.load(open(os.path.join(path, "_manifests", f"v{2:010d}.json")))
    victim = os.path.join(path, m["files"][0]["path"])
    os.remove(victim)
    rep = validate_snapshot(spark, path)
    assert not rep["ok"]
    assert rep["missing_files"] == [m["files"][0]["path"]]

    # corrupt: truncate another referenced file
    other = os.path.join(path, m["files"][1]["path"])
    with open(other, "ab") as f:
        f.write(b"x")
    rep = validate_snapshot(spark, path)
    assert m["files"][1]["path"] in rep["size_mismatches"]


# ------------------------------------------------------------------
# round-9 hardenings: commit-race rebase, vacuum grace window,
# write-time stats, vacuum-surviving exactly-once ledger, local
# rename contract
# ------------------------------------------------------------------


def test_attach_stats_rebases_onto_head_never_rolls_back(spark, tmp_path):
    """A stats commit racing (or explicitly targeting) an older
    version must publish the HEAD's file list with stats merged in by
    path — republishing the stale list would silently drop the newer
    commit's files (unintended rollback / data loss)."""
    from prql_spark.sources.manifest import attach_stats

    path = str(tmp_path / "rebase")
    snapshot_write(spark.range(100).coalesce(2), path)            # v1
    snapshot_write(spark.range(100, 150), path, mode="append")    # v2
    # stats computed for v1's files, commit lands on top of v2
    res = attach_stats(spark, path, ("id",), version=1)
    assert res["version"] == 3
    assert res["files_with_stats"] == 2  # v1's two files only
    # the append's rows survived the stats commit
    assert _ids(snapshot_read(spark, path)) == list(range(150))
    m = json.load(open(os.path.join(path, "_manifests", f"v{3:010d}.json")))
    with_stats = [f for f in m["files"] if "stats" in f]
    without = [f for f in m["files"] if "stats" not in f]
    assert len(with_stats) == 2 and len(without) >= 1


def test_vacuum_grace_window_protects_staged_commit(spark, tmp_path):
    """Unreferenced-but-YOUNG files are a concurrent writer's staged
    commit until proven otherwise: vacuum must skip them inside the
    grace window and reap them only when old (or min_age_s=0)."""
    import glob as _g
    import time

    path = str(tmp_path / "grace")
    snapshot_write(spark.range(100).coalesce(1), path)   # v1
    snapshot_write(spark.range(5).coalesce(1), path)     # v2 overwrite
    # v1's file is unreferenced under keep_versions=1 but freshly
    # written — the default grace window must protect it
    res = vacuum_snapshot(spark, path, keep_versions=1)
    assert res["dropped_files"] == 0
    assert res["skipped_young_files"] >= 1
    v1_files = _g.glob(os.path.join(path, "data", "*", "*.parquet"))
    assert len(v1_files) == 2  # both commits' files still on disk
    # age the orphan out of the window -> reaped
    old = time.time() - 7200
    for f in _g.glob(os.path.join(path, "data", "*", "*")):
        os.utime(f, (old, old))
    res = vacuum_snapshot(spark, path, keep_versions=1)
    assert res["dropped_files"] == 1
    assert _ids(snapshot_read(spark, path)) == list(range(5))


def test_write_time_stats_power_file_skipping(spark, tmp_path):
    """snapshot_write(stats_cols=...) embeds exact per-file ranges at
    commit time — no separate attach_stats pass — and snapshot_scan
    prunes on them. Runs against a scheme-qualified file:// path to
    pin that the whole path goes through Hadoop's FS API (object
    stores use the same code), where driver-side attach_stats cannot."""
    from prql_spark.sources.manifest import snapshot_scan

    path = "file://" + str(tmp_path / "wstats")
    df = spark.range(16000).withColumn("v", F.col("id") * 2)
    snapshot_write(
        df.repartitionByRange(16, "id").sortWithinPartitions("id"),
        path, stats_cols=("id",),
    )
    out = snapshot_scan(spark, path, "id", lo=4000, hi=4999)
    assert sorted(r.id for r in out.collect()) == list(range(4000, 5000))
    n_input_files = out.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    assert n_input_files <= 3  # skipped ~14 of 16 files
    # appends keep the parent's stats and add their own
    snapshot_write(
        spark.createDataFrame([(99999, 0)], "id long, v long"),
        path, mode="append", stats_cols=("id",),
    )
    out2 = snapshot_scan(spark, path, "id", lo=99000)
    assert [r.id for r in out2.collect()] == [99999]
    assert out2.select(
        F.input_file_name().alias("f")
    ).distinct().count() == 1


def test_stream_high_water_survives_vacuum_and_restore(spark, tmp_path):
    """The exactly-once ledger must outlive manifest retention: every
    commit carries the per-stream high-water map forward, so the
    latest manifest alone answers the replay check after a vacuum —
    and a data restore never rolls the ledger back."""
    from prql_spark.sources.manifest import (
        committed_epochs,
        snapshot_restore,
        stream_high_water,
    )

    path = str(tmp_path / "hw")
    snapshot_write(
        spark.range(10), path, mode="append",
        extra={"stream_id": "s1", "epoch": 0},
    )
    snapshot_write(
        spark.range(10, 20), path, mode="append",
        extra={"stream_id": "s1", "epoch": 1},
    )
    assert stream_high_water(spark, path, "s1") == 1
    vacuum_snapshot(spark, path, keep_versions=1, min_age_s=0)
    # the per-epoch ledger rows are gone…
    assert committed_epochs(spark, path, "s1") == {1}
    # …but the high water is carried in the retained manifest
    assert stream_high_water(spark, path, "s1") == 1
    assert stream_high_water(spark, path, "other") == -1
    # an overwrite (no stream keys) still carries the map forward
    snapshot_write(spark.range(3), path)
    assert stream_high_water(spark, path, "s1") == 1
    # restore rolls back data, never the ledger
    v = max(
        r.version for r in snapshot_history(spark, path).collect()
    )
    snapshot_restore(spark, path, v - 1)
    assert stream_high_water(spark, path, "s1") == 1


def test_local_rename_refuses_existing_destination(spark, tmp_path):
    """Pin the commit-point contract on the local filesystem: a
    second publish of the SAME version name must lose (return False)
    — Hadoop's RawLocalFileSystem rename refuses an existing
    destination, so the loser of a race cannot clobber the winner's
    manifest (the module docstring's honesty depends on this)."""
    from prql_spark.sources.manifest import _fs, _write_text_atomic

    base = str(tmp_path / "atomic")
    os.makedirs(base)
    fs, jvm = _fs(spark, base)
    assert _write_text_atomic(fs, jvm, base, "v1.json", '{"a": 1}')
    assert not _write_text_atomic(fs, jvm, base, "v1.json", '{"a": 2}')
    with open(os.path.join(base, "v1.json")) as f:
        assert json.load(f) == {"a": 1}  # winner's content intact
    # the loser's tmp stage was cleaned up
    assert [n for n in os.listdir(base) if n.endswith(".tmp")] == []


def test_prql_filter_pushdown_into_file_skipping(spark, tmp_path):
    """PRQL `from tbl | filter k >= a and k <= b` over a
    stats-covered manifest table must open only the files whose
    manifest ranges overlap — the declarative path gets the same
    100 TB file-skipping lever as the Python snapshot_scan API.
    Non-sargable predicates and pipelines that transform before
    filtering stay on the unpruned plan, always exact."""
    from prql_spark import compile_prql
    from prql_spark.sources.catalog import Catalog

    snapshot_write(
        spark.range(16000).withColumnRenamed("id", "k")
        .withColumn("v", F.col("k") * 2)
        .repartitionByRange(16, "k").sortWithinPartitions("k"),
        str(tmp_path / "mt"), stats_cols=("k",),
    )
    cat = Catalog(spark, str(tmp_path))

    def n_files(df):
        # plan-level: the files the scan would OPEN (inputFiles),
        # not just the files whose rows survive the filter
        return len(df.inputFiles())

    out = compile_prql("from mt\nfilter k >= 4000 and k <= 4999", cat)
    assert sorted(r.k for r in out.collect()) == list(range(4000, 5000))
    assert n_files(out) <= 3  # skipped ~14 of 16 files

    # range-membership form prunes the same way
    out2 = compile_prql("from mt\nfilter (k | in 100..199)", cat)
    assert out2.count() == 100
    assert n_files(out2) <= 3

    # filter through an alias still resolves the column
    out3 = compile_prql("from t = mt\nfilter t.k < 1000", cat)
    assert out3.count() == 1000
    assert n_files(out3) <= 3

    # non-sargable predicate: exact, unpruned
    out4 = compile_prql("from mt\nfilter k % 4000 == 0", cat)
    assert sorted(r.k for r in out4.collect()) == [0, 4000, 8000, 12000]
    assert n_files(out4) == 16

    # a derive between from and filter disables pushdown, stays exact
    out5 = compile_prql(
        "from mt\nderive k2 = k + 0\nfilter k2 >= 15000", cat
    )
    assert out5.count() == 1000


# ---------------------------------------------------------------- #
# partition specs (snapshot_write(partition_by=...))               #
# ---------------------------------------------------------------- #


def _mk_part_df(spark):
    """4 partitions incl. a NULL and a hive-escaped value (colon)."""
    rows = []
    for i in range(400):
        ds = [None, "2024-01-01", "a:b c", "z"][i % 4]
        rows.append((i, ds, float(i)))
    return spark.createDataFrame(
        rows, "id INT, ds STRING, v DOUBLE"
    )


def test_partitioned_write_read_roundtrip(spark, tmp_path):
    """Rows, schema (incl. the partition column's TYPE and the
    original column ORDER), NULL partitions and hive-escaped values
    all survive the round trip."""
    path = str(tmp_path / "pt")
    df = _mk_part_df(spark)
    res = snapshot_write(df, path, partition_by=("ds",))
    assert res["version"] == 1
    back = snapshot_read(spark, path)
    assert back.columns == ["id", "ds", "v"]  # writer's order, ds restored
    assert dict(back.dtypes)["ds"] == "string"  # no path inference
    assert sorted(
        (r.id, r.ds, r.v) for r in back.collect()
    ) == sorted((r.id, r.ds, r.v) for r in df.collect())


def test_partitioned_int_column_keeps_type(spark, tmp_path):
    path = str(tmp_path / "pti")
    df = spark.range(100).withColumn(
        "bucket", (F.col("id") % 5).cast("int")
    )
    snapshot_write(df, path, partition_by=("bucket",))
    back = snapshot_read(spark, path)
    assert dict(back.dtypes)["bucket"] == "int"
    assert sorted(r.id for r in back.collect()) == list(range(100))


def test_partitioned_append_requires_same_partitioning(spark, tmp_path):
    path = str(tmp_path / "pa")
    df = _mk_part_df(spark)
    snapshot_write(df, path, partition_by=("ds",))
    # same partitioning appends fine; time travel sees both versions
    snapshot_write(
        df.withColumn("id", F.col("id") + 1000), path,
        mode="append", partition_by=("ds",),
    )
    assert snapshot_read(spark, path).count() == 800
    assert snapshot_read(spark, path, 1).count() == 400
    # different (or missing) partitioning raises
    with pytest.raises(ValueError, match="partitioning mismatch"):
        snapshot_write(df, path, mode="append")
    with pytest.raises(ValueError, match="partitioning mismatch"):
        snapshot_write(df, path, mode="append", partition_by=("id",))


def test_partition_values_prune_files(spark, tmp_path):
    """Partition values become [v, v] manifest stats at write time
    (no scan, no attach_stats call) — snapshot_scan and
    snapshot_pruned_read open only matching hive dirs."""
    from prql_spark.sources.manifest import (
        snapshot_pruned_read,
        snapshot_scan,
    )

    path = str(tmp_path / "pp")
    snapshot_write(_mk_part_df(spark), path, partition_by=("ds",))
    total = len(snapshot_read(spark, path).inputFiles())

    hit = snapshot_scan(spark, path, "ds", lo="z", hi="z")
    assert sorted(r.id for r in hit.collect()) == list(range(3, 400, 4))
    assert len(hit.inputFiles()) < total
    # NULL-partition files are skipped EXACTLY (NULL >= x never
    # holds), not conservatively kept — only the z dir is read
    assert all("ds=z" in f for f in hit.inputFiles())

    df, kept, n = snapshot_pruned_read(
        spark, path, {"ds": ("2024-01-01", "2024-12-31")}
    )
    assert kept < n
    files = df.inputFiles()
    assert files and all("ds=2024-01-01" in f for f in files)


def test_partition_pruning_int_typed(spark, tmp_path):
    from prql_spark.sources.manifest import snapshot_scan

    path = str(tmp_path / "ppi")
    df = spark.range(1000).withColumn(
        "bucket", (F.col("id") % 8).cast("int")
    )
    snapshot_write(df, path, partition_by=("bucket",))
    hit = snapshot_scan(spark, path, "bucket", lo=6, hi=7)
    assert hit.count() == 250
    assert all(
        "bucket=6" in f or "bucket=7" in f for f in hit.inputFiles()
    )


def test_prql_pushdown_on_partition_column(spark, tmp_path):
    """The declarative path: `from tbl | filter pcol == x` over a
    partitioned manifest table opens only that partition's files —
    partition pruning via the same stats machinery, zero compiler
    changes."""
    from prql_spark import compile_prql
    from prql_spark.sources.catalog import Catalog

    snapshot_write(
        _mk_part_df(spark), str(tmp_path / "mtp"), partition_by=("ds",)
    )
    cat = Catalog(spark, str(tmp_path))
    out = compile_prql('from mtp\nfilter ds == "z"\nsort id', cat)
    assert [r.id for r in out.collect()] == list(range(3, 400, 4))
    assert all("ds=z" in f for f in out.inputFiles())


def test_snapshot_partitions_listing(spark, tmp_path):
    from prql_spark.sources.manifest import snapshot_partitions

    path = str(tmp_path / "pl")
    snapshot_write(_mk_part_df(spark), path, partition_by=("ds",))
    rows = snapshot_partitions(spark, path).collect()
    assert [r.ds for r in rows] == [None, "2024-01-01", "a:b c", "z"]
    assert all(r.n_files >= 1 and r.total_bytes > 0 for r in rows)
    # unpartitioned table raises
    snapshot_write(spark.range(10), str(tmp_path / "flat"))
    with pytest.raises(ValueError, match="not partitioned"):
        snapshot_partitions(spark, str(tmp_path / "flat"))


def test_partitioned_compact_and_vacuum(spark, tmp_path):
    """Compaction keeps the partition spec (one file per hive dir),
    vacuum reclaims the old version's files — including the hive
    NULL dir, which the hidden-path rule must NOT protect."""
    path = str(tmp_path / "pcv")
    df = _mk_part_df(spark).repartition(8)
    snapshot_write(df, path, partition_by=("ds",))
    m1 = json.load(open(os.path.join(
        path, "_manifests", f"v{1:010d}.json")))
    assert len(m1["files"]) > 4  # several files per partition
    res = compact_snapshot(spark, path, target_mb=1024)
    assert res["compacted"] and res["n_files_after"] == 4
    m2 = json.load(open(os.path.join(
        path, "_manifests", f"v{2:010d}.json")))
    assert m2["partition_by"] == ["ds"]
    assert snapshot_read(spark, path).count() == 400

    rep = vacuum_snapshot(spark, path, keep_versions=1, min_age_s=0)
    assert rep["dropped_files"] == len(m1["files"])
    # v1's hive-null files really are gone from disk
    import glob

    v1_null = glob.glob(os.path.join(
        path, "data", m1["commit"], "__HIVE_DEFAULT_PARTITION__", "*"
    ))
    assert [f for f in v1_null if f.endswith(".parquet")] == []
    assert snapshot_read(spark, path).count() == 400


def test_partitioned_snapshot_changes(spark, tmp_path):
    from prql_spark.sources.manifest import snapshot_changes

    path = str(tmp_path / "pchg")
    snapshot_write(_mk_part_df(spark), path, partition_by=("ds",))
    add = spark.createDataFrame(
        [(9001, "z", 1.0), (9002, None, 2.0)], "id INT, ds STRING, v DOUBLE"
    )
    snapshot_write(add, path, mode="append", partition_by=("ds",))
    got = snapshot_changes(spark, path, since_version=1)
    assert sorted(
        ((r.id, r.ds) for r in got.collect()), key=lambda t: t[0]
    ) == [(9001, "z"), (9002, None)]


def test_partitioned_write_time_stats_compose(spark, tmp_path):
    """stats_cols= on a partitioned write: data-column stats come
    from the distributed scan (basePath-aware), partition-column
    stats from the paths — both land in the same manifest and both
    prune."""
    from prql_spark.sources.manifest import snapshot_scan

    path = str(tmp_path / "pws")
    df = (
        spark.range(4000)
        .withColumn("bucket", (F.col("id") % 4).cast("int"))
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    snapshot_write(
        df, path, partition_by=("bucket",), stats_cols=("id",)
    )
    all_files = len(snapshot_read(spark, path).inputFiles())
    by_part = snapshot_scan(spark, path, "bucket", lo=2, hi=2)
    assert by_part.count() == 1000
    assert len(by_part.inputFiles()) < all_files
    by_range = snapshot_scan(spark, path, "id", lo=100, hi=199)
    assert by_range.count() == 100
    assert len(by_range.inputFiles()) < all_files


# ---------------------------------------------------------------- #
# row-level MERGE / DELETE (copy-on-write)                          #
# ---------------------------------------------------------------- #


def test_merge_snapshot_upserts_and_rewrites_only_touched(spark, tmp_path):
    """Matched keys update, unmatched insert, and ONLY the files
    containing matched keys are rewritten — the untouched files are
    referenced verbatim (same physical paths) in the new manifest."""
    from prql_spark.sources.manifest import merge_snapshot

    path = str(tmp_path / "mg")
    base = (
        spark.range(1000)
        .withColumn("val", F.col("id") * 10)
        .repartitionByRange(10, "id")
        .sortWithinPartitions("id")
    )
    snapshot_write(base, path, stats_cols=("id",))
    m1 = json.load(open(os.path.join(
        path, "_manifests", f"v{1:010d}.json")))
    # updates hit only ids 0-99 (file 1 of 10) + two fresh inserts
    src = spark.createDataFrame(
        [(5, -5), (50, -50), (99, -99), (2000, 1), (2001, 2)],
        "id LONG, val LONG",
    )
    res = merge_snapshot(spark, path, src, on=("id",))
    assert res["version"] == 2 and res["operation"] == "merge"
    assert res["n_files_rewritten"] <= 2  # stats-pruned to the 0-99 file(s)
    m2 = json.load(open(os.path.join(
        path, "_manifests", f"v{2:010d}.json")))
    untouched_before = {f["path"] for f in m1["files"]} & {
        f["path"] for f in m2["files"]
    }
    assert len(untouched_before) == len(m1["files"]) - res["n_files_rewritten"]

    got = {r.id: r.val for r in snapshot_read(spark, path).collect()}
    assert len(got) == 1002
    assert got[5] == -5 and got[50] == -50 and got[99] == -99
    assert got[2000] == 1 and got[2001] == 2
    assert got[100] == 1000  # untouched row intact
    # pre-merge version still readable (time travel)
    old = {r.id: r.val for r in snapshot_read(spark, path, 1).collect()}
    assert old[5] == 50 and len(old) == 1000
    # rewritten files carry re-collected id stats (coverage survives)
    rewritten = [
        f for f in m2["files"] if f["path"] not in untouched_before
    ]
    assert rewritten and all(
        "id" in (f.get("stats") or {}) for f in rewritten
    )
    # a one-row insert spread over 4 partitions: the writer's empty
    # tasks may leave 0-row files, and none may reach the manifest
    one = spark.createDataFrame([(3000, 3)], "id LONG, val LONG")
    res = merge_snapshot(spark, path, one.repartition(4), on=("id",))
    m3 = json.load(open(os.path.join(
        path, "_manifests", f"v{res['version']:010d}.json")))
    assert all(f.get("n_rows") != 0 for f in m3["files"])
    assert {r.id: r.val for r in snapshot_read(spark, path).collect()} == {
        **got, 3000: 3
    }


def _eight_file_table(spark, path):
    base = (
        spark.range(8000)
        .withColumn("val", F.col("id") * 10)
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
    )
    snapshot_write(base, path, stats_cols=("id",))
    return {i: i * 10 for i in range(8000)}


def test_merge_stats_scan_drops_zero_row_files(spark, tmp_path, monkeypatch):
    """When the footer fast path declines, the stats scan records 0
    rows for every staged file it saw no row of, so the writer's
    empty files never reach the manifest."""
    from prql_spark.sources import manifest as mf

    monkeypatch.setattr(mf, "_staged_stats_footers", lambda *a, **k: False)
    path = str(tmp_path / "zr")
    want = _eight_file_table(spark, path)
    one = spark.createDataFrame([(90000, 3)], "id LONG, val LONG")
    res = merge_snapshot(spark, path, one.repartition(4), on=("id",))
    m = json.load(open(os.path.join(
        path, "_manifests", f"v{res['version']:010d}.json")))
    assert all((f.get("n_rows") or 0) > 0 for f in m["files"])
    got = {r.id: r.val for r in snapshot_read(spark, path).collect()}
    assert got == {**want, 90000: 3}


def test_merge_runs_no_stage_one_task_per_shuffle_partition(spark, tmp_path):
    """The merge stores its distinct key set coalesced, so the bounds
    agg, the probe and the survivor anti-join scan a handful of
    blocks: no stage of a small merge runs one task per shuffle
    partition."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    path = str(tmp_path / "mgw")
    want = _eight_file_table(spark, path)
    src = spark.createDataFrame(
        [(5, -5), (4000, -4), (90000, 1)], "id LONG, val LONG"
    )
    group = f"merge-width-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        merge_snapshot(spark, path, src, on=("id",))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    widths = [
        info.numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
        if (info := tracker.getStageInfo(stage)) is not None
    ]
    assert widths and n_shuffle not in widths, widths
    got = {r.id: r.val for r in snapshot_read(spark, path).collect()}
    assert got == {**want, 5: -5, 4000: -4, 90000: 1}


def test_merge_lost_key_blocks_raise_before_publish(
    spark, tmp_path, monkeypatch
):
    """The merge's key set lives only in its executors' blocks: losing
    them (as when the executor dies) after the bounds agg fails the
    merge, and no version is published."""
    from prql_spark.sources import manifest as mf

    sc = spark.sparkContext
    path = str(tmp_path / "mglost")
    want = _eight_file_table(spark, path)
    before = set(sc._jsc.getPersistentRDDs().keySet())
    real_overlaps = mf._overlaps_bounds
    lost = []

    def overlaps_after_loss(f, bounds):
        if not lost:
            lost.extend(set(sc._jsc.getPersistentRDDs().keySet()) - before)
            for rdd_id in lost:
                sc._jsc.sc().unpersistRDD(rdd_id, True)
        return real_overlaps(f, bounds)

    monkeypatch.setattr(mf, "_overlaps_bounds", overlaps_after_loss)
    src = spark.createDataFrame([(5, -5)], "id LONG, val LONG")
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        merge_snapshot(spark, path, src, on=("id",))
    assert lost
    assert not os.path.exists(
        os.path.join(path, "_manifests", f"v{2:010d}.json")
    )
    got = {r.id: r.val for r in snapshot_read(spark, path).collect()}
    assert got == want


def test_merge_snapshot_schema_and_key_validation(spark, tmp_path):
    from prql_spark.sources.manifest import merge_snapshot

    path = str(tmp_path / "mgv")
    snapshot_write(
        spark.range(10).withColumn("val", F.lit(1).cast("long")), path
    )
    with pytest.raises(ValueError, match="source schema"):
        merge_snapshot(
            spark, path,
            spark.range(3).withColumn("other", F.lit("x")), on=("id",),
        )
    with pytest.raises(ValueError, match="key columns"):
        merge_snapshot(
            spark, path,
            spark.range(3).withColumn("val", F.lit(2).cast("long")),
            on=("nope",),
        )


def test_merge_snapshot_partitioned_table(spark, tmp_path):
    """Merge into a partitioned table: rewrites stay inside the
    partition layout (new files land under col=value dirs, partition
    stats intact) and only the touched partitions' files rewrite. An
    update that moves a key to another partition leaves exactly one
    row for it: the old partition's copy is removed, not left
    stale."""
    from prql_spark.sources.manifest import merge_snapshot

    path = str(tmp_path / "mgp")
    df = spark.range(400).withColumn(
        "bucket", (F.col("id") % 4).cast("int")
    )
    snapshot_write(df, path, partition_by=("bucket",))
    src = spark.createDataFrame(
        [(0, 0), (4, 0), (9000, 1), (5, 3)], "id LONG, bucket INT"
    )
    res = merge_snapshot(spark, path, src, on=("id",))
    m2 = json.load(open(os.path.join(
        path, "_manifests", f"v{res['version']:010d}.json")))
    assert m2["partition_by"] == ["bucket"]
    got = snapshot_read(spark, path)
    assert got.count() == 401
    assert got.where("id = 9000").collect()[0].bucket == 1
    # id 5 moved from bucket 1 to bucket 3: one row, in bucket 3
    assert [r.bucket for r in got.where("id = 5").collect()] == [3]
    # files stay hive-partitioned after the merge
    assert all("bucket=" in f["path"] for f in m2["files"])


def test_delete_snapshot_rewrites_only_matching_files(spark, tmp_path):
    from prql_spark.sources.manifest import delete_snapshot

    path = str(tmp_path / "dl")
    snapshot_write(
        spark.range(1000)
        .withColumn("grp", (F.col("id") % 2).cast("int"))
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id"),
        path,
    )
    m1 = json.load(open(os.path.join(
        path, "_manifests", f"v{1:010d}.json")))
    res = delete_snapshot(spark, path, "id >= 900")
    assert res["operation"] == "delete"
    assert res["n_files_rewritten"] == 1  # only the last range file
    back = snapshot_read(spark, path)
    assert back.count() == 900
    assert back.where("id >= 900").count() == 0
    # time travel: pre-delete version intact until vacuumed
    assert snapshot_read(spark, path, 1).count() == 1000
    # no-op delete returns without a new version
    res2 = delete_snapshot(spark, path, "id > 100000")
    assert res2.get("noop") is True
    # NULL predicate rows survive (SQL semantics: NULL is not TRUE)
    path2 = str(tmp_path / "dln")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "id INT, s STRING"
        ),
        path2,
    )
    delete_snapshot(spark, path2, "s = 'a'")
    assert sorted(
        r.id for r in snapshot_read(spark, path2).collect()
    ) == [2, 3]


def test_changes_refuses_to_cross_merge_and_delete(spark, tmp_path):
    from prql_spark.sources.manifest import (
        delete_snapshot,
        merge_snapshot,
        snapshot_changes,
    )

    path = str(tmp_path / "chx")
    snapshot_write(
        spark.range(100).withColumn("val", F.col("id")), path
    )
    merge_snapshot(
        spark, path,
        spark.createDataFrame([(5, -5)], "id LONG, val LONG"),
        on=("id",),
    )
    with pytest.raises(ValueError, match="not append"):
        snapshot_changes(spark, path, since_version=1)
    delete_snapshot(spark, path, "id = 7")
    with pytest.raises(ValueError):
        snapshot_changes(spark, path, since_version=2)


def test_optimize_snapshot_zorder_prunes_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER: one commit rewrites the latest version
    z-clustered over two columns WITH write-time stats — range scans
    on EITHER column then open a strict subset of files; rows
    identical; the pre-optimize version stays readable."""
    from prql_spark.sources.manifest import (
        optimize_snapshot,
        snapshot_scan,
    )

    path = str(tmp_path / "opt")
    df = (
        spark.range(20000)
        .withColumn("k1", (F.col("id") % 100).cast("int"))
        .withColumn("k2", ((F.col("id") * 7919) % 100).cast("int"))
        .repartition(16)
    )
    snapshot_write(df, path)
    res = optimize_snapshot(
        spark, path, zorder_by=("k1", "k2"), target_files=16
    )
    assert res["operation"] == "optimize"
    hist = {r.version: r.operation
            for r in snapshot_history(spark, path).collect()}
    assert hist[2] == "optimize"
    total = len(snapshot_read(spark, path).inputFiles())
    assert total > 3  # enough files for pruning to be meaningful
    for col in ("k1", "k2"):
        hit = snapshot_scan(spark, path, col, lo=10, hi=19)
        assert hit.count() == 2000
        assert len(hit.inputFiles()) < total
    assert snapshot_read(spark, path, 1).count() == 20000
    with pytest.raises(ValueError, match="zorder_by columns"):
        optimize_snapshot(spark, path, zorder_by=("nope",))


def test_optimize_snapshot_keeps_partition_spec(spark, tmp_path):
    from prql_spark.sources.manifest import (
        optimize_snapshot,
        snapshot_scan,
    )
    import json as _json
    import os as _os

    path = str(tmp_path / "optp")
    df = (
        spark.range(8000)
        .withColumn("bucket", (F.col("id") % 2).cast("int"))
        .withColumn("k", (F.col("id") % 50).cast("int"))
        .repartition(8)
    )
    snapshot_write(df, path, partition_by=("bucket",))
    res = optimize_snapshot(
        spark, path, zorder_by=("k",), target_files=8
    )
    m = _json.load(open(_os.path.join(
        path, "_manifests", f"v{res['version']:010d}.json")))
    assert m["partition_by"] == ["bucket"]
    assert all("bucket=" in f["path"] for f in m["files"])
    total = len(snapshot_read(spark, path).inputFiles())
    hit = snapshot_scan(spark, path, "k", lo=0, hi=9)
    assert hit.count() == 1600
    assert len(hit.inputFiles()) < total
    assert snapshot_read(spark, path).count() == 8000


def test_snapshot_count_metadata_only(spark, tmp_path):
    """With stats_cols= every file carries n_rows, so counts come
    from the manifest — zero Spark jobs (asserted via the session's
    job counter); plain writes fall back to a real count()."""
    from prql_spark.sources.manifest import snapshot_count

    path = str(tmp_path / "cnt")
    snapshot_write(
        spark.range(5000).repartition(4), path, stats_cols=("id",)
    )
    snapshot_write(
        spark.range(5000, 5500), path, mode="append",
        stats_cols=("id",),
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    assert snapshot_count(spark, path) == 5500
    assert snapshot_count(spark, path, version=1) == 5000
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # no job ran: answered from the manifest
    hist = {r.version: r.n_rows
            for r in snapshot_history(spark, path).collect()}
    assert hist == {1: 5000, 2: 5500}

    # plain write (no stats): falls back to one real count
    path2 = str(tmp_path / "cnt2")
    snapshot_write(spark.range(77), path2)
    assert snapshot_count(spark, path2) == 77
    h2 = snapshot_history(spark, path2).collect()[0]
    assert h2.n_rows is None


def test_string_stats_truncate_but_prune_correctly(spark, tmp_path):
    """stats_cols on a LONG string column must not embed whole
    values in the manifest (at 100 TB a text column's raw min/max is
    megabytes per file entry): mins prefix-truncate, maxes truncate
    with the last code point incremented (a safe upper bound), and
    pruning on the truncated ranges stays exact-conservative."""
    from prql_spark.sources.manifest import (
        _trunc_hi,
        _trunc_lo,
        snapshot_scan,
    )

    # unit behavior, incl. the surrogate-gap skip and the no-safe-
    # bound ceiling case
    assert _trunc_lo("x" * 100) == "x" * 32
    assert _trunc_hi("abc") == "abc"
    h = _trunc_hi("a" * 100)
    assert len(h) == 32 and h == "a" * 31 + "b" and h > "a" * 100
    assert _trunc_hi("a" * 31 + "퟿" + "zz")[-1] == ""
    assert _trunc_hi(chr(0x10FFFF) * 40) is None

    path = str(tmp_path / "lstr")
    rows = [(i, chr(ord("a") + i % 8) * 500) for i in range(4000)]
    df = (
        spark.createDataFrame(rows, "id INT, text STRING")
        .repartitionByRange(8, "text")
        .sortWithinPartitions("text")
    )
    snapshot_write(df, path, stats_cols=("text",))
    m = json.load(open(os.path.join(
        path, "_manifests", f"v{1:010d}.json")))
    for f in m["files"]:
        rng = (f.get("stats") or {}).get("text")
        assert rng is not None
        assert len(rng[0]) <= 32 and len(rng[1]) <= 32
    total = len(snapshot_read(spark, path).inputFiles())
    # a full-length probe value still prunes through the truncated
    # ranges — and returns exactly the matching rows
    probe = "c" * 500
    hit = snapshot_scan(spark, path, "text", lo=probe, hi=probe)
    assert hit.count() == 500
    assert len(hit.inputFiles()) < total


def test_prql_or_pushdown_unions_intervals(spark, tmp_path):
    """Disjunctions over ONE column push down as a UNION of
    intervals — the multi-partition day query (`ds == a or ds == b`)
    opens only those partitions' files; multi-column ORs stay
    unpruned (sound) and conjunctions with an OR arm still prune on
    the other arm."""
    from prql_spark import compile_prql
    from prql_spark.sources.catalog import Catalog

    df = spark.createDataFrame(
        [(i, ["d1", "d2", "d3", "d4"][i % 4], i * 2) for i in range(400)],
        "id INT, ds STRING, v INT",
    )
    snapshot_write(df, str(tmp_path / "mto"), partition_by=("ds",))
    cat = Catalog(spark, str(tmp_path))
    total = len(cat.load("mto").inputFiles())

    out = compile_prql(
        'from mto\nfilter ds == "d1" or ds == "d3"\nsort id', cat
    )
    assert [r.id for r in out.collect()] == sorted(
        i for i in range(400) if i % 4 in (0, 2)
    )
    assert len(out.inputFiles()) < total
    assert all(
        "ds=d1" in f or "ds=d3" in f for f in out.inputFiles()
    )

    # disjoint equality conjunction: provably empty — zero files
    out2 = compile_prql(
        'from mto\nfilter ds == "d1" and ds == "d2"', cat
    )
    assert out2.count() == 0
    assert len(out2.inputFiles()) == 0

    # multi-column OR: no pruning claim, still exact
    out3 = compile_prql(
        'from mto\nfilter ds == "d1" or v == 6', cat
    )
    assert sorted(r.id for r in out3.collect()) == sorted(
        {3} | {i for i in range(400) if i % 4 == 0}
    )
    assert len(out3.inputFiles()) == total

    # OR arm under AND: the sargable conjunct still prunes
    out4 = compile_prql(
        'from mto\nfilter ds == "d2" and (v == 2 or v == 10)', cat
    )
    assert sorted(r.id for r in out4.collect()) == [1, 5]
    assert all("ds=d2" in f for f in out4.inputFiles())


def test_compact_raises_on_concurrent_append(spark, tmp_path, monkeypatch):
    """Round-10 lost-update guard: an append that commits between a
    compaction's plan and its publish must RAISE (never be silently
    dropped from the new head) — the same conflict validation
    merge/delete always had. The appended rows stay in the table."""
    from prql_spark.sources import manifest as mf

    path = str(tmp_path / "ccr")
    snapshot_write(spark.range(1000).repartition(8), path)

    real_stage = mf._stage_commit

    def stage_then_race(df, base, fs, jvm, *a, **kw):
        out = real_stage(df, base, fs, jvm, *a, **kw)
        # a concurrent writer lands an append AFTER the compactor
        # staged its files but BEFORE it publishes the manifest
        monkeypatch.setattr(mf, "_stage_commit", real_stage)
        snapshot_write(
            spark.range(5000, 5010), path, mode="append"
        )
        return out

    monkeypatch.setattr(mf, "_stage_commit", stage_then_race)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        compact_snapshot(spark, path, target_mb=256)
    # nothing lost: the append is in the head; re-running compacts it
    assert _ids(snapshot_read(spark, path)) == sorted(
        list(range(1000)) + list(range(5000, 5010))
    )
    res = compact_snapshot(spark, path, target_mb=256)
    assert res["compacted"]
    assert _ids(snapshot_read(spark, path)) == sorted(
        list(range(1000)) + list(range(5000, 5010))
    )


def test_optimize_raises_on_concurrent_append(spark, tmp_path, monkeypatch):
    from prql_spark.sources import manifest as mf
    from prql_spark.sources.manifest import optimize_snapshot

    path = str(tmp_path / "ocr")
    snapshot_write(
        spark.range(1000).withColumn("v", F.col("id") * 2)
        .repartition(4),
        path,
    )
    real_stage = mf._stage_commit

    def stage_then_race(df, base, fs, jvm, *a, **kw):
        out = real_stage(df, base, fs, jvm, *a, **kw)
        monkeypatch.setattr(mf, "_stage_commit", real_stage)
        snapshot_write(
            spark.range(7000, 7005).withColumn("v", F.lit(0).cast("long")),
            path, mode="append",
        )
        return out

    monkeypatch.setattr(mf, "_stage_commit", stage_then_race)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        optimize_snapshot(spark, path, zorder_by=("id", "v"), target_files=2)
    assert snapshot_read(spark, path).count() == 1005  # append intact
    res = optimize_snapshot(spark, path, zorder_by=("id", "v"), target_files=2)
    assert res["operation"] == "optimize"
    assert snapshot_read(spark, path).count() == 1005


def test_compact_rebases_over_stats_only_commit(spark, tmp_path, monkeypatch):
    """A stats-only commit racing a compaction is harmless: same file
    set, so the compaction rebases and publishes (no spurious raise)."""
    from prql_spark.sources import manifest as mf
    from prql_spark.sources.manifest import attach_stats

    path = str(tmp_path / "csr")
    snapshot_write(spark.range(500).repartition(4), path)
    real_stage = mf._stage_commit

    def stage_then_stats(df, base, fs, jvm, *a, **kw):
        out = real_stage(df, base, fs, jvm, *a, **kw)
        monkeypatch.setattr(mf, "_stage_commit", real_stage)
        attach_stats(spark, path, cols=("id",))
        return out

    monkeypatch.setattr(mf, "_stage_commit", stage_then_stats)
    res = compact_snapshot(spark, path, target_mb=256)
    assert res["compacted"] and res["version"] == 3  # after the stats commit
    assert _ids(snapshot_read(spark, path)) == list(range(500))


def test_rewrite_manifest_commit_field_and_extras_hygiene(spark, tmp_path):
    """The manifest a rewrite publishes must carry the commit id of
    the directory its NEW files live in (not the parent's), and must
    not inherit the parent's one-shot extra keys."""
    from prql_spark.sources.manifest import merge_snapshot

    path = str(tmp_path / "hyg")
    snapshot_write(
        spark.range(100).withColumn("val", F.col("id")),
        path,
        extra={"note": "backfill-2024"},
    )
    merge_snapshot(
        spark, path,
        spark.createDataFrame([(5, -5)], "id LONG, val LONG"),
        on=("id",),
    )
    m2 = json.load(open(os.path.join(
        path, "_manifests", f"v{2:010d}.json")))
    # every NEW file lives under data/<m2.commit>/
    new_paths = [
        f["path"] for f in m2["files"]
        if f["path"].split("/")[1] != json.load(
            open(os.path.join(path, "_manifests", f"v{1:010d}.json"))
        )["commit"]
    ]
    assert new_paths, "merge must stage new files"
    assert all(p.split("/")[1] == m2["commit"] for p in new_paths)
    assert "note" not in m2  # parent's extra does not leak


def test_partition_underscore_column_raises(spark, tmp_path):
    """A partition column named `_x`/`.x` would write hive dirs the
    hidden-path rule classifies as writer metadata — silent data
    loss. snapshot_write refuses instead."""
    df = spark.range(10).withColumn("_ds", F.lit("a"))
    with pytest.raises(ValueError, match="hidden"):
        snapshot_write(df, str(tmp_path / "hid"), partition_by=("_ds",))


def test_timestamp_partition_pruning_exact(spark, tmp_path):
    """Sub-second timestamp partition values: Spark trims trailing
    fraction zeros in hive dirs ('...00:00:00.123') while query
    literals encode isoformat ('...00:00:00.123000') — the parser
    must normalize so equality pruning keeps the right file (the
    'conservative, never wrong' contract)."""
    import datetime as dt

    from prql_spark.sources.manifest import snapshot_pruned_read

    ts1 = dt.datetime(2024, 1, 1, 0, 0, 0, 123000)
    ts2 = dt.datetime(2024, 1, 2, 0, 0, 0)
    df = spark.createDataFrame(
        [(1, ts1), (2, ts2)], "id INT, ts TIMESTAMP"
    )
    path = str(tmp_path / "tsp")
    snapshot_write(df, path, partition_by=("ts",))
    # equality on the sub-second value: its file MUST survive pruning
    got, n_kept, n_total = snapshot_pruned_read(
        spark, path, {"ts": (ts1, ts1)}
    )
    assert n_total == 2 and n_kept == 1
    assert [r.id for r in got.collect()] == [1]
    # and the whole-second value still prunes to its own file
    got2, n_kept2, _ = snapshot_pruned_read(
        spark, path, {"ts": (ts2, ts2)}
    )
    assert n_kept2 == 1
    assert [r.id for r in got2.collect()] == [2]


def test_merge_large_source_skips_broadcast(spark, tmp_path):
    """Above broadcast_key_limit the key probe drops the broadcast
    hint (AQE picks the strategy) — results identical either way."""
    from prql_spark.sources.manifest import merge_snapshot

    path = str(tmp_path / "mgb")
    snapshot_write(
        spark.range(500).withColumn("val", F.col("id") * 10), path
    )
    src = spark.range(100, 110).withColumn("val", F.lit(-1).cast("long"))
    res = merge_snapshot(spark, path, src, on=("id",), broadcast_key_limit=0)
    assert res["operation"] == "merge"
    got = {r.id: r.val for r in snapshot_read(spark, path).collect()}
    assert len(got) == 500
    assert all(got[i] == -1 for i in range(100, 110))
    assert got[99] == 990


def test_delete_candidates_pruned_by_stats(spark, tmp_path):
    """A sargable delete predicate on a stats-covered table probes
    only the overlapping files — n_candidates < n_files, result
    exact, untouched files referenced verbatim."""
    from prql_spark.sources.manifest import delete_snapshot

    path = str(tmp_path / "dlp")
    snapshot_write(
        spark.range(1000)
        .withColumn("val", F.col("id") % 7)
        .repartitionByRange(10, "id")
        .sortWithinPartitions("id"),
        path,
        stats_cols=("id",),
    )
    res = delete_snapshot(spark, path, "id >= 950 AND id < 980")
    assert res["n_candidates"] == 1  # only the 900-999 range file
    assert res["n_files_rewritten"] == 1
    assert snapshot_read(spark, path).count() == 970
    # non-sargable predicate: every file is a candidate, still exact
    res2 = delete_snapshot(spark, path, "pmod(id, 500) = 7")
    assert res2["n_candidates"] == 10  # all files probed (safe)
    assert snapshot_read(spark, path).where("id IN (7, 507)").count() == 0


def test_sql_bounds_extractor_soundness():
    """Driver-side sargability parser: conjuncts extract, unknown
    conjuncts skip (conservative), disjunctions claim nothing."""
    from prql_spark.sources.manifest import _sql_bounds

    assert _sql_bounds("id >= 5 AND id < 10") == {"id": (5, 10)}
    assert _sql_bounds("ds = '2024-01-02'") == {
        "ds": ("2024-01-02", "2024-01-02")
    }
    assert _sql_bounds("ts = TIMESTAMP '2024-01-01 00:00:00.5'") == {
        "ts": ("2024-01-01T00:00:00.500000", "2024-01-01T00:00:00.500000")
    }
    assert _sql_bounds("x BETWEEN 1 AND 5 AND y = 'a'") == {
        "x": (1, 5), "y": ("a", "a")
    }
    assert _sql_bounds("k IN (1, 2, 3)") == {"k": [(1, 1), (2, 2), (3, 3)]}
    assert _sql_bounds("x > 1 OR y < 2") is None
    assert _sql_bounds("(x > 1 OR y < 2) AND z = 3") == {"z": (3, 3)}
    assert _sql_bounds("NOT (x = 1) AND z >= 4") == {"z": (4, None)}
    assert _sql_bounds("lower(name) = 'bob' AND id <= 9") == {"id": (None, 9)}
    assert _sql_bounds("5 <= id") == {"id": (5, None)}
    assert _sql_bounds("x IS NULL") is None
    assert _sql_bounds("x != 3") is None
    assert _sql_bounds("id >= 3 AND id >= 7") == {"id": (7, None)}


def _minute_tables(spark, tmp_path):
    """A stats-covered manifest table ``mins`` and a plain-parquet
    copy ``mins_plain`` of the same rows: INT ``k`` 0..119, ``ts``
    one row per minute from 2024-01-01 00:00 and DATE ``d`` one day
    per 30 rows from 2024-01-01, four files."""
    from prql_spark.sources.catalog import Catalog

    df = (
        spark.range(120)
        .select(F.col("id").cast("int").alias("k"))
        .withColumn(
            "ts",
            F.expr("TIMESTAMP '2024-01-01 00:00:00' "
                   "+ make_dt_interval(0, 0, k, 0)"),
        )
        .withColumn(
            "d", F.expr("date_add(DATE '2024-01-01', CAST(k DIV 30 AS INT))")
        )
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    snapshot_write(df, str(tmp_path / "mins"), stats_cols=("k", "ts", "d"))
    df.write.parquet(str(tmp_path / "mins_plain"))
    return Catalog(spark, str(tmp_path))


def test_datetime_literal_bounds_are_canonical(spark, tmp_path):
    """DATE/TIMESTAMP literals bound in the stats' isoformat: a
    minute-precision literal ('...T00:00') must not sort below the
    stats' '...T00:00:00' and skip the file holding the row."""
    from prql_spark import compile_prql
    from prql_spark.sources.manifest import _sql_bounds

    cat = _minute_tables(spark, tmp_path)
    out = compile_prql("from mins\nfilter ts == @2024-01-01T00:00", cat)
    assert [r.k for r in out.collect()] == [0]
    assert len(out.inputFiles()) == 1
    assert _sql_bounds("d = DATE '2024-01-02'") == {
        "d": ("2024-01-02", "2024-01-02")
    }
    # a zoned or unparseable literal gives no bound
    assert _sql_bounds("ts >= TIMESTAMP '2024-01-01 00:00+01:00'") is None
    assert _sql_bounds("d <= DATE '2024-1-2'") is None

    path = str(tmp_path / "mins")
    res = delete_snapshot(spark, path, "ts = TIMESTAMP '2024-01-01 00:00'")
    assert not res.get("noop") and res["n_candidates"] == 1
    assert snapshot_read(spark, path).count() == 119


def test_date_column_timestamp_literal_delete(spark, tmp_path):
    """Spark compares a DATE with a TIMESTAMP as its midnight: a
    date-only TIMESTAMP literal's bound ('...T00:00:00') must not
    skip the file whose DATE stats hold that bare day."""
    _minute_tables(spark, tmp_path)
    path = str(tmp_path / "mins")
    res = delete_snapshot(spark, path, "d = TIMESTAMP '2024-01-01'")
    assert not res.get("noop") and res["n_candidates"] < 4
    left = snapshot_read(spark, path)
    assert left.count() == 90
    assert left.where("d = DATE '2024-01-01'").count() == 0


@pytest.mark.parametrize(
    "cond",
    [
        # a TIMESTAMP lower end and a string upper end do not compare
        # as strings ('T' > ' '): their "empty" intersection is not
        'ts >= @2024-01-01T00:00 and ts <= "2024-01-01 00:30:00"',
        # both strings cast to INT 1: not a disjoint equality
        'k == "01" and k == "1"',
        # a bare date against TIMESTAMP stats is their midnight
        "ts <= @2024-01-01",
        # a datetime string against DATE stats is cast to its day
        'd >= "2024-01-01 12:00"',
        # spellings Spark's string -> DATE/TIMESTAMP casts accept
        # besides the canonical one: no text order against the stats
        'd == "2024-1-2"',
        'd == "2024-01"',
        'd == "2024"',
        'd == "  2024-01-03"',
        'd <= "2024-1-2 3:04"',
        'ts >= "2024-1-1 1:04"',
    ],
)
def test_pruned_prql_filter_matches_plain_parquet(spark, tmp_path, cond):
    """File skipping never changes a PRQL filter's rows: a
    stats-covered manifest table answers as its plain-parquet copy."""
    from prql_spark import compile_prql

    cat = _minute_tables(spark, tmp_path)
    got, want = (
        sorted(r.k for r in compile_prql(f"from {t}\nfilter {cond}", cat)
               .collect())
        for t in ("mins", "mins_plain")
    )
    assert got == want and got


def test_spark_datetime_cast_spellings_are_recognized(spark):
    """Every spelling Spark's string -> DATE/TIMESTAMP cast accepts is
    recognized by the pruning compare (a superset is safe: it only
    keeps files), and the pinned partition values are not."""
    from prql_spark.sources.manifest import _SPARK_DT_CAST

    probes = [
        "2024", "2024-01", "2024-1", "2024-1-2", "2024-01-02",
        " 2024-01-02", "2024-01-02 ", "\t2024-1-2\n", "+2024-01-02",
        "-2024-01-02", "12024-01-02", "2024-01-02T", "2024-01-02 junk",
        "2024-1-2 3:04", "2024-01-02T03:04:05.123456789",
        "2024-01-02 03:04:05Z", "2024-01-02 03:04:05+01:00",
        "2024-01-02 03:04:05 UTC", "2024-01-02Z", "2024-01-02+01:00",
        "3:04", "03:04:05", "T03:04:05", "1:2:3", "2024-1-2T3",
        "20240102", "2024/01/02", "02-01-2024", "2024-13-01", "x2024",
        "\x012024-01-02", "1234567-01-01", "123456789", "", "  ",
        "a:b c", "z",
    ]
    rows = spark.createDataFrame([(p,) for p in probes], "s STRING")
    accepted = [
        r.s
        for r in rows.where(
            "try_cast(s AS DATE) IS NOT NULL "
            "OR try_cast(s AS TIMESTAMP) IS NOT NULL"
        ).collect()
    ]
    assert "2024-1-2" in accepted and "3:04" in accepted
    assert [p for p in accepted if not _SPARK_DT_CAST.fullmatch(p)] == []
    assert not _SPARK_DT_CAST.fullmatch("a:b c")
    assert not _SPARK_DT_CAST.fullmatch("z")


def test_prql_pushdown_prunes_as_sql_bounds(spark, tmp_path):
    """One predicate-to-bounds rule: a PRQL filter straight after
    ``from`` opens exactly the files ``snapshot_pruned_read`` keeps
    for the bounds ``_sql_bounds`` reads from the filter's compiled
    Spark SQL — OR, IN lists and arithmetic included — and returns
    the rows of a plain-parquet copy."""
    from prql_spark import compile_prql, to_sql
    from prql_spark.sources.catalog import Catalog
    from prql_spark.sources.manifest import (
        _sql_bounds,
        snapshot_pruned_read,
    )

    path = str(tmp_path / "par")
    df = (
        spark.range(200)
        .select(F.col("id").cast("int").alias("k"))
        .selectExpr(
            "k",
            "concat('d', CAST(k DIV 50 AS STRING)) AS ds",
            "date_add(DATE '2024-01-01', CAST(k DIV 10 AS INT)) AS d",
            "TIMESTAMP '2024-01-01 00:00:00' "
            "+ make_dt_interval(0, 0, k, 0) AS ts",
            "concat('it''s ', lpad(CAST(k AS STRING), 3, '0')) AS s",
        )
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    snapshot_write(df, path, stats_cols=("k", "ds", "d", "ts", "s"))
    df.write.parquet(str(tmp_path / "par_plain"))
    cat = Catalog(spark, str(tmp_path))
    total = len(cat.load("par").inputFiles())
    shapes = {
        "range": "k >= 40 and k <= 59",
        "in_range": "(k | in 100..119)",
        "alias": "t.k < 30",
        "same_column_or": 'ds == "d1" or ds == "d3"',
        "or_under_and": 'k >= 20 and (ds == "d0" or ds == "d2")',
        "disjoint_and": 'ds == "d1" and ds == "d2"',
        "in_list": "(k | in [5, 105, 195])",
        "date": "d == @2024-01-05",
        "timestamp": "ts == @2024-01-01T01:00",
        "apostrophe": 's == "it\'s 042"',
        "arithmetic": "k % 7 == 0 and k >= 150",
    }
    for name, cond in shapes.items():
        prql = f"from t = par\nfilter {cond}"
        sql = to_sql(prql, cat, dialect="spark")
        where = sql[sql.index("WHERE") + len("WHERE"):].strip()
        want, _, _ = snapshot_pruned_read(
            spark, path, _sql_bounds(where) or {}
        )
        out = compile_prql(prql, cat)
        got = out.inputFiles()
        assert sorted(got) == sorted(want.inputFiles()), name
        assert len(got) < total, name
        # and the rows are the plain-parquet copy's
        plain = compile_prql(prql.replace("= par", "= par_plain"), cat)
        rows = sorted(r.k for r in out.collect())
        assert rows == sorted(r.k for r in plain.collect()), name
        assert bool(rows) == (name != "disjoint_and"), name


def test_lockfile_commit_protocol_races_and_recovers(
    spark, tmp_path, monkeypatch
):
    """The pluggable commit seam: under LockFileCommitProtocol two
    racing writers serialize onto distinct versions (no lost
    commit), a HELD lock makes publishers lose (and retry onto the
    next attempt), and a STALE lock (dead writer) is broken by TTL."""
    import threading

    from prql_spark.sources import manifest as mf
    from prql_spark.sources.manifest import (
        LockFileCommitProtocol,
        RenameCommitProtocol,
        set_commit_protocol,
    )

    path = str(tmp_path / "lk")
    set_commit_protocol(LockFileCommitProtocol())
    try:
        snapshot_write(spark.range(10), path)

        # two concurrent appenders: both must commit, versions 2+3
        errs: list = []

        def appender(lo):
            try:
                snapshot_write(
                    spark.range(lo, lo + 5), path, mode="append"
                )
            except Exception as e:  # pragma: no cover
                errs.append(e)

        t1 = threading.Thread(target=appender, args=(100,))
        t2 = threading.Thread(target=appender, args=(200,))
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs
        assert _ids(snapshot_read(spark, path)) == sorted(
            list(range(10)) + list(range(100, 105)) + list(range(200, 205))
        )
        hist = snapshot_history(spark, path)
        assert hist.count() == 3

        # a fresh (held) lock: the publisher loses every attempt
        lock = os.path.join(path, "_manifests", ".commit.lock")
        with open(lock, "w") as f:
            f.write("held")
        monkeypatch.setattr(mf, "_COMMIT_ATTEMPTS", 2)
        with pytest.raises(RuntimeError, match="lost .* commit races"):
            snapshot_write(spark.range(3), path, mode="append")
        monkeypatch.undo()
        os.remove(lock)

        # a stale lock (dead writer) is broken by the TTL
        set_commit_protocol(LockFileCommitProtocol(lock_ttl_s=0.0))
        with open(lock, "w") as f:
            f.write("stale")
        res = snapshot_write(spark.range(300, 305), path, mode="append")
        assert res["version"] == 4
        assert not os.path.exists(lock)
    finally:
        set_commit_protocol(RenameCommitProtocol())


def test_prql_count_fast_path_zero_jobs(spark, tmp_path):
    """`from tbl | aggregate [n = count]` on a manifest table routes
    through snapshot_count — zero Spark jobs when write-time n_rows
    coverage is complete (the compiler's metadata-count fast path),
    and the value matches a real count. Any other aggregate shape
    falls through to the normal plan."""
    from prql_spark import compile_prql
    from prql_spark.sources.catalog import Catalog

    df = spark.range(4321).withColumn("v", F.col("id") % 5)
    snapshot_write(df, str(tmp_path / "fct"), stats_cols=("id",))
    cat = Catalog(spark, str(tmp_path))
    cat.load("fct")  # resolve through the manifest (arms the path)

    # compile first: planning the (immediately discarded) from-scan
    # reads one parquet footer for the schema — O(1) driver work;
    # EXECUTING the count must launch zero jobs and scan zero files
    out = compile_prql("from fct\naggregate [n = count]", cat)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    rows = out.collect()
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert rows[0].n == 4321
    assert after == before, "metadata count must launch zero jobs"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "LocalTableScan" in plan
    assert [f.name for f in out.schema.fields] == ["n"]
    assert out.schema["n"].dataType.simpleString() == "bigint"

    # non-bare count shapes keep the normal plan (and stay correct)
    out2 = compile_prql(
        "from fct\naggregate [n = count, s = sum v]", cat
    )
    r2 = out2.collect()[0]
    assert r2.n == 4321 and r2.s == sum(i % 5 for i in range(4321))
    # a filter first: the count is no longer table-wide — normal plan
    out3 = compile_prql(
        "from fct\nfilter id < 100\naggregate [n = count]", cat
    )
    assert out3.collect()[0].n == 100
    # `count x` (non-null counting) is NOT the fast path
    out4 = compile_prql("from fct\naggregate [n = count id]", cat)
    assert out4.collect()[0].n == 4321


def test_prql_time_travel_version_arg(spark, tmp_path):
    """`from tbl version:N` reads that committed version of a
    manifest table from the query language; the pinned read never
    prunes/counts against the newer manifest, plain tables and the
    SQL backend reject the arg with clear errors."""
    from prql_spark import compile_prql, to_sql
    from prql_spark.compiler import PrqlCompileError
    from prql_spark.sources.catalog import Catalog

    path = str(tmp_path / "ttq")
    snapshot_write(spark.range(100), path, stats_cols=("id",))
    snapshot_write(spark.range(100, 130), path, mode="append",
                   stats_cols=("id",))
    cat = Catalog(spark, str(tmp_path))

    assert compile_prql("from ttq version:1\naggregate [n = count]",
                        cat).collect()[0].n == 100
    assert compile_prql("from ttq\naggregate [n = count]",
                        cat).collect()[0].n == 130
    # a filter on the pinned version stays on version 1's rows
    out = compile_prql("from ttq version:1\nfilter id >= 90\nsort [id]",
                       cat)
    assert [r.id for r in out.collect()] == list(range(90, 100))

    with pytest.raises(PrqlCompileError, match="integer literal"):
        compile_prql('from ttq version:"x"', cat)
    with pytest.raises(Exception, match="not in"):
        compile_prql("from ttq version:9\ntake 1", cat)
    with pytest.raises(PrqlCompileError, match="manifest-committed"):
        compile_prql("from orders version:1\ntake 1",
                     Catalog(spark, "/root/testdata/sf0.001"))
    with pytest.raises(PrqlCompileError, match="SQL text"):
        to_sql("from ttq version:1\ntake 1", cat)


def test_process_increment_exactly_once(spark, tmp_path):
    """Batch-incremental processing: each appended source slice is
    transformed into the destination exactly once — across no-op
    reruns, a crash-before-commit retry, and a vacuum of the source's
    old manifests; a source rewrite surfaces as a refusal."""
    from prql_spark.sources.incremental import process_increment
    from prql_spark.sources.manifest import (
        compact_snapshot,
        vacuum_snapshot,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(spark.range(100), src, stats_cols=("id",))

    double = lambda df: df.withColumn("v", F.col("id") * 2)  # noqa: E731
    r1 = process_increment(spark, src, dst, double, stats_cols=("id",))
    assert r1["processed"] and r1["n_rows_out"] == 100
    assert snapshot_read(spark, dst).count() == 100

    # no new source version: rerun is a no-op
    assert process_increment(spark, src, dst, double)["processed"] is False

    # two appends, one increment run: both slices, once each
    snapshot_write(spark.range(100, 150), src, mode="append",
                   stats_cols=("id",))
    snapshot_write(spark.range(150, 170), src, mode="append",
                   stats_cols=("id",))
    r2 = process_increment(spark, src, dst, double, stats_cols=("id",))
    assert r2["processed"] and r2["n_rows_out"] == 70
    got = {r.id: r.v for r in snapshot_read(spark, dst).collect()}
    assert len(got) == 170 and got[160] == 320

    # crash-before-commit: a transform that dies commits NOTHING;
    # the retry reprocesses the same increment exactly once
    snapshot_write(spark.range(170, 180), src, mode="append",
                   stats_cols=("id",))

    def boom(df):
        return df.withColumn("v", F.expr("assert_true(id < 175)"))

    with pytest.raises(Exception):
        process_increment(spark, src, dst, boom)
    assert snapshot_read(spark, dst).count() == 170  # nothing landed
    r3 = process_increment(spark, src, dst, double)
    assert r3["processed"] and r3["n_rows_out"] is None  # no stats_cols
    assert snapshot_read(spark, dst).count() == 180

    # the bookmark survives vacuuming the source's old manifests
    vacuum_snapshot(spark, src, keep_versions=1, min_age_s=0)
    assert process_increment(spark, src, dst, double)["processed"] is False

    # a source rewrite (compaction) breaks "added files == added
    # rows": the increment read REFUSES rather than misreading
    snapshot_write(spark.range(180, 300), src, mode="append")
    compact_snapshot(spark, src, target_mb=1024)
    with pytest.raises(ValueError, match="not append"):
        process_increment(spark, src, dst, double)


def test_delete_partition_fast_path_zero_tasks(spark, tmp_path):
    """A delete whose predicate provably depends only on partition
    columns drops whole files from the manifest — zero Spark jobs,
    no data file opened (transactional DROP PARTITION); anything not
    provable falls through to the row-level path."""
    from prql_spark.sources.manifest import delete_snapshot

    path = str(tmp_path / "dp")
    df = spark.createDataFrame(
        [(i, None if i % 5 == 4 else i % 4, i * 10) for i in range(200)],
        "id INT, bucket INT, v INT",
    )
    snapshot_write(df, path, partition_by=("bucket",))
    m1 = json.load(open(os.path.join(
        path, "_manifests", f"v{1:010d}.json")))

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    res = delete_snapshot(spark, path, "bucket = 2")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert res["partition_only"] is True and res["n_files_new"] == 0
    assert after == before, "partition delete must launch zero jobs"
    m2 = json.load(open(os.path.join(
        path, "_manifests", f"v{2:010d}.json")))
    # survivors are referenced verbatim; the dropped partition's
    # files are simply absent (reclaimed later by vacuum)
    assert {f["path"] for f in m2["files"]} < {
        f["path"] for f in m1["files"]
    }
    got = snapshot_read(spark, path)
    assert got.where("bucket = 2").count() == 0
    assert got.count() == 200 - sum(
        1 for i in range(200) if i % 5 != 4 and i % 4 == 2
    )
    assert snapshot_read(spark, path, 1).count() == 200  # time travel

    # NULL partition drops wholesale too (IS NULL is partition-pure)
    res2 = delete_snapshot(spark, path, "bucket IS NULL")
    assert res2["partition_only"] is True
    assert snapshot_read(spark, path).where("bucket IS NULL").count() == 0

    # mixed predicate (data column involved): row-level path
    res3 = delete_snapshot(spark, path, "bucket = 1 AND v >= 1900")
    assert "partition_only" not in res3
    left = snapshot_read(spark, path)
    assert left.where("bucket = 1 AND v >= 1900").count() == 0
    assert left.where("bucket = 1").count() > 0

    # no-column predicate: row-level semantics preserved
    res4 = delete_snapshot(spark, path, "1 = 0")
    assert "partition_only" not in res4 and res4.get("noop") is True


def test_merge_schema_evolution_add_column(spark, tmp_path):
    """Opt-in merge evolution (mirrors append's): a source with an
    ADDED column upserts; untouched files and survivors null-fill
    the new column at read; without the flag the mismatch raises."""
    from prql_spark.sources.manifest import merge_snapshot

    path = str(tmp_path / "mgev")
    snapshot_write(
        spark.range(100).withColumn("val", F.col("id") * 10)
        .repartitionByRange(4, "id").sortWithinPartitions("id"),
        path, stats_cols=("id",),
    )
    src = spark.createDataFrame(
        [(5, -5, "new"), (200, 1, "ins")],
        "id LONG, val LONG, note STRING",
    )
    with pytest.raises(ValueError, match="allow_new_columns"):
        merge_snapshot(spark, path, src, on=("id",))
    res = merge_snapshot(
        spark, path, src, on=("id",), allow_new_columns=True
    )
    assert res["operation"] == "merge"
    got = {r.id: (r.val, r.note) for r in snapshot_read(spark, path).collect()}
    assert len(got) == 101
    assert got[5] == (-5, "new") and got[200] == (1, "ins")
    assert got[6] == (60, None)   # survivor in the touched file
    assert got[99] == (990, None)  # untouched file, null-filled
    # time travel reads the OLD schema
    assert "note" not in snapshot_read(spark, path, 1).columns
    # a second plain merge against the evolved schema works
    src2 = spark.createDataFrame(
        [(6, -6, "again")], "id LONG, val LONG, note STRING"
    )
    merge_snapshot(spark, path, src2, on=("id",))
    assert snapshot_read(spark, path).where("id = 6").collect()[0].note == "again"


def test_compact_max_replan_retries_onto_new_head(spark, tmp_path, monkeypatch):
    """max_replan opts a maintenance job into automatic re-planning:
    the raced attempt conflicts, the retry compacts the NEW head
    (racing append included) — nothing lost, no raise."""
    from prql_spark.sources import manifest as mf

    path = str(tmp_path / "crp")
    snapshot_write(spark.range(1000).repartition(8), path)
    real_stage = mf._stage_commit

    def stage_then_race(df, base, fs, jvm, *a, **kw):
        out = real_stage(df, base, fs, jvm, *a, **kw)
        monkeypatch.setattr(mf, "_stage_commit", real_stage)
        snapshot_write(spark.range(5000, 5020), path, mode="append")
        return out

    monkeypatch.setattr(mf, "_stage_commit", stage_then_race)
    res = compact_snapshot(spark, path, target_mb=256, max_replan=2)
    assert res["compacted"]
    assert _ids(snapshot_read(spark, path)) == sorted(
        list(range(1000)) + list(range(5000, 5020))
    )


def test_partition_scoped_compact_and_optimize(spark, tmp_path):
    """where= scopes a maintenance rewrite to matching partitions'
    files — everything else referenced verbatim (the 100 TB shape:
    compact yesterday's partition, not the table); a non-partition
    predicate is rejected."""
    from prql_spark.sources.manifest import optimize_snapshot

    path = str(tmp_path / "scoped")
    df = spark.range(2000).withColumn(
        "ds", F.expr("IF(id % 2 = 0, 'day1', 'day2')")
    ).withColumn("v", F.col("id") % 7).repartition(6)
    snapshot_write(df, path, partition_by=("ds",))
    m1 = json.load(open(os.path.join(
        path, "_manifests", f"v{1:010d}.json")))
    day2_before = {
        f["path"] for f in m1["files"]
        if (f.get("partition") or {}).get("ds") == "day2"
    }

    res = compact_snapshot(spark, path, target_mb=1024, where="ds = 'day1'")
    assert res["compacted"] and res["n_files_after"] == 1
    m2 = json.load(open(os.path.join(
        path, "_manifests", f"v{2:010d}.json")))
    # day2's files are byte-identical references
    assert day2_before <= {f["path"] for f in m2["files"]}
    assert snapshot_read(spark, path).count() == 2000

    res2 = optimize_snapshot(
        spark, path, zorder_by=("id",), target_files=2,
        where="ds = 'day2'",
    )
    assert res2["operation"] == "optimize" and res2["n_files_after"] == 2
    m3 = json.load(open(os.path.join(
        path, "_manifests", f"v{3:010d}.json")))
    # day1's compacted file is untouched by the day2 optimize
    day1_after = {
        f["path"] for f in m2["files"]
        if (f.get("partition") or {}).get("ds") == "day1"
    }
    assert day1_after <= {f["path"] for f in m3["files"]}
    assert snapshot_read(spark, path).count() == 2000
    # per-file id stats exist on the optimized day2 files
    new_files = [f for f in m3["files"] if f["path"] not in
                 {g["path"] for g in m2["files"]}]
    assert new_files and all("id" in (f.get("stats") or {}) for f in new_files)

    # a data-column where is rejected (rewrites are partition-scoped)
    with pytest.raises(ValueError, match="partition columns"):
        compact_snapshot(spark, path, where="v = 3")


def test_vacuum_dry_run_deletes_nothing(spark, tmp_path):
    from prql_spark.sources.manifest import vacuum_snapshot

    path = str(tmp_path / "vdr")
    snapshot_write(spark.range(500).repartition(4), path)
    compact_snapshot(spark, path, target_mb=1024)  # v2
    rep = vacuum_snapshot(
        spark, path, keep_versions=1, min_age_s=0, dry_run=True
    )
    assert rep["dry_run"] is True
    assert rep["dropped_files"] == 4 and rep["dropped_manifests"] == 1
    assert len(rep["would_delete"]) == 4
    # nothing actually deleted: v1 still reads
    assert snapshot_read(spark, path, 1).count() == 500
    # the real run reclaims exactly what the dry run reported
    rep2 = vacuum_snapshot(spark, path, keep_versions=1, min_age_s=0)
    assert rep2["dropped_files"] == 4 and rep2["dropped_manifests"] == 1
    with pytest.raises(ValueError):
        snapshot_read(spark, path, 1)


def test_snapshot_describe_metadata_only(spark, tmp_path):
    """DESCRIBE for manifest tables: schema, partitioning, totals,
    stream high-waters, and per-column stats coverage — from one
    manifest read, zero Spark jobs."""
    from prql_spark.sources.manifest import snapshot_describe

    path = str(tmp_path / "dsc")
    df = spark.range(300).withColumn(
        "grp", (F.col("id") % 3).cast("int")
    ).withColumn("note", F.lit("x"))
    snapshot_write(df, path, partition_by=("grp",), stats_cols=("id",))
    snapshot_write(
        spark.range(300, 350).withColumn(
            "grp", F.lit(9).cast("int")
        ).withColumn("note", F.lit("y")),
        path, mode="append", stats_cols=("id",),
        partition_by=("grp",),
        extra={"stream_id": "s1", "epoch": 4},
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    d = snapshot_describe(spark, path)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # metadata only
    assert d["version"] == 2 and d["operation"] == "append"
    assert d["partition_by"] == ["grp"]
    assert [c for c, _t in d["schema"]] == ["id", "grp", "note"]
    assert d["n_rows"] == 350
    assert d["streams"] == {"s1": 4}
    cov = d["stats_coverage"]
    assert cov["id"]["files_with_stats"] == d["n_files"]
    assert cov["id"]["min"] == 0 and cov["id"]["max"] == 349
    assert cov["grp"]["min"] == 0 and cov["grp"]["max"] == 9
    assert "note" not in cov  # never collected: visible at a glance
    # time travel describes the old version
    assert snapshot_describe(spark, path, version=1)["n_rows"] == 300


def test_delete_timestamp_string_literal_forms(spark, tmp_path):
    """r10 ADVICE: a plain space-separated timestamp literal
    (``ts <= '2024-01-01 04:59:59'``, the natural Spark form) must
    not mis-prune against isoformat stats ('T' > ' ' raw-lex), and
    an un-padded fraction equality (``.123`` vs stats ``.123000``)
    must still find its file. Pruning may only drop a file when the
    raw AND ts-normalized orderings agree (_lt_for_prune)."""
    import datetime

    from prql_spark.sources.manifest import delete_snapshot

    path = str(tmp_path / "dts")
    rows = [(i, datetime.datetime(2024, 1, 1, i)) for i in range(24)]
    snapshot_write(
        spark.createDataFrame(rows, "id int, ts timestamp")
        .repartitionByRange(4, "ts").sortWithinPartitions("ts"),
        path, stats_cols=("ts",),
    )
    res = delete_snapshot(spark, path, "ts <= '2024-01-01 04:59:59'")
    assert res.get("n_files_rewritten", 0) >= 1, f"mis-pruned: {res}"
    assert snapshot_read(spark, path).count() == 19

    # fraction zero-trim: equality on '.123' vs stats '...123000'
    path2 = str(tmp_path / "dts2")
    rows2 = [
        (i, datetime.datetime(2024, 1, 1, 0, 0, 0, 123000 + i))
        for i in range(5)
    ]
    snapshot_write(
        spark.createDataFrame(rows2, "id int, ts timestamp"),
        path2, stats_cols=("ts",),
    )
    delete_snapshot(
        spark, path2, "ts = TIMESTAMP '2024-01-01 00:00:00.123'"
    )
    assert snapshot_read(spark, path2).count() == 4

    # a STRING column holding datetime-shaped text keeps raw-lex
    # correctness: deleting the space-form rows works, and stats
    # pruning on the T-form bound never drops a matching file
    path3 = str(tmp_path / "dts3")
    svals = [(i, f"2024-01-01 {i:02d}:00:00") for i in range(10)]
    snapshot_write(
        spark.createDataFrame(svals, "id int, s string"),
        path3, stats_cols=("s",),
    )
    delete_snapshot(spark, path3, "s <= '2024-01-01 03:59:59'")
    assert snapshot_read(spark, path3).count() == 6


def test_prql_count_fast_path_respects_non_sargable_filter(spark, tmp_path):
    """r10 ADVICE: the metadata-count fast path must NOT fire past a
    filter that didn't prune (non-sargable predicates), and a second
    filter's pushdown must never re-plan the scan over an
    already-filtered DataFrame (that would drop the first filter)."""
    from prql_spark import compile_prql
    from prql_spark.sources.catalog import Catalog

    df = spark.range(1000).withColumn("v", F.col("id") % 5)
    snapshot_write(df, str(tmp_path / "fnc"), stats_cols=("id",))
    cat = Catalog(spark, str(tmp_path))
    cat.load("fnc")

    q = "from fnc\nfilter v != 2\naggregate [n = count]"
    assert compile_prql(q, cat).collect()[0].n == 800
    q = "from fnc\nfilter id % 5 == 2\naggregate [n = count]"
    assert compile_prql(q, cat).collect()[0].n == 200
    # QUALIFY-shaped filter (window fn) also consumes the fast path
    q = ("from fnc\nfilter id < (avg id)\n"
         "aggregate [n = count]")
    assert compile_prql(q, cat).collect()[0].n == 500
    # two filters: the second (sargable) must not clobber the first
    q = ("from fnc\nfilter v != 2\nfilter id < 100\n"
         "aggregate [n = count]")
    assert compile_prql(q, cat).collect()[0].n == 80
    # pushdown itself still fires on the FIRST filter after from
    out = compile_prql("from fnc\nfilter id < 1\nselect [id]", cat)
    assert [r.id for r in out.collect()] == [0]


def test_process_increment_pins_end_version_vs_racing_append(
    spark, tmp_path, monkeypatch
):
    """r10 VERDICT #1: a source append landing BETWEEN
    process_increment's version listing and snapshot_changes' own
    re-listing must not be processed under a bookmark that doesn't
    cover it (the next run would duplicate it). The increment read
    is pinned to the captured end version, so the raced append is
    simply the NEXT run's increment — zero duplicates."""
    from prql_spark.sources import manifest as mfmod
    from prql_spark.sources.incremental import process_increment

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(spark.range(100), src, stats_cols=("id",))
    process_increment(spark, src, dst, stats_cols=("id",))
    snapshot_write(spark.range(100, 150), src, mode="append",
                   stats_cols=("id",))

    # inject the race: the moment the bookmark is read (after the
    # source version listing, before snapshot_changes), a concurrent
    # appender lands version 3
    real_hw = mfmod.stream_high_water
    fired = {"n": 0}

    def racing_hw(sp, path, name):
        if fired["n"] == 0:
            fired["n"] += 1
            snapshot_write(spark.range(150, 180), src, mode="append",
                           stats_cols=("id",))
        return real_hw(sp, path, name)

    monkeypatch.setattr(mfmod, "stream_high_water", racing_hw)
    r = process_increment(spark, src, dst, stats_cols=("id",))
    monkeypatch.setattr(mfmod, "stream_high_water", real_hw)
    # only the increment visible at listing time was processed
    assert r["processed"] and r["n_rows_out"] == 50
    assert snapshot_read(spark, dst).count() == 150

    # the raced append is the next run's increment — once, not twice
    r2 = process_increment(spark, src, dst, stats_cols=("id",))
    assert r2["processed"] and r2["n_rows_out"] == 30
    got = [r.id for r in snapshot_read(spark, dst).collect()]
    assert len(got) == 180 and len(set(got)) == 180  # zero duplicates
    assert process_increment(spark, src, dst)["processed"] is False


def test_snapshot_changes_end_version_validation(spark, tmp_path):
    """end_version must be a committed version >= since_version; the
    rewrite refusal only inspects (since, end] — a compaction AFTER
    the pinned end does not block reading an older increment."""
    from prql_spark.sources.manifest import (
        compact_snapshot,
        snapshot_changes,
    )

    p = str(tmp_path / "t")
    snapshot_write(spark.range(10).repartition(4), p)
    snapshot_write(spark.range(10, 30).repartition(4), p, mode="append")
    assert snapshot_changes(spark, p, 1, end_version=2).count() == 20
    assert snapshot_changes(spark, p, 1, end_version=1).count() == 0
    with pytest.raises(ValueError, match="not in"):
        snapshot_changes(spark, p, 1, end_version=9)
    with pytest.raises(ValueError, match="< since"):
        snapshot_changes(spark, p, 2, end_version=1)
    # a compaction at v3: unpinned read refuses, pinned-at-2 still works
    compact_snapshot(spark, p, target_mb=1024)
    with pytest.raises(ValueError, match="not append"):
        snapshot_changes(spark, p, 1)
    assert snapshot_changes(spark, p, 1, end_version=2).count() == 20


_INC_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 20)),
        st.tuples(st.just("run"), st.just(0)),
        st.tuples(st.just("run_racing_append"), st.integers(1, 20)),
        st.tuples(st.just("crash_run"), st.just(0)),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_INC_OPS)
def test_process_increment_model_under_interleavings(
    spark, tmp_path_factory, ops
):
    """Protocol model for the batch-incremental layer: any
    interleaving of source appends, increment runs, runs with a
    CONCURRENT appender landing inside the run's race window, and
    crash-before-commit runs ends — after one final clean run — with
    the destination holding every source row EXACTLY once."""
    from prql_spark.sources import manifest as mfmod
    from prql_spark.sources.incremental import process_increment

    base = tmp_path_factory.mktemp("incmodel")
    src, dst = str(base / "src"), str(base / "dst")
    next_id = 0

    def append(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        snapshot_write(
            spark.createDataFrame([(i,) for i in ids], "id long"),
            src,
            mode="append" if mfmod._versions(
                *mfmod._fs(spark, src), src) else "overwrite",
        )

    append(5)  # the table must exist before the first run
    real_hw = mfmod.stream_high_water
    for op, arg in ops:
        if op == "append":
            append(arg)
        elif op == "run":
            process_increment(spark, src, dst)
        elif op == "run_racing_append":
            state = {"fired": False}

            def racing_hw(sp, path, name, _n=arg, _s=state):
                if not _s["fired"]:
                    _s["fired"] = True
                    append(_n)
                return real_hw(sp, path, name)

            mfmod.stream_high_water = racing_hw
            try:
                process_increment(spark, src, dst)
            finally:
                mfmod.stream_high_water = real_hw
        else:  # crash_run: transform dies — nothing may land
            def boom(df):
                raise RuntimeError("injected crash")

            try:
                process_increment(spark, src, dst, boom)
            except RuntimeError:
                pass
    process_increment(spark, src, dst)  # drain
    got = [r.id for r in snapshot_read(spark, dst).collect()]
    assert sorted(got) == list(range(next_id)), ops


def test_lockfile_protocol_crash_leaves_no_truncated_head(spark, tmp_path):
    """r10 ADVICE: LockFileCommitProtocol must never expose a
    partially written manifest as a committed version. The content
    is staged fully under a hidden tmp name and RENAMED into place —
    so the debris of a writer that died mid-write (stale lock +
    partial dotted tmp) is invisible to readers, is never listed by
    _versions, and does not block the next publisher."""
    import os

    from prql_spark.sources.manifest import (
        LockFileCommitProtocol,
        RenameCommitProtocol,
        set_commit_protocol,
    )

    path = str(tmp_path / "t")
    set_commit_protocol(LockFileCommitProtocol(lock_ttl_s=0.0))
    try:
        snapshot_write(spark.range(10), path)
        mdir = os.path.join(path, "_manifests")
        # simulate a writer that died holding the lock, mid-stage:
        # stale lock + truncated dotted tmp of the NEXT version
        with open(os.path.join(mdir, ".commit.lock"), "w") as f:
            f.write("dead")
        with open(
            os.path.join(mdir, ".v0000000002.json.dead0000.tmp"), "w"
        ) as f:
            f.write('{"version": 2, "files": [')  # truncated JSON
        # readers: only the committed head is visible and it parses
        assert snapshot_read(spark, path).count() == 10
        hist = snapshot_history(spark, path)
        assert hist.count() == 1
        # the next publisher breaks the stale lock and wins cleanly
        res = snapshot_write(spark.range(10, 15), path, mode="append")
        assert res["version"] == 2
        assert snapshot_read(spark, path).count() == 15
        # a pre-existing fully-committed head is never overwritten
        # (double-slip defense): direct publish of v2 returns False
        from prql_spark.sources.manifest import _fs, get_commit_protocol
        fs, jvm = _fs(spark, path)
        before = open(os.path.join(mdir, "v0000000002.json")).read()
        ok = get_commit_protocol().publish(
            fs, jvm, mdir, "v0000000002.json", '{"evil": true}'
        )
        assert ok is False
        assert open(os.path.join(mdir, "v0000000002.json")).read() == before
    finally:
        set_commit_protocol(RenameCommitProtocol())


def test_file_stats_rejects_tz_aware_footer_bounds(tmp_path):
    """r11 ADVICE #1: TIMESTAMP_MICROS/MILLIS footers carry tz-AWARE
    min/max; every other stats producer/consumer compares NAIVE
    isoformat strings, so a '+00:00' suffix would lexicographically
    mis-prune (a file whose min equals the query hi bound sorts
    greater) and a non-UTC session timezone shifts the wall-clock
    value. The footer reader must treat tz-aware bounds as unusable
    — the exact distributed scan then provides naive stats."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from prql_spark.sources import manifest as mf

    p = str(tmp_path / "tz.parquet")
    t = pa.table(
        {
            "ts": pa.array(
                [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)],
                type=pa.timestamp("us", tz="UTC"),
            ),
            "id": pa.array([1, 2], type=pa.int64()),
        }
    )
    pq.write_table(t, p)

    def stats(cols):
        n_rows, st = mf._footer_rows_and_stats(p, cols)
        assert n_rows == 2  # the row count survives unusable stats
        return st

    assert stats(("ts",)) is None  # tz-aware: unusable
    assert stats(("ts", "id")) is None  # any col poisons
    assert stats(("id",)) == {"id": [1, 2]}  # naive: fine


def test_micros_timestamp_write_keeps_naive_stats(spark, tmp_path):
    """End-to-end form of the tz-aware guard: with MICROS parquet
    output (tz-aware footer stats) the write-time stats fast path
    must fall back to the distributed scan, so the manifest carries
    NAIVE encodings and a boundary snapshot_scan (query hi == file
    min) keeps its matching rows."""
    import datetime as dt

    from prql_spark.sources.manifest import snapshot_scan

    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    try:
        path = str(tmp_path / "tsmicros")
        rows = [(i, dt.datetime(2024, 1, 1, i)) for i in range(6)]
        snapshot_write(
            spark.createDataFrame(rows, "id int, ts timestamp")
            .repartitionByRange(3, "ts").sortWithinPartitions("ts"),
            path, stats_cols=("ts",),
        )
        m = json.load(
            open(os.path.join(path, "_manifests", "v0000000001.json"))
        )
        got_stats = 0
        for f in m["files"]:
            rng = (f.get("stats") or {}).get("ts")
            if rng is None:
                continue
            got_stats += 1
            assert "+" not in rng[0] and "+" not in rng[1], rng
        assert got_stats >= 1  # distributed fallback attached stats
        # boundary: a file whose min equals the hi bound must be read
        out = snapshot_scan(
            spark, path, "ts",
            lo=dt.datetime(2024, 1, 1, 2),
            hi=dt.datetime(2024, 1, 1, 2),
        )
        assert [r.id for r in out.collect()] == [2]
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)


def test_staged_stats_footers_executor_path(spark, tmp_path, monkeypatch):
    """r11 VERDICT next-round #4: on non-local schemes the footer
    fast path reads footers EXECUTOR-side (one tiny task per staged
    file through pyarrow's filesystem resolution) instead of giving
    the win back to the distributed stats re-scan. Forced here by
    mocking the local-scheme probe to 'not local' over a local dir:
    the executor path must attach the same rows/stats the driver
    path does."""
    from prql_spark.sources import manifest as mf
    from prql_spark.sources.manifest import snapshot_scan

    monkeypatch.setattr(mf, "_footer_local_dir", lambda d: None)
    path = str(tmp_path / "execstats")
    df = spark.range(8000).withColumn("v", F.col("id") * 2)
    snapshot_write(
        df.repartitionByRange(8, "id").sortWithinPartitions("id"),
        path, stats_cols=("id",),
    )
    m = json.load(
        open(os.path.join(path, "_manifests", "v0000000001.json"))
    )
    assert len(m["files"]) == 8
    for f in m["files"]:
        assert isinstance(f["n_rows"], int) and f["n_rows"] > 0
        lo, hi = f["stats"]["id"]
        assert 0 <= lo <= hi < 8000
    assert sum(f["n_rows"] for f in m["files"]) == 8000
    out = snapshot_scan(spark, path, "id", lo=1000, hi=1999)
    assert out.count() == 1000
    n_input_files = out.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    # stats actually prune: exactly the files whose [lo, hi] range
    # intersects the query bound are read (repartitionByRange samples
    # boundaries, so the overlap count is data- not constant-valued)
    n_overlap = sum(
        1
        for f in m["files"]
        if f["stats"]["id"][0] <= 1999 and f["stats"]["id"][1] >= 1000
    )
    assert n_input_files == n_overlap < 8


def test_process_increment_raced_append_lands_next_run(
    spark, tmp_path, monkeypatch
):
    """r10-prescribed injected-race evidence for the end_version pin:
    an appender landing a NEW source version between
    process_increment's version listing and its increment read must
    not be swallowed under the already-captured bookmark (the
    pre-r11 bug: the read saw the raced rows but the bookmark did
    not cover their version, so the next run duplicated them). With
    the read pinned to the captured ``latest``, the raced append is
    simply the NEXT run's increment — zero duplicates, zero
    losses."""
    from prql_spark.sources import manifest as mf
    from prql_spark.sources.incremental import process_increment

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(spark.range(50), src, stats_cols=("id",))
    double = lambda df: df.withColumn("v", F.col("id") * 2)  # noqa: E731
    r0 = process_increment(spark, src, dst, double, stats_cols=("id",))
    assert r0["processed"] and r0["n_rows_out"] == 50

    snapshot_write(spark.range(50, 80), src, mode="append",
                   stats_cols=("id",))

    real_changes = mf.snapshot_changes

    def changes_after_race(spark_, path, since_version, end_version=None,
                           **kw):
        # plant the racing append AFTER the caller listed versions
        # and captured `latest`, but BEFORE the increment read runs
        monkeypatch.setattr(mf, "snapshot_changes", real_changes)
        snapshot_write(spark.range(80, 95), src, mode="append",
                       stats_cols=("id",))
        return real_changes(spark_, path, since_version=since_version,
                            end_version=end_version, **kw)

    monkeypatch.setattr(mf, "snapshot_changes", changes_after_race)
    r1 = process_increment(spark, src, dst, double, stats_cols=("id",))
    # the raced rows are NOT in this run (read pinned to end_version)
    assert r1["processed"] and r1["n_rows_out"] == 30

    # ... and arrive in the NEXT run, exactly once
    r2 = process_increment(spark, src, dst, double, stats_cols=("id",))
    assert r2["processed"] and r2["n_rows_out"] == 15
    got = sorted(r.id for r in snapshot_read(spark, dst).collect())
    assert got == list(range(95))  # every source row exactly once
    assert process_increment(spark, src, dst, double)["processed"] is False


def test_snapshot_read_plans_from_recorded_schema(spark, tmp_path):
    """Unpartitioned reads pass the manifest's ``schema_ddl`` to the
    reader: no inference job, and the same schema and rows as an
    inferring read of the same files, across every column type."""
    import datetime as dt
    from decimal import Decimal

    from prql_spark.sources.manifest import snapshot_pruned_read

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
    path = str(tmp_path / "types")
    snapshot_write(spark.createDataFrame(rows, schema).repartition(2), path,
                   stats_cols=("l",))
    got, n = jobs_started(spark, lambda: snapshot_read(spark, path))
    assert n == 0
    inferred = spark.read.parquet(*got.inputFiles())
    assert got.schema == inferred.schema
    assert [f.dataType.simpleString() for f in got.schema] == [
        f.dataType.simpleString()
        for f in spark.createDataFrame([], schema).schema]
    assert sorted(map(repr, got.collect())) == sorted(
        map(repr, inferred.collect()))

    (pruned, n_kept, _), n = jobs_started(
        spark, lambda: snapshot_pruned_read(spark, path, {"l": (0, 5)}))
    assert n == 0 and n_kept >= 1
    assert pruned.schema == got.schema


def test_time_travel_without_recorded_schema_infers(spark, tmp_path):
    """A manifest written before ``schema_ddl`` existed still reads:
    Spark infers its schema, as it always did."""
    path = str(tmp_path / "legacy")
    snapshot_write(spark.range(0, 10), path)
    snapshot_write(spark.range(10, 15), path, mode="append")
    mf = os.path.join(path, "_manifests", f"v{1:010d}.json")
    with open(mf) as fh:
        m = json.load(fh)
    del m["schema_ddl"]
    with open(mf, "w") as fh:
        json.dump(m, fh)
    # the local Hadoop filesystem checksums the file it wrote
    crc = os.path.join(path, "_manifests", f".v{1:010d}.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    old, n_old = jobs_started(spark, lambda: snapshot_read(spark, path, 1))
    assert n_old >= 1
    assert _ids(old) == list(range(10))
    head, n_head = jobs_started(spark, lambda: snapshot_read(spark, path))
    assert n_head == 0
    assert _ids(head) == list(range(15))


def test_snapshot_scan_space_separated_timestamp_bound(spark, tmp_path):
    """A TIMESTAMP column's stats are isoformat (``T`` separator) while
    a query bound is often space-separated. ``'T' > ' '``, so a raw
    compare would skip the very file holding the matching day: the
    scan must return what the filtered full read returns, reading
    only that day's file."""
    from prql_spark.sources.manifest import snapshot_scan

    path = str(tmp_path / "ts")
    for day in range(1, 5):
        snapshot_write(
            spark.range(10 * (day - 1), 10 * day).coalesce(1).withColumn(
                "ts", F.lit(f"2024-01-0{day} 05:00:00").cast("timestamp")
            ),
            path,
            mode="overwrite" if day == 1 else "append",
            stats_cols=("ts",),
        )
    bound = "2024-01-01 23:59:59"
    want = snapshot_read(spark, path).where(f"ts <= '{bound}'")
    got = snapshot_scan(spark, path, "ts", hi=bound)
    assert _ids(want) == list(range(10))
    assert _ids(got) == _ids(want)
    assert len(got.inputFiles()) == 1  # the other three days skip


@pytest.mark.parametrize(
    "fn, args",
    [
        ("snapshot_read", ()),
        ("snapshot_pruned_read", ({"id": (0, 1)},)),
        ("snapshot_scan", ("id", 0)),
        ("snapshot_count", ()),
        ("snapshot_describe", ()),
        ("snapshot_partitions", ()),
        ("attach_stats", (("id",),)),
    ],
)
def test_unknown_version_raises_value_error(spark, tmp_path, fn, args):
    """Every explicit ``version=`` is checked against the retained
    versions the same way, before any file is opened."""
    from prql_spark.sources import manifest as mf

    path = str(tmp_path / "v")
    snapshot_write(spark.range(5), path)
    with pytest.raises(ValueError, match=r"version 99 not in \[1\]"):
        getattr(mf, fn)(spark, path, *args, version=99)


class _LosingProtocol(CommitProtocol):
    """Commit-protocol double: loses its first ``k`` publishes, as if
    a rival had claimed each version first (``rival`` runs before each
    loss), then delegates to the default rename protocol."""

    def __init__(self, k, rival=None):
        self.losses_left = k
        self.rival = rival
        self.default = RenameCommitProtocol()

    def publish(self, fs, jvm, dir_path, name, text):
        if self.losses_left > 0:
            self.losses_left -= 1
            if self.rival is not None:
                self.rival()
            return False
        return self.default.publish(fs, jvm, dir_path, name, text)


_COMMIT_OPS = {
    "append": lambda spark, p: snapshot_write(
        spark.range(100, 110), p, mode="append"
    ),
    "merge": lambda spark, p: merge_snapshot(
        spark, p, spark.range(5, 25), on=("id",)
    ),
    "delete": lambda spark, p: delete_snapshot(spark, p, "id < 3"),
    "attach_stats": lambda spark, p: attach_stats(spark, p, ("id",)),
    "restore": lambda spark, p: snapshot_restore(spark, p, 1),
}


@pytest.mark.parametrize("op", list(_COMMIT_OPS))
def test_commit_survives_lost_races(spark, tmp_path, monkeypatch, op):
    """Concurrent manifest commits: a publisher that loses races
    rebuilds on the new head and publishes exactly head+1 with the
    right parent, carrying the head's stream high water forward; one
    that loses every attempt raises instead of publishing."""
    from prql_spark.sources import manifest as mf

    path = str(tmp_path / "t")
    snapshot_write(spark.range(20).coalesce(2), path, stats_cols=("id",))
    snapshot_write(
        spark.range(20, 30), path, mode="append",
        extra={"stream_id": "s1", "epoch": 7},
    )
    run = _COMMIT_OPS[op]
    monkeypatch.setattr(mf, "_COMMIT_ATTEMPTS", 3)
    try:
        mf.set_commit_protocol(_LosingProtocol(3))
        with pytest.raises(RuntimeError, match="lost 3 commit races"):
            run(spark, path)
        assert mf._versions(*mf._fs(spark, path), path) == [1, 2]

        losing = _LosingProtocol(2)
        mf.set_commit_protocol(losing)
        run(spark, path)
    finally:
        mf.set_commit_protocol(RenameCommitProtocol())
    assert losing.losses_left == 0
    with open(os.path.join(path, "_manifests", f"v{3:010d}.json")) as fh:
        m = json.load(fh)
    assert mf._versions(*mf._fs(spark, path), path) == [1, 2, 3]
    assert (m["version"], m["parent"]) == (3, 2)
    assert m["streams"] == {"s1": 7}


def test_merge_raises_when_rival_append_lands_before_publish(
    spark, tmp_path
):
    """A rival append that wins the version between merge's plan and
    its publish changes the files the merge was planned against: the
    retry must raise, never publish a head that drops the append."""
    from prql_spark.sources import manifest as mf

    path = str(tmp_path / "t")
    snapshot_write(spark.range(20).coalesce(2), path, stats_cols=("id",))

    def rival():
        snapshot_write(spark.range(500, 505), path, mode="append")

    try:
        mf.set_commit_protocol(_LosingProtocol(1, rival=rival))
        with pytest.raises(RuntimeError, match="concurrent commit"):
            merge_snapshot(spark, path, spark.range(5, 25), on=("id",))
    finally:
        mf.set_commit_protocol(RenameCommitProtocol())
    assert _ids(snapshot_read(spark, path)) == sorted(
        list(range(20)) + list(range(500, 505))
    )
