"""The workloads: seeded inputs, the ops of one pass, and the
independent check of every op's result.

A pass is a fixed sequence of ops, so every run of a workload measures
the same work whatever the seed; the seed decides the generated data
and the op parameters. The order is fixed too: the first ops after
set-up still pay first-use costs (q8 took 4.9 s as the first op of a
seeded order and 2.3-2.7 s later in the pass), so a seeded order moved
those costs between programs and swung the median from run to run.
Checks run after the timed passes, in op order. Each pass is sized so that a run (JVM
launch, warm-up, one pass, checks) stays near 50 s on a 4-core host.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np

from layerbench import inputs, oracle


@dataclass
class Op:
    name: str
    kind: str
    build: Callable[[], Any]
    check: Callable[[Any], str | None]
    drain: bool = True


@dataclass
class Ctx:
    """What a workload needs at run time; ``tracer`` is the run's
    tracer (disabled in untraced runs)."""

    spark: Any
    tracer: Any
    seed: int
    data_dir: str


def _rng(seed: int, stream: str, n: int = 0) -> np.random.Generator:
    return inputs._rng(seed * 1000 + n, stream)


def _entry():
    import __spark_entry__

    return __spark_entry__


class Workload:
    name = ""
    why = ""
    # the untimed op each set-up ends with: a small PRQL join or
    # aggregate over the generated tables (first-use costs of scans,
    # shuffles and code generation land in set-up, not in the first op)
    warm_prql = ""
    # the workload's ops run Arrow UDFs: start the Python workers in
    # set-up too
    warm_udf = False

    def generate(self, seed: int, data_dir: str) -> dict:
        raise NotImplementedError

    def warm_up(self, spark, data_dir: str) -> None:
        import prql_spark
        from pyspark.sql import functions as F

        cat = prql_spark.Catalog(spark, data_dir)
        prql_spark.compile_prql(self.warm_prql, cat).toArrow()
        if self.warm_udf:
            spark.range(64).select(
                F.pandas_udf(lambda s: s + 1, "long")(F.col("id"))).toArrow()

    def begin(self, ctx: Ctx) -> None:
        """Per-run state, created after set-up and before timing."""

    def ops(self, ctx: Ctx, pass_idx: int) -> list[Op]:
        raise NotImplementedError

    def trace_after(self, ctx: Ctx, op: Op, df, span) -> None:
        """Trace-only facts about a finished op, recorded on its span."""

    def extra(self, results) -> dict:
        """Workload-specific end-to-end metrics for the run record, as
        ``name -> (value, unit)``."""
        return {}


# ------------------------------------------------------------------ PRQL

class TpchPrql(Workload):
    name = "tpch_prql"
    why = ("16 PRQL programs, each compiled with a fresh Catalog, planned "
           "and drained: catalog, compiler and plan changes show here")
    SF = 0.01
    # 16 of the 31 programs of ``_PRQL_QUERIES``, in pass order: 12
    # TPC-H shapes (joins of up to 8 tables, subqueries, q21's CTEs)
    # and one program of each of the window, language, CTE/function
    # and top-k suites
    PROGRAMS = ("q1_pricing_summary", "q2_min_cost_supplier",
                "q3_shipping_priority", "q5_local_supplier",
                "q6_forecast_revenue", "q8_market_share", "q9_product_profit",
                "q10_returned_items", "q13_order_distribution",
                "q17_small_qty_revenue", "q18_large_orders",
                "q21_waiting_supplier", "window_functions_suite",
                "language_features_suite", "user_func_cte", "group_topk")
    warm_prql = """
from o=orders
join c=customer [o_custkey == c_custkey]
group [c_mktsegment] (aggregate [n = count, total = sum o_totalprice])
sort [c_mktsegment]
"""

    def generate(self, seed, data_dir):
        return inputs.write_tpch(seed, self.SF, data_dir)

    def begin(self, ctx):
        self.con = oracle.connect(ctx.data_dir, inputs.TPCH_TABLES)
        self.want: dict = {}

    def _want(self, name):
        if name not in self.want:
            sql = _entry()._PRQL_QUERIES[name][1]
            self.want[name] = oracle.query(self.con, sql)
        return self.want[name]

    def ops(self, ctx, pass_idx):
        import prql_spark

        progs = _entry()._PRQL_QUERIES
        out = []
        for name in self.PROGRAMS:
            text = progs[name][0]

            def build(text=text):
                cat = prql_spark.Catalog(ctx.spark, ctx.data_dir)
                return prql_spark.compile_prql(text, cat)

            def check(t, name=name):
                places = oracle.rounded_places(_entry()._PRQL_QUERIES[name][1])
                return oracle.compare(oracle.table_rows(t), self._want(name),
                                      places)

            out.append(Op(name, "query", build, check))
        return out


# ---------------------------------------------------------------- corpus

class CorpusPipeline(Workload):
    """Document operators on a corpus with planted duplicates:
    execution-bound, catalog gains stay flat. Runs as part of
    ``corpus_lakehouse``."""

    warm_prql = """
from documents
group [lang] (aggregate [n = count, chars = sum n_chars])
sort [lang]
"""
    warm_udf = True
    N_DOCS = 2000
    # three of the eight document ops fit the run budget: an exact-dedup shuffle,
    # an Arrow UDF and the minhash connected-components rounds. Left
    # out: prepare_training_corpus (the slowest, 6-8 s),
    # text_unigram_logprob, docs_clean_pipeline, dedup_paragraphs and
    # dedup_remove_windows
    OPS = ("dedup_exact", "text_quality_score", "dedup_minhash_clusters")

    def generate(self, seed, data_dir):
        return inputs.write_documents(seed, self.N_DOCS, data_dir)

    def begin(self, ctx):
        import pyarrow.parquet as pq

        entry = _entry()
        self.entries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.con = oracle.connect(ctx.data_dir, ["documents"])
        docs = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        self.input_ids = set(docs["doc_id"])
        by_text: dict[str, list[int]] = {}
        for i, t in zip(docs["doc_id"], docs["text"]):
            by_text.setdefault(t, []).append(i)
        self.exact_groups = [g for g in by_text.values() if len(g) > 1]

    def check_clusters(self, t) -> str | None:
        """Partial check of the minhash cluster labels. The DuckDB
        replay oracle needs 30-120 s on this corpus (a 64-permutation
        signature fold plus a recursive closure), beyond a run's
        budget, so instead: ids unique and from the input, every
        cluster labelled by its smallest member and at least two
        strong, and every planted exact-duplicate group (identical
        signatures, so always connected) inside one cluster."""
        if t.column_names != ["doc_id", "cluster_id"]:
            return f"columns {t.column_names}"
        label = dict(zip(*t.to_pydict().values()))
        if len(label) != t.num_rows or not set(label) <= self.input_ids:
            return "cluster ids not unique or not from the input"
        members: dict[int, list[int]] = {}
        for doc, cid in label.items():
            members.setdefault(cid, []).append(doc)
        for cid, docs in members.items():
            if len(docs) < 2 or min(docs) != cid:
                return f"cluster {cid} has members {sorted(docs)[:5]}"
        for group in self.exact_groups:
            if len({label.get(d) for d in group}) != 1 or group[0] not in label:
                return f"exact duplicates {group[:5]} split across clusters"
        return None

    def ops(self, ctx, pass_idx):
        out = []
        for name in self.OPS:
            fn = self.entries[name]

            def build(fn=fn):
                with ctx.tracer.span("operators"):
                    return fn(ctx.spark, ctx.data_dir)

            def check(t, name=name):
                sql = self.oracles[name]
                return oracle.compare(oracle.table_rows(t),
                                      oracle.query(self.con, sql),
                                      oracle.rounded_places(sql))

            if name == "dedup_minhash_clusters":
                check = self.check_clusters
            out.append(Op(name, "operator", build, check))
        return out



# ------------------------------------------------------------- lakehouse

_AGG_SQL = ("count(*) AS n, sum(o_totalprice) AS total, "
            "max(o_orderkey) AS max_key")
_AGG_PRQL = "aggregate [n = count, total = sum o_totalprice, max_key = max o_orderkey]"


class LakehouseCommits(Workload):
    """Manifest commits between pruned, time-travel and change reads
    and SQL authoring: commit jobs and growing table metadata. Runs as
    part of ``corpus_lakehouse``."""

    BASE_ROWS = 20_000
    BATCH_ROWS = 4_000

    def generate(self, seed, data_dir):
        return inputs.write_lake(seed, data_dir, self.BASE_ROWS,
                                 self.BATCH_ROWS, n_appends=2, n_merges=1)

    def begin(self, ctx):
        self.tables = os.path.join(ctx.data_dir, "tables")
        self.path = os.path.join(self.tables, "lake")
        self.con = oracle.connect(ctx.data_dir,
                                  ["base", "append0", "append1", "merge0"])
        self.con.execute("CREATE TABLE cur AS SELECT * FROM base LIMIT 0")
        self.versions: dict[str, int] = {}
        self.head = 0
        self.files: dict[str, int] = {}
        self.commits = 0
        # authoring traffic (CLI --sql / --explain, the notebook magic)
        # keeps one Catalog for the whole session, unlike queries
        import prql_spark

        self.session_catalog = prql_spark.Catalog(ctx.spark, self.tables)

    # -- commits: build the source, commit, replay in DuckDB on success
    def _src(self, ctx, name):
        import prql_spark

        return prql_spark.Catalog(ctx.spark, ctx.data_dir).load(name)

    def _commit(self, replay):
        def check(res):
            v = res.get("version") if isinstance(res, dict) else None
            if v is None or v <= self.head:
                return f"commit returned version {v} after head {self.head}"
            self.head = v
            self.commits += 1
            for stmt in replay:
                self.con.execute(stmt)
            self.con.execute(
                f"CREATE OR REPLACE TABLE v{v} AS SELECT * FROM cur")
            return None
        return check

    def _read(self, expect_sql):
        def check(t):
            got = t.to_pylist()
            want = self.con.execute(expect_sql()).fetchall()
            if len(got) != 1 or len(want) != 1:
                return f"expected one aggregate row, got {len(got)}"
            g, (n, total, max_key) = got[0], want[0]
            if g["n"] != n or g["max_key"] != max_key or not oracle.close(
                    g["total"], total):
                return f"read {g} != (n={n}, total={total}, max_key={max_key})"
            return None
        return check

    def _author_check(self, ctx, text, dialect, emitted, expect_sql):
        """The emitted SQL, or the DuckDB-dialect SQL when the seeded
        dialect is not runnable there, must give the replay's answer."""
        import prql_spark

        def check(df):
            if [c.lower() for c in df.columns] != ["n", "total", "max_key"]:
                return f"compiled columns {df.columns}"
            sql = emitted["sql"]
            if dialect not in self.ANSI:
                cat = prql_spark.Catalog(ctx.spark, self.tables)
                sql = prql_spark.to_sql(text, cat, dialect="duckdb")
            self.con.execute("CREATE OR REPLACE VIEW lake AS SELECT * FROM cur")
            got = self.con.execute(sql).fetchall()
            want = self.con.execute(expect_sql).fetchall()
            if len(got) != 1 or got[0][0] != want[0][0] or got[0][2] != want[0][2] \
                    or not oracle.close(got[0][1], want[0][1]):
                return f"{dialect} SQL gave {got} != {want}"
            return None
        return check

    # dialects whose emitted SQL is double-quoted ANSI, runnable in DuckDB
    ANSI = ("ansi", "clickhouse", "duckdb", "generic", "mssql", "postgres",
            "snowflake", "sqlite")
    DIALECTS = ANSI + ("bigquery", "hive", "mysql", "spark")

    def ops(self, ctx, pass_idx):
        import prql_spark
        from prql_spark.sources import manifest
        from pyspark.sql import functions as F

        rng = _rng(ctx.seed, "lake_params", pass_idx)
        base = self.BASE_ROWS
        lo = int(rng.integers(0, base - base // 10))
        hi = lo + base // 20
        dlo = int(rng.integers(0, base - base // 20))
        dhi = dlo + base // 50
        del_range = f"o_orderkey >= {dlo} AND o_orderkey <= {dhi}"
        range_prql = (f"from lake\nfilter o_orderkey >= {lo} and "
                      f"o_orderkey <= {hi}\n{_AGG_PRQL}")
        range_sql = (f"SELECT {_AGG_SQL} FROM cur "
                     f"WHERE o_orderkey BETWEEN {lo} AND {hi}")
        path, stats = self.path, ("o_orderkey",)

        def catalog():
            return prql_spark.Catalog(ctx.spark, self.tables)

        def commit(name, label, fn, replay):
            def build():
                res = fn()
                # later ops of the pass address this version
                self.versions[label] = res.get("version")
                return res
            return Op(name, "commit", build, self._commit(replay))

        def append(k):
            src = f"append{k}"
            return commit(f"append_{k}", src, lambda: manifest.snapshot_write(
                clustered(src, 2), path, mode="append", stats_cols=stats),
                [f"INSERT INTO cur SELECT * FROM {src}"])

        def read(name, build, expect_sql):
            return Op(name, "read", build, self._read(expect_sql))

        def read_all():
            return read("read_all", lambda: agg(manifest.snapshot_read(
                ctx.spark, path)), lambda: f"SELECT {_AGG_SQL} FROM cur")

        def read_range():
            return read("read_range", lambda: prql_spark.compile_prql(
                range_prql, catalog()), lambda: range_sql)

        def read_version(label):
            seen = {}

            def build():
                seen["v"] = self.versions[label]
                return prql_spark.compile_prql(
                    f"from lake version:{seen['v']}\n{_AGG_PRQL}", catalog())

            return read("read_version", build,
                        lambda: f"SELECT {_AGG_SQL} FROM v{seen['v']}")

        def author():
            """CLI ``--sql`` traffic on the live table: parse, emit SQL
            in a seeded dialect, compile and plan; nothing runs."""
            dialect = self.DIALECTS[int(rng.integers(0, len(self.DIALECTS)))]
            emitted: dict = {}

            def build():
                cat = self.session_catalog
                prql_spark.parse(range_prql)
                emitted["sql"] = prql_spark.to_sql(range_prql, cat,
                                                   dialect=dialect)
                return prql_spark.compile_prql(range_prql, cat)

            return Op("author_range", "author", build, self._author_check(
                ctx, range_prql, dialect, emitted, range_sql), drain=False)

        def agg(df):
            return df.agg(F.count(F.lit(1)).alias("n"),
                          F.sum("o_totalprice").alias("total"),
                          F.max("o_orderkey").alias("max_key"))

        def clustered(name, n_files):
            return (self._src(ctx, name)
                    .repartitionByRange(n_files, "o_orderkey")
                    .sortWithinPartitions("o_orderkey"))

        return [
            commit("write_base", "base", lambda: manifest.snapshot_write(
                clustered("base", 8), path, stats_cols=stats),
                ["DELETE FROM cur", "INSERT INTO cur SELECT * FROM base"]),
            author(),
            append(0),
            read_range(),
            append(1),
            read("read_changes", lambda: agg(manifest.snapshot_changes(
                ctx.spark, path, self.versions["base"],
                self.versions["append1"])),
                lambda: f"SELECT {_AGG_SQL} FROM (SELECT * FROM append0 "
                        "UNION ALL SELECT * FROM append1)"),
            commit("merge_0", "merge0", lambda: manifest.merge_snapshot(
                ctx.spark, path, self._src(ctx, "merge0"), on=stats),
                ["DELETE FROM cur WHERE o_orderkey IN "
                 "(SELECT o_orderkey FROM merge0)",
                 "INSERT INTO cur SELECT * FROM merge0"]),
            read_version("append0"),
            author(),
            commit("delete_range", "delete_range", lambda: manifest.delete_snapshot(
                ctx.spark, path, del_range), [f"DELETE FROM cur WHERE {del_range}"]),
            read_all(),
            read_range(),
            commit("compact", "compact", lambda: manifest.compact_snapshot(
                ctx.spark, path, target_mb=256), []),
            # left out to fit the run budget: optimize_snapshot (a
            # z-order rewrite, the slowest commit; compaction stands for
            # table maintenance) and a delete by key modulus
            read_range(),
            read_version("base"),
        ]

    # -- trace-only manifest accounting, from the files on disk
    def _data_files(self) -> dict[str, int]:
        out = {}
        for root, _dirs, files in os.walk(os.path.join(self.path, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
        return out

    def _manifest(self, version: int | None = None) -> dict:
        mdir = os.path.join(self.path, "_manifests")
        names = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
        name = names[-1] if version is None else f"v{version:010d}.json"
        with open(os.path.join(mdir, name)) as f:
            return json.load(f)

    def trace_after(self, ctx, op, df, span):
        if op.kind == "commit":
            now = self._data_files()
            new = set(now) - set(self.files)
            span.attrs["files_written"] = len(new)
            span.attrs["bytes_written"] = sum(now[p] for p in new)
            self.files = now
        elif df is not None:
            read = len(df.inputFiles())
            span.attrs["files_read"] = read
            if op.name == "read_range":
                live = len(self._manifest()["files"])
                span.attrs["skip_ratio"] = 1.0 - read / live if live else 0.0

    def space_amp(self) -> float:
        live = sum(f["bytes"] for f in self._manifest()["files"])
        return sum(self._data_files().values()) / live if live else 0.0

    def extra(self, results):
        out = {"commits": (self.commits, "count")}
        for kind in ("commit", "read"):
            walls = [r.wall for r in results if r.ok and r.kind == kind]
            if walls:
                out[f"{kind}_p50_s"] = (float(np.median(walls)), "s")
        return out


# ----------------------------------------------------- corpus + lakehouse

class CorpusLakehouse(Workload):
    """The corpus operators and the lakehouse sequence as one pass: a
    data-preparation session that scores and deduplicates documents
    between commits to, and reads of, a versioned table. The corpus ops
    are spread evenly among the lakehouse ops; the pass order is
    fixed."""

    name = "corpus_lakehouse"
    why = ("document operators between manifest commits, reads and SQL "
           "authoring: execution, operator and commit work; catalog gains "
           "stay small")

    def __init__(self):
        self.corpus = CorpusPipeline()
        self.lake = LakehouseCommits()

    def generate(self, seed, data_dir):
        return {"corpus": self.corpus.generate(seed, data_dir),
                "lakehouse": self.lake.generate(seed, data_dir)}

    def warm_up(self, spark, data_dir):
        # one warm-up op (a scan and aggregate) and the Python workers;
        # the lakehouse's own warm-up would repeat the same first-use
        # costs on another table
        self.corpus.warm_up(spark, data_dir)

    def begin(self, ctx):
        self.corpus.begin(ctx)
        self.lake.begin(ctx)

    def ops(self, ctx, pass_idx):
        docs = self.corpus.ops(ctx, pass_idx)
        lake = self.lake.ops(ctx, pass_idx)
        every = len(lake) // len(docs)
        out = []
        for i, op in enumerate(lake):
            out.append(op)
            if i % every == every - 1 and docs:
                out.append(docs.pop(0))
        return out + docs

    def trace_after(self, ctx, op, df, span):
        if op.kind in ("commit", "read", "author"):
            self.lake.trace_after(ctx, op, df, span)

    def space_amp(self):
        return self.lake.space_amp()

    def extra(self, results):
        return {**self.corpus.extra(results), **self.lake.extra(results)}


WORKLOADS: dict[str, Workload] = {
    w.name: w for w in (TpchPrql(), CorpusLakehouse())
}
