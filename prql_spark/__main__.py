"""Command-line entry point: compile / inspect / run PRQL from the
shell (parity: /root/reference/prql-compiler/src/cli.rs, main.rs —
the reference's `prql` binary compiles stdin to SQL; the Spark-native
equivalent artifacts are the optimized plan and the result rows).

    python -m prql_spark 'from orders | take 5' --data-dir DIR --run
    echo 'from orders | take 5' | python -m prql_spark --explain
"""

from __future__ import annotations

import argparse
import os
import sys


def _maybe_lint(df, args) -> None:
    if not args.lint:
        return
    from prql_spark.plans.lint import lint_broadcast_misses, lint_python_udfs

    for msg in lint_broadcast_misses(df, warn=False) + lint_python_udfs(
        df, warn=False
    ):
        print(f"lint: {msg}", file=sys.stderr)


def _table_mode(args) -> int:
    """Dataset-maintenance dispatch: one Spark session, one JSON
    line per action (script-friendly, like bench.py)."""
    import json

    from prql_spark import build_spark

    spark = build_spark("prql_spark-maint")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.compact:
            from prql_spark.sources.manifest import compact_snapshot

            print(json.dumps(compact_snapshot(
                spark, args.compact, target_mb=args.target_mb,
                max_replan=args.max_replan, where=args.where,
            )))
        if args.history:
            from prql_spark.sources.manifest import snapshot_history

            for r in snapshot_history(spark, args.history).collect():
                print(json.dumps(r.asDict()))
        if args.vacuum:
            from prql_spark.sources.manifest import vacuum_snapshot

            print(json.dumps(vacuum_snapshot(
                spark, args.vacuum, keep_versions=args.keep_versions,
                min_age_s=args.min_age_s, dry_run=args.dry_run,
            )))
        if args.fsck:
            from prql_spark.sources.manifest import validate_snapshot

            rep = validate_snapshot(spark, args.fsck)
            print(json.dumps(rep))
            if not rep["ok"]:
                return 1
        if args.partitions:
            from prql_spark.sources.manifest import snapshot_partitions

            for r in snapshot_partitions(spark, args.partitions).collect():
                print(json.dumps(r.asDict()))
        if args.delete_where:
            from prql_spark.sources.manifest import delete_snapshot

            path, pred = args.delete_where
            print(json.dumps(delete_snapshot(spark, path, pred)))
        if args.optimize:
            from prql_spark.sources.manifest import optimize_snapshot

            path, cols = args.optimize
            print(json.dumps(optimize_snapshot(
                spark, path,
                zorder_by=tuple(c.strip() for c in cols.split(",")),
                target_mb=args.target_mb,
                max_replan=args.max_replan,
                where=args.where,
            )))
        if args.restore:
            from prql_spark.sources.manifest import snapshot_restore

            path, version = args.restore
            print(json.dumps(snapshot_restore(spark, path, int(version))))
        if args.count:
            from prql_spark.sources.manifest import snapshot_count

            print(json.dumps(
                {"path": args.count,
                 "n_rows": snapshot_count(spark, args.count)}
            ))
        if args.describe:
            from prql_spark.sources.manifest import snapshot_describe

            print(json.dumps(snapshot_describe(spark, args.describe)))
    except (ValueError, IOError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="prql_spark",
        description="Compile PRQL to a PySpark plan and inspect or run it.",
    )
    ap.add_argument(
        "query",
        nargs="?",
        help="PRQL text (omit to read from stdin)",
    )
    ap.add_argument(
        "--data-dir",
        default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
        ),
        help="directory of <table>.parquet files (default: "
        "$SPARK_GRAFT_SF_DIR or /root/testdata/sf0.001)",
    )
    ap.add_argument(
        "--format", default="parquet", help="table file format"
    )
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument(
        "--explain",
        action="store_true",
        help="print the optimized physical plan (default mode)",
    )
    mode.add_argument(
        "--run", action="store_true", help="execute and print rows"
    )
    mode.add_argument(
        "--schema",
        action="store_true",
        help="print the result schema without executing",
    )
    # full reference dialect enum (dialect.rs:6-27) — kept in sync
    # with sql_backend._DIALECT_EMITTERS by tests/test_cli.py
    mode.add_argument(
        "--sql",
        nargs="?",
        const="spark",
        choices=[
            "spark", "hive", "duckdb", "ansi", "generic", "postgres",
            "sqlite", "snowflake", "mssql", "clickhouse", "mysql",
            "bigquery",
        ],
        help="emit SQL text instead of a plan (reference to_sql "
        "parity); optional dialect, default spark",
    )
    mode.add_argument(
        "--ast",
        action="store_true",
        help="print the parsed AST as JSON (parse-only — no Spark "
        "session; reference `prql parse` parity)",
    )
    mode.add_argument(
        "--fmt",
        action="store_true",
        help="print canonically formatted PRQL (parse-only — no "
        "Spark session; reference `format` parity)",
    )
    ap.add_argument(
        "--from-json",
        action="store_true",
        help="treat the input as a JSON AST (the --ast output) "
        "instead of PRQL source (reference `from_json` parity); "
        "combines with --sql/--run/--schema/--explain/--fmt",
    )
    ap.add_argument(
        "-n", "--rows", type=int, default=20, help="rows to show with --run"
    )
    ap.add_argument(
        "--lint",
        action="store_true",
        help="run physical-plan lints (e.g. broadcast-miss) and print "
        "findings to stderr (combines with --explain/--run/--schema)",
    )
    # dataset-maintenance modes (no query) on manifest-committed
    # datasets: compaction, history, vacuum, ...
    tbl = ap.add_argument_group("dataset maintenance (no query)")
    tbl.add_argument(
        "--compact", metavar="PATH",
        help="compact a manifest-committed dataset: commit its latest "
        "version repacked into --target-mb files (one commit; time "
        "travel keeps the old version)",
    )
    tbl.add_argument(
        "--history", metavar="PATH",
        help="print version history of a manifest-committed dataset",
    )
    tbl.add_argument(
        "--vacuum", metavar="PATH",
        help="drop unreferenced files of a manifest-committed dataset",
    )
    tbl.add_argument(
        "--fsck", metavar="PATH",
        help="integrity-check a manifest-committed dataset (exit 1 "
        "when violations are found)",
    )
    tbl.add_argument(
        "--target-mb", type=int, default=256,
        help="target file size for --compact/--optimize (default 256)",
    )
    tbl.add_argument(
        "--keep-versions", type=int, default=2,
        help="versions to retain with --vacuum (default 2)",
    )
    tbl.add_argument(
        "--partitions", metavar="PATH",
        help="print the partition list of a partitioned "
        "manifest-committed dataset (from the manifest — no listing)",
    )
    tbl.add_argument(
        "--delete-where", nargs=2, metavar=("PATH", "PREDICATE"),
        help="row-level DELETE from a manifest-committed dataset "
        "(copy-on-write: only files containing matches rewrite)",
    )
    tbl.add_argument(
        "--optimize", nargs=2, metavar=("PATH", "COLS"),
        help="OPTIMIZE a manifest-committed dataset: rewrite the "
        "latest version z-ordered over the comma-separated COLS "
        "with write-time stats (one commit; time travel keeps the "
        "old version)",
    )
    tbl.add_argument(
        "--min-age-s", type=float, default=3600.0,
        help="--vacuum grace window: unreferenced files younger than "
        "this are kept (a concurrent writer's staged commit); 0 "
        "deletes all unreferenced files (default 3600)",
    )
    tbl.add_argument(
        "--dry-run", action="store_true",
        help="--vacuum: report what would be reclaimed, delete nothing",
    )
    tbl.add_argument(
        "--where", default=None, metavar="PREDICATE",
        help="scope --compact/--optimize to matching partitions' "
        "files (the predicate must depend only on partition "
        "columns); everything else is referenced verbatim",
    )
    tbl.add_argument(
        "--max-replan", type=int, default=0,
        help="--compact/--optimize: auto re-plan against the new "
        "head up to N times on a commit conflict (default 0: raise)",
    )
    tbl.add_argument(
        "--restore", nargs=2, metavar=("PATH", "VERSION"),
        help="roll a manifest-committed dataset back: commit VERSION's "
        "exact file list as the new latest version (nothing copied "
        "or deleted; the bad version stays inspectable)",
    )
    tbl.add_argument(
        "--count", metavar="PATH",
        help="row count of a manifest-committed dataset's latest "
        "version — metadata-only (zero Spark tasks) when every file "
        "carries a recorded row count",
    )
    tbl.add_argument(
        "--describe", metavar="PATH",
        help="metadata-only summary of a manifest-committed dataset: "
        "schema, partitioning, totals, stream high-waters, per-column "
        "stats coverage (whether predicates will skip files)",
    )
    args = ap.parse_args(argv)

    if (
        args.compact or args.history or args.vacuum
        or args.fsck or args.partitions or args.delete_where
        or args.optimize or args.restore or args.count or args.describe
    ):
        return _table_mode(args)

    text = args.query if args.query else sys.stdin.read()
    if not text.strip():
        ap.error("empty query (pass as argument or on stdin)")

    from prql_spark import Catalog, build_spark, compile_prql, to_sql
    from prql_spark.compiler import PrqlCompileError
    from prql_spark.parser import PrqlParseError

    if args.from_json:
        from prql_spark.ast_io import from_json

        try:
            text = from_json(text)  # Query AST flows to every mode
        except (ValueError, KeyError, TypeError) as e:
            print(f"error: bad JSON AST: {e}", file=sys.stderr)
            return 1

    if args.ast or args.fmt:  # parse-only modes: no Spark session
        from prql_spark.ast_io import format_query, to_json
        from prql_spark.parser import parse
        from prql_spark.plans.nodes import Query

        try:
            q = text if isinstance(text, Query) else parse(text)
            if args.ast:
                print(to_json(q, indent=2))
            else:
                print(format_query(q), end="")
        except PrqlParseError as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        return 0

    spark = build_spark("prql_spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = Catalog(spark, args.data_dir, fmt=args.format)
    try:
        if args.sql:
            print(to_sql(text, catalog, dialect=args.sql))
        elif args.run:
            df = compile_prql(text, catalog)
            _maybe_lint(df, args)
            df.show(args.rows, truncate=False)
        elif args.schema:
            df = compile_prql(text, catalog)
            _maybe_lint(df, args)
            print(df.schema.simpleString())
        else:
            # compile once; lint and the plan dump share the DataFrame
            df = compile_prql(text, catalog)
            _maybe_lint(df, args)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            print(buf.getvalue())
    except (PrqlParseError, PrqlCompileError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
