"""Layered, seeded, oracle-checked benchmark of prql_spark.

    python3 layerbench/run.py --workload tpch_prql --seed 1 --seconds 10 --trace 0

Run from the root of a prql_spark checkout. One run:

1. generates the workload's inputs from ``--seed`` (numpy/pyarrow only)
   under ``.layerbench/`` in the checkout;
2. sets up once — a fresh JVM and Spark session plus one untimed
   warm-up op — and reports that time as ``setup_s``;
3. runs whole passes of the workload (closed loop, one client, each op
   drained before the next starts) until ``--seconds`` have elapsed,
   at least one pass;
4. checks every op's result against an independent oracle, outside the
   timed region; a wrong result counts as a failed op;
5. prints one JSON line per run record, then, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same pass with spans around every layer and reports the per-layer
metrics instead; its spans and a layer summary are written to
``.layerbench/results/``.

Spark runs on ``local[N]``, N = ``$SPARK_GRAFT_CPUS`` (default: the
cores this process may use), with the program's own session settings.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, BENCH_DIR]

from layerbench import host, measure  # noqa: E402
from layerbench.workloads import WORKLOADS, Ctx  # noqa: E402

TAIL_BEYOND = 10


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure whole passes until this much time has "
                        "passed; BENCHMARK.json fixes it")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    avail = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS") or avail)
    return max(1, min(want, avail))


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, never hang
            proc.kill()
            proc.wait(timeout=30)


def _setup(workload, data_dir: str, cores: int):
    """Session start — the JVM launch included — plus the warm-up op;
    returns the session, the start time and the whole set-up time."""
    from prql_spark import build_spark

    t0 = time.perf_counter()
    spark = build_spark("layerbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    workload.warm_up(spark, data_dir)
    return spark, t1 - t0, time.perf_counter() - t0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with
    at least ``TAIL_BEYOND`` samples beyond it, or the maximum when the
    run has too few samples for one."""
    s = sorted(values)
    n = len(s)
    if n > TAIL_BEYOND:
        k = n - TAIL_BEYOND - 1
        return s[k], 100.0 * (k + 1) / n, TAIL_BEYOND
    return s[-1], 100.0, 0


def end_to_end(results, setup_s, timed_s, cpu_s,
               peak_rss) -> tuple[dict, dict]:
    """The metrics of the result line, and the rest of the end-to-end
    metrics (with units) for the run record."""
    ok = [r.wall for r in results if r.ok]
    walls = ok or [r.wall for r in results]
    value, pct, beyond = tail(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        # one client in a closed loop: 1 / mean op latency
        "throughput_ops_per_s": (len(ok) / timed_s, "1/s"),
        # CPU the process tree spends per op: host time stolen by other
        # guests stretches wall time but is not charged here
        "cpu_s_per_op": (cpu_s / len(results), "s"),
    }
    # out of the result line, with their units: the median op wall
    # spread by 0.29 (interquartile range / median) over ten seeds on
    # corpus_lakehouse, where its short ops stretch most with stolen
    # host time; with one pass of 16-18 ops no percentile above the
    # median has ten samples beyond it; the process tree's peak RSS
    # swings by a third between runs of the same code with the JVM's
    # heap growth
    detail = {
        "error_rate": ((len(results) - len(ok)) / len(results), "ratio"),
        "latency_p50_s": (statistics.median(walls), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "latency_tail_s": (value, "s"),
        "latency_tail_percentile": (round(pct, 1), "%"),
        "latency_tail_samples_beyond": (beyond, "count"),
        "latency_samples": (len(walls), "count"),
    }
    return metrics, detail


# -------------------------------------------------------------- tracing

def per_layer(tracer, results, start_s, cores, workload) -> tuple[dict, dict]:
    """Per-op means of each layer's self time and counts, over the ops
    that completed; times sum to the mean op wall (coverage)."""
    ok = [r for r in results if r.ok]
    n = max(1, len(ok))
    tot: dict[str, float] = {}
    cnt: dict[str, list] = {}
    coverage = []
    by_op: dict[str, dict[str, float]] = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    for r in ok:
        spans = tracer.op_spans(r.op_id)
        selfs = measure.self_times(spans)
        root = next(s for s in spans if s.name == "op")
        coverage.append(1.0 - selfs[root.id] / root.dur if root.dur else 1.0)
        row = by_op.setdefault(r.name, {})
        row["ops"] = row.get("ops", 0) + 1
        for s in spans:
            layer = measure.LAYER_OF.get(s.name, s.name)
            if s is root:
                continue
            a = s.attrs
            add(f"{layer}.self", selfs[s.id])
            row[layer] = row.get(layer, 0.0) + selfs[s.id]
            add(f"{layer}.jobs", a.get("jobs", 0))
            add(f"{layer}.materialized", a.get("materialized", 0))
            if s.name == "catalog" and a.get("fn") == "load":
                add("catalog.loads", 1)
            if s.name == "exec":
                add("exec.dur", s.dur)
                for f in measure._STAGE_FIELDS:
                    add(f"exec.{f}", a.get(f, 0))
            if s.name == "parser" and "ast" in a:
                from prql_spark import to_json

                cnt.setdefault("ast", []).append(len(to_json(a["ast"])))
            if s.name == "sql_backend":
                cnt.setdefault("sql", []).append(a.get("sql_bytes", 0))
            if s.name == "manifest.commit":
                cnt.setdefault("commit_s", []).append(s.dur)
                cnt.setdefault("commit_jobs", []).append(a.get("jobs", 0))
        for k in ("nodes", "exchanges", "scans"):
            if k in root.attrs:
                cnt.setdefault(k, []).append(root.attrs[k])
        for k in ("files_written", "bytes_written", "files_read",
                  "skip_ratio"):
            if k in root.attrs:
                cnt.setdefault(k, []).append(root.attrs[k])

    def mean(key):
        return tot.get(key, 0.0) / n

    def avg(key):
        v = cnt.get(key)
        return statistics.fmean(v) if v else 0.0

    exec_s = tot.get("exec.dur", 0.0)
    task_s = tot.get("exec.executorRunTime", 0.0) / 1000
    m = {
        "session.start_s": (start_s, "s"),
        "parser.time_s": (mean("parser.self"), "s"),
        "parser.ast_bytes": (avg("ast"), "bytes"),
        "sql_backend.time_s": (mean("sql_backend.self"), "s"),
        "sql_backend.sql_bytes": (avg("sql"), "bytes"),
        "catalog.loads": (mean("catalog.loads"), "count"),
        "catalog.load_s": (mean("catalog.self"), "s"),
        "catalog.load_jobs": (mean("catalog.jobs"), "count"),
        "compiler.self_s": (mean("compiler.self"), "s"),
        "compiler.jobs": (mean("compiler.jobs"), "count"),
        "compiler.materialized": (mean("compiler.materialized"), "count"),
        "operators.build_s": (mean("operators.self"), "s"),
        "operators.build_jobs": (mean("operators.jobs"), "count"),
        "operators.materialized": (mean("operators.materialized"), "count"),
        "build.self_s": (mean("build.self"), "s"),
        "plan.time_s": (mean("plan.self"), "s"),
        "plan.nodes": (avg("nodes"), "count"),
        "plan.exchanges": (avg("exchanges"), "count"),
        "plan.scans": (avg("scans"), "count"),
        "exec.time_s": (mean("exec.self"), "s"),
        "exec.jobs": (mean("exec.jobs"), "count"),
        "exec.tasks": (mean("exec.numTasks"), "count"),
        "exec.task_run_s": (task_s / n, "s"),
        "exec.busy_ratio": (task_s / (exec_s * cores) if exec_s else 0.0,
                            "ratio"),
        "exec.gc_s": (mean("exec.jvmGcTime") / 1000, "s"),
        "exec.shuffle_bytes": (mean("exec.shuffleWriteBytes"), "bytes"),
        "exec.spill_bytes": (mean("exec.memoryBytesSpilled")
                             + mean("exec.diskBytesSpilled"), "bytes"),
        "exec.failed_tasks": (mean("exec.numFailedTasks"), "count"),
        "manifest.commit_s": (avg("commit_s"), "s"),
        "manifest.time_s": (mean("manifest.self"), "s"),
        "manifest.commit_jobs": (avg("commit_jobs"), "count"),
        "manifest.files_written": (avg("files_written"), "count"),
        "manifest.bytes_written": (avg("bytes_written"), "bytes"),
        "manifest.space_amp": (workload.space_amp()
                               if hasattr(workload, "space_amp") else 0.0,
                               "ratio"),
        "manifest.files_read_per_scan": (avg("files_read"), "count"),
        "manifest.skip_ratio": (avg("skip_ratio"), "ratio"),
        "trace.op_wall_s": (statistics.fmean(r.wall for r in ok)
                            if ok else 0.0, "s"),
        "trace.coverage_min": (min(coverage) if coverage else 0.0, "ratio"),
    }
    summary = {
        "coverage_min": min(coverage) if coverage else None,
        # mean self time of each layer per op, by op name
        "self_s_by_op": {
            k: {layer: round(v / row["ops"], 4)
                for layer, v in row.items() if layer != "ops"}
            for k, row in by_op.items()},
    }
    return m, summary


# ------------------------------------------------------------------ run

def main(argv=None) -> int:
    args = _args(argv)
    try:
        import prql_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"layerbench: no prql_spark checkout at {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import pyspark

    workload = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".layerbench")
    results_dir = os.path.join(work, "results")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(results_dir, exist_ok=True)
    _isolate(run_dir)
    cores = _cores()
    contended = host.other_jvms()
    stem = f"{workload.name}-seed{args.seed}-trace{args.trace}"
    spark = None
    try:
        t0 = time.perf_counter()
        sizes = workload.generate(args.seed, data_dir)
        gen_s = time.perf_counter() - t0

        sampler = host.RssSampler().start()
        spark, start_s, setup_s = _setup(workload, data_dir, cores)
        tracer = measure.Tracer(spark.sparkContext, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, data_dir)
        workload.begin(ctx)
        undo = measure.instrument(tracer) if args.trace else (lambda: None)
        done = []
        steal0 = host.cpu_times()
        cpu0 = host.tree_cpu_s()
        started = time.perf_counter()
        pass_idx = 0
        while pass_idx == 0 or time.perf_counter() - started < args.seconds:
            for op in workload.ops(ctx, pass_idx):
                res, df, value = measure.run_op(
                    spark, tracer, op.name, op.kind, op.build, op.drain)
                if args.trace:
                    spans = tracer.op_spans(res.op_id)
                    measure.collect_jobs(spark, spans)
                    root = spans[0]
                    if df is not None:
                        root.attrs.update(measure.plan_shape(df))
                    workload.trace_after(ctx, op, df, root)
                done.append((op, res, value))
            pass_idx += 1
        timed_s = time.perf_counter() - started
        cpu_s = host.tree_cpu_s() - cpu0
        undo()
        peak = sampler.stop()

        # checks run after the timed passes, in op order, so the
        # oracle's CPU and memory stay out of the measurement
        results, failures = [], []
        for op, res, value in done:
            if res.ok:
                try:
                    res.error = op.check(value)
                except Exception as e:  # noqa: BLE001 — a failed check
                    res.error = f"check raised {type(e).__name__}: {e}"
                res.ok = res.error is None
            if not res.ok:
                failures.append({"op": res.name, "error": res.error})
            results.append(res)

        attempted = len(results)
        failed = sum(not r.ok for r in results)
        extra = workload.extra(results)
        record = {
            "workload": workload.name, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "passes": pass_idx, "timed_s": round(timed_s, 4), "cores": cores,
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "other_jvms": contended, "contended_host": bool(contended),
            "inputs": sizes, "input_gen_s": round(gen_s, 4),
            "session_start_s": round(start_s, 4),
            "cpu_steal_share": host.steal_share(steal0),
            "failures": failures[:20],
            "op_walls_s": [[r.name, round(r.wall, 5)] for r in results],
            **{k: v for k, (v, _u) in extra.items()},
        }
        if args.trace:
            metrics, summary = per_layer(tracer, results, start_s, cores,
                                         workload)
            detail = {}
            base = os.path.join(results_dir, f"{workload.name}-seed{args.seed}"
                                "-trace0.json")
            if os.path.exists(base):
                with open(base) as f:
                    untraced = json.load(f)["mean_op_wall_s"]
                traced = metrics["trace.op_wall_s"][0]
                summary["untraced_mean_op_wall_s"] = untraced
                summary["overhead_vs_untraced"] = traced / untraced - 1.0
            summary["coverage_ok"] = (summary["coverage_min"] or 0) >= 0.97
            record["trace_summary"] = summary
            with open(os.path.join(results_dir, stem + ".spans.jsonl"),
                      "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s.to_json()) + "\n")
        else:
            metrics, detail = end_to_end(results, setup_s, timed_s, cpu_s,
                                         peak)
        ok_walls = [r.wall for r in results if r.ok]
        record["mean_op_wall_s"] = statistics.fmean(ok_walls) if ok_walls else 0
        # every named metric of this run, with its unit
        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u)
                             in {**metrics, **detail, **extra}.items()}
        with open(os.path.join(results_dir, stem + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps(record), flush=True)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
