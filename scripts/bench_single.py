"""Fresh-JVM single-query bench: the q1-method arbiter for driver
bench anomalies (SURVEY §6, round 6).

One query from the driver HEADLINE per JVM, with bench.py's exact
measurement discipline (same session warmup, same System.gc()
before every measured run, same drain mode). Each invocation
measures ONE query in ONE fresh JVM — run it several times from the
shell for independent reps. Cross-round comparisons need this
because a 44-query session's heap state can double a late query's
wall time on identical code/data (r5 q1, r6 embedding_near_dups,
r8 dedup_minhash_clusters — the anomaly this script exists to
settle).

Usage:
    python scripts/bench_single.py <query> [sf_dir]
Prints one JSON line: {"query", "cold_sec", "steady_sec", "sf"}.
Refuses to run beside another JVM (contention poisons the number).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402
from prql_spark import build_spark  # noqa: E402


def main():
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    # wait (up to 120 s) for straggler JVMs — back-to-back shell
    # invocations race the previous JVM's exit; then refuse rather
    # than record a contaminated number
    for _ in range(24):
        jvms = bench._concurrent_jvms()
        if not jvms:
            break
        time.sleep(5)
    else:
        raise SystemExit(
            f"refusing to measure: {len(jvms)} concurrent JVM(s) alive"
        )
    mode = bench.HEADLINE.get(name, "count")
    spark = build_spark("bench-single")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    if name == "prepare_training_corpus":
        qs[name] = bench._prepare_corpus
    bench.warm_up(spark, qs, sf_dir)
    cold = bench.measure(spark, qs[name], mode, sf_dir)
    steady = bench.measure(spark, qs[name], mode, sf_dir)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps(
        {"query": name, "cold_sec": cold, "steady_sec": steady,
         "sf": float(sf) if sf.replace(".", "").isdigit() else sf}
    ))
    spark.stop()


if __name__ == "__main__":
    main()
