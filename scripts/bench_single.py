"""Fresh-JVM single-query bench: the q1-method arbiter for driver
bench anomalies (SURVEY §6, round 6).

One query from the driver HEADLINE per JVM, measured by bench.py's
own warm-up and ``bench.measure`` (a JVM GC before every measured
run, the same drain mode). Each invocation
measures ONE query in ONE fresh JVM — run it several times from the
shell for independent reps. Cross-round comparisons need this
because a 44-query session's heap state can double a late query's
wall time on identical code/data (r5 q1, r6 embedding_near_dups,
r8 dedup_minhash_clusters — the anomaly this script exists to
settle).

Usage:
    python scripts/bench_single.py <query> [sf_dir]
(sf_dir defaults to bench.SF_DIR).
Prints one JSON line: {"query", "cold_sec", "steady_sec", "sf"}.
Refuses to run beside another JVM (contention poisons the number).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from prql_spark import build_spark  # noqa: E402


def main():
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else bench.SF_DIR
    # refuse rather than record a contaminated number
    jvms = bench._concurrent_jvms()
    if jvms:
        raise SystemExit(
            f"refusing to measure: {len(jvms)} concurrent JVM(s) alive"
        )
    mode = bench.HEADLINE.get(name, "count")
    spark = build_spark("bench-single")
    spark.sparkContext.setLogLevel("ERROR")
    qs = bench.queries()
    bench.warm_up(spark, qs, sf_dir)
    cold, _ = bench.measure(spark, qs[name], mode, sf_dir)
    steady, _ = bench.measure(spark, qs[name], mode, sf_dir)
    print(json.dumps(
        {"query": name, "cold_sec": cold, "steady_sec": steady,
         "sf": bench.sf_label(sf_dir)}
    ))
    spark.stop()


if __name__ == "__main__":
    main()
