"""Dump `.explain("formatted")` for named HEADLINE queries to files.

Usage:
    python scripts/explain_query.py <out_dir> <suffix> <query> [...]

Writes <out_dir>/<query>_<suffix>.txt for each query, built over
bench.SF_DIR. Build-only — no query executes (write-shaped snapshot
entries DO run their commits to build the final read plan; that is
inherent to their shape). Refuses to run beside another JVM.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from prql_spark import build_spark  # noqa: E402


def main():
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    jvms = bench._concurrent_jvms()
    if jvms:
        raise SystemExit(f"refusing: {len(jvms)} concurrent JVM(s) alive")
    os.makedirs(out_dir, exist_ok=True)
    spark = build_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    qs = bench.queries()
    for name in names:
        df = qs[name](spark, bench.SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
