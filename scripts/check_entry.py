"""Local mimic of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and, where an
oracle exists, the matching oracle_sql() on DuckDB over the same
parquet; compares row-count, column names, and values (order-
insensitive, floats rounded).

Usage: python scripts/check_entry.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import sys
import time
import traceback

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from entries.oracle_check import compare, oracle_connection  # noqa: E402
from prql_spark import build_spark  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    pat = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = build_spark("check-entry")
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if pat and pat not in name:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            rows = df.collect()
            cols = df.columns
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS {name}: {len(rows)} rows ({dt:.1f}s) [no oracle]")
            continue
        why = compare(rows, cols, con, oracles[name])
        if why is None:
            flag = " [!] 0-row pass proves nothing" if not rows else ""
            print(f"PASS {name}: {len(rows)} rows ({dt:.1f}s){flag}")
            n_pass += 1
        else:
            print(f"FAIL {name}: {why}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
