"""Regenerate entries/_gen_oracles.py: machine-written DuckDB
oracle SQL for every PRQL driver entry, produced by the SQL-text
backend from the same PRQL the engine executes (plus a Spark-schema
cast wrapper for hash-stable types). Run after editing any entry in
__spark_entry__._PRQL_QUERIES; tests/test_to_sql.py fails if stale.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from prql_spark import Catalog, build_spark  # noqa: E402
from entries.typed_oracle import typed_oracle_sql  # noqa: E402

HEADER = '''"""MACHINE-GENERATED by scripts/gen_oracles.py — do not edit.

DuckDB oracle SQL per PRQL driver entry, generated from the same
PRQL source the engine compiles (entries.typed_oracle), so
the oracle cannot drift from the executed plan.
"""

ORACLES = {
'''


def main():
    spark = build_spark("gen-oracles")
    spark.sparkContext.setLogLevel("ERROR")
    cat = Catalog(spark, "/root/testdata/sf0.001")
    out = [HEADER]
    for name, (prql, _sql) in entry_mod._PRQL_QUERIES.items():
        sql = typed_oracle_sql(prql, cat)
        out.append(f"    {name!r}: {sql!r},\n")
    out.append("}\n")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "entries",
        "_gen_oracles.py",
    )
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path} ({len(entry_mod._PRQL_QUERIES)} oracles)")
    spark.stop()


if __name__ == "__main__":
    main()
