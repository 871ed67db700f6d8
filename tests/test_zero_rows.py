"""Degenerate inputs: every ``sources_*`` entry, and the ROLLUP report
``profile_rollup``, on zero-row copies of the ten tables answers as
its DuckDB oracle does, compared the way the correctness gate
(``scripts/check_entry.py``) compares."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
from entries.oracle_check import TABLES, compare, oracle_connection
from tests.conftest import SF_DIR

SOURCES = [n for n in entry_mod.queries() if n.startswith("sources_")] + [
    "profile_rollup"
]


@pytest.fixture(scope="module")
def zero_row_dir(tmp_path_factory):
    """The ten tables with their exact parquet schemas and no rows."""
    d = tmp_path_factory.mktemp("sf_zero_rows")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), d / f"{t}.parquet")
    return str(d)


@pytest.mark.parametrize("name", SOURCES)
def test_sources_entry_on_zero_row_tables(spark, zero_row_dir, name):
    df = entry_mod.queries()[name](spark, zero_row_dir)
    con = oracle_connection(zero_row_dir)
    try:
        why = compare(
            df.collect(), df.columns, con, entry_mod.oracle_sql()[name]
        )
    finally:
        con.close()
    assert why is None, why
