"""perfbench's `iterative` ops against their DuckDB oracle at sf0.01.

At sf0.001 no part reaches the 80-core, so the sf0.001 oracle sweep
compares an empty k-core result; sf0.01 is the smallest fixture where
both ops return rows. Reads the seed-42 sf0.01 tables bundled for
perfbench; same canonical form as tools/verify_oracle.py.
"""

import os
import sys

import pytest

import __spark_entry__ as entry
from pipelines_rj_sms_spark.operators.cache import release_all

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import verify_oracle as vo  # noqa: E402

SF_DIR = os.path.join(os.path.dirname(__file__), "..", "perfbench", "data",
                      "sf0.01")


@pytest.mark.parametrize("name", ["part_graph_kcore",
                                  "logreg_quality_scores"])
def test_iterative_op_matches_oracle_at_sf001(spark, name):
    import duckdb

    try:
        got = vo._canon(entry.queries()[name](spark, SF_DIR).toPandas())
    finally:
        release_all()
    con = duckdb.connect()
    try:
        for t in vo.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{SF_DIR}/{t}.parquet'")
        want = vo._canon(con.execute(entry.oracle_sql()[name]).df())
    finally:
        con.close()
    assert got[2], name
    assert got == want
