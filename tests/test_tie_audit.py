"""Permanent guard against the .5e-6 rounding-tie class (VERDICT r7
#1, closed in round 8): every oracle whose output columns still use a
double ``round(x, 6)`` must not produce values on (or within
double-eps of) a .5e-6 boundary — those are exactly where Spark's
BigDecimal shortest-repr HALF_UP and a float-path round() can split.
Structural sources of ties (integer ratios, fixed-point-unit means,
dyadic float32 grids) must instead go through grid_mean / pin_round6
(functions/numeric.py), which this check cannot flag by construction.

DuckDB-only (no Spark session needed): runs the stripped oracles over
the sf0.001 fixtures — a DIFFERENT dataset than the sf0.01 correctness
gate, so structurally tie-prone expressions that happen to dodge ties
at one SF still get caught.
"""
import math
import os
import sys

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TIE_SF", "/root/testdata/sf0.001")

needs_data = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                reason=f"no testdata at {SF_DIR}")


@pytest.mark.slow
@needs_data
def test_no_oracle_output_lands_on_rounding_tie():
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    import __spark_entry__ as entry
    from tie_audit import EPS, strip_output_rounds

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{p}')")
    flagged = []
    for name, sql in sorted(entry.oracle_sql().items()):
        stripped, n = strip_output_rounds(sql)
        if n == 0:
            continue
        rel = con.sql(stripped)
        cols = [c for c, t in zip(rel.columns, rel.types)
                if str(t) in ("DOUBLE", "FLOAT")]
        if not cols:
            continue
        idx = [rel.columns.index(c) for c in cols]
        for r in rel.fetchall():
            for c, i in zip(cols, idx):
                v = r[i]
                if v is None or not math.isfinite(v):
                    continue
                f = abs(v) * 1e6
                if abs(f - math.floor(f) - 0.5) < EPS:
                    flagged.append((name, c, v))
    assert not flagged, (
        "round(x, 6) outputs on a .5e-6 boundary — convert these to "
        f"grid_mean/pin_round6 (functions/numeric.py): {flagged[:10]}")
