"""Shuffle-partition sizing: a local session gets one shuffle partition
per core, so results must not depend on that count.

The declared queries below (perfbench's `iterative` ops and its eight
`reports` queries) must collect identical sorted rows whether
`spark.sql.shuffle.partitions` is 4 or 32, and `get_spark` must size
the count from `local[N]` unless the caller sets it. k-core runs at
sf0.01: at sf0.001 no part reaches the core and its result is empty.
"""

import os
import subprocess
import sys

import pytest

import __spark_entry__ as entry
from pipelines_rj_sms_spark.operators.cache import release_all

DATA = "/root/testdata"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    ("part_graph_kcore", "sf0.01"), ("logreg_quality_scores", "sf0.001"),
] + [(name, "sf0.001") for name in (
    "flagship_pricing_summary", "shipping_priority_top10", "market_share",
    "running_total_by_customer", "sessionize_events", "asof_purchase_signup",
    "monitor_recent", "hourly_count_anomalies")]


def _rows(spark, fn, sf, n):
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        rows = fn(spark, f"{DATA}/{sf}").collect()
        return sorted((tuple(r) for r in rows), key=repr)
    finally:
        release_all()


@pytest.mark.skipif(not all(os.path.isdir(f"{DATA}/{sf}")
                            for sf in ("sf0.001", "sf0.01")),
                    reason="driver testdata not present")
def test_queries_invariant_across_shuffle_partitions(spark):
    qs = entry.queries()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name, sf in QUERIES:
            rows = _rows(spark, qs[name], sf, 4)
            assert rows, name
            assert rows == _rows(spark, qs[name], sf, 32), name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_local_session_sizes_shuffle_partitions_from_cores():
    code = (
        "from pipelines_rj_sms_spark.session import get_spark\n"
        "s = get_spark('sizing', master='local[2]')\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
        "s = get_spark('sizing', master='local[2]',\n"
        "              extra_conf={'spark.sql.shuffle.partitions': '7'})\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["2", "7"]
