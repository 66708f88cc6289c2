"""Tests: persisted progress state (O1), execution metrics/cost (O10)."""

import pytest

from pipelines_rj_sms_spark.operators.progress import (
    load_progress,
    record_done,
    remaining,
)
from pipelines_rj_sms_spark.plans.metrics import (
    cost_report,
    estimate_cost_usd,
    scan_metrics,
)


@pytest.mark.slow
def test_progress_resumable(spark, tmp_path):
    state = str(tmp_path / "progress")
    cands = spark.createDataFrame(
        [("cnes=1.date=2024-01-01",), ("cnes=2.date=2024-01-01",),
         ("cnes=3.date=2024-01-01",)], "operator_key string")

    # first run: nothing recorded, everything remains
    assert load_progress(spark, state).count() == 0
    assert remaining(spark, state, cands).count() == 3

    record_done(spark, state, ["cnes=1.date=2024-01-01"], run_id="r1")
    record_done(spark, state, ["cnes=3.date=2024-01-01"])
    rem = remaining(spark, state, cands).collect()
    assert {r["operator_key"] for r in rem} == {"cnes=2.date=2024-01-01"}

    # idempotent: re-recording a done key doesn't resurrect work
    record_done(spark, state, ["cnes=1.date=2024-01-01"])
    assert remaining(spark, state, cands).count() == 1


def test_record_done_empty_noop(spark, tmp_path):
    state = str(tmp_path / "p2")
    record_done(spark, state, [])
    assert load_progress(spark, state).count() == 0


def test_scan_metrics_and_cost(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(1000).selectExpr("id", "id * 2 AS v").write.parquet(p)
    df = spark.read.parquet(p).filter("v > 10")
    scans = scan_metrics(df, execute=True)
    assert len(scans) == 1
    assert scans[0].bytes_read > 0
    assert scans[0].rows == 1000  # scan rows (filter applies above the scan)

    rep = cost_report(df)  # metrics already populated on this Dataset
    assert rep["total_bytes"] > 0
    assert rep["alert"] is False  # tiny scan, far below $0.50
    # cost model constant: 1 TiB -> $6.25
    assert estimate_cost_usd(1 << 40) == 6.25


def test_diversity_report_uniform_vs_collapsed(spark):
    import math
    import pytest
    from pipelines_rj_sms_spark.quality.profile import diversity_report
    rows = [("u", c) for c in "abcd"] + [("k", "x")] * 4
    df = spark.createDataFrame(rows, ["g", "cat"])
    got = {r["g"]: r.asDict()
           for r in diversity_report(df, ["g"], "cat").collect()}
    u = got["u"]
    assert u["n_categories"] == 4
    assert u["entropy"] == pytest.approx(round(math.log(4), 6))
    assert u["entropy_normalized"] == 1.0
    assert u["simpson"] == 0.25
    k = got["k"]
    assert k["entropy"] == 0.0 and k["simpson"] == 1.0
    assert k["entropy_normalized"] == 0.0
