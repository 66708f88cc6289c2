import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.joins import (
    coalesce_join,
    lookup,
    remaining_work,
    seen_keys_filter,
)
from pipelines_rj_sms_spark.operators.windows import (
    extreme,
    latest_per_key,
    ranked_over_threshold,
    top_k,
)
from pipelines_rj_sms_spark.quality.checks import (
    freshness_by_group,
    non_empty,
    reconcile_counts,
    replication_gate,
    schema_conformance,
    truncation_guard,
)


def test_remaining_work_anti_join(spark):
    cand = spark.createDataFrame([("a",), ("b",), ("c",)], ["operator_key"])
    done = spark.createDataFrame([("b",)], ["operator_key"])
    left = sorted(r["operator_key"] for r in remaining_work(cand, done).collect())
    assert left == ["a", "c"]


def test_lookup_broadcast(spark):
    fact = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 5.0)], ["id_cnes", "v"])
    dim = spark.createDataFrame([(1, "AP10"), (2, "AP21")], ["id_cnes", "ap"])
    out = lookup(fact, dim, "id_cnes")
    assert out.count() == 3
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_coalesce_join(spark):
    left = spark.createDataFrame([(1, None), (2, 5.0)], ["k", "lat"])
    right = spark.createDataFrame([(1, 9.0), (2, 7.0)], ["k", "lat_cep"])
    out = {r["k"]: r["lat"]
           for r in coalesce_join(left, right, "k", {"lat": "lat_cep"}).collect()}
    assert out == {1: 9.0, 2: 5.0}


def test_seen_keys_filter(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "cpf"])
    seen = spark.createDataFrame([(1, "a")], ["id", "cpf"])
    assert seen_keys_filter(df, seen, ["id", "cpf"]).count() == 1


def test_latest_per_key_and_topk(spark):
    df = spark.createDataFrame(
        [("c1", 1, "2024-01-01"), ("c1", 2, "2024-01-02"), ("c2", 3, "2024-01-01")],
        ["k", "id", "d"],
    )
    latest = {r["k"]: r["id"] for r in latest_per_key(df, ["k"], "d").collect()}
    assert latest == {"c1": 2, "c2": 3}
    assert top_k(df, [F.col("id").desc()], 1).first()["id"] == 3
    assert extreme(df, "id", largest=False).first()["id"] == 1


def test_ranked_over_threshold(spark):
    df = spark.createDataFrame([(0.4,), (2.0,), (1.0,)], ["cost"])
    out = ranked_over_threshold(df, "cost", 0.5).collect()
    assert [(r["cost"], r["rank"]) for r in out] == [(2.0, 1), (1.0, 2)]


def test_reconcile_counts(spark):
    df = spark.range(95)
    assert reconcile_counts(100, df, tolerance=0.05).passed
    assert not reconcile_counts(100, df, tolerance=0.01).passed
    with pytest.raises(AssertionError):
        reconcile_counts(100, df, tolerance=0.01).expect()


def test_truncation_guard(spark):
    assert truncation_guard(spark.range(10), cap=100).passed
    assert not truncation_guard(spark.range(100), cap=100).passed


def test_freshness_by_group(spark):
    df = spark.createDataFrame(
        [("p1", "2020-01-01 00:00:00"), ("p2", "2099-01-01 00:00:00")],
        ["provider", "ts"],
    ).select("provider", F.col("ts").cast("timestamp").alias("ts"))
    out = {r["provider"]: r["is_stale"]
           for r in freshness_by_group(df, "provider", "ts", 30).collect()}
    assert out["p1"] is True and out["p2"] is False


def test_replication_gate(spark):
    from datetime import date
    df = spark.createDataFrame([("2024-05-05",)], ["d"]).select(
        F.col("d").cast("date").alias("d"))
    assert replication_gate(df, "d", expected=date(2024, 5, 5)).passed
    assert not replication_gate(df, "d", expected=date(2024, 5, 6)).passed


def test_schema_conformance(spark):
    df = spark.createDataFrame([(1, "x")], ["a", "b"])
    ok = schema_conformance(df, {"a": "bigint", "b": "string"})
    assert ok.passed
    bad = schema_conformance(df, {"a": "string", "c": "int"})
    assert not bad.passed
    assert bad.details["missing"] == ["c"]
    assert "a" in bad.details["mistyped"]


def test_non_empty(spark):
    assert non_empty(spark.range(1)).passed
    assert not non_empty(spark.range(0)).passed


def test_l_diversity_violations(spark):
    """Distinct l-diversity: groups whose sensitive attribute shows
    < ell distinct values are flagged; diverse groups pass."""
    from pipelines_rj_sms_spark.quality.checks import l_diversity_violations

    df = spark.createDataFrame(
        [("11000", "M", "flu"), ("11000", "M", "flu"),      # homogeneous
         ("22000", "F", "flu"), ("22000", "F", "cold"),     # diverse
         ("33000", "M", "covid")],                          # singleton
        ["zip", "sex", "diagnosis"])
    out = {(r["zip"], r["sex"]): (r["group_size"], r["distinct_sensitive"])
           for r in l_diversity_violations(
               df, ["zip", "sex"], "diagnosis", ell=2).collect()}
    assert out == {("11000", "M"): (2, 1), ("33000", "M"): (1, 1)}
    # ell=1 can never flag anything
    assert l_diversity_violations(
        df, ["zip", "sex"], "diagnosis", ell=1).count() == 0


def test_profile_table_metrics(spark):
    from pipelines_rj_sms_spark.quality.profile import profile_table
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None), (None, 2), ("a", None)],
        "s string, n int")
    out = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    s, n = out["s"], out["n"]
    assert s["n_rows"] == 5 and s["n_nulls"] == 1 and s["n_distinct"] == 2
    assert s["top_value"] == "a" and s["top_count"] == 3
    assert n["n_nulls"] == 2 and n["n_distinct"] == 2
    assert n["top_value"] == "2" and n["top_count"] == 2
    assert n["min_value"] == "1" and n["max_value"] == "2"


def test_profile_table_single_wide_shuffle(spark):
    """All metrics for all columns come from ONE unpivoted (column,
    value) aggregation — no per-column jobs."""
    from pipelines_rj_sms_spark.quality.profile import profile_table
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("m"),
        (F.col("id") % 2 == 0).alias("b"))
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    # counts agg + per-column agg + top window + broadcastable join:
    # the unpivoted base is scanned once (explode appears once)
    assert plan.count("Generate explode") == 1


def test_psi_report_detects_shift(spark):
    """A mean-shifted actual sample produces a large PSI; an identical
    sample produces ~0."""
    from pipelines_rj_sms_spark.quality.drift import psi_report
    base = spark.range(2000).select(
        ((F.col("id") * 37 % 1000) / 10.0).alias("v"))
    same = psi_report(base, base, "v", 10)
    total_same = same.agg(F.sum("psi_contrib")).collect()[0][0]
    assert abs(total_same) < 1e-9

    shifted = base.select((F.col("v") + 40.0).alias("v"))
    drift = psi_report(base, shifted, "v", 10)
    total_drift = drift.agg(F.sum("psi_contrib")).collect()[0][0]
    assert total_drift > 0.25                      # "act" territory
    rows = {r["bucket"]: r for r in drift.collect()}
    assert rows[9]["actual_share"] > rows[9]["expected_share"]


def test_psi_report_all_contributions_nonnegative(spark):
    from pipelines_rj_sms_spark.quality.drift import psi_report
    a = spark.range(500).select((F.col("id") % 97).cast("double").alias("v"))
    b = spark.range(500).select(((F.col("id") * 7) % 89)
                                .cast("double").alias("v"))
    rows = psi_report(a, b, "v", 8).collect()
    assert all(r["psi_contrib"] >= -1e-12 for r in rows)


def test_correlation_matrix_single_pass(spark):
    from pipelines_rj_sms_spark.quality.profile import correlation_matrix
    df = spark.range(500).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2 + 1).cast("double").alias("y"),     # corr 1
        (-F.col("id")).cast("double").alias("z"))            # corr -1
    got = {(r["col_a"], r["col_b"]): r["corr"]
           for r in correlation_matrix(df, ["x", "y", "z"]).collect()}
    assert abs(got[("x", "y")] - 1.0) < 1e-9
    assert abs(got[("x", "z")] + 1.0) < 1e-9
    assert len(got) == 3
    plan = correlation_matrix(df, ["x", "y", "z"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2 or "SortAggregate" in plan


def test_mutual_information_independent_vs_dependent(spark):
    from pipelines_rj_sms_spark.quality.profile import mutual_information
    # b == a: fully dependent -> MI = entropy > 0; c independent of a
    df = spark.range(4000).select(
        (F.col("id") % 4).alias("a"),
        (F.col("id") % 4).alias("b"),
        (F.col("id") % 5).alias("c"))
    dep = mutual_information(df, "a", "b").collect()[0]
    ind = mutual_information(df, "a", "c").collect()[0]
    import math
    # tolerance: ln(pij/(pi·pj)) is pinned to the 1e-6 grid before the
    # pij multiply (functions/numeric.py "pinned transcendental
    # values"), so MI is exact to ~0.5e-6 per pinned value — grid
    # precision, not machine eps
    assert abs(dep["mi_nats"] - math.log(4)) < 2e-6   # H(uniform 4)
    assert abs(ind["mi_nats"]) < 2e-6                 # independence
    assert dep["n_rows"] == 4000


def test_t_closeness_report_hand_computed(spark):
    from pipelines_rj_sms_spark.quality.checks import t_closeness_report
    rows = ([("A", "high")] * 10 + [("B", "high")] * 5
            + [("B", "low")] * 5 + [("C", "low")] * 20)
    df = spark.createDataFrame(rows, "g string, s string")
    got = {r["g"]: r for r in
           t_closeness_report(df, ["g"], "s", t=0.2).collect()}
    # global: high 15/40, low 25/40; m=2 so EMD = |cumQ_high - 0.375|
    assert got["A"]["emd"] == 0.625 and got["A"]["violates"]
    assert got["B"]["emd"] == 0.125 and not got["B"]["violates"]
    assert got["C"]["emd"] == 0.375 and got["C"]["violates"]
    assert got["A"]["group_size"] == 10


@pytest.mark.slow
def test_mann_kendall_hand_computed(spark):
    from pipelines_rj_sms_spark.operators.analytics import (
        mann_kendall_test)
    # y=[1,2,2,3]: S=5; one tie pair -> var=(4*3*13-18)/18=7.666667
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 2.0), (4, 3.0)], "x int, y double")
    r = mann_kendall_test(df, "x", "y").collect()[0]
    assert (r["n"], r["s_stat"]) == (4, 5)
    assert r["var_s"] == 7.666667
    assert abs(r["z"] - 4 / 7.666667 ** 0.5) < 1e-6
    # keyed, strictly decreasing, no ties
    df2 = spark.createDataFrame(
        [("a", 1, 3.0), ("a", 2, 2.0), ("a", 3, 1.0),
         ("b", 1, 5.0), ("b", 2, 5.0)], "k string, x int, y double")
    got = {r["k"]: r for r in
           mann_kendall_test(df2, "x", "y", ["k"]).collect()}
    assert got["a"]["s_stat"] == -3
    # all-tied series: S=0, var_s=0 -> z pinned to 0
    assert got["b"]["s_stat"] == 0 and got["b"]["z"] == 0.0
