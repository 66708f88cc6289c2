"""Unit pins for target encoding, Spearman, chi-square independence,
and the lexical-diversity operators (the oracle sweep covers their
query spellings; these pin hand-computed values and edge semantics)."""

import math

import pytest

from pipelines_rj_sms_spark.operators.features import (target_encode_kfold,
                                                       target_encode_loo)
from pipelines_rj_sms_spark.operators.terms import (corpus_vocabulary_report,
                                                    lexical_diversity)
from pipelines_rj_sms_spark.quality.profile import (chi2_independence,
                                                    spearman_correlation)


def test_target_encode_loo_hand_computed(spark):
    rows = [("a", 10.0, 1), ("a", 20.0, 2), ("a", 30.0, 3),
            ("b", 40.0, 4), ("b", 60.0, 5),
            ("c", 100.0, 6)]  # singleton -> global LOO fallback
    df = spark.createDataFrame(rows, ["cat", "y", "id"])
    out = {r["id"]: r["te_loo"]
           for r in target_encode_loo(df, "cat", "y").collect()}
    assert out[1] == 25.0          # (20+30)/2
    assert out[2] == 20.0          # (10+30)/2
    assert out[4] == 60.0
    # singleton: (sum_all - own) / (n_all - 1) = (260-100)/5
    assert out[6] == 32.0


def test_target_encode_loo_no_self_leak(spark):
    # two rows per category with distinct targets: each row's encoding
    # must equal the OTHER row's target exactly
    rows = [("a", 1.0, 1), ("a", 9.0, 2), ("b", 3.0, 3), ("b", 7.0, 4)]
    df = spark.createDataFrame(rows, ["cat", "y", "id"])
    out = {r["id"]: r["te_loo"]
           for r in target_encode_loo(df, "cat", "y").collect()}
    assert out == {1: 9.0, 2: 1.0, 3: 7.0, 4: 3.0}


def test_target_encode_kfold_out_of_fold_only(spark):
    rows = [("a", 10.0, 0), ("a", 20.0, 0), ("a", 60.0, 1),
            ("b", 5.0, 0), ("b", 15.0, 1)]
    df = spark.createDataFrame(rows, ["cat", "y", "fold"])
    out = target_encode_kfold(df, "cat", "y", "fold").collect()
    by = {(r["cat"], r["fold"], r["y"]): r["te_kfold"] for r in out}
    # fold-0 'a' rows see only the fold-1 row
    assert by[("a", 0, 10.0)] == 60.0
    assert by[("a", 0, 20.0)] == 60.0
    # fold-1 'a' row sees the fold-0 mean
    assert by[("a", 1, 60.0)] == 15.0
    assert by[("b", 0, 5.0)] == 15.0
    assert by[("b", 1, 15.0)] == 5.0


def test_target_encode_kfold_single_fold_category_fallback(spark):
    # category 'c' lives entirely in fold 0 -> fallback to the global
    # out-of-fold mean for fold 0 (mean over fold-1 rows)
    rows = [("a", 10.0, 0), ("a", 30.0, 1), ("c", 99.0, 0)]
    df = spark.createDataFrame(rows, ["cat", "y", "fold"])
    out = {(r["cat"], r["y"]): r["te_kfold"]
           for r in target_encode_kfold(df, "cat", "y", "fold").collect()}
    assert out[("c", 99.0)] == 30.0


def test_spearman_perfect_monotone(spark):
    # monotone nonlinear: Pearson < 1 but Spearman exactly 1
    rows = [(float(i), float(i ** 3)) for i in range(1, 30)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = spearman_correlation(df, "x", "y").collect()[0]
    assert out["n_rows"] == 29
    assert out["rho_spearman"] == 1.0
    anti = spark.createDataFrame([(x, -y) for x, y in rows], ["x", "y"])
    assert spearman_correlation(anti, "x", "y") \
        .collect()[0]["rho_spearman"] == -1.0


def test_spearman_ties_match_scipy_formula(spark):
    # hand-checked with the average-rank definition:
    # x = [1,1,2,3], y = [10,20,20,30]
    # rx = [1.5,1.5,3,4], ry = [1,2.5,2.5,4]
    rows = [(1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (3.0, 30.0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    rho = spearman_correlation(df, "x", "y").collect()[0]["rho_spearman"]
    rx = [1.5, 1.5, 3, 4]
    ry = [1, 2.5, 2.5, 4]
    mx, my = sum(rx) / 4, sum(ry) / 4
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(sum((a - mx) ** 2 for a in rx)
                    * sum((b - my) ** 2 for b in ry))
    assert abs(rho - num / den) < 1e-6


def test_spearman_partition_invariance(spark):
    rows = [(float(i % 17), float((i * 7) % 23)) for i in range(200)]
    df = spark.createDataFrame(rows, ["x", "y"])
    a = spearman_correlation(df.coalesce(1), "x", "y").collect()[0]
    b = spearman_correlation(df.repartition(16), "x", "y").collect()[0]
    assert a == b


def test_chi2_independent_columns_zero(spark):
    # perfectly independent 2x2 with equal cells: chi2 == 0
    rows = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 10
    df = spark.createDataFrame(rows, ["u", "v"])
    out = chi2_independence(df, "u", "v").collect()[0]
    assert out["chi2"] == 0.0
    assert out["cramers_v"] == 0.0
    assert out["dof"] == 1


def test_chi2_perfect_association(spark):
    # u determines v exactly: chi2 = N, Cramér's V = 1
    rows = [("a", "x")] * 12 + [("b", "y")] * 8
    df = spark.createDataFrame(rows, ["u", "v"])
    out = chi2_independence(df, "u", "v").collect()[0]
    assert out["n_rows"] == 20
    assert abs(out["chi2"] - 20.0) < 1e-6
    assert abs(out["cramers_v"] - 1.0) < 1e-6


def test_chi2_nulls_are_a_category(spark):
    rows = [("a", "x"), ("a", None), (None, "x"), (None, None)]
    df = spark.createDataFrame(rows, ["u", "v"])
    out = chi2_independence(df, "u", "v").collect()[0]
    assert out["n_a"] == 2 and out["n_b"] == 2
    assert out["n_rows"] == 4


def test_lexical_diversity_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "x x x x"), (3, "only unique words here")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict()
           for r in lexical_diversity(df, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["n_types"] == 3
    assert out[1]["n_hapax"] == 2 and out[1]["ttr"] == 0.75
    assert out[2]["ttr"] == 0.25 and out[2]["n_hapax"] == 0
    assert out[3]["ttr"] == 1.0 and out[3]["hapax_share"] == 1.0


def test_corpus_vocabulary_report(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c d")], ["doc_id", "text"])
    out = corpus_vocabulary_report(df, "doc_id", "text").collect()[0]
    # counts: a=2, b=2, c=1, d=1
    assert out["n_tokens"] == 6
    assert out["vocab_size"] == 4
    assert out["hapax_count"] == 2
    assert out["dis_count"] == 2
    assert out["hapax_vocab_share"] == 0.5


def test_ks_two_sample_hand_computed(spark):
    from pipelines_rj_sms_spark.quality.stats import ks_two_sample
    rows = ([("a", 1.0), ("a", 2.0), ("a", 3.0),
             ("b", 2.0), ("b", 3.0), ("b", 4.0)])
    df = spark.createDataFrame(rows, ["g", "v"])
    out = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    # ECDF gaps (x9): 3,3,3,0 -> D = 3/9, first achieved at v=1
    assert out["n_a"] == 3 and out["n_b"] == 3
    assert out["d_numerator"] == 3
    assert abs(out["ks_stat"] - 1 / 3) < 1e-6
    assert out["at_value"] == 1.0


def test_ks_identical_distributions_zero(spark):
    from pipelines_rj_sms_spark.quality.stats import ks_two_sample
    rows = [("a", float(i % 5)) for i in range(50)] + \
           [("b", float(i % 5)) for i in range(50)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert out["ks_stat"] == 0.0
    assert out["p_approx"] == 1.0


def test_mann_whitney_no_ties(spark):
    from pipelines_rj_sms_spark.quality.stats import mann_whitney_u
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)], ["g", "v"])
    out = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert out["u_a"] == 0.0 and out["u_b"] == 4.0
    assert abs(out["z_stat"] - (-1.549193)) < 1e-6
    assert out["cliffs_delta"] == -1.0  # complete separation


def test_mann_whitney_tie_correction(spark):
    from pipelines_rj_sms_spark.quality.stats import mann_whitney_u
    # A=[1,2,2], B=[2,3]: R_a=7, U_a=1, ties sum(t^3-t)=24,
    # sigma=sqrt(6/12*(6-24/20))=sqrt(2.4), z=(1-3)/sqrt(2.4)
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)],
        ["g", "v"])
    out = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert out["u_a"] == 1.0
    assert abs(out["z_stat"] - (-1.290994)) < 1e-6
    # delta = (U_a - U_b) / (n_a n_b) = (1 - 5) / 6
    assert abs(out["cliffs_delta"] - (-0.666667)) < 1e-6


@pytest.mark.slow
def test_ks_mwu_partition_invariance(spark):
    from pipelines_rj_sms_spark.quality.stats import (ks_two_sample,
                                                      mann_whitney_u)
    rows = [("a" if i % 3 else "b", float((i * 13) % 40))
            for i in range(300)]
    df = spark.createDataFrame(rows, ["g", "v"])
    for fn in (ks_two_sample, mann_whitney_u):
        one = fn(df.coalesce(1), "g", "v", "a", "b").collect()[0]
        many = fn(df.repartition(16), "g", "v", "a", "b").collect()[0]
        assert one == many


def test_quantile_normalize_identity_single_group(spark):
    from pipelines_rj_sms_spark.operators.features import (
        quantile_normalize)
    # one group: every value maps to its own order statistic (ties too)
    rows = [("s", float(v), i)
            for i, v in enumerate([5, 3, 3, 8, 1, 5, 5])]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    out = quantile_normalize(df, "g", "v").collect()
    assert all(r["q_norm"] == r["v"] for r in out)


def test_quantile_normalize_hand_computed(spark):
    from pipelines_rj_sms_spark.operators.features import (
        quantile_normalize)
    # A=[1,2,3,4], B=[10,20,30,40]; pooled sorted =
    # [1,2,3,4,10,20,30,40]; mid-quantiles hit order stats 1,3,5,7
    rows = ([("A", float(v), i) for i, v in enumerate([1, 2, 3, 4])]
            + [("B", float(v), 4 + i)
               for i, v in enumerate([10, 20, 30, 40])])
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    out = {(r["g"], r["v"]): r["q_norm"]
           for r in quantile_normalize(df, "g", "v").collect()}
    assert out[("A", 1.0)] == 1.0 and out[("A", 2.0)] == 3.0
    assert out[("A", 3.0)] == 10.0 and out[("A", 4.0)] == 30.0
    assert out[("B", 10.0)] == 1.0 and out[("B", 20.0)] == 3.0
    assert out[("B", 30.0)] == 10.0 and out[("B", 40.0)] == 30.0


@pytest.mark.slow
def test_quantile_normalize_null_passthrough_and_invariance(spark):
    from pipelines_rj_sms_spark.operators.features import (
        quantile_normalize)
    rows = [("a" if i % 3 else "b",
             None if i % 11 == 0 else float((i * 7) % 20), i)
            for i in range(200)]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    import pyspark.sql.functions as F2
    out = quantile_normalize(df, "g", "v")
    nulls = out.filter(F2.col("v").isNull())
    assert nulls.filter(F2.col("q_norm").isNotNull()).count() == 0
    key = lambda r: (r["g"], r["v"] is None, r["v"] or 0.0, r["id"])
    a = sorted(quantile_normalize(df.coalesce(1), "g", "v").collect(),
               key=key)
    b = sorted(quantile_normalize(df.repartition(16), "g", "v").collect(),
               key=key)
    assert a == b


def test_binary_auc_perfect_and_reversed(spark):
    from pipelines_rj_sms_spark.operators.classify import binary_auc
    rows = [(0.9, 1), (0.8, 1), (0.3, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, ["s", "y"])
    assert binary_auc(df, "s", "y").collect()[0]["auc"] == 1.0
    rev = spark.createDataFrame([(1 - s, y) for s, y in rows], ["s", "y"])
    assert binary_auc(rev, "s", "y").collect()[0]["auc"] == 0.0


def test_binary_auc_all_tied_is_half(spark):
    from pipelines_rj_sms_spark.operators.classify import binary_auc
    df = spark.createDataFrame(
        [(0.5, 1)] * 7 + [(0.5, 0)] * 13, ["s", "y"])
    out = binary_auc(df, "s", "y").collect()[0]
    assert out["n_pos"] == 7 and out["n_neg"] == 13
    assert out["auc"] == 0.5


def test_binary_auc_hand_computed_with_ties(spark):
    from pipelines_rj_sms_spark.operators.classify import binary_auc
    # scores: pos=[0.8, 0.5], neg=[0.5, 0.2]
    # pairs: (0.8>0.5)=1, (0.8>0.2)=1, (0.5=0.5)=0.5, (0.5>0.2)=1
    # AUC = 3.5 / 4
    df = spark.createDataFrame(
        [(0.8, 1), (0.5, 1), (0.5, 0), (0.2, 0)], ["s", "y"])
    assert binary_auc(df, "s", "y").collect()[0]["auc"] == 0.875


def test_binary_auc_boolean_expression_label(spark):
    import pyspark.sql.functions as F2
    from pipelines_rj_sms_spark.operators.classify import binary_auc
    df = spark.createDataFrame(
        [(0.9, "en"), (0.7, "en"), (0.2, "pt"), (0.4, "pt")],
        ["s", "lang"])
    out = binary_auc(df, "s", F2.col("lang") == "en").collect()[0]
    assert out["auc"] == 1.0


def test_quantile_normalize_matches_bruteforce_random(spark):
    import random
    from pipelines_rj_sms_spark.operators.features import (
        quantile_normalize)
    rng = random.Random(17)
    rows = [(rng.choice("abc"), float(rng.randint(0, 12)), i)
            for i in range(120)]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    out = {r["id"]: r["q_norm"]
           for r in quantile_normalize(df, "g", "v").collect()}

    pooled = sorted(v for _, v, _ in rows)
    n_tot = len(pooled)
    by_g = {}
    for g, v, _ in rows:
        by_g.setdefault(g, []).append(v)
    for g, v, i in rows:
        vals = sorted(by_g[g])
        lt = sum(1 for x in vals if x < v)
        eq = sum(1 for x in vals if x == v)
        r2 = 2 * lt + eq + 1            # 2 * average rank
        ng = len(vals)
        k = max(1, -((-((r2 - 1) * n_tot)) // (2 * ng)))  # ceil div
        assert out[i] == pooled[k - 1], (g, v, i)


def test_spearman_matches_bruteforce_random(spark):
    import random
    from pipelines_rj_sms_spark.quality.profile import (
        spearman_correlation)
    rng = random.Random(5)
    rows = [(float(rng.randint(0, 9)), float(rng.randint(0, 9)))
            for _ in range(150)]
    df = spark.createDataFrame(rows, ["x", "y"])
    rho = spearman_correlation(df, "x", "y").collect()[0]["rho_spearman"]

    def avg_ranks(vals):
        s = sorted(vals)
        return [(sum(1 for z in s if z < v) * 2
                 + sum(1 for z in s if z == v) + 1) / 2 for v in vals]

    rx = avg_ranks([x for x, _ in rows])
    ry = avg_ranks([y for _, y in rows])
    n = len(rows)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (sum((a - mx) ** 2 for a in rx)
           * sum((b - my) ** 2 for b in ry)) ** 0.5
    assert abs(rho - num / den) < 1e-6


def test_ordinal_association_perfect(spark):
    from pipelines_rj_sms_spark.quality.profile import (
        ordinal_association)
    df = spark.createDataFrame(
        [(1, 1)] * 5 + [(2, 2)] * 5, ["a", "b"])
    out = ordinal_association(df, "a", "b").collect()[0]
    assert out["concordant"] == 25 and out["discordant"] == 0
    assert out["gamma"] == 1.0 and out["tau_b"] == 1.0


def test_ordinal_association_hand_computed(spark):
    from pipelines_rj_sms_spark.quality.profile import (
        ordinal_association)
    # cells (1,1)x2 (1,2)x1 (2,1)x1 (2,2)x2: C=4, D=1
    # gamma = 3/5; tau_b = 3/sqrt((15-6)(15-6)) = 1/3
    rows = [(1, 1)] * 2 + [(1, 2)] + [(2, 1)] + [(2, 2)] * 2
    df = spark.createDataFrame(rows, ["a", "b"])
    out = ordinal_association(df, "a", "b").collect()[0]
    assert out["n_rows"] == 6
    assert out["concordant"] == 4 and out["discordant"] == 1
    assert abs(out["gamma"] - 0.6) < 1e-6
    assert abs(out["tau_b"] - 1 / 3) < 1e-6


def test_ordinal_association_reversed_sign(spark):
    from pipelines_rj_sms_spark.quality.profile import (
        ordinal_association)
    df = spark.createDataFrame(
        [(1, 3)] * 4 + [(2, 2)] * 4 + [(3, 1)] * 4, ["a", "b"])
    out = ordinal_association(df, "a", "b").collect()[0]
    assert out["gamma"] == -1.0 and out["tau_b"] == -1.0


def test_seasonal_decompose_recovers_planted_pattern(spark):
    from datetime import datetime
    from pipelines_rj_sms_spark.operators.timeseries import (
        seasonal_decompose)
    # constant level 10 + seasonal bump of +7 on pos-0 days, 4 weeks:
    # one event row per unit of count
    from datetime import timedelta
    rows = []
    for d in range(28):
        ts = datetime(2024, 1, 1) + timedelta(days=d)
        n = 10 + (7 if (ts - datetime(1970, 1, 1)).days % 7 == 0 else 0)
        rows += [(ts, i) for i in range(n)]
    df = spark.createDataFrame(rows, ["ts", "i"])
    out = {r["bucket"].isoformat(): r.asDict()
           for r in seasonal_decompose(df, "ts", period=7).collect()}
    assert len(out) == 28
    vals = list(out.values())
    # every full-window trend equals the true level + bump/7 = 11
    trends = [v["trend"] for v in vals if v["trend"] is not None]
    assert len(trends) == 22 and all(t == 11.0 for t in trends)
    # seasonal: +6 on the bump position, -1 elsewhere (centered)
    for v in vals:
        if v["trend"] is None:
            assert v["resid"] is None
            continue
        expect = 6.0 if v["pos"] == 0 else -1.0
        assert abs(v["seasonal"] - expect) < 1e-5, v
        assert abs(v["resid"]) < 1e-5


def test_seasonal_decompose_rejects_even_period(spark):
    import pytest
    from pipelines_rj_sms_spark.operators.timeseries import (
        seasonal_decompose)
    df = spark.createDataFrame([("2024-01-01 00:00:00",)], ["ts"])
    with pytest.raises(ValueError):
        seasonal_decompose(df, "ts", period=4)


def test_one_way_anova_hand_computed(spark):
    from pipelines_rj_sms_spark.quality.stats import one_way_anova
    # groups: a=[1,2,3] (mean 2), b=[5,6,7] (mean 6); grand mean 4
    # SSB = 3*(2-4)^2 + 3*(6-4)^2 = 24; SSW = 2 + 2 = 4
    # F = (24/1) / (4/4) = 24; eta^2 = 24/28
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 5.0), ("b", 6.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = one_way_anova(df, "g", "v").collect()[0]
    assert out["n_rows"] == 6 and out["n_groups"] == 2
    assert abs(out["ss_between"] - 24.0) < 1e-5
    assert abs(out["ss_within"] - 4.0) < 1e-5
    assert abs(out["f_stat"] - 24.0) < 1e-4
    assert abs(out["eta_sq"] - 24.0 / 28.0) < 1e-6


def test_one_way_anova_identical_groups_f_zero(spark):
    from pipelines_rj_sms_spark.quality.stats import one_way_anova
    rows = [(g, float(v)) for g in "abc" for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = one_way_anova(df, "g", "v").collect()[0]
    assert out["ss_between"] == 0.0
    assert out["f_stat"] == 0.0


def test_one_way_anova_partition_invariance(spark):
    from pipelines_rj_sms_spark.quality.stats import one_way_anova
    rows = [("g%d" % (i % 5), float((i * 13) % 97) / 7)
            for i in range(400)]
    df = spark.createDataFrame(rows, ["g", "v"])
    a = one_way_anova(df.coalesce(1), "g", "v").collect()[0]
    b = one_way_anova(df.repartition(16), "g", "v").collect()[0]
    assert a == b


def test_bootstrap_ci_brackets_mean_and_is_replayable(spark):
    from pipelines_rj_sms_spark.quality.stats import (
        poisson_bootstrap_mean_ci)
    rows = [(i, float(10 + (i * 7) % 5)) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "v"])
    out = poisson_bootstrap_mean_ci(df, "v", "id",
                                    n_replicas=50).collect()[0]
    assert out["n_rows"] == 400 and out["n_replicas"] == 50
    # CI must bracket the observed mean and be tight for a bounded var
    assert out["ci_lo"] <= out["mean_obs"] <= out["ci_hi"]
    assert out["ci_hi"] - out["ci_lo"] < 1.0
    # replayable: identical under repartition
    again = poisson_bootstrap_mean_ci(
        df.repartition(16), "v", "id", n_replicas=50).collect()[0]
    assert out == again


def test_bootstrap_degenerate_constant_series(spark):
    from pipelines_rj_sms_spark.quality.stats import (
        poisson_bootstrap_mean_ci)
    df = spark.createDataFrame([(i, 5.0) for i in range(50)],
                               ["id", "v"])
    out = poisson_bootstrap_mean_ci(df, "v", "id",
                                    n_replicas=30).collect()[0]
    assert out["mean_obs"] == 5.0
    assert out["ci_lo"] == 5.0 and out["ci_hi"] == 5.0


def test_poisson_weights_mean_one(spark):
    # the inverse-CDF weights over many draws must average ~1
    # (Poisson(1)); checked through the public operator: a huge
    # replica count over one row -> weight mean == replica-mean ratio
    from pyspark.sql import functions as F2
    from pipelines_rj_sms_spark.quality.stats import POISSON1_CDF
    import math
    # the tuple itself must be the Poisson(1) CDF
    c, f = 0.0, 1.0
    for i, lit in enumerate(POISSON1_CDF):
        if i:
            f *= i
        c += 1.0 / f
        assert abs(lit - math.exp(-1) * c) < 1e-15


def test_randomization_test_detects_large_gap(spark):
    from pipelines_rj_sms_spark.quality.stats import (
        randomization_test_mean_diff)
    # a: ~100, b: ~1 — the observed gap should beat essentially every
    # label re-draw
    rows = ([("a", float(100 + i % 3), i) for i in range(60)]
            + [("b", float(1 + i % 3), 100 + i) for i in range(60)])
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    out = randomization_test_mean_diff(
        df, "g", "v", "id", "a", "b", n_replicas=100).collect()[0]
    assert out["n_a"] == 60 and out["n_b"] == 60
    assert abs(out["mean_diff_obs"] - 99.0) < 0.1
    assert out["p_value"] <= 2.0 / 101


def test_randomization_test_null_when_identical(spark):
    from pipelines_rj_sms_spark.quality.stats import (
        randomization_test_mean_diff)
    rows = ([("a", float(i % 7), i) for i in range(80)]
            + [("b", float(i % 7), 100 + i) for i in range(80)])
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    out = randomization_test_mean_diff(
        df, "g", "v", "id", "a", "b", n_replicas=100).collect()[0]
    # identical distributions: the observed diff is tiny and many
    # re-draws should reach it
    assert out["p_value"] > 0.05


@pytest.mark.slow
def test_randomization_test_replayable(spark):
    from pipelines_rj_sms_spark.quality.stats import (
        randomization_test_mean_diff)
    rows = [("a" if i % 2 else "b", float((i * 13) % 23), i)
            for i in range(150)]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    a = randomization_test_mean_diff(
        df.coalesce(1), "g", "v", "id", "a", "b").collect()[0]
    b = randomization_test_mean_diff(
        df.repartition(16), "g", "v", "id", "a", "b").collect()[0]
    assert a == b


@pytest.mark.slow
def test_remaining_new_operators_partition_invariant(spark):
    # combine-order perturbation for the round-6 additions not already
    # pinned individually (same gate as tests/test_determinism.py)
    import pyspark.sql.functions as F2
    from pipelines_rj_sms_spark.operators.classify import binary_auc
    from pipelines_rj_sms_spark.operators.features import (
        target_encode_loo)
    from pipelines_rj_sms_spark.quality.profile import (
        chi2_independence, ordinal_association)

    rows = [("g%d" % (i % 6), "h%d" % ((i * 5) % 4),
             float((i * 13) % 37) / 3, i % 2, i) for i in range(300)]
    df = spark.createDataFrame(rows, ["a", "b", "v", "y", "id"])

    def both(fn):
        one = sorted(tuple(r) for r in fn(df.repartition(1)).collect())
        many = sorted(tuple(r) for r in fn(df.repartition(64)).collect())
        assert one == many, fn

    both(lambda d: chi2_independence(d, "a", "b"))
    both(lambda d: ordinal_association(d, "a", "b"))
    both(lambda d: binary_auc(d, "v", "y"))
    both(lambda d: target_encode_loo(d, "a", "v"))


def test_lakehouse_orc_roundtrip(spark, tmp_path):
    # ORC sink path: same dynamic-partition-overwrite semantics as
    # parquet, Spark-builtin format (no external jars)
    from datetime import datetime
    from pipelines_rj_sms_spark.sinks.lakehouse import (read_table,
                                                        write_table)
    df = spark.createDataFrame(
        [(1, "a", datetime(2024, 1, 1)), (2, "b", datetime(2024, 1, 2))],
        ["id", "v", "ts"])
    path = str(tmp_path / "orc_tbl")
    write_table(df, path, mode="overwrite", ts_col="ts",
                file_format="orc")
    back = read_table(spark, path, file_format="orc")
    assert back.count() == 2
    assert {r["v"] for r in back.collect()} == {"a", "b"}
    # partition layout present
    import os
    assert any("ano_particao=" in d for d in os.listdir(path))


def test_seasonal_anomalies_flags_planted_spike(spark):
    from datetime import datetime, timedelta
    from pipelines_rj_sms_spark.operators.timeseries import (
        seasonal_anomalies)
    rows = []
    for d in range(28):
        ts = datetime(2024, 1, 1) + timedelta(days=d)
        n = 10 + (7 if (ts - datetime(1970, 1, 1)).days % 7 == 0 else 0)
        if d == 15:
            n += 40  # planted spike
        rows += [(ts, i) for i in range(n)]
    df = spark.createDataFrame(rows, ["ts", "i"])
    out = {r["bucket"].isoformat(): r
           for r in seasonal_anomalies(df, "ts", period=7).collect()}
    spike_day = (datetime(2024, 1, 1)
                 + timedelta(days=15)).date().isoformat()
    assert out[spike_day]["is_anomaly"] is True
    quiet = [r for k, r in out.items()
             if k != spike_day and r["trend"] is not None
             # the spike bleeds into its 7-day MA neighborhood
             and abs((datetime.fromisoformat(k).date()
                      - datetime.fromisoformat(spike_day).date()).days)
             > 3]
    assert quiet and all(not r["is_anomaly"] for r in quiet)
    # edge days: null z, false flag
    assert out["2024-01-01"]["resid_z"] is None
    assert out["2024-01-01"]["is_anomaly"] is False


def test_log_rank_hand_computed(spark):
    import math
    from pipelines_rj_sms_spark.operators.analytics import log_rank_test
    # A: events at t=1,2; B: event at t=3, censored at t=4
    rows = [("A", 1, 1), ("A", 2, 1), ("B", 3, 1), ("B", 4, 0)]
    df = spark.createDataFrame(rows, ["g", "dur", "ev"])
    out = log_rank_test(df, "dur", "ev", "g", "A", "B").collect()[0]
    # t=1: n=4 nA=2 d=1 -> E+=0.5,  V+=0.25
    # t=2: n=3 nA=1 d=1 -> E+=1/3,  V+=2/9
    # t=3: n=2 nA=0 d=1 -> E+=0,    V+=0
    e = 0.5 + 1 / 3
    v = 0.25 + 2 / 9
    z = (2 - e) / math.sqrt(v)
    assert out["n_a"] == 2 and out["n_b"] == 2
    assert out["observed_a"] == 2
    assert abs(out["expected_a"] - e) < 1e-5
    assert abs(out["z_stat"] - z) < 1e-4
    assert abs(out["chi2"] - z * z) < 1e-3


def test_log_rank_identical_groups_zero(spark):
    from pipelines_rj_sms_spark.operators.analytics import log_rank_test
    rows = [(g, d, 1) for g in "AB" for d in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(rows, ["g", "dur", "ev"])
    out = log_rank_test(df, "dur", "ev", "g", "A", "B").collect()[0]
    # perfectly matched curves: O == E exactly at every time
    assert out["z_stat"] == 0.0 and out["chi2"] == 0.0


def test_ridge_ols_recovers_exact_linear_fit(spark):
    """λ=0 on exactly-linear integer data recovers y=3x1+2x2+5."""
    from pipelines_rj_sms_spark.operators.features import (
        ridge_regression_2f)
    rows = [(a, b, 3 * a + 2 * b + 5)
            for a in range(0, 10) for b in range(0, 7)]
    df = spark.createDataFrame(rows, ["x1", "x2", "y"])
    out = ridge_regression_2f(df, "x1", "x2", "y", lam=0.0).collect()[0]
    assert out["coef_x1"] == 3.0 and out["coef_x2"] == 2.0
    assert out["intercept"] == 5.0 and out["n"] == 70


def test_ridge_lambda_shrinks_and_singular_guard(spark):
    from pipelines_rj_sms_spark.operators.features import (
        ridge_regression_2f)
    rows = [(a, b, 3 * a + 2 * b + 5)
            for a in range(0, 10) for b in range(0, 7)]
    df = spark.createDataFrame(rows, ["x1", "x2", "y"])
    out = ridge_regression_2f(df, "x1", "x2", "y", lam=50.0).collect()[0]
    assert 0 < out["coef_x1"] < 3.0 and 0 < out["coef_x2"] < 2.0
    # constant features with λ=0: A and c are all-zero → det=0 → NULL
    const = spark.createDataFrame([(1, 1, 4)] * 5, ["x1", "x2", "y"])
    o2 = ridge_regression_2f(const, "x1", "x2", "y", lam=0.0).collect()[0]
    assert o2["coef_x1"] is None and o2["intercept"] is None


def test_split_conformal_coverage_guarantee(spark):
    """On exchangeable data the conformal interval covers ≥ 1−α of
    fresh points: y = 3x1 + 2x2 + noise; check empirical coverage of
    the calibration half itself (≥ 1−α by construction of the k-th
    order statistic) and that q_hat is in the noise ballpark."""
    import random
    from pipelines_rj_sms_spark.operators.features import (
        split_conformal_2f)
    rng = random.Random(21)
    rows = [(i, a, b, 3 * a + 2 * b + rng.randrange(-50, 51))
            for i, (a, b) in enumerate(
                (rng.randrange(0, 100), rng.randrange(0, 100))
                for _ in range(4000))]
    df = spark.createDataFrame(rows, ["id", "x1", "x2", "y"])
    out = split_conformal_2f(df, "x1", "x2", "y", key_cols=["id"],
                             alpha=0.1).collect()[0]
    assert out["n_fit"] + out["n_cal"] == 4000
    assert out["k"] == -(-(out["n_cal"] + 1) * 9 // 10)  # ceil
    # noise is U[-50,50]: the 90% abs-residual quantile ≈ 45
    assert 35.0 <= out["q_hat"] <= 55.0
    assert abs(out["coef_x1"] - 3.0) < 0.2
    assert abs(out["coef_x2"] - 2.0) < 0.2


def test_split_conformal_alpha_too_small_null(spark):
    """k > n_cal (tiny calibration, small α) → NULL q_hat, not a
    bogus max residual."""
    from pipelines_rj_sms_spark.operators.features import (
        split_conformal_2f)
    rows = [(i, i % 7, i % 5, 3 * (i % 7) + 2 * (i % 5))
            for i in range(20)]
    df = spark.createDataFrame(rows, ["id", "x1", "x2", "y"])
    out = split_conformal_2f(df, "x1", "x2", "y", key_cols=["id"],
                             alpha=0.001).collect()[0]
    assert out["q_hat"] is None and out["k"] > out["n_cal"]


def test_best_split_separates_perfectly(spark):
    """Labels = (x > 5): the split at 5 has gain equal to the root
    entropy (perfect separation) and ranks first."""
    import math
    from pipelines_rj_sms_spark.operators.features import (
        best_split_binary)
    rows = [(float(x), x > 5) for x in range(1, 11)]
    out = best_split_binary(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y",
        top=2).collect()
    top = out[0]
    assert top["split_value"] == 5.0
    assert top["pos_left"] == 0 and top["pos_right"] == 5
    assert abs(top["gain"] - math.log(2)) < 1e-6   # h(0.5), nats
    assert out[1]["gain"] < top["gain"]


def test_loglog_elasticity_recovers_exponent(spark):
    """q = up^(-2) exactly: elasticity = -2 with r² = 1."""
    from pipelines_rj_sms_spark.operators.analytics import (
        loglog_elasticity)
    rows = [("b", float(u), float(u) ** -2.0)
            for u in (1.0, 2.0, 4.0, 8.0)]
    out = loglog_elasticity(
        spark.createDataFrame(rows, ["k", "up", "q"]),
        "q", "up", ["k"]).collect()[0]
    assert abs(out["elasticity"] + 2.0) < 1e-6
    assert abs(out["r_squared"] - 1.0) < 1e-6


def test_negative_binomial_fit_moments(spark):
    """Counts {1,2,3,6}: mean 3, s² = 14/3; r = 9/(14/3-3) = 5.4,
    p = 3/(14/3) = 9/14. An under-dispersed series yields NULL."""
    from pipelines_rj_sms_spark.quality.stats import (
        negative_binomial_fit)
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", 6)], ["k", "c"])
    out = negative_binomial_fit(df, "c", ["k"]).collect()[0]
    assert out["mean"] == 3.0
    assert abs(out["var"] - 14 / 3) < 1e-6
    assert abs(out["nb_r"] - 9 / (14 / 3 - 3)) < 1e-5
    assert abs(out["nb_p"] - 9 / 14) < 1e-6
    under = spark.createDataFrame(
        [("a", 3), ("a", 3), ("a", 4)], ["k", "c"])
    assert negative_binomial_fit(
        under, "c", ["k"]).collect()[0]["nb_r"] is None
