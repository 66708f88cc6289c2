"""Repartition-perturbation property: operators whose outputs are
hash-compared against the DuckDB oracle must be ORDER-INDEPENDENT —
identical results under repartition(1) and repartition(64), i.e. under
any partial-aggregation combine order. This is the regression gate for
the round-5 `doc_bigram_logprob` flake: a raw SUM(double) whose value
drifted with shuffle order and occasionally landed a round(…, 6)
boundary differently than the oracle.

The fix (functions/numeric.det_sum) quantizes each addend to 1e-9
fixed-point BIGINT units before summing, so the aggregate is exact and
commutative. These tests drive each converted operator at both
partitionings and require bit-identical collected rows — no tolerance.
"""

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.001")

needs_data = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                reason="driver testdata not present")


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _perturbed(df, fn, sort_cols):
    a = sorted(tuple(r) for r in fn(df.repartition(1)).collect())
    b = sorted(tuple(r) for r in fn(df.repartition(64)).collect())
    return a, b


@needs_data
def test_unigram_logprob_partition_invariant(spark):
    from pipelines_rj_sms_spark.operators.terms import unigram_logprob
    a, b = _perturbed(_docs(spark),
                      lambda d: unigram_logprob(d, "doc_id", "text"),
                      ["doc_id"])
    assert a == b


@needs_data
def test_bigram_logprob_partition_invariant(spark):
    from pipelines_rj_sms_spark.operators.terms import bigram_logprob
    a, b = _perturbed(_docs(spark),
                      lambda d: bigram_logprob(d, "doc_id", "text"),
                      ["doc_id"])
    assert a == b


@needs_data
def test_bm25_partition_invariant(spark):
    from pipelines_rj_sms_spark.operators.terms import bm25_top_k
    a, b = _perturbed(
        _docs(spark),
        lambda d: bm25_top_k(d, "doc_id", "text",
                             ["spark", "join", "vector"], k=15),
        ["doc_id"])
    assert a == b


def test_det_sum_exact_and_order_independent(spark):
    """Synthetic adversarial case: addends engineered so a naive
    double sum rounds differently depending on order (classic
    catastrophic-absorption pattern), while det_sum stays exact."""
    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.functions.numeric import det_sum

    vals = [1e6, -1e6] + [1e-7] * 1000 + [3.333333e-7] * 777
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    outs = set()
    for n in (1, 7, 64):
        row = (df.repartition(n)
               .agg(det_sum(F.col("x")).alias("s")).collect()[0])
        outs.add(row["s"])
    assert len(outs) == 1
    # exact fixed-point expectation: each addend floor(x*1e9+0.5),
    # computed with the same IEEE ops the engines use
    import math
    expected = sum(math.floor(v * 1e9 + 0.5) for v in vals) / 1e9
    got = outs.pop()
    assert abs(got - expected) < 1e-12


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def _check(df, fn):
    a = sorted(tuple(r) for r in fn(df.repartition(1)).collect())
    b = sorted(tuple(r) for r in fn(df.repartition(64)).collect())
    assert a == b


@needs_data
def test_nb_score_partition_invariant(spark):
    from pipelines_rj_sms_spark.operators.classify import (nb_score,
                                                           nb_train)
    docs = _docs(spark)
    mt, mc = nb_train(docs, "lang", "text")
    mt, mc = mt.cache(), mc.cache()
    _check(docs, lambda d: nb_score(d, "doc_id", "text", mt, mc))


@needs_data
def test_profile_stats_partition_invariant(spark):
    from pipelines_rj_sms_spark.quality.profile import (
        correlation_matrix, diversity_report, mutual_information)
    ev = _events(spark)
    _check(ev, lambda d: mutual_information(d, "event_type", "user_id"))
    _check(_docs(spark),
           lambda d: diversity_report(d, ["source"], "lang"))
    _check(ev, lambda d: correlation_matrix(d, ["value", "user_id"],
                                            scale=10**4))


@pytest.mark.slow
@needs_data
def test_analytics_partition_invariant(spark):
    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.operators.analytics import (
        attribution_credits, cusum_deviations, rolling_anomalies,
        seasonal_profile, standardized_rates, survival_curve, trend_fit)
    ev = _events(spark)
    _check(ev, lambda d: attribution_credits(
        d, "user_id", "ts", "event_type", ["purchase"],
        ["view", "click", "signup"], lookback_seconds=604800))
    _check(ev, lambda d: seasonal_profile(
        d, "ts", "value", key_cols=["event_type"]))
    _check(ev, lambda d: standardized_rates(
        d, "event_type", F.col("value") > 50, {"view": 1.0, "click": 2.0}))
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts")).alias("h"))
              .agg(F.count("*").alias("n")))
    _check(hourly, lambda d: cusum_deviations(
        d, "h", "n", key_cols=["event_type"], integral_values=True))
    _check(hourly, lambda d: rolling_anomalies(
        d, "h", "n", ["event_type"], lookback=10, min_points=3))
    daily = (ev.groupBy("event_type",
                        F.datediff(F.col("ts").cast("date"),
                                   F.lit("2024-01-01").cast("date"))
                        .alias("x"))
             .agg(F.count("*").cast("double").alias("y")))
    _check(daily, lambda d: trend_fit(d, "x", "y",
                                      key_cols=["event_type"]))
    durs = ev.select((F.col("user_id") % 7).alias("dur"),
                     (F.col("value") > 50).cast("int").alias("e"))
    _check(durs, lambda d: survival_curve(d, "dur", "e"))


@pytest.mark.slow
@needs_data
def test_stats_twap_pagerank_partition_invariant(spark):
    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.operators.conform import standardize
    from pipelines_rj_sms_spark.operators.graph import pagerank
    from pipelines_rj_sms_spark.operators.timeseries import (
        time_weighted_avg)
    from pipelines_rj_sms_spark.quality.stats import welch_t_test
    ev = _events(spark)
    _check(ev, lambda d: welch_t_test(d, "event_type", "value",
                                      "click", "view"))
    _check(ev, lambda d: standardize(d, ["value"],
                                     key_cols=["event_type"])
           .select("event_id", "value_z"))
    _check(ev, lambda d: time_weighted_avg(
        d, "ts", "value", key_cols=["event_type"], bucket="hour"))
    edges = ev.select((F.col("user_id") % 50).alias("src"),
                      (F.col("event_id") % 37).alias("dst")).distinct()
    _check(edges, lambda d: pagerank(d, n_iter=3)
           .select("node", F.round("pr", 9).alias("pr")))


@needs_data
def test_pca_train_partition_invariant(spark):
    from pipelines_rj_sms_spark.operators.pca import pca_train
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    models = [pca_train(emb.repartition(n), "embedding", k=2)
              for n in (1, 64)]
    assert models[0] == models[1]


@pytest.mark.slow
def test_det_sum_property_matches_exact_rational(spark):
    """Property: det_sum equals the EXACT rational sum of the
    floor-quantized addends (computed with Fraction — no float error)
    for random magnitudes spanning 12 orders, under multiple
    partitionings."""
    import math
    import random
    from fractions import Fraction

    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.functions.numeric import det_sum

    rng = random.Random(1234)
    for trial in range(5):
        vals = [rng.uniform(-1, 1) * 10 ** rng.randint(-6, 5)
                for _ in range(400)]
        expected = float(
            Fraction(sum(math.floor(v * 1e9 + 0.5) for v in vals))
            / Fraction(10 ** 9))
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        outs = {df.repartition(n).agg(det_sum(F.col("x")).alias("s"))
                .collect()[0]["s"] for n in (1, 13)}
        assert outs == {expected}, (trial, outs, expected)


@pytest.mark.slow
def test_session3_stats_partition_invariant(spark):
    """Round-6 session-3 operators: every det-quantized / exact-
    integer statistic must be bit-identical under repartition(1) vs
    repartition(64)."""
    import random
    from pyspark.sql import functions as F
    from pipelines_rj_sms_spark.operators.analytics import (
        gini_coefficient, markov_transitions, nelson_aalen)
    from pipelines_rj_sms_spark.operators.timeseries import (
        autocorrelation, cross_correlation, holt_winters_additive)
    from pipelines_rj_sms_spark.quality.stats import (
        cochran_armitage, cohens_kappa, dispersion_index,
        jensen_shannon_divergence, kruskal_wallis, mantel_haenszel,
        partial_correlation, pettitt_test, runs_test,
        uncertainty_coefficient, welch_vs_rest_bh)

    rng = random.Random(42)

    def inv(df, fn):
        a = sorted(map(tuple, fn(df.repartition(1)).collect()))
        b = sorted(map(tuple, fn(df.repartition(64)).collect()))
        assert a == b and a

    seq = spark.createDataFrame(
        [(rng.randrange(0, 40), t, "abcde"[rng.randrange(5)])
         for t in range(2000)], ["u", "t", "s"])
    inv(seq, lambda d: markov_transitions(d, "u", "s", ["t"]))

    vals = spark.createDataFrame(
        [("abc"[rng.randrange(3)], rng.randrange(0, 10000))
         for _ in range(3000)], ["k", "v"])
    inv(vals, lambda d: gini_coefficient(d, "v", ["k"]))
    inv(vals, lambda d: dispersion_index(d, "v", ["k"]))
    inv(vals, lambda d: welch_vs_rest_bh(d, "k", "v"))
    inv(vals, lambda d: kruskal_wallis(d, "k", "v"))
    inv(vals, lambda d: jensen_shannon_divergence(
        d, "k", "v", "a", "b", lo=0.0, hi=10000.0, n_bins=20))
    inv(vals.withColumn("v7", F.col("v") % 7),
        lambda d: uncertainty_coefficient(d, "k", "v7"))

    ser = spark.createDataFrame(
        [(t, rng.randrange(0, 5000)) for t in range(300)], ["t", "u"])
    inv(ser, lambda d: autocorrelation(d, "t", "u", max_lag=5))
    inv(ser, lambda d: runs_test(d, "t", "u"))
    inv(ser, lambda d: pettitt_test(d, "t", "u"))
    two = spark.createDataFrame(
        [(t, rng.randrange(0, 100), rng.randrange(0, 100))
         for t in range(300)], ["t", "x", "y"])
    inv(two, lambda d: cross_correlation(d, "t", "x", "y", max_lag=3))
    inv(two, lambda d: partial_correlation(d, "x", "y", "t"))
    hwin = spark.createDataFrame(
        [(t, float(rng.randrange(100, 200))) for t in range(50)],
        ["t", "y"])
    inv(hwin, lambda d: holt_winters_additive(d, "t", "y", period=7,
                                              horizon=3))

    epi = spark.createDataFrame(
        [(rng.randrange(0, 5), rng.random() < 0.4, rng.random() < 0.3)
         for _ in range(2000)], ["k", "ex", "oc"])
    inv(epi, lambda d: mantel_haenszel(d, "k", "ex", "oc"))
    ca = spark.createDataFrame(
        [(rng.randrange(1, 6), rng.random() < 0.3)
         for _ in range(2000)], ["w", "s"])
    inv(ca, lambda d: cochran_armitage(d, "w", "s"))
    pairs = spark.createDataFrame(
        [("ab"[rng.randrange(2)], "AB"[rng.randrange(2)])
         for _ in range(1000)], ["a", "b"])
    inv(pairs, lambda d: cohens_kappa(d, "a", "b"))
    surv = spark.createDataFrame(
        [(rng.randrange(1, 30), rng.randrange(0, 2))
         for _ in range(1000)], ["dur", "ev"])
    inv(surv, lambda d: nelson_aalen(d, "dur", "ev"))


@pytest.mark.slow
def test_session4_stats_partition_invariant(spark):
    """Round-6 session-4 operators: det-quantized / exact-integer
    statistics must be bit-identical under repartition(1) vs (64)."""
    import random
    from pyspark.sql import functions as F
    from pipelines_rj_sms_spark.operators.analytics import (
        gumbel_block_maxima, restricted_mean_survival)
    from pipelines_rj_sms_spark.operators.classify import (
        brier_decomposition)
    from pipelines_rj_sms_spark.operators.graph import (hits,
                                                        link_prediction)
    from pipelines_rj_sms_spark.operators.analytics import (
        attribution_credits, cohort_ltv_curve, loglog_elasticity,
        markov_entropy_rate, price_indexes)
    from pipelines_rj_sms_spark.operators.features import (
        best_split_binary)
    from pipelines_rj_sms_spark.operators.terms import (
        good_turing_richness, ranking_metrics, vocabulary_overlap)
    from pipelines_rj_sms_spark.operators.timeseries import (
        croston_forecast, hurst_rs, ljung_box, pacf)
    from pipelines_rj_sms_spark.quality.stats import (
        breusch_pagan, brown_forsythe, cohens_d, cramer_von_mises,
        gesd_outliers, mcnemar_test, mood_median_test,
        cuped_adjusted_means, diff_in_diff, durbin_watson,
        eb_shrunk_rates, friedman_test, grubbs_statistic,
        hellinger_distance, jarque_bera, negative_binomial_fit,
        wasserstein_1d)

    rng = random.Random(99)

    def inv(df, fn):
        a = sorted(map(tuple, fn(df.repartition(1)).collect()))
        b = sorted(map(tuple, fn(df.repartition(64)).collect()))
        assert a == b and a

    ser = spark.createDataFrame(
        [(t, rng.randrange(0, 5000)) for t in range(400)], ["t", "u"])
    inv(ser, lambda d: durbin_watson(d, "t", "u"))
    inv(ser, lambda d: jarque_bera(d, "u"))
    inv(ser, lambda d: grubbs_statistic(d, "u"))
    inv(ser, lambda d: ljung_box(d, "t", "u", max_lag=5))
    inv(ser, lambda d: breusch_pagan(d, "t", "u"))
    inv(ser, lambda d: gesd_outliers(d, "t", "u", k=3))
    inv(ser, lambda d: hurst_rs(d, "t", "u", (8, 16, 32)))
    inv(ser, lambda d: pacf(d, "t", "u", max_lag=4))
    inv(ser.withColumn("u", F.when(F.col("u") % 7 == 0, F.col("u"))
                       .otherwise(F.lit(0))),
        lambda d: croston_forecast(d, "t", "u"))
    inv(ser.withColumn("blk", F.col("t") % 12),
        lambda d: gumbel_block_maxima(d, "blk", "u"))

    grp = spark.createDataFrame(
        [("abcd"[rng.randrange(4)], rng.randrange(0, 300))
         for _ in range(2000)], ["g", "v"])
    inv(grp, lambda d: cohens_d(d, "g", "v", "a", "b"))
    inv(grp, lambda d: best_split_binary(
        d.withColumn("y", F.col("v") % 3 == 0), "v", "y", top=5))
    inv(grp.filter(F.col("v") > 0)
        .withColumn("up", (F.col("v") % 13 + 1).cast("double")),
        lambda d: loglog_elasticity(d, "v", "up", ["g"]))
    inv(grp, lambda d: negative_binomial_fit(d, "v", ["g"]))
    inv(grp.withColumn("per", F.col("v") % 5)
        .withColumn("qu", F.col("v") % 9 + 1),
        lambda d: price_indexes(d, "per", "g", "v", "qu"))
    inv(grp, lambda d: cramer_von_mises(d, "g", "v", "a", "b"))
    inv(grp, lambda d: brown_forsythe(d, "g", "v"))
    inv(grp, lambda d: mood_median_test(d, "g", "v"))
    inv(grp, lambda d: mcnemar_test(
        d, F.col("v") % 2 == 0, F.col("v") % 3 == 0,
        F.col("v") % 5 == 0))
    inv(grp, lambda d: wasserstein_1d(d, "g", "v", "a", "b"))
    inv(grp.withColumn("pre", F.col("v") % 97)
        .withColumn("post", F.col("v") % 89),
        lambda d: cuped_adjusted_means(d, "g", "pre", "post"))
    inv(grp.withColumn("p", F.when(F.col("v") % 2 == 0, "pre")
                       .otherwise("post")),
        lambda d: diff_in_diff(d, "g", "p", "v", treat="a",
                               control="b", pre="pre", post="post"))
    inv(grp.groupBy("g").agg(
            F.count("*").alias("trials"),
            F.sum((F.col("v") < 100).cast("long")).alias("hits")),
        lambda d: eb_shrunk_rates(d, ["g"], "hits", "trials"))
    inv(grp, lambda d: hellinger_distance(
        d.withColumn("v", F.col("v").cast("double")),
        "g", "v", "a", "b", lo=0.0, hi=300.0, n_bins=15))
    inv(grp.withColumn("blk", F.col("v") % 17),
        lambda d: friedman_test(
            d.groupBy("blk", "g").agg(F.count("*").alias("c")),
            "blk", "g", "c"))
    inv(grp.select("g", (F.col("v") <= 150).cast("int").alias("y"),
                   (F.col("v") / 300.0).alias("p")),
        lambda d: brier_decomposition(d, "p", "y"))

    docs = spark.createDataFrame(
        [(i, " ".join(str(rng.randrange(0, 80))
                      for _ in range(30)), "s" + str(i % 3))
         for i in range(300)], ["doc_id", "text", "source"])
    inv(docs, lambda d: good_turing_richness(d, "text", ["source"]))
    inv(docs, lambda d: vocabulary_overlap(d, "source", "text"))

    ev = spark.createDataFrame(
        [(rng.randrange(0, 40),
          "2024-01-01 0%d:0%d:00" % (rng.randrange(1, 10),
                                     rng.randrange(1, 10)),
          ["view", "click", "signup", "purchase"][rng.randrange(4)])
         for _ in range(2000)], ["u", "ts", "e"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    inv(ev.withColumn("vc", (F.col("u") * 10).cast("long"))
        .withColumn("mts", F.col("ts")),
        lambda d: cohort_ltv_curve(d, "u", "ts", "vc"))
    seqdf = spark.createDataFrame(
        [(rng.randrange(0, 30), t, "abcde"[rng.randrange(5)])
         for t in range(3000)], ["u", "t", "s"])
    inv(seqdf, lambda d: markov_entropy_rate(d, "u", "s", ["t"]))
    inv(ev, lambda d: attribution_credits(
        d, "u", "ts", "e", conversion_events=["purchase"],
        touch_events=["view", "click", "signup"], model="position"))

    pool = spark.createDataFrame(
        [("q" + str(i % 4), i, float(rng.randrange(0, 1000)),
          rng.randrange(0, 4)) for i in range(800)],
        ["q", "id", "s", "rel"])
    inv(pool, lambda d: ranking_metrics(d, "q", "id", "s", "rel"))

    edges = spark.createDataFrame(
        [(rng.randrange(0, 60), 100 + rng.randrange(0, 60))
         for _ in range(400)], ["src", "dst"]).distinct()
    inv(edges, lambda d: link_prediction(d))
    inv(edges, lambda d: hits(d, n_iter=2, edges_distinct=True)[0])
    inv(edges, lambda d: hits(d, n_iter=2, edges_distinct=True)[1])


# --- round 7: pinned-transcendental flip-surface certification ---------
#
# det_sum removes combine-order dependence but NOT cross-engine libm
# divergence: ln() may differ by 1 ulp between the JVM and DuckDB's C
# libm, and when the addend is tf * ln(p) the ulp is amplified by
# tf*scale before the floor — the r6 driver-red class on
# doc_{uni,bi}gram_logprob. The fix pins ln(p) itself to a 1e-6 grid
# (functions/numeric.det_log_units) before the multiply. These tests
# certify, on the actual test corpus, that every pinned value sits far
# enough from an integer grid boundary that a 1-ulp ln divergence
# (~1e-9 in grid units for |ln|~30) cannot flip the floor.

@needs_data
def test_unigram_pinned_ln_margin(spark):
    """Every distinct unigram model ln(p), pinned at 1e6, must sit
    > 1e-6 grid-units from the nearest integer — >100× the worst
    1-ulp cross-engine ln divergence."""
    import math

    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.functions.text import tokens
    toks = _docs(spark).select(F.explode(tokens("text")).alias("term"))
    cnt = toks.groupBy("term").agg(F.count("*").alias("ct"))
    tot, vocab = cnt.agg(F.sum("ct"), F.count("*")).first()
    vals = {r[0] for r in cnt.select("ct").distinct().collect()}
    for ct in vals:
        v = math.log((ct + 1.0) / (float(tot) + float(vocab))) * 1e6 + 0.5
        margin = abs(v - round(v))
        assert margin > 1e-6, (ct, margin)


@needs_data
def test_det_log_units_ulp_immune(spark):
    """Perturbing the ln input by ±1 ulp must not change the pinned
    BIGINT unit for the corpus's model probabilities."""
    import math

    vals = [(ct + 1.0) / 60000.0 for ct in range(1, 2000)]
    for p in vals:
        base = math.floor(math.log(p) * 1e6 + 0.5)
        for sign in (1, -1):
            pert = math.log(math.nextafter(p, sign * math.inf))
            assert math.floor(pert * 1e6 + 0.5) == base, p


def test_grid_mean_tie_exact_cross_engine(spark):
    """VERDICT r7 #1 regression: sums whose S/n lands EXACTLY on a
    .5e-6 grid tie (2S/n odd) must round identically in Spark and
    DuckDB. grid_mean computes the rounding in exact integer
    arithmetic (half away from zero), so there is no tie left for a
    float round() to resolve."""
    import duckdb

    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.functions.numeric import (grid_mean,
                                                          grid_mean_sql)
    # (S, n): exact ties (2S/n odd), near-ties, positives, big values
    cases = [(-567835, 2), (567835, 2), (-851753, 3), (-1135671, 4),
             (-1135670, 4), (5, 2), (-5, 2), (3, 2), (1, 3),
             (-999999999999999, 7), (0, 5)]
    exp = []
    for s, n in cases:
        k = (-2 * s + n) // (2 * n) if s < 0 else (2 * s + n) // (2 * n)
        exp.append((-k if s < 0 else k) / 1e6)
    df = spark.createDataFrame(cases, "s long, n long")
    got = [r["m"] for r in
           df.select(F.col("s"), F.col("n"),
                     grid_mean(F.col("s"), F.col("n")).alias("m"))
           .orderBy("s", "n").collect()]
    order = sorted(range(len(cases)), key=lambda i: cases[i])
    assert got == [exp[i] for i in order]
    duck = duckdb.connect()
    for (s, n), e in zip(cases, exp):
        d = duck.sql(
            f"SELECT {grid_mean_sql(f'CAST({s} AS HUGEINT)', str(n))} "
            "AS m").fetchone()[0]
        assert d == e, (s, n, d, e)


def test_pin_round6_matches_duckdb_on_ties(spark):
    """pin_round6 and its SQL mirror must agree bit-for-bit on exact
    dyadic .5e-6 ties (25/128-style float32 grid points), negative
    values, and plain values — the round() replacement contract."""
    import duckdb

    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.functions.numeric import (pin_round6,
                                                          pin_round6_sql)
    vals = [25.0 / 128, -25.0 / 128, 0.1796875, 0.9546875, -0.9546875,
            1.6683675, 0.1234564999, -0.1234564999, 0.0, 123.456789123,
            3414986998.1445785]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r["x"]: r["y"] for r in
           df.select("x", pin_round6(F.col("x")).alias("y")).collect()}
    duck = duckdb.connect()
    for v in vals:
        # CAST: a bare decimal literal parses as DECIMAL in DuckDB and
        # overflows the 1e6 multiply; the contract is about DOUBLEs
        d = duck.sql(f"SELECT {pin_round6_sql(f'CAST({v!r} AS DOUBLE)')}"
                     " AS y").fetchone()[0]
        assert got[v] == d, (v, got[v], d)
    # half-away-from-zero on the exact dyadic tie
    assert got[25.0 / 128] == 0.195313 and got[-25.0 / 128] == -0.195313
