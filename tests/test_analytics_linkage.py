"""Funnel / cohort-retention / record-linkage operators."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.analytics import (
    cohort_retention,
    funnel_counts,
    funnel_stages,
)
from pipelines_rj_sms_spark.operators.linkage import (
    levenshtein_ratio,
    link_records,
    phonetic_block_key,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, datetime(2024, 1, 1, 0, 0, s), st, i)
         for i, (u, s, st) in enumerate(rows)],
        ["user", "ts", "step", "eid"])


@pytest.mark.slow
def test_funnel_stages_ordered_prefix(spark):
    """Steps must happen in order; interleaved noise and repeats are
    fine; out-of-order steps don't advance."""
    df = _ev(spark, [
        (1, 0, "signup"), (1, 1, "x"), (1, 2, "click"), (1, 3, "buy"),
        (2, 0, "click"), (2, 1, "signup"), (2, 2, "buy"),   # click early
        (3, 0, "buy"), (3, 1, "click"), (3, 2, "signup"),   # reversed
        (4, 0, "signup"), (4, 1, "signup"), (4, 2, "click"),
    ])
    out = {r["user"]: r["stage"] for r in funnel_stages(
        df, "user", "ts", "step", ["signup", "click", "buy"],
        tiebreak_col="eid").collect()}
    assert out == {1: 3, 2: 1, 3: 1, 4: 2}
    # user 2: signup@1 happens, but click came before -> stage 1


def test_funnel_within_window(spark):
    """windowFunnel semantics: the whole funnel must complete within
    the window of the stage-1 event."""
    df = _ev(spark, [
        (1, 0, "a"), (1, 5, "b"),           # within 10s -> stage 2
        (2, 0, "a"), (2, 30, "b"),          # b too late -> stage 1
        (3, 0, "a"), (3, 30, "b"), (3, 31, "a"),  # late b, re-a doesn't reset
    ])
    out = {r["user"]: r["stage"] for r in funnel_stages(
        df, "user", "ts", "step", ["a", "b"], within_seconds=10,
        tiebreak_col="eid").collect()}
    assert out == {1: 2, 2: 1, 3: 1}


def test_funnel_counts_and_plan(spark):
    df = _ev(spark, [(u, u, "a") for u in range(5)]
             + [(u, u + 10, "b") for u in range(3)])
    out = {r["stage"]: r["n_users"] for r in funnel_counts(
        df, "user", "ts", "step", ["a", "b"], tiebreak_col="eid")
        .collect()}
    assert out == {2: 3, 1: 2}
    plan = funnel_counts(df, "user", "ts", "step", ["a", "b"]) \
        ._jdf.queryExecution().executedPlan().toString()
    # one sequence collection + fold: no join of the fact table per step
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.slow
def test_cohort_retention_months(spark):
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 5)), (1, datetime(2024, 2, 5)),
         (1, datetime(2024, 4, 5)),
         (2, datetime(2024, 2, 1)), (2, datetime(2024, 2, 20)),  # same month
         (3, datetime(2024, 1, 9))],
        ["user", "ts"])
    out = {(r["cohort_period"], r["period_offset"]): r["n_users"]
           for r in cohort_retention(df, "user", "ts").collect()}
    jan = 2024 * 12 + 0
    feb = jan + 1
    assert out == {(jan, 0): 2, (jan, 1): 1, (jan, 3): 1, (feb, 0): 1}


def test_phonetic_block_key_groups_variant_spellings(spark):
    df = spark.createDataFrame(
        [("Maria da Silva",), ("Mariah  Silvah",), ("Jose Santos",)],
        ["name"])
    keys = [r["k"] for r in df.select(
        phonetic_block_key("name").alias("k")).collect()]
    assert keys[0] == keys[1]        # same soundex block
    assert keys[0] != keys[2]


def test_link_records_best_match_deterministic(spark):
    left = spark.createDataFrame(
        [(1, "maria silva", "B1"), (2, "ana souza", "B2")],
        ["left_id", "l_name", "blk"])
    right = spark.createDataFrame(
        [(10, "maria silva", "B1"), (11, "maria silvas", "B1"),
         (12, "zz", "B2")],
        ["right_id", "r_name", "blk"])
    out = link_records(
        left, right, ["blk"],
        levenshtein_ratio("l_name", "r_name"), threshold=0.5)
    rows = {r["left_id"]: (r["right_id"], r["score"]) for r in out.collect()}
    assert rows[1][0] == 10 and rows[1][1] == 1.0   # exact beats near
    assert 2 not in rows                             # below threshold
    all_pairs = link_records(
        left, right, ["blk"],
        levenshtein_ratio("l_name", "r_name"), threshold=0.5,
        best_per_left=False)
    assert all_pairs.count() == 2   # both B1 candidates survive


def test_link_records_plan_is_equi_join(spark):
    left = spark.createDataFrame([(1, "a", "B")], ["left_id", "l_n", "blk"])
    right = spark.createDataFrame([(2, "a", "B")], ["right_id", "r_n", "blk"])
    plan = link_records(left, right, ["blk"],
                        levenshtein_ratio("l_n", "r_n")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_rolling_anomalies_flags_spike(spark):
    """A flat series with one spike: the spike is flagged, the flat
    points are not, cold-start rows (< min_points history) get null z."""
    from pipelines_rj_sms_spark.operators.analytics import rolling_anomalies
    vals = [10.0, 11.0, 10.0, 11.0, 10.0, 11.0, 10.0, 100.0, 10.0]
    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, h), v) for h, v in enumerate(vals)],
        ["k", "ts", "v"])
    out = {r["ts"].hour: (r["z"], r["is_anomaly"], r["n_history"])
           for r in rolling_anomalies(
               df, "ts", "v", ["k"], lookback=6, z_threshold=3.0,
               min_points=5).collect()}
    assert out[0][0] is None and out[4][0] is None      # cold start
    assert out[7][1] is True and out[7][0] > 3          # the spike
    assert out[6][1] is False                           # flat point
    # history count is capped by the lookback frame
    assert out[8][2] == 6


def test_rolling_anomalies_zero_variance_null(spark):
    from pipelines_rj_sms_spark.operators.analytics import rolling_anomalies
    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, h), 5.0) for h in range(8)],
        ["k", "ts", "v"])
    rows = rolling_anomalies(df, "ts", "v", ["k"], lookback=6,
                             min_points=3).collect()
    assert all(r["z"] is None for r in rows)  # constant series: no verdict


@pytest.mark.slow
def test_jaro_winkler_matches_duckdb_semantics(spark):
    """Pin the UDF to DuckDB's jaro_winkler_similarity on textbook and
    randomized pairs — the linkage score must replay cross-engine."""
    import random

    import duckdb

    from pipelines_rj_sms_spark.operators.linkage import (
        _jaro_winkler_py, jaro_winkler)
    rng = random.Random(7)
    alpha = "abcdef"
    pairs = [("martha", "marhta"), ("dwayne", "duane"),
             ("dixon", "dicksonx"), ("", ""), ("abc", ""), ("same", "same")]
    pairs += [("".join(rng.choice(alpha) for _ in range(rng.randint(0, 9))),
               "".join(rng.choice(alpha) for _ in range(rng.randint(0, 9))))
              for _ in range(300)]
    con = duckdb.connect()
    for a, b in pairs:
        want = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert abs(_jaro_winkler_py(a, b) - want) < 1e-12, (a, b)

    df = spark.createDataFrame(pairs[:6], ["a", "b"])
    got = [r["s"] for r in
           df.select(jaro_winkler("a", "b").alias("s")).collect()]
    assert abs(got[0] - 0.9611111111111111) < 1e-12
    assert got[3] == 0.0 and got[5] == 1.0


def test_top_paths_ngrams(spark):
    from pipelines_rj_sms_spark.operators.analytics import top_paths
    df = _ev(spark, [
        (1, 0, "a"), (1, 1, "b"), (1, 2, "c"), (1, 3, "b"),
        (2, 0, "a"), (2, 1, "b"), (2, 2, "c"),
        (3, 0, "x"), (3, 1, "y"),             # too short for n=3
    ])
    got = {r["path"]: r["cnt"] for r in top_paths(
        df, "user", "ts", "step", n=3, k=10,
        tiebreak_col="eid").collect()}
    assert got == {"a>b>c": 2, "b>c>b": 1}


def test_top_paths_no_self_join_plan(spark):
    from pipelines_rj_sms_spark.operators.analytics import top_paths
    df = _ev(spark, [(1, 0, "a"), (1, 1, "b"), (1, 2, "c")])
    plan = top_paths(df, "user", "ts", "step") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "TakeOrderedAndProject" in plan


def test_equi_depth_histogram_balanced_no_global_sort(spark):
    from pipelines_rj_sms_spark.operators.analytics import (
        equi_depth_histogram)
    df = spark.range(1000).select((F.col("id") * 7 % 1000)
                                  .cast("double").alias("v"))
    out = equi_depth_histogram(df, "v", 4)
    rows = {r["bucket"]: r for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert all(240 <= rows[b]["cnt"] <= 260 for b in rows)
    assert rows[0]["hi"] <= rows[1]["lo"] and rows[2]["hi"] <= rows[3]["lo"]
    plan = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    # exactly one SinglePartition exchange (the 1-row percentile agg);
    # a second one would be the ntile-style global data sort
    assert plan.count("Exchange SinglePartition") <= 1
    assert "Sort [v" not in plan


def test_equi_depth_histogram_approx_within_rank_error(spark):
    """The approx (bounded-memory) boundary path on a SKEWED corpus:
    per-bucket populations must match the exact histogram within the
    sketch's rank-error bound. accuracy=1000 => rank error eps=1e-3;
    a bucket is bounded by two boundaries, each off by at most eps*n
    ranks, so |cnt_approx - cnt_exact| <= 2*eps*n per bucket. The
    corpus is adversarial: 20% of mass on one duplicated minimum
    (absorbed by bucket 0 on both paths — ties cancel in the
    comparison) and a long quadratic tail."""
    from pipelines_rj_sms_spark.operators.analytics import (
        equi_depth_histogram)
    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 5 == 0, F.lit(0.0))
        .otherwise((F.col("id") * F.col("id") % 99991).cast("double")
                   + 1.0).alias("v"))
    exact = {r["bucket"]: r["cnt"]
             for r in equi_depth_histogram(df, "v", 8).collect()}
    approx = {r["bucket"]: r["cnt"]
              for r in equi_depth_histogram(
                  df, "v", 8, approx=True,
                  approx_accuracy=1000).collect()}
    assert sum(exact.values()) == sum(approx.values()) == n
    bound = 2 * (1.0 / 1000) * n  # 2 * eps * n = 40 rows
    for b in exact:
        assert abs(approx.get(b, 0) - exact[b]) <= bound, (
            b, approx.get(b, 0), exact[b])


@pytest.mark.slow
def test_resolve_entities_clusters_duplicates(spark):
    """Perturbed copies resolve to their source's entity; unrelated
    records keep their own id as entity."""
    from pipelines_rj_sms_spark.operators.linkage import (
        levenshtein_ratio, resolve_entities)
    df = spark.createDataFrame([
        (1, "b1", "maria da silva santos"),
        (2, "b1", "maria da silva santoz"),   # near-dup of 1
        (3, "b1", "joao pereira lima......"),
        (4, "b2", "maria da silva santos"),   # other block: own entity
    ], ["id", "blk", "name"])
    got = {r["id"]: r["entity_id"] for r in resolve_entities(
        df, "id", ["blk"], levenshtein_ratio("l_name", "r_name"),
        0.8, ["name"]).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 4}


def test_standardized_rates_closed_form(spark):
    """Two strata with known rates: crude blends by population, DSR by
    the standard weights, SMR = observed/expected under reference
    rates — each checked against hand arithmetic."""
    from pipelines_rj_sms_spark.operators.analytics import (
        standardized_rates)
    rows = ([("young", 1)] * 10 + [("young", 0)] * 90     # rate 100/1k
            + [("old", 1)] * 30 + [("old", 0)] * 70)      # rate 300/1k
    df = spark.createDataFrame(rows, ["band", "sick"])
    out = standardized_rates(
        df, "band", F.col("sick") == 1,
        std_weights={"young": 3.0, "old": 1.0},
        reference_rates={"young": 200.0, "old": 200.0},
        per=1000.0).collect()[0]
    assert out["n_total"] == 200 and out["events_total"] == 40
    assert out["crude_rate"] == 200.0            # 40/200 * 1000
    # DSR = (3*0.1 + 1*0.3)/4 * 1000 = 150
    assert out["dsr"] == 150.0
    # expected = 200 people * 200/1000 = 40 -> SMR = 40/40 = 1
    assert out["smr"] == 1.0


@pytest.mark.slow
def test_markov_transitions_hand_counts(spark):
    """One user path a->b->a->b, one path b->c: transition counts
    (a,b)=2 (b,a)=1 (b,c)=1; K=3 observed states; Laplace alpha=1:
    p(b|a) = (2+1)/(2+3) = 0.6."""
    from pipelines_rj_sms_spark.operators.analytics import (
        markov_transitions)
    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
            (2, 1, "b"), (2, 2, "c")]
    df = spark.createDataFrame(rows, ["u", "t", "s"])
    out = {(r["src_state"], r["dst_state"]): r
           for r in markov_transitions(df, "u", "s", ["t"]).collect()}
    assert set(out) == {("a", "b"), ("b", "a"), ("b", "c")}
    assert out[("a", "b")]["cnt"] == 2
    assert out[("a", "b")]["src_total"] == 2
    assert out[("a", "b")]["prob"] == 0.6       # (2+1)/(2+3)
    assert out[("b", "a")]["prob"] == 0.4       # (1+1)/(2+3)
    # transitions never cross user boundaries: no (b,b) from u1->u2
    assert ("b", "b") not in out


def test_markov_transitions_rows_never_cross_sequences(spark):
    """Single-event sequences contribute no transitions."""
    from pipelines_rj_sms_spark.operators.analytics import (
        markov_transitions)
    df = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], ["u", "t", "s"])
    assert markov_transitions(df, "u", "s", ["t"]).count() == 0


def test_gini_hand_computed(spark):
    """x=[1,1,2,4]: Σx=8, Σi·x=25, G=(50−40)/32=0.3125; equal values
    G=0; single row and zero mass → NULL."""
    from pipelines_rj_sms_spark.operators.analytics import (
        gini_coefficient)
    rows = ([("a", 1), ("a", 1), ("a", 2), ("a", 4)]
            + [("b", 5), ("b", 5), ("b", 5)]
            + [("c", 7)] + [("d", 0), ("d", 0)])
    df = spark.createDataFrame(rows, ["k", "u"])
    out = {r["k"]: r for r in
           gini_coefficient(df, "u", ["k"]).collect()}
    assert out["a"]["gini"] == 0.3125 and out["a"]["n"] == 4
    assert out["a"]["sum_units"] == 8.0
    assert out["b"]["gini"] == 0.0
    assert out["c"]["gini"] is None          # single row
    assert out["d"]["gini"] is None          # zero mass


def test_gini_tie_order_invariant(spark):
    """Repartitioning must not move the result (integer rank-sums)."""
    from pipelines_rj_sms_spark.operators.analytics import (
        gini_coefficient)
    import random
    rng = random.Random(7)
    rows = [("k", rng.randrange(0, 50)) for _ in range(500)]
    df = spark.createDataFrame(rows, ["k", "u"])
    a = gini_coefficient(df.repartition(1), "u", ["k"]).collect()[0]
    b = gini_coefficient(df.repartition(64), "u", ["k"]).collect()[0]
    assert a["gini"] == b["gini"] and a["gini"] is not None


def test_deletion_neighborhood_finds_all_ed1_pairs(spark):
    """Substitution, deletion, and insertion neighbors all surface;
    distance-2 names don't."""
    from pipelines_rj_sms_spark.operators.linkage import (
        deletion_neighborhood_pairs)
    rows = [(1, "maria"), (2, "marla"),    # substitution
            (3, "mara"),                    # deletion of i
            (4, "marias"),                  # insertion
            (5, "xx")]                      # far away
    df = spark.createDataFrame(rows, ["id", "name"])
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in deletion_neighborhood_pairs(df, "id", "name")
           .collect()}
    assert (1, 2) in out and out[(1, 2)] == 1
    assert (1, 3) in out and (1, 4) in out
    assert (2, 3) in out          # marla/mara share deletion "mara"?
    assert all(5 not in k for k in out)
    # exactness: every reported pair really is within one edit
    assert all(d <= 1 for d in out.values())


def test_deletion_neighborhood_group_cap_drops_hot_variant(spark):
    """With a tiny cap the shared-variant group is dropped — the
    hot-block guard semantics, not a silent truncation."""
    from pipelines_rj_sms_spark.operators.linkage import (
        deletion_neighborhood_pairs)
    rows = [(i, "ab") for i in range(1, 5)]  # identical strings
    df = spark.createDataFrame(rows, ["id", "name"])
    full = deletion_neighborhood_pairs(df, "id", "name",
                                       max_group=None).count()
    capped = deletion_neighborhood_pairs(df, "id", "name",
                                         max_group=3).count()
    assert full == 6 and capped == 0


def test_gumbel_block_maxima_moments(spark):
    """Maxima {10, 20, 30} across blocks: mean 20, sample s = 10,
    beta = 10*sqrt(6)/pi, mu = 20 - gamma*beta, and the return level
    recomputes from the public formula; a single block is NULL."""
    import math
    from pipelines_rj_sms_spark.operators.analytics import (
        gumbel_block_maxima)
    rows = [("a", 4), ("a", 10), ("b", 20), ("c", 30), ("c", 1)]
    out = gumbel_block_maxima(
        spark.createDataFrame(rows, ["blk", "u"]), "blk", "u",
        return_period=12).collect()[0]
    beta = 10 * math.sqrt(6) / math.pi
    mu = 20 - 0.5772156649015329 * beta
    rl = mu - beta * math.log(-math.log(1 - 1 / 12))
    assert out["n_blocks"] == 3 and out["mean_max"] == 20.0
    assert abs(out["beta"] - beta) < 1e-6
    assert abs(out["mu"] - mu) < 1e-6
    assert abs(out["return_level"] - rl) < 1e-6
    one = gumbel_block_maxima(
        spark.createDataFrame([("a", 5)], ["blk", "u"]),
        "blk", "u").collect()[0]
    assert one["beta"] is None and one["return_level"] is None


def test_rmst_hand_computed(spark):
    """Durations 2 (event), 5 (censored): S(2) = 0.5, S(5) = 0.5.
    RMST = 1*2 + 0.5*3 = 3.5 with tau = 5. All-immediate events
    (dur 0) give RMST 0."""
    from pipelines_rj_sms_spark.operators.analytics import (
        restricted_mean_survival)
    df = spark.createDataFrame([(2, 1), (5, 0)], ["dur", "ev"])
    out = restricted_mean_survival(df, "dur", "ev").collect()[0]
    assert out["n_durations"] == 2 and out["tau"] == 5
    assert out["rmst"] == 3.5
    zero = spark.createDataFrame([(0, 1), (0, 1)], ["dur", "ev"])
    assert restricted_mean_survival(
        zero, "dur", "ev").collect()[0]["rmst"] == 0.0


def test_price_indexes_hand_computed(spark):
    """Two items, two periods; unit prices move +100% (item A,
    10→20) and −50% (item B, 20→10) with A's quantity doubling:
    the indexes follow the matched-basket formulas and the base
    period is exactly 1."""
    from pipelines_rj_sms_spark.operators.analytics import (
        price_indexes)
    rows = [
        (1, "A", 10, 1), (1, "B", 20, 1),
        (2, "A", 40, 2), (2, "B", 10, 1),
    ]
    df = spark.createDataFrame(rows, ["per", "it", "pc", "qu"])
    out = {r["period"]: r for r in
           price_indexes(df, "per", "it", "pc", "qu").collect()}
    assert out[1]["laspeyres"] == 1.0 and out[1]["fisher"] == 1.0
    lasp = (20 * 1 + 10 * 1) / (10 * 1 + 20 * 1)
    paas = (20 * 2 + 10 * 1) / (10 * 2 + 20 * 1)
    import math
    assert abs(out[2]["laspeyres"] - lasp) < 1e-6
    assert abs(out[2]["paasche"] - paas) < 1e-6
    assert abs(out[2]["fisher"] - math.sqrt(lasp * paas)) < 1e-6


def test_cohort_ltv_cumulates_per_user(spark):
    """Two cohorts: Jan cohort (2 users) spends 100 in Jan and 50 in
    Feb -> cum/user = 50 then 75; Feb cohort (1 user) spends 30."""
    from pyspark.sql import functions as F
    from pipelines_rj_sms_spark.operators.analytics import (
        cohort_ltv_curve)
    rows = [
        (1, "2024-01-05", 60), (2, "2024-01-20", 40),
        (1, "2024-02-10", 50),
        (3, "2024-02-01", 30),
    ]
    df = spark.createDataFrame(rows, ["u", "ts", "v"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["cohort_month"], r["month_age"]): r
           for r in cohort_ltv_curve(df, "u", "ts", "v").collect()}
    jan = 2024 * 12 + 0
    assert out[(jan, 0)]["cohort_size"] == 2
    assert out[(jan, 0)]["cum_value_per_user"] == 50.0
    assert out[(jan, 1)]["cum_value_per_user"] == 75.0
    assert out[(jan + 1, 0)]["cum_value_per_user"] == 30.0


def test_markov_entropy_deterministic_vs_independent(spark):
    """A strictly alternating chain (a->b->a->...) has entropy rate 0
    and predictability 1; an i.i.d.-ish chain has rate close to its
    marginal entropy (predictability near 0)."""
    import math
    import random
    from pipelines_rj_sms_spark.operators.analytics import (
        markov_entropy_rate)
    alt = [(1, t, t, "ab"[t % 2]) for t in range(200)]
    df = spark.createDataFrame(alt, ["u", "ts", "eid", "s"])
    out = markov_entropy_rate(df, "u", "s", ["ts", "eid"]).collect()[0]
    assert out["entropy_rate"] == 0.0
    assert out["predictability"] == 1.0
    assert abs(out["marginal_entropy"] - math.log(2)) < 0.01
    rng = random.Random(77)
    iid = [(1, t, t, "abcd"[rng.randrange(4)]) for t in range(4000)]
    out2 = markov_entropy_rate(
        spark.createDataFrame(iid, ["u", "ts", "eid", "s"]),
        "u", "s", ["ts", "eid"]).collect()[0]
    assert abs(out2["predictability"]) < 0.02


@pytest.mark.slow
def test_levenshtein_ratio_banded_matches_exact_in_band(spark):
    """r12: the banded scorer (max_dist) returns the bit-identical
    ratio for in-band pairs, -1.0 (below every threshold in [0, 1])
    beyond the band, and selects the same >= t pair set as the exact
    spelling whenever max_dist >= (1 - t) * max_len."""
    rows = [("abcdef", "abcdxf"),      # dist 1, in band
            ("abcdef", "abcdef"),      # dist 0
            ("abcdef", "zzzzzz"),      # dist 6, beyond band 2
            ("short", "shortest"),     # dist 3
            (None, "x"), ("x", None)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select(
        levenshtein_ratio("a", "b").alias("exact"),
        levenshtein_ratio("a", "b", max_dist=2).alias("banded"),
    ).collect()
    for r in got:
        if r["exact"] is None:
            assert r["banded"] is None
        elif r["banded"] == -1.0:
            # beyond the band: the exact ratio must be below the
            # 1 - max_dist/max_len threshold the band guarantees
            assert r["exact"] < 1.0
        else:
            assert r["banded"] == r["exact"]
    # pair-set equivalence at t=0.7 with max_dist >= 0.3 * max_len
    names = [(i, s) for i, s in enumerate(
        ["johnsmith", "jonsmith", "johnsmyth", "peterpan", "peterpen",
         "completelyother"])]
    ndf = spark.createDataFrame(names, ["id", "n"])
    a = ndf.select(F.col("id").alias("ia"), F.col("n").alias("na"))
    b = ndf.select(F.col("id").alias("ib"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    exact = {(r["ia"], r["ib"]) for r in pairs.filter(
        levenshtein_ratio("na", "nb") >= 0.7).collect()}
    banded = {(r["ia"], r["ib"]) for r in pairs.filter(
        levenshtein_ratio("na", "nb", max_dist=5) >= 0.7).collect()}
    assert exact == banded and exact
