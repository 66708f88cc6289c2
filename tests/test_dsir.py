"""DSIR importance resampling (operators/curation.py)."""

import math

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.curation import (
    dsir_log_weights,
    dsir_select,
    feature_bucket,
)

DOCS = [
    # target (the distribution to match): repeated "aa bb"
    (0, "aa bb aa bb", True),
    (1, "aa bb aa", True),
    # pool: doc 2 looks like the target, doc 3 does not
    (2, "aa bb", False),
    (3, "zz qq zz qq", False),
]


def _bucket_portable(t, n_buckets=512):
    return (len(t) * 131 + ord(t[0]) * 7 + ord(t[-1])) % n_buckets


def _bucket_poly(t, n_buckets=512):
    h = 0
    for ch in t:
        h = (h * 31 + ord(ch)) % 2147483647
    return h % n_buckets


def _expected_weights(n_buckets=512, alpha=1.0, bucket=_bucket_portable):
    ct_t, ct_r = {}, {}
    for _, text, is_t in DOCS:
        for t in text.lower().split():
            (ct_t if is_t else ct_r)[bucket(t)] = \
                (ct_t if is_t else ct_r).get(bucket(t), 0) + 1
    tt, tr = sum(ct_t.values()), sum(ct_r.values())

    def units(p):
        return math.floor(math.log(p) * 1e6 + 0.5)

    out = {}
    for did, text, _ in DOCS:
        s = 0
        for t in text.lower().split():
            b = bucket(t)
            s += (units((ct_t.get(b, 0) + alpha) / (tt + alpha * n_buckets))
                  - units((ct_r.get(b, 0) + alpha) / (tr + alpha * n_buckets)))
        out[did] = s / 1e6
    return out


def test_dsir_log_weights_hand_computed(spark):
    """Default path (poly bucket hash since r11) vs a pure-Python
    re-computation."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string, is_t boolean")
    got = {r["doc_id"]: r for r in
           dsir_log_weights(df, F.col("is_t"), n_buckets=512).collect()}
    want = _expected_weights(bucket=_bucket_poly)
    assert {k: v["log_weight"] for k, v in got.items()} == want
    assert got[0]["is_target"] and not got[3]["is_target"]
    assert got[0]["n_tokens"] == 4
    # target-like pool doc outranks the alien one
    assert got[2]["log_weight"] > got[3]["log_weight"]


def test_dsir_log_weights_portable_legacy_hand_computed(spark):
    """Explicit legacy portable map still reproduces the pre-r11
    graded numbers."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string, is_t boolean")
    got = {r["doc_id"]: r["log_weight"] for r in
           dsir_log_weights(df, F.col("is_t"), n_buckets=512,
                            hash_fn="portable").collect()}
    assert got == _expected_weights(bucket=_bucket_portable)


def test_dsir_poly_default_separates_portable_collision(spark):
    """Collision-adversarial: two pools that the portable map CANNOT
    distinguish (same len/first/last on every token, different
    middles) get distinct DSIR weights under the poly default."""
    assert _bucket_portable("abXcd") == _bucket_portable("abYcd")
    docs = [
        (0, "abXcd abXcd", True),     # target speaks 'abXcd'
        (1, "abXcd", False),          # pool doc matching the target
        (2, "abYcd", False),          # middle-char impostor
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, is_t boolean")
    legacy = {r["doc_id"]: r["log_weight"] for r in
              dsir_log_weights(df, F.col("is_t"), n_buckets=512,
                               hash_fn="portable").collect()}
    assert legacy[1] == legacy[2]     # portable: impostor indistinguishable
    poly = {r["doc_id"]: r["log_weight"] for r in
            dsir_log_weights(df, F.col("is_t"), n_buckets=512).collect()}
    assert poly[1] > poly[2]          # poly default: true match wins


@pytest.mark.slow
def test_dsir_weights_partition_invariant(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, is_t boolean")
    one = dsir_log_weights(df.coalesce(1), F.col("is_t"),
                           n_buckets=512).collect()
    many = dsir_log_weights(df.repartition(8), F.col("is_t"),
                            n_buckets=512).collect()
    assert {tuple(r) for r in one} == {tuple(r) for r in many}


def test_dsir_select_pool_only_and_deterministic(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, is_t boolean")
    sel = dsir_select(df, F.col("is_t"), k=1, n_buckets=512).collect()
    assert [r["doc_id"] for r in sel] == [2]      # target rows never selected
    both = dsir_select(df, F.col("is_t"), k=9, n_buckets=512).collect()
    assert [r["doc_id"] for r in both] == [2, 3]  # ordered by weight desc


def test_dsir_plan_broadcasts_bucket_dim_no_python(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, is_t boolean")
    plan = (dsir_log_weights(df, F.col("is_t"), n_buckets=512)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_feature_bucket_matches_python(spark):
    toks = ["hello", "中文", "a", "Straße"]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    got = [r[0] for r in
           df.select(feature_bucket(F.col("t"), 512,
                                    hash_fn="portable")).collect()]
    want = [(len(t) * 131 + ord(t[0]) * 7 + ord(t[-1])) % 512 for t in toks]
    assert got == want
    # the DEFAULT is the content-sensitive poly fold
    got_default = [r[0] for r in
                   df.select(feature_bucket(F.col("t"), 512)).collect()]
    assert got_default == [_bucket_poly(t) for t in toks]


def test_dsir_empty_target_side_is_defined(spark):
    """No target docs: p_t collapses to the uniform smoothing prior
    (alpha / (0 + alpha*B)) — weights stay finite and well-defined."""
    df = spark.createDataFrame(
        [(1, "aa bb", False), (2, "cc dd", False)],
        "doc_id long, text string, is_t boolean")
    rows = dsir_log_weights(df, F.col("is_t"), n_buckets=64).collect()
    assert len(rows) == 2
    assert all(r["log_weight"] is not None for r in rows)
    import math
    assert all(math.isfinite(r["log_weight"]) for r in rows)


def test_feature_bucket_poly_matches_python(spark):
    """Poly hash: left fold (acc*31 + codepoint) mod 2^31-1 — content-
    sensitive (middle chars count), exact vs a Python reference."""
    toks = ["hello", "中文", "a", "Straße", "abXcd", "abYcd"]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    got = [r[0] for r in
           df.select(feature_bucket(F.col("t"), 512,
                                    hash_fn="poly")).collect()]

    def poly(t):
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % 2147483647
        return h % 512

    assert got == [poly(t) for t in toks]
    # the portable hash CANNOT see a middle-char change; poly must
    assert feature_bucket is not None
    assert poly("abXcd") != poly("abYcd")
    weak = [(len(t) * 131 + ord(t[0]) * 7 + ord(t[-1])) % 512
            for t in ("abXcd", "abYcd")]
    assert weak[0] == weak[1]


def test_feature_bucket_xxhash64_bounds_and_determinism(spark):
    """Production path: pmod(xxhash64, n) is in range, deterministic
    across runs/partitionings, and spreads middle-char changes."""
    toks = [f"tok{i}middle{i}end" for i in range(200)] + ["abXcd", "abYcd"]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    col = feature_bucket(F.col("t"), 512, hash_fn="xxhash64")
    a = [r[0] for r in df.coalesce(1).select(col).collect()]
    b = [r[1] for r in df.repartition(8).select(F.col("t"), col)
         .orderBy("t").collect()]
    sorted_a = [x for _, x in sorted(zip(toks, a))]
    assert sorted_a == b
    assert all(0 <= x < 512 for x in a)
    assert len(set(a)) > 100              # real spread, not constant
    assert a[-2] != a[-1]                 # middle-char change visible


@pytest.mark.slow
def test_dsir_log_weights_hash_fn_variants_consistent(spark):
    """All three bucket functions yield the same n_tokens/is_target
    (hash-invariant) and each is partition-invariant."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string, is_t boolean")
    outs = {}
    for fn in ("portable", "poly", "xxhash64"):
        one = dsir_log_weights(df.coalesce(1), F.col("is_t"),
                               n_buckets=512, hash_fn=fn).collect()
        many = dsir_log_weights(df.repartition(8), F.col("is_t"),
                                n_buckets=512, hash_fn=fn).collect()
        assert {tuple(r) for r in one} == {tuple(r) for r in many}
        outs[fn] = {r["doc_id"]: r for r in one}
    for fn in ("poly", "xxhash64"):
        for did, r in outs["portable"].items():
            assert outs[fn][did]["n_tokens"] == r["n_tokens"]
            assert outs[fn][did]["is_target"] == r["is_target"]


def test_doremi_uniform_corpus_stays_uniform(spark):
    """Identical slices have ~0 excess loss -> the MW loop leaves the
    mixture at (smoothed) uniform, summing to ~1."""
    from pipelines_rj_sms_spark.operators.curation import (
        doremi_domain_weights)
    rows = [(i, "the cat sat on the mat the end", f"s{i % 4}")
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in
           doremi_domain_weights(df, "source", "text", n_iter=5)
           .collect()}
    assert len(out) == 4
    for r in out.values():
        assert r["excess_loss"] == 0.0
        assert abs(r["weight"] - 0.25) < 1e-5
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-4


def test_doremi_underserved_domain_gains_weight(spark):
    """A domain the shared model fits poorly (disjoint vocabulary,
    1/4 of the corpus) carries the largest excess loss and ends with
    the largest mixture weight; weights still sum to ~1."""
    from pipelines_rj_sms_spark.operators.curation import (
        doremi_domain_weights)
    rows = ([(i, "the cat sat on the mat and the dog ran", "en1")
             for i in range(12)]
            + [(100 + i, "the cat sat on the mat and a dog sat", "en2")
               for i in range(12)]
            + [(200 + i, "zq wv pk lm zq bn wv pk zq lm", "odd")
               for i in range(8)])
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in
           doremi_domain_weights(df, "source", "text", n_iter=5)
           .collect()}
    assert out["odd"]["excess_loss"] == max(
        r["excess_loss"] for r in out.values())
    assert out["odd"]["weight"] == max(
        r["weight"] for r in out.values())
    assert out["odd"]["weight"] > 1.0 / 3
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-4
