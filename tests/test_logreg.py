"""Hashed logistic regression (operators/classify.py logreg_*)."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.classify import (
    logreg_hashed_train,
    logreg_score,
)

# linearly separable by vocabulary: positives speak one language,
# negatives another
DOCS = [(i, "good clean prose flows here", 1) for i in range(6)] + [
    (i, "zz qq spam spam zz junk", 0) for i in range(6, 12)]


def _train(df, **kw):
    kw.setdefault("n_buckets", 64)
    kw.setdefault("n_iter", 6)
    return logreg_hashed_train(df, F.col("y") == 1, "text", "doc_id", **kw)


def _synthetic_docs(n=240, seed=7):
    """n docs over a 3000-word random vocabulary: positives draw from
    the first 1800 words, negatives from the last 1800."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = ["".join(rng.choice(letters) for _ in range(rng.randint(3, 8)))
             for _ in range(3000)]
    docs = []
    for i in range(n):
        y = i % 2
        pool = vocab[:1800] if y else vocab[1200:]
        docs.append((i, " ".join(rng.choice(pool)
                                 for _ in range(rng.randint(5, 40))), y))
    return docs


def test_logreg_weights_pinned(spark):
    """Exact (b, wu) weights, recorded from the executor-side training
    loop before the update moved to the driver."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string, y int")
    w, _ = _train(df)
    assert sorted(tuple(r) for r in w.collect()) == [
        (-1, 125362), (0, -670375), (5, 460548), (8, -335188),
        (9, -209826), (32, -335188), (48, 460548), (61, 460548),
        (63, 460548)]


def test_logreg_weights_pinned_wide_buckets(spark):
    """2,298 live buckets out of 16,384: the weight lookup literal spans
    the whole bucket range. Pinned by digest, recorded as above."""
    df = spark.createDataFrame(_synthetic_docs(),
                               "doc_id long, text string, y int")
    w, _ = _train(df, n_buckets=16384)
    got = sorted(tuple(r) for r in w.collect())
    assert len(got) == 2298
    assert got[:5] == [(-1, -1474), (1, -156), (4, 17676), (8, 5906),
                       (21, -5595)]
    assert hashlib.sha256(repr(got).encode()).hexdigest() == (
        "b01171f12504bc8f6efb55d62e25d8c6e3909a6c5044d452cf665424b9a7ab54")


def test_logreg_empty_corpus_trains_to_empty_frames(spark):
    df = spark.createDataFrame([], "doc_id long, text string, y int")
    w, feat = _train(df, n_iter=3)
    assert w.collect() == []
    assert logreg_score(feat, w).collect() == []


def test_logreg_round_is_one_collect(spark, count_jobs):
    """Training runs at call time, each round one collect (a shuffle-map
    job and a result job under AQE) plus the design frame's exchange in
    the first round; scoring then reads the cached frame with at most
    the weights collect and its own result job."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string, y int")
    (w, feat), jobs = count_jobs(lambda: _train(df, n_iter=4))
    assert 0 < jobs <= 4 * 3 + 2, jobs
    _, jobs = count_jobs(lambda: logreg_score(feat, w).collect())
    assert jobs <= 2, jobs


def test_logreg_separates_easy_corpus(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, y int")
    w, feat = _train(df)
    out = {r["doc_id"]: r for r in logreg_score(feat, w).collect()}
    assert len(out) == 12
    assert all(out[i]["predicted"] == 1 for i in range(6))
    assert all(out[i]["predicted"] == 0 for i in range(6, 12))
    # probabilities ordered with the labels and on the 1e-6 grid
    assert min(out[i]["prob"] for i in range(6)) > \
        max(out[i]["prob"] for i in range(6, 12))
    assert all(round(r["prob"] * 1e6) == r["prob"] * 1e6
               for r in out.values())


@pytest.mark.slow
def test_logreg_weights_partition_invariant(spark):
    """Bit-identical weights at any partitioning — the integer-grid
    training contract."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string, y int")
    w1, _ = _train(df.coalesce(1))
    w8, _ = _train(df.repartition(8))
    assert ({tuple(r) for r in w1.collect()}
            == {tuple(r) for r in w8.collect()})


def test_logreg_intercept_present_and_zero_iter_is_half(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, y int")
    w, feat = _train(df, n_iter=0)
    rows = w.collect()
    assert any(r["b"] == -1 for r in rows)        # intercept bucket
    assert all(r["wu"] == 0 for r in rows)        # no updates ran
    out = logreg_score(feat, w).collect()
    assert all(r["prob"] == 0.5 and r["margin"] == 0.0 for r in out)
    # zero margin predicts positive by the documented >= 0 rule
    assert all(r["predicted"] == 1 for r in out)


@pytest.mark.slow
def test_logreg_training_reduces_logloss(spark):
    import math

    df = spark.createDataFrame(DOCS, "doc_id long, text string, y int")

    def logloss(n_iter):
        w, feat = _train(df, n_iter=n_iter)
        eps = 1e-9
        return sum(
            -math.log(max(r["prob"], eps)) if r["y"] == 1
            else -math.log(max(1 - r["prob"], eps))
            for r in logreg_score(feat, w).collect())

    assert logloss(6) < logloss(1) < logloss(0)


def test_logreg_plan_no_cartesian_no_python(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, y int")
    w, feat = _train(df, n_iter=2)
    plan = (logreg_score(feat, w)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
