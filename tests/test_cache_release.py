"""cache.track/release: persisted intermediates are freed on demand."""

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators import dedup
from pipelines_rj_sms_spark.operators.cache import release, track
from pipelines_rj_sms_spark.operators.curation import curate_documents


def _docs(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the quick brown fox jumps over doc "),
                 (F.col("id") % 20).cast("string")).alias("text"))


def _n_cached(spark):
    jcm = spark._jsparkSession.sharedState().cacheManager()
    return 0 if jcm.isEmpty() else 1


def test_lsh_release_frees_cache(spark):
    spark.catalog.clearCache()
    pairs = dedup.minhash_lsh_candidates(_docs(spark), "doc_id", "text",
                                         num_hashes=8, bands=4)
    pairs.count()
    assert _n_cached(spark) == 1          # banded subplan is cached
    n = release(pairs)
    assert n >= 1
    assert _n_cached(spark) == 0          # all blocks freed


def test_curation_release_chains_all_intermediates(spark):
    spark.catalog.clearCache()
    curated, report = curate_documents(_docs(spark), with_report=False)
    curated.count()
    released = release(curated)
    # exact, near, lsh-banded, jaccard-sh at minimum
    assert released >= 4
    assert _n_cached(spark) == 0


def test_track_carries_chain(spark):
    a = spark.range(5).persist()
    b = spark.range(5).persist()
    mid = track(a.join(b, "id"), a, b)
    final = track(mid.filter("id >= 0"), mid)
    assert release(final) == 2


def _series(spark, n=50):
    return spark.range(n).select(
        F.col("id").alias("t"),
        ((F.col("id") * 37 % 11) + (F.col("id") > 25).cast("long") * 5)
        .alias("v"))


@pytest.mark.slow
def test_global_id_consumers_release_all_blocks(spark):
    """Every operator built on operators/ids.py helpers must carry the
    persisted-base chain through its post-track transforms so
    release(result) frees ALL cached blocks (the r8-advice leak: a
    withColumn after track() orphaned the chain)."""
    from pipelines_rj_sms_spark.operators.features import (
        best_split_binary, quantile_normalize)
    from pipelines_rj_sms_spark.operators.timeseries import hurst_rs
    from pipelines_rj_sms_spark.quality.profile import spearman_correlation
    from pipelines_rj_sms_spark.quality.stats import (
        durbin_watson, pettitt_test, runs_test)

    ser = _series(spark)
    # thunks, not frames: these operators persist eagerly at
    # CONSTRUCTION time, so each must build under its own clean cache
    cases = [
        lambda: runs_test(ser, "t", "v"),
        lambda: pettitt_test(ser, "t", "v"),
        lambda: durbin_watson(ser, "t", "v"),
        lambda: spearman_correlation(
            ser.select("t", "v",
                       (F.col("v") * 2 + F.col("t") % 3).alias("w")),
            "v", "w"),
        lambda: hurst_rs(_series(spark, 80), "t", "v"),
        lambda: quantile_normalize(
            ser.withColumn("g", (F.col("t") % 2).cast("string")),
            "g", "v"),
        lambda: best_split_binary(ser.withColumn("y", (F.col("v") > 5)
                                                 .cast("int")), "v", "y"),
    ]
    for build in cases:
        spark.catalog.clearCache()
        res = build()
        res.count()
        release(res)
        assert _n_cached(spark) == 0, "leaked cached blocks"


def test_release_all_backstop(spark):
    """release_all() frees registered persists even when the attr chain
    was orphaned by a post-track transform."""
    from pipelines_rj_sms_spark.operators.cache import release_all

    spark.catalog.clearCache()
    release_all()                 # drain registry from earlier tests
    a = spark.range(7).persist()
    orphan = track(a.select("id"), a).withColumn("x", F.lit(1))
    orphan.count()
    assert release(orphan) == 0   # chain lost — per-result release blind
    assert _n_cached(spark) == 1
    assert release_all() >= 1
    assert _n_cached(spark) == 0


def _nothing_left(spark):
    from pipelines_rj_sms_spark.operators.cache import _LIVE
    return not _LIVE and _n_cached(spark) == 0


def test_kcore_failure_releases_edge_cache(spark):
    """k_core hitting max_rounds leaves no cache behind."""
    from pipelines_rj_sms_spark.operators.cache import release_all
    from pipelines_rj_sms_spark.operators.graph import k_core

    release_all()
    spark.catalog.clearCache()
    chain = [(100 + i, 101 + i) for i in range(12)]
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 100)] + chain,
                               ["src", "dst"])
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_core(df, 2, max_rounds=3)
    assert _nothing_left(spark)


def test_logreg_failed_round_releases_design_frame(spark, monkeypatch):
    """A training round that raises unpersists the design frame before
    the error reaches the caller."""
    from pipelines_rj_sms_spark.operators.cache import release_all
    from pipelines_rj_sms_spark.operators.classify import \
        logreg_hashed_train

    release_all()
    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [(i, "good clean prose" if i % 2 else "zz spam junk", i % 2)
         for i in range(8)], "doc_id long, text string, y int")

    def boom(self):
        raise RuntimeError("round failed")
    monkeypatch.setattr(type(df), "collect", boom)
    with pytest.raises(RuntimeError, match="round failed"):
        logreg_hashed_train(df, F.col("y") == 1, n_buckets=16, n_iter=2)
    monkeypatch.undo()
    assert _nothing_left(spark)
