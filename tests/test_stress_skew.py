"""Scale stress harness: the dedup/curation/cap families against an
ADVERSARIALLY SKEWED sf0.1-sized corpus (tools/stress_gen.py — one
source at 50%, one near-dup cluster at 10% that exact dedup cannot
collapse, one embedding cell at 80%).

The plan-discipline sweep proves shapes; these prove BEHAVIOR under
hot keys at volume: every family finishes inside a generous wall
budget (sized for this VM's documented ±45% swing — a quadratic
blowup overshoots it by orders of magnitude, noise does not), the
skew classes produce exactly the survivors the operators promise, and
completed stages are screened for single-straggler task skew via the
status API (tools/task_skew.py). Documented in SCALE.md §stress.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from tools.stress_gen import generate


@pytest.fixture(scope="module")
def stress(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stress_corpus"))
    layout = generate(out, n_docs=5000, n_vecs=2000)
    return out, layout


def _skew_guard(spark, budget_name):
    """No completed stage may be a catastrophic single-straggler: for
    stages with a >=3 s max task and >=4 tasks, max/median <= 25.
    (At test scale most stages are sub-second noise — the screen
    exists to catch a hot key funneling the whole corpus through one
    task, which shows up as ratios in the hundreds.)"""
    from tools.task_skew import stage_skew_report

    report = stage_skew_report(spark, min_stage_ms=3000, min_tasks=4)
    bad = [r for r in report if r["ratio"] > 25]
    assert not bad, (budget_name, bad)


def test_fixture_layout(spark, stress):
    out, layout = stress
    docs = spark.read.parquet(f"{out}/documents.parquet")
    assert docs.count() == layout["n_docs"]
    hot = docs.filter(F.col("source") == "hotsrc").count()
    assert hot == layout["n_hot_source"]
    # the near-dup cluster shares its first 10 tokens; exact texts all
    # distinct (the per-doc tail token) so exact dedup cannot collapse
    pref = docs.groupBy(F.substring("text", 1, 40).alias("p")).count()
    assert pref.agg(F.max("count")).first()[0] == layout["n_dup_cluster"]
    assert docs.select("text").distinct().count() == layout["n_docs"]


@pytest.mark.slow
def test_curation_funnel_under_skew(spark, stress):
    from pipelines_rj_sms_spark.operators.cache import release
    from pipelines_rj_sms_spark.operators.curation import curate_documents

    out, layout = stress
    docs = spark.read.parquet(f"{out}/documents.parquet")
    t0 = time.monotonic()
    curated, report = curate_documents(docs)
    took = time.monotonic() - t0
    release(curated)
    # exact dedup keeps everything (all texts distinct)...
    assert report.n_after_exact == layout["n_docs"]
    # ...and the LSH+verify stage collapses the WHOLE near-dup
    # cluster to its min-id representative — the skew does not hide
    # dups from the banding, nor does it blow the join up
    assert report.n_after_near == \
        layout["n_docs"] - layout["n_dup_cluster"] + 1
    assert report.n_after_quality <= report.n_after_near
    assert report.n_after_lang <= report.n_after_quality
    # 500-doc hot bucket => ~1M banded candidates; a quadratic
    # regression (corpus x corpus) would be ~25x that and blow this
    # budget by an order of magnitude even on a contended host
    assert took < 300, took
    _skew_guard(spark, "curation")


def test_domain_cap_under_skew(spark, stress):
    from pipelines_rj_sms_spark.functions.urls import domain_cap_sample

    out, layout = stress
    docs = spark.read.parquet(f"{out}/documents.parquet")
    with_url = docs.withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit(".com/p/"), F.col("doc_id")))
    t0 = time.monotonic()
    capped = domain_cap_sample(with_url, "url", cap=8,
                               key_cols=["doc_id"]).persist()
    per = {r["domain"]: r["n"] for r in
           capped.groupBy("domain").agg(F.count("*").alias("n"))
           .collect()}
    took = time.monotonic() - t0
    capped.unpersist()
    # the 50% domain is cut to the cap like everyone else; no domain
    # exceeds it; the two-stage window kept the hot slice off a
    # single reducer (skew guard below)
    assert per["hotsrc.com"] == 8
    assert all(n <= 8 for n in per.values())
    assert took < 120, took
    _skew_guard(spark, "domain_cap")


@pytest.mark.slow
def test_semantic_dedup_hot_cell_guard_and_split(spark, stress):
    from pipelines_rj_sms_spark.operators.similarity import (
        kmeans_lloyd, semantic_dedup)

    out, layout = stress
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    cells = kmeans_lloyd(emb, "vec_id", "embedding",
                         k=4, n_iter=2).withColumnRenamed(
        "cluster", "ivf_cell").persist()
    sizes = {r["ivf_cell"]: r["n"] for r in
             cells.groupBy("ivf_cell").agg(F.count("*").alias("n"))
             .collect()}
    # the fixture's attractor really does own >=80% of one cell
    assert max(sizes.values()) >= layout["n_hot_cell"]

    # caller footgun path: the guard refuses the |cell|^2 join
    with pytest.raises(ValueError, match="max_cell_size"):
        semantic_dedup(emb, None, threshold=0.999, cells_df=cells,
                       max_cell_size=500)

    # split path: hard-capped slices, bounded pair cost, and the
    # near-identical attractor mass still collapses (one survivor per
    # slice it spans — bounded recall loss, never bounded blowup)
    t0 = time.monotonic()
    survivors = semantic_dedup(emb, None, threshold=0.999,
                               cells_df=cells, max_cell_size=500,
                               on_oversize="split")
    hot_ids = {r["vec_id"] for r in
               emb.filter(F.col("label") == 0).select("vec_id")
               .collect()}
    got = {r["vec_id"] for r in survivors.select("vec_id").collect()}
    took = time.monotonic() - t0
    cells.unpersist()
    n_hot_survivors = len(got & hot_ids)
    # 1600 attractor vectors across <=4 slices of <=500: a handful of
    # survivors, never the whole cluster
    assert n_hot_survivors <= 8, n_hot_survivors
    # the spread-out 20% are not near anything: all survive
    assert len(got - hot_ids) == layout["n_vecs"] - layout["n_hot_cell"]
    assert took < 240, took
    _skew_guard(spark, "semantic_dedup_split")
