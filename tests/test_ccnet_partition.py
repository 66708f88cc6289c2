"""CCNet perplexity partition (operators/curation.py)."""

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.curation import perplexity_partition

# 9 docs: three fluent (repeat the corpus-dominant bigram), three
# mid, three of rare word salad — enough signal that the corpus KN
# model orders the groups
DOCS = [
    (0, "the cat sat on the mat the cat sat"),
    (1, "the cat sat on the mat"),
    (2, "the cat sat the cat sat"),
    (3, "the dog ran on the mat"),
    (4, "the dog sat on a log"),
    (5, "a dog ran to the mat"),
    (6, "zx qv wp lk mn bt"),
    (7, "qq ww ee rr tt yy"),
    (8, "uu ii oo pp aa ss"),
]


def test_partition_three_equal_buckets_with_labels(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = perplexity_partition(df).collect()
    assert len(out) == 9
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket_label"], []).append(r)
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert {len(v) for v in by_bucket.values()} == {3}
    # head = lowest perplexity, tail = highest (CCNet orientation)
    assert (max(r["perplexity"] for r in by_bucket["head"])
            <= min(r["perplexity"] for r in by_bucket["middle"]))
    assert (max(r["perplexity"] for r in by_bucket["middle"])
            <= min(r["perplexity"] for r in by_bucket["tail"]))
    # the corpus-dominant repeated-bigram docs are the most fluent
    # (doc 0 repeats the highest-count bigrams -> head). NB: the raw
    # salad docs do NOT necessarily land in the tail under KN — each
    # unique salad bigram has cv=1, so (c-D)/cv beats a rare bigram
    # after a high-fanout context like "the".
    assert 0 in {r["doc_id"] for r in by_bucket["head"]}
    # bucket int mirrors the label index
    assert all(r["bucket"] == ["head", "middle", "tail"].index(
        r["bucket_label"]) for r in out)


def test_partition_boundary_value_lands_in_lower_bucket(spark):
    """Deterministic cut: a perplexity EQUAL to a boundary stays in
    the lower bucket (strict < comparison), so equal-scored docs are
    never split across engines."""
    # 4 identical docs + 2 salad: the 1/3 boundary interpolates within
    # the identical block, so several docs sit exactly ON it
    docs = [(i, "the cat sat on the mat") for i in range(4)] + [
        (4, "zx qv wp lk mn bt"), (5, "qq ww ee rr tt yy")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           perplexity_partition(df, labels=("keep", "drop")).collect()}
    ppls = {r["perplexity"] for d, r in out.items() if d < 4}
    assert len(ppls) == 1                       # identical docs, one score
    labels = {out[d]["bucket_label"] for d in range(4)}
    assert labels == {"keep"}                   # all on one side of the cut


def test_partition_short_docs_emit_no_row_and_custom_labels(spark):
    df = spark.createDataFrame(
        DOCS + [(9, "solo"), (10, "")], "doc_id long, text string")
    out = perplexity_partition(df, labels=("h", "m", "t")).collect()
    assert {r["doc_id"] for r in out} == set(range(9))   # <2 tokens absent
    assert {r["bucket_label"] for r in out} <= {"h", "m", "t"}


@pytest.mark.slow
def test_partition_is_partition_invariant(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    one = {tuple(r) for r in
           perplexity_partition(df.coalesce(1)).collect()}
    many = {tuple(r) for r in
            perplexity_partition(df.repartition(8)).collect()}
    assert one == many


def test_partition_plan_no_global_sort_no_python(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = (perplexity_partition(df)
            ._jdf.queryExecution().executedPlan().toString())
    # assignment must not plan an ntile/global-sort window
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_partition_approx_matches_exact_at_small_n(spark):
    """approx=True (the bounded-memory 100-TB boundary path): the GK
    sketch is exact below its compression threshold, so on a small
    corpus the approx partition must reproduce the exact one row for
    row — this gates the wiring; the rank-error-bound-under-skew
    proof lives in the equi-depth/winsorize units (pure numeric)."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    exact = {r["doc_id"]: (r["bucket"], r["perplexity"])
             for r in perplexity_partition(df).collect()}
    approx = {r["doc_id"]: (r["bucket"], r["perplexity"])
              for r in perplexity_partition(df, approx=True).collect()}
    assert exact == approx


def test_partition_rejects_single_label(spark):
    import pytest

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError):
        perplexity_partition(df, labels=("all",))
