"""remove_boilerplate_lines: corpus-level line-wise correction."""

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.curation import (
    remove_boilerplate_lines,
)


def _corpus(spark):
    rows = [
        (0, "NAV\nunique zero\nFOOTER"),
        (1, "NAV\nunique one\nFOOTER"),
        (2, "NAV\nunique two\nFOOTER"),
        (3, "NAV\nFOOTER"),                 # all-boilerplate doc
        (4, "NAV\nrare line\nunique four\nFOOTER"),
        (5, "rare line\nunique five"),      # rare line: df=2 of 6
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_lines_dropped_rare_and_unique_kept(spark):
    # threshold: df >= 2 AND df*2 >= n (i.e. >= 3 of 6 docs)
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(
        _corpus(spark), min_doc_frac=(1, 2), min_docs=2).collect()}
    assert out[0]["clean_text"] == "unique zero"
    assert out[0]["n_lines_removed"] == 2
    assert out[3]["clean_text"] == ""            # row kept, text empty
    assert out[3]["n_lines_removed"] == 2
    # rare line (df=2, 2*2 < 6) survives, order preserved
    assert out[4]["clean_text"] == "rare line\nunique four"
    assert out[5]["clean_text"] == "rare line\nunique five"
    assert out[5]["n_lines_removed"] == 0
    assert len(out) == 6                         # every doc emits a row


def test_boilerplate_min_docs_guard(spark):
    """min_docs keeps a tiny corpus from nuking itself: with 2 docs a
    frac threshold of 1/2 alone would drop any shared line; raising
    min_docs to 3 protects them."""
    df = spark.createDataFrame(
        [(0, "shared\na"), (1, "shared\nb")], "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"] for r in remove_boilerplate_lines(
        df, min_doc_frac=(1, 2), min_docs=3).collect()}
    assert out == {0: "shared\na", 1: "shared\nb"}


@pytest.mark.slow
def test_boilerplate_partition_invariant_and_plan(spark):
    docs = _corpus(spark)
    a = {tuple(r) for r in remove_boilerplate_lines(
        docs.coalesce(1), min_doc_frac=(1, 2)).collect()}
    b = {tuple(r) for r in remove_boilerplate_lines(
        docs.repartition(8), min_doc_frac=(1, 2)).collect()}
    assert a == b
    plan = remove_boilerplate_lines(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_intra_doc_line_dedup_keeps_first_in_order(spark):
    from pipelines_rj_sms_spark.operators.curation import (
        dedup_intra_doc_lines,
    )
    rows = [
        (0, "a\nb\na\nc\nb\na"),      # dups of a (x2) and b (x1)
        (1, "x\ny"),                   # nothing to remove
        (2, "same\nsame\nsame"),       # collapses to one line
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup_intra_doc_lines(df).collect()}
    assert out[0]["clean_text"] == "a\nb\nc"
    assert out[0]["n_lines_removed"] == 3
    assert out[1]["clean_text"] == "x\ny"
    assert out[1]["n_lines_removed"] == 0
    assert out[2]["clean_text"] == "same"
    assert out[2]["n_lines_removed"] == 2


def test_intra_doc_line_dedup_partition_invariant(spark):
    from pipelines_rj_sms_spark.operators.curation import (
        dedup_intra_doc_lines,
    )
    rows = [(i, f"l{i % 4}\nl{(i + 1) % 4}\nl{i % 4}\nu{i}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {tuple(r) for r in dedup_intra_doc_lines(
        df.coalesce(1)).collect()}
    b = {tuple(r) for r in dedup_intra_doc_lines(
        df.repartition(16)).collect()}
    assert a == b and len(a) == 40
