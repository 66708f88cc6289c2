import itertools
import random

from pipelines_rj_sms_spark.operators.graph import k_core


def _py_kcore(edges, k):
    eset = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in eset:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg
        eset = {e for e in eset if e[0] not in drop and e[1] not in drop}


def test_kcore_k4_with_pendants(spark):
    edges = list(itertools.combinations([1, 2, 3, 4], 2)) \
        + [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["degree"]
           for r in k_core(df, 3, max_rounds=4).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_empty_when_k_too_high(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert k_core(df, 2, max_rounds=3).count() == 0


def test_kcore_randomized_vs_python_peel(spark):
    rng = random.Random(11)
    edges = [(a, b) for a in range(40) for b in range(40)
             if a < b and rng.random() < 0.12]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["degree"]
           for r in k_core(df, 4, max_rounds=10).collect()}
    assert got == _py_kcore(edges, 4)


def test_kcore_long_pendant_chain_converges(spark):
    """A 12-node pendant chain hanging off a triangle sheds one tip
    per round — needs ~12 peel rounds, more than the old fixed-8
    schedule. Fixpoint detection must fully dissolve the chain."""
    got = {r["node"]: r["degree"]
           for r in k_core(_pendant_chain(spark, 12), 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_raises_when_rounds_exhausted(spark):
    import pytest
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_core(_pendant_chain(spark, 12), 2, max_rounds=3)


def _pendant_chain(spark, n):
    chain = [(100 + i, 101 + i) for i in range(n)]
    edges = [(1, 2), (2, 3), (1, 3), (3, 100)] + chain
    return spark.createDataFrame(edges, ["src", "dst"])


def test_kcore_steady_round_runs_at_most_two_jobs(spark, count_jobs):
    """Each extra chain node costs one more peel round; a steady round
    is the alive-set broadcast plus the checkpoint that counts the new
    alive set — no separate probe count(), no extra broadcast job."""
    short, long_ = _pendant_chain(spark, 6), _pendant_chain(spark, 12)
    out_s, jobs_s = count_jobs(lambda: k_core(short, 2))
    out_l, jobs_l = count_jobs(lambda: k_core(long_, 2))
    assert sorted(r["node"] for r in out_s.collect()) == [1, 2, 3]
    assert sorted(r["node"] for r in out_l.collect()) == [1, 2, 3]
    assert jobs_s > 0
    assert jobs_l - jobs_s <= 2 * 6, (jobs_s, jobs_l)
