"""PageRank / degrees (operators/graph.py)."""

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.graph import degrees, pagerank


def _det(xs):
    """Mirror functions/numeric.det_sum: floor-quantized 1e-9 units,
    exact integer sum, divide back — the operator's contribution and
    dangling-mass sums use this, so the reference must too."""
    import math
    return sum(math.floor(x * 1e9 + 0.5) for x in xs) / 1e9


def _pr_numpy(edges, n_iter, d=0.85, nodes=None):
    """Reference power iteration (dict-based)."""
    nodes = set(nodes or [])
    for s, t in edges:
        nodes |= {s, t}
    nodes = sorted(nodes)
    out = {}
    for s, t in set(edges):
        out.setdefault(s, set()).add(t)
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dm = _det(pr[v] for v in nodes if v not in out)
        nxt = {}
        for v in nodes:
            m = _det(pr[u] / len(out[u]) for u in nodes
                     if u in out and v in out[u])
            nxt[v] = (1.0 - d) / n + d * (m + dm / n)
        pr = nxt
    return pr


def test_pagerank_matches_reference_iteration(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 2), (4, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=4).collect()}
    want = _pr_numpy(edges, 4)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12


@pytest.mark.slow
def test_pagerank_dangling_mass_conserved(spark):
    # node 3 is dangling (no out-edges): total rank must still sum to 1
    df = spark.createDataFrame([(1, 3), (2, 3)], ["src", "dst"])
    rows = pagerank(df, n_iter=5).collect()
    # tolerance: det_sum quantizes each aggregate to 1e-9 units, so
    # mass conservation holds to ~n_iter·nodes·0.5e-9, not machine eps
    assert abs(sum(r["pr"] for r in rows) - 1.0) < 1e-7
    got = {r["node"]: r["pr"] for r in rows}
    assert got[3] > got[1] == got[2]


def test_pagerank_isolated_nodes_and_degrees(spark):
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    nodes = spark.createDataFrame([(1,), (2,), (9,)], ["v"])
    got = {r["node"]: r["pr"]
           for r in pagerank(edges, n_iter=2, nodes=nodes,
                             node_col="v").collect()}
    assert 9 in got and got[9] < got[2]
    deg = {r["node"]: (r["out_degree"], r["in_degree"])
           for r in degrees(edges).collect()}
    assert deg == {1: (1, 0), 2: (0, 1)}


def test_project_bipartite_weights(spark):
    from pipelines_rj_sms_spark.operators.graph import project_bipartite
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z")]
    df = spark.createDataFrame(rows, ["g", "i"])
    out = {(r["item_a"], r["item_b"]): r.asDict()
           for r in project_bipartite(df, "g", "i").collect()}
    xy = out[("x", "y")]
    assert xy["n_common"] == 2
    # n_x=3, n_y=2 -> 2/sqrt(6)
    assert abs(xy["cosine"] - round(2 / 6 ** 0.5, 6)) < 1e-9
    assert out[("x", "z")]["n_common"] == 1


def test_project_bipartite_cap_guard(spark):
    from pipelines_rj_sms_spark.operators.graph import project_bipartite
    rows = [(9, f"i{k}") for k in range(30)] + [(1, "a"), (1, "b")]
    df = spark.createDataFrame(rows, ["g", "i"])
    out = project_bipartite(df, "g", "i",
                            max_items_per_group=10).collect()
    assert {(r["item_a"], r["item_b"]) for r in out} == {("a", "b")}


def test_personalized_pagerank_concentrates_near_seed(spark):
    from pipelines_rj_sms_spark.operators.graph import pagerank
    # path graph 1-2-3-4-5 (symmetric), seed on node 1
    und = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"])
    seeds = spark.createDataFrame([(1, 1.0)], ["node", "weight"])
    pr = {r["node"]: r["pr"] for r in pagerank(
        edges, n_iter=8, assume_no_dangling=True,
        personalization=seeds).collect()}
    # monotone decay away from the seed; mass conserved
    assert pr[1] > pr[2] > pr[3] > pr[4]
    assert abs(sum(pr.values()) - 1.0) < 1e-9


def test_personalized_pagerank_zero_for_unreachable(spark):
    from pipelines_rj_sms_spark.operators.graph import pagerank
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], ["src", "dst"])
    seeds = spark.createDataFrame([(1, 1.0)], ["node", "weight"])
    pr = {r["node"]: r["pr"] for r in pagerank(
        edges, n_iter=6, assume_no_dangling=True,
        personalization=seeds).collect()}
    # disconnected component gets no teleport and no walk mass
    assert pr[3] == 0.0 and pr[4] == 0.0
    assert pr[1] > 0.5


def test_label_propagation_two_cliques_with_bridge(spark):
    import itertools
    from pipelines_rj_sms_spark.operators.graph import label_propagation
    # two K4 cliques joined by one bridge edge: LPA separates them
    # (components would merge them)
    c1 = list(itertools.combinations([1, 2, 3, 4], 2))
    c2 = list(itertools.combinations([11, 12, 13, 14], 2))
    edges = spark.createDataFrame(c1 + c2 + [(4, 11)], ["src", "dst"])
    out = {r["node"]: r["community"]
           for r in label_propagation(edges, n_rounds=4).collect()}
    assert len({out[n] for n in (1, 2, 3, 4)}) == 1
    assert len({out[n] for n in (11, 12, 13, 14)}) == 1
    assert out[1] != out[11]


def test_label_propagation_deterministic(spark):
    import random
    from pipelines_rj_sms_spark.operators.graph import label_propagation
    rng = random.Random(2)
    edges = [(a, b) for a in range(30) for b in range(30)
             if a < b and rng.random() < 0.15]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(7)
    one = sorted(map(tuple, label_propagation(df, 3).collect()))
    two = sorted(map(tuple, label_propagation(df, 3).collect()))
    assert one == two


def test_cooccurrence_edges_matches_selfjoin_and_caps(spark):
    from pipelines_rj_sms_spark.operators.graph import cooccurrence_edges
    rows = [("o1", 3), ("o1", 1), ("o1", 2), ("o1", 1),  # dup member
            ("o2", 2), ("o2", 3), ("o3", 9)]              # singleton
    df = spark.createDataFrame(rows, ["g", "i"])
    got = {(r["src"], r["dst"])
           for r in cooccurrence_edges(df, "g", "i").collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}
    # hot-group cap drops the whole group, keeps the rest
    capped = {(r["src"], r["dst"]) for r in cooccurrence_edges(
        df, "g", "i", max_items_per_group=2).collect()}
    assert capped == {(2, 3)}


def test_assortativity_star_is_negative(spark):
    from pipelines_rj_sms_spark.operators.graph import assortativity
    # star K1,4: hub degree 4, leaves 1 -> r = -1
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], ["src", "dst"])
    out = assortativity(edges).collect()[0]
    assert out["n_nodes"] == 5 and out["n_edges"] == 4
    assert out["assortativity"] == -1.0


def test_assortativity_regular_graph_null(spark):
    from pipelines_rj_sms_spark.operators.graph import assortativity
    # cycle C4: every degree 2 -> zero variance -> null (not NaN/Inf)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3)], ["src", "dst"])
    out = assortativity(edges).collect()[0]
    assert out["assortativity"] is None


def test_modularity_two_cliques(spark):
    from pipelines_rj_sms_spark.operators.graph import modularity
    # two disjoint triangles labeled by component: the textbook value
    # Q = sum_c (L_c/m - (d_c/2m)^2) = 2*(3/6 - (6/12)^2) = 0.5
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)],
        ["src", "dst"])
    labels = spark.createDataFrame(
        [(i, 0) for i in range(3)] + [(i, 1) for i in range(3, 6)],
        ["node", "community"])
    out = modularity(edges, labels).collect()[0]
    assert out["n_edges"] == 6 and out["n_communities"] == 2
    assert out["modularity"] == 0.5


def test_modularity_single_community_zero(spark):
    from pipelines_rj_sms_spark.operators.graph import modularity
    # everything in one community: L_c = m, d_c = 2m -> Q = 0 exactly
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], ["src", "dst"])
    labels = spark.createDataFrame([(i, 7) for i in range(4)],
                                   ["node", "community"])
    out = modularity(edges, labels).collect()[0]
    assert out["modularity"] == 0.0


def test_bfs_hops_path_and_bounds(spark):
    """Path 1-2-3-4-5, max_hops=2 → hops {1:0, 2:1, 3:2}; nodes past
    the bound absent; undirected so seeding at 3 reaches both ways."""
    from pipelines_rj_sms_spark.operators.graph import bfs_hops
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"])
    out = {r["node"]: r["hops"]
           for r in bfs_hops(edges, 1, max_hops=2).collect()}
    assert out == {1: 0, 2: 1, 3: 2}
    mid = {r["node"]: r["hops"]
           for r in bfs_hops(edges, 3, max_hops=1).collect()}
    assert mid == {3: 0, 2: 1, 4: 1}


def test_bfs_hops_min_hop_on_diamond_and_missing_source(spark):
    """Diamond 1-2-4, 1-3-4 plus slow path 1-5-6-4: node 4 gets hop 2
    (first visit wins); an absent source returns no rows."""
    from pipelines_rj_sms_spark.operators.graph import bfs_hops
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 5), (5, 6), (6, 4)],
        ["src", "dst"])
    out = {r["node"]: r["hops"]
           for r in bfs_hops(edges, 1, max_hops=3).collect()}
    assert out[4] == 2 and out[6] == 2
    assert bfs_hops(edges, 99, max_hops=3).count() == 0


def test_link_prediction_path_and_square(spark):
    """Path 1-2-3: the only 2-hop non-edge is (1,3) with cn=1,
    jaccard=1/(1+1-1)=1, aa=1/ln(2). Square 5-6-7-8: non-edges are
    the diagonals, each with cn=2, aa=2/ln(2)."""
    import math
    from pipelines_rj_sms_spark.operators.graph import link_prediction
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 8), (5, 8)],
        ["src", "dst"])
    out = {(r["src"], r["dst"]): r
           for r in link_prediction(edges).collect()}
    assert set(out) == {(1, 3), (5, 7), (6, 8)}
    assert out[(1, 3)]["common_neighbors"] == 1
    assert out[(1, 3)]["jaccard"] == 1.0
    assert abs(out[(1, 3)]["adamic_adar"] - 1 / math.log(2)) < 1e-6
    assert out[(5, 7)]["common_neighbors"] == 2
    assert abs(out[(5, 7)]["adamic_adar"] - 2 / math.log(2)) < 1e-6


def test_link_prediction_excludes_existing_edges_and_caps_hubs(spark):
    """Triangle + pendant: (1,2),(2,3),(1,3),(3,4). Existing edges
    never appear even when they share neighbors; with the hub cap
    below the center degree nothing is emitted."""
    from pipelines_rj_sms_spark.operators.graph import link_prediction
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"])
    out = {(r["src"], r["dst"]): r
           for r in link_prediction(edges).collect()}
    assert (1, 2) not in out and (2, 3) not in out
    assert set(out) == {(1, 4), (2, 4)}
    capped = link_prediction(edges, max_center_degree=1).collect()
    assert capped == []


def test_link_prediction_packed_matches_unpacked(spark):
    """The packed-key path (r13: (u,v) -> u<<32|v through the wedge
    aggregation + anti-join, decoded after) returns exactly the rows,
    dtypes and scores of the two-column spelling, on a graph with
    shared neighbors, existing-edge exclusions and id 0; ids at the
    2^31 boundary and negatives fall back to unpacked (auto-detect)."""
    from pipelines_rj_sms_spark.operators.graph import link_prediction
    edges = spark.createDataFrame(
        [(0, 2), (2, 3), (0, 3), (3, 4), (5, 6), (6, 7), (7, 8), (5, 8)],
        ["src", "dst"])
    packed = link_prediction(edges, packed_keys=True)
    unpacked = link_prediction(edges, packed_keys=False)
    assert packed.schema == unpacked.schema
    assert sorted(map(tuple, packed.collect())) == \
        sorted(map(tuple, unpacked.collect()))
    # auto-detect refuses out-of-range ids: same rows either way
    big = spark.createDataFrame(
        [(1 << 31, 2), (2, 3)], ["src", "dst"])
    rows = {(r["src"], r["dst"]) for r in link_prediction(big).collect()}
    assert rows == {(3, 1 << 31)} or rows == {(1 << 31, 3)}


def test_link_prediction_packed_keys_rejects_out_of_range_ids(spark):
    """An explicit packed_keys=True must not silently collide ids: a
    negative id or one at 2^31 raises instead of packing."""
    from pipelines_rj_sms_spark.operators.graph import link_prediction
    for bad in ((-1, 2), (2, 1 << 31)):
        edges = spark.createDataFrame([bad, (2, 3)], ["src", "dst"])
        with pytest.raises(ValueError, match="packed_keys"):
            link_prediction(edges, packed_keys=True)


def test_hits_hand_computed_two_iterations(spark):
    """s1->{d1,d2}, s2->{d1}; max-normalized: after round 2 the
    authority scores are d1=1, d2=0.6 and hubs s1=1, s2=0.625."""
    from pipelines_rj_sms_spark.operators.graph import hits
    e = spark.createDataFrame(
        [(1, 101), (1, 102), (2, 101)], ["src", "dst"])
    hubs, auths = hits(e, n_iter=2, edges_distinct=True)
    hv = {r["node"]: r["score"] for r in hubs.collect()}
    av = {r["node"]: r["score"] for r in auths.collect()}
    assert abs(av[101] - 1.0) < 1e-9
    assert abs(av[102] - 0.6) < 1e-9
    assert abs(hv[1] - 1.0) < 1e-9
    assert abs(hv[2] - 0.625) < 1e-9
