import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.dedup import (
    dedup_exact,
    dedup_keep_last,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dupes,
)
from pipelines_rj_sms_spark.operators.similarity import (
    brute_force_top_k,
    embedding_near_dupes,
    lsh_top_k,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup
    (3, "the quick brown fox jumps over the lazy dog again and again tomorrow"),  # near dup
    (4, "completely different words about spark dataframes and shuffle joins"),
    (5, "short text"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_keep_last_deterministic(spark):
    df = spark.createDataFrame(
        [("u1", 1, "a"), ("u1", 2, "b"), ("u1", 2, "a"), ("u2", 1, "z")],
        ["k", "ord", "payload"],
    )
    out = {r["k"]: (r["ord"], r["payload"])
           for r in dedup_keep_last(df, ["k"], "ord").collect()}
    assert out["u1"] == (2, "b")  # max ord, tie broken by payload desc
    assert out["u2"] == (1, "z")


def test_dedup_exact(spark):
    kept = sorted(r["doc_id"] for r in dedup_exact(_docs(spark), "text", "doc_id").collect())
    assert kept == [1, 3, 4, 5]  # doc 2 collapses into doc 1


def test_minhash_lsh_finds_dups(spark):
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_candidates(_docs(spark), "doc_id", "text").collect()}
    assert (1, 2) in pairs          # exact dup always collides
    assert all(a < b for a, b in pairs)


def test_minhash_md5_variant_matches_xxhash_pairs_for_exact_dups(spark):
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_candidates(_docs(spark), "doc_id", "text",
                                             num_hashes=8, bands=4,
                                             hash_fn="md5").collect()}
    assert (1, 2) in pairs


def test_ngram_jaccard(spark):
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(_docs(spark), "doc_id", "text",
                                        threshold=0.5).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.5 <= out[(1, 3)] < 1.0
    assert (1, 4) not in out


def test_simhash_identical_and_near(spark):
    sh = {r["doc_id"]: r["simhash"]
          for r in simhash(_docs(spark), "text").collect()}
    assert sh[1] == sh[2]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_dupes(_docs(spark), "doc_id", "text",
                                         max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def _emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_top_k(spark):
    out = brute_force_top_k(_emb(spark), [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    assert abs(out[0]["cosine_sim"] - 1.0) < 1e-12


def test_lsh_top_k_contains_self(spark):
    out = lsh_top_k(_emb(spark), [1.0, 0.0, 0.0], k=4, n_planes=2)
    ids = [r["vec_id"] for r in out.collect()]
    assert 1 in ids
    assert 4 not in ids  # opposite vector lands in another bucket


def test_embedding_near_dupes(spark):
    pairs = {(r["id_a"], r["id_b"])
             for r in embedding_near_dupes(_emb(spark), threshold=0.9,
                                           n_planes=2).collect()}
    assert (1, 2) in pairs


def test_ivf_top_k_recall(spark):
    import numpy as np

    from pipelines_rj_sms_spark.operators.similarity import (
        assign_ivf_cells,
        brute_force_top_k,
        ivf_top_k,
        train_ivf_centroids,
    )
    from pipelines_rj_sms_spark.session import read_parquet_normalized

    emb = read_parquet_normalized(spark, "/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 1").first()["embedding"]]

    cents = train_ivf_centroids(emb, k=8, iters=5, sample=500)
    assert len(cents) == 8 and len(cents[0]) == 64
    with_cells = assign_ivf_cells(emb, cents)
    # every vector lands in exactly one valid cell
    cells = with_cells.select("ivf_cell").distinct().collect()
    assert all(0 <= r["ivf_cell"] < 8 for r in cells)

    exact = [r["vec_id"] for r in brute_force_top_k(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_top_k(with_cells, cents, q, k=10, nprobe=4).collect()]
    # the query vector itself must be found (it sits in a probed cell by
    # construction: its own cell is the nearest centroid)
    assert 1 in approx
    # recall@10 with half the cells probed on random data: expect overlap
    assert len(set(exact) & set(approx)) >= 4


def test_curate_documents_funnel(spark):
    from pipelines_rj_sms_spark.operators.curation import curate_documents

    good = ("the quick brown fox jumps over the lazy dog and it is a fine day "
            "in the park with many people walking around the green field")
    rows = [
        (1, good),                          # keeper
        (2, good),                          # exact dup of 1 -> dropped
        (3, good + " extra tail words"),    # near dup of 1 -> dropped
        (4, "a!!! b??? c***"),              # junk -> quality-filtered
        (5, "de que nao uma para com os das de que nao uma para com os das "
            "de que nao uma para com os das"),   # portuguese -> lang-filtered
        (6, "it is the best of days and the worst of days in that city and "
            "the people of it keep walking to the old bridge every morning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    curated, rep = curate_documents(
        df, jaccard_threshold=0.5, quality_threshold=0.5, langs=("en",))
    kept = sorted(r["doc_id"] for r in curated.collect())
    assert kept == [1, 6]
    assert rep.n_input == 6
    assert rep.n_after_exact == 5      # exact dup gone
    assert rep.n_after_near == 4       # near dup gone
    assert rep.n_after_quality == 3    # junk gone
    assert rep.n_after_lang == 2       # portuguese gone


def test_winnow_overlap_pairs(spark):
    from pipelines_rj_sms_spark.operators.dedup import winnow_overlap_pairs

    shared = "a very distinctive shared passage of considerable length here"
    df = spark.createDataFrame(
        [(1, "intro before " + shared),
         (2, shared + " plus an entirely different continuation"),
         (3, "no overlap with anything else in this tiny corpus")],
        ["doc_id", "text"])
    rows = winnow_overlap_pairs(df, "doc_id", "text", min_shared=2).collect()
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_winnow_overlap_max_df_drops_boilerplate(spark):
    from pipelines_rj_sms_spark.operators.dedup import winnow_overlap_pairs

    boiler = "standard legal disclaimer appended to every document here"
    df = spark.createDataFrame(
        [(i, f"unique content number {i} is this " + boiler) for i in range(4)],
        ["doc_id", "text"])
    # boilerplate fps appear in all 4 docs; with max_df=3 they are
    # dropped and no pair survives on boilerplate alone
    rows = winnow_overlap_pairs(df, "doc_id", "text", min_shared=2,
                                max_df=3).collect()
    assert rows == []
    # uncapped, every pair matches on the shared boilerplate
    rows = winnow_overlap_pairs(df, "doc_id", "text", min_shared=2,
                                max_df=None).collect()
    assert len(rows) == 6


def test_connected_components_path_and_isolates(spark):
    from pipelines_rj_sms_spark.operators.dedup import connected_components

    # two clusters (a path 1-2-3-4 and a pair 10-11) + isolated node 99
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]],
                                  ["doc_id"])
    out = connected_components(edges, nodes=nodes, node_col="doc_id")
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_convergence_guard(spark):
    from pipelines_rj_sms_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["id_a", "id_b"])
    import pytest

    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(edges, max_iter=2)


def test_batch_top_k_matches_single_probe(spark):
    from pipelines_rj_sms_spark.operators import similarity

    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probes = (emb.filter("vec_id < 3")
              .selectExpr("vec_id AS query_id", "embedding"))
    batched = similarity.batch_top_k(emb, probes, k=4, round_to=6)
    got = {(r.query_id, r.vec_id, r.cosine_sim) for r in batched.collect()}
    for qid, qvec in [(r[0], r[1]) for r in rows[:3]]:
        single = similarity.brute_force_top_k(emb, qvec, k=4, round_to=6)
        want = {(qid, r.vec_id, r.cosine_sim) for r in single.collect()}
        assert want <= got
    assert len(got) == 12


def test_paragraph_dedup_keeps_first_occurrence(spark):
    from pipelines_rj_sms_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame([
        (1, "alpha beta. shared sentence. unique one"),
        (2, "shared sentence. gamma delta"),     # loses its copy
        (3, "shared sentence"),                  # nothing left -> dropped
    ], ["doc_id", "text"])
    out = {r.doc_id: r.text
           for r in paragraph_dedup(docs, "doc_id", "text",
                                    sep=". ").collect()}
    assert out == {
        1: "alpha beta. shared sentence. unique one",
        2: "gamma delta",
    }
    # regex-special separator is treated literally
    docs2 = spark.createDataFrame([(1, "a|b|a")], ["doc_id", "text"])
    got = paragraph_dedup(docs2, "doc_id", "text", sep="|").collect()
    assert got[0].text == "a|b"


def test_semantic_dedup_keeps_min_id_per_clique(spark):
    """Constructed near-identical embeddings: within a near-dup clique
    the lowest id survives; distinct vectors all survive."""
    from pipelines_rj_sms_spark.operators.similarity import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]     # cos ~ 0.9999 with base
    other = [0.0, 1.0, 0.0, 0.0]       # orthogonal
    other2 = [0.0, 0.98, 0.1, 0.0]     # near-dup of other
    rows = [(0, base), (1, near), (2, other), (3, other2), (4, near)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [base, other]
    survivors = {r["vec_id"] for r in semantic_dedup(
        df, cents, threshold=0.95).collect()}
    # 1 and 4 drop (lower-id 0 is a near neighbor); 3 drops against 2
    assert survivors == {0, 2}


def test_semantic_dedup_threshold_one_keeps_everything(spark):
    from pipelines_rj_sms_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.0]) for i in range(6)],
        ["vec_id", "embedding"])
    out = semantic_dedup(df, [[1.0, 0.0, 0.0]], threshold=1.0001)
    assert out.count() == 6
    assert set(out.columns) == {"vec_id", "embedding"}


def test_semantic_dedup_plan_no_cartesian(spark):
    """Pair enumeration must be the cell equi-join, never a cross
    product over the corpus."""
    from pipelines_rj_sms_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], ["vec_id", "embedding"])
    plan = semantic_dedup(df, [[1.0, 0.0], [0.0, 1.0]], threshold=0.99) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_cell_guard_raises_on_skew(spark):
    """Deliberately skewed assignment — one cell holding nearly the
    whole corpus (the small-k footgun): the guard names the offender
    and refuses the |cell|^2 join."""
    import pytest

    from pipelines_rj_sms_spark.operators.similarity import semantic_dedup

    rows = [(i, [1.0, float(i % 7) / 100.0]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cells = spark.createDataFrame(
        [(i, 0 if i < 38 else 1) for i in range(40)],
        ["vec_id", "ivf_cell"])
    with pytest.raises(ValueError, match="max_cell_size"):
        semantic_dedup(df, None, threshold=0.99, cells_df=cells,
                       max_cell_size=10)
    # under the cap -> passes through untouched
    ok = semantic_dedup(df, None, threshold=1.0001, cells_df=cells,
                        max_cell_size=40)
    assert ok.count() == 40


def test_semantic_dedup_cell_guard_split_caps_and_dedups(spark):
    """on_oversize='split': oversized cells slice into hard-capped
    sub-cells along the component-sum projection, the plan stays
    equi-join-only, and exact duplicates (identical projection,
    adjacent in slice order) still dedup within their slice."""
    from pipelines_rj_sms_spark.operators.similarity import (
        _bound_cells, semantic_dedup)

    # 30 rows in one cell: 15 exact-dup pairs (identical vectors,
    # consecutive ids -> adjacent in projection order); distinct
    # pairs sit 0.35 rad apart (cos ~ 0.94, far below threshold)
    import math

    rows = []
    for i in range(15):
        v = [math.cos(0.35 * i), math.sin(0.35 * i)]
        rows += [(2 * i, v), (2 * i + 1, v)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cells = spark.createDataFrame(
        [(i, 7) for i in range(30)], ["vec_id", "ivf_cell"])
    out = semantic_dedup(df, None, threshold=0.9999, cells_df=cells,
                         max_cell_size=6, on_oversize="split")
    survivors = {r["vec_id"] for r in out.collect()}
    # every odd id has its even twin at the same projection rank
    # neighbor: slices hold 6 rows = 3 whole dup pairs, so no pair
    # straddles a boundary and all 15 dups drop
    assert survivors == {2 * i for i in range(15)}
    # the guard's sub-cells are hard-capped
    slim = df.join(cells, "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v"),
        "ivf_cell")
    bounded = _bound_cells(slim, "vec_id", "ivf_cell", 6, "split")
    sizes = bounded.groupBy("ivf_cell").count().collect()
    assert all(r["count"] <= 6 for r in sizes)
    assert {r["ivf_cell"] for r in sizes} == {f"7#{j}" for j in range(5)}
    # plan discipline: equi-joins only
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_centroids_exact_mean(spark):
    from pipelines_rj_sms_spark.operators.similarity import label_centroids
    df = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "a", [3.0, 2.0]), (3, "b", [5.0, 5.0])],
        "vec_id int, label string, embedding array<double>")
    got = {r["label"]: r["centroid"]
           for r in label_centroids(df).collect()}
    assert got["a"] == [2.0, 1.0] and got["b"] == [5.0, 5.0]


def test_cluster_cohesion_orders_tight_clusters_first(spark):
    from pipelines_rj_sms_spark.operators.similarity import cluster_cohesion
    rows = (
        # tight cluster: identical directions
        [(i, "tight", [1.0, 0.0, 0.0]) for i in range(4)]
        # loose cluster: orthogonal members
        + [(10, "loose", [1.0, 0.0, 0.0]), (11, "loose", [0.0, 1.0, 0.0]),
           (12, "loose", [0.0, 0.0, 1.0])])
    df = spark.createDataFrame(
        rows, "vec_id int, label string, embedding array<double>")
    got = {r["label"]: r for r in cluster_cohesion(df).collect()}
    assert abs(got["tight"]["mean_cos"] - 1.0) < 1e-12
    assert got["loose"]["mean_cos"] < 0.8
    assert got["tight"]["n_vectors"] == 4


def test_containment_detects_embedded_quote(spark):
    from pipelines_rj_sms_spark.operators.cache import release
    from pipelines_rj_sms_spark.operators.dedup import containment_pairs
    long = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma")
    short = "delta epsilon zeta eta theta iota"
    other = "one two three four five six seven eight nine"
    df = spark.createDataFrame(
        [(1, long), (2, short), (3, other)], ["doc_id", "text"])
    out = containment_pairs(df, "doc_id", "text", shingle_n=3,
                            threshold=0.9)
    rows = out.collect()
    release(out)
    got = {(r["id_a"], r["id_b"]): r.asDict() for r in rows}
    assert (1, 2) in got
    # every one of short's 4 shingles appears in long
    assert got[(1, 2)]["containment_b"] == 1.0
    assert got[(1, 2)]["containment_a"] < 0.5
    assert not any(3 in k for k in got)


def test_containment_max_df_bounds_hot_shingle_fanout(spark):
    """A boilerplate shingle shared by every doc must not produce the
    all-pairs explosion: with max_df below the corpus size the hot
    shingle is dropped before the self-join, and containment is exact
    over the retained vocabulary (denominator recomputed)."""
    from pipelines_rj_sms_spark.operators.cache import release
    from pipelines_rj_sms_spark.operators.dedup import containment_pairs
    boiler = "subscribe to our newsletter"
    docs = [(i, f"unique{i} token{i} filler{i} {boiler}")
            for i in range(30)]
    # plus one genuine quote pair sharing real content
    docs += [(100, f"alpha beta gamma delta epsilon zeta {boiler}"),
             (101, f"alpha beta gamma delta epsilon zeta extra{0} "
                   f"more{0} words{0} here{0} now{0} {boiler}")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = containment_pairs(df, "doc_id", "text", shingle_n=3,
                            threshold=0.5, max_df=5)
    rows = out.collect()
    release(out)
    got = {(r["id_a"], r["id_b"]): r.asDict() for r in rows}
    # the 30 boilerplate-only docs share nothing after the cap
    assert all(k == (100, 101) for k in got), got.keys()
    # doc 100 retains 6 shingles after the cap; the 4 fully inside
    # the quoted run appear in 101, the 2 junction shingles don't
    assert got[(100, 101)]["containment_a"] == 0.666667
    # uncapped, the same corpus DOES all-pair on the hot shingle
    out2 = containment_pairs(df, "doc_id", "text", shingle_n=3,
                             threshold=0.0, max_df=None)
    n_uncapped = out2.count()
    release(out2)
    assert n_uncapped > 400  # ~32*31/2 pairs from the shared boiler


def test_rrf_fuse_ranks_and_agreement(spark):
    from pipelines_rj_sms_spark.operators.similarity import rrf_fuse
    lex = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], ["id", "score"])
    dense = spark.createDataFrame(
        [(2, 0.9), (4, 0.8), (1, 0.7)], ["id", "cos"])
    rows = rrf_fuse([lex, dense], "id", ["score", "cos"],
                    rrf_k=60, top=10).collect()
    got = {r["id"]: (r["rrf_score"], r["n_rankers"]) for r in rows}
    # doc 2: rank 2 lexical + rank 1 dense; doc 1: rank 1 + rank 3
    assert got[2] == (round(1/62 + 1/61, 6), 2)
    assert got[1] == (round(1/61 + 1/63, 6), 2)
    assert got[3] == (round(1/63, 6), 1)
    assert got[4] == (round(1/62, 6), 1)
    # agreement beats a single strong rank
    order = [r["id"] for r in rows]
    assert order[0] == 2 and order[1] == 1


def test_scalar_quantize_codes_and_accuracy(spark):
    from pipelines_rj_sms_spark.operators.similarity import (
        brute_force_top_k, scalar_quantize, sq_top_k)
    import random
    rng = random.Random(3)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(32)])
            for i in range(50)] + [(99, [0.0] * 32)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = scalar_quantize(df).collect()
    for r in q:
        assert all(-127 <= x <= 127 for x in r["qvec"])
    zero = [r for r in q if r["vec_id"] == 99][0]
    assert zero["sq_scale"] == 1.0 and set(zero["qvec"]) == {0}
    # max-|coordinate| code is exactly +-127
    nonzero = [r for r in q if r["vec_id"] == 0][0]
    assert max(abs(x) for x in nonzero["qvec"]) == 127
    # quantized cosine tracks exact cosine within int8 error
    query = vecs[1][1]
    exact = {r["vec_id"]: r["cosine_sim"]
             for r in brute_force_top_k(df, query, k=51).collect()}
    approx = {r["vec_id"]: r["sq_cosine"]
              for r in sq_top_k(df, query, k=51).collect()}
    for vid, cos in approx.items():
        if exact[vid] is None:        # zero vector: exact cosine null
            assert cos == 0.0 and vid == 99
        else:
            assert abs(cos - exact[vid]) < 0.02, vid
    # top-1 (the query itself) survives quantization
    top = sq_top_k(df, query, k=1).collect()[0]
    assert top["vec_id"] == 1


def test_rbo_identical_disjoint_and_hand(spark):
    """Identical rankings: RBO@k = full truncated mass (sum of all
    depth weights). Disjoint rankings: 0. One-swap case cross-checked
    against the direct depth-sum formula."""
    from pipelines_rj_sms_spark.operators.similarity import (
        rbo_truncated)
    k, p = 5, 0.9
    w = [(1.0 - p) * p ** (d - 1) / d for d in range(1, k + 1)]
    a = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], ["doc_id", "rank"])
    out = rbo_truncated(a, a, "doc_id", k=k, p=p).collect()[0]
    # identical lists: X_d = d, so RBO = sum_d (1-p)p^(d-1) = 1-p^k
    full = sum(w[d - 1] * d for d in range(1, k + 1))
    assert abs(full - (1 - p ** k)) < 1e-12
    assert out["overlap_at_k"] == 5
    assert abs(out["rbo_at_k"] - full) < 1e-6
    b = spark.createDataFrame(
        [(100 + i, i) for i in range(1, 6)], ["doc_id", "rank"])
    out2 = rbo_truncated(a, b, "doc_id", k=k, p=p).collect()[0]
    assert out2["rbo_at_k"] == 0.0 and out2["jaccard_at_k"] == 0.0
    # swap ranks 1 and 2 in list b: X_1 = 0, X_d = d for d >= 2
    c = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 3), (4, 4), (5, 5)], ["doc_id", "rank"])
    out3 = rbo_truncated(a, c, "doc_id", k=k, p=p).collect()[0]
    expect = sum(w[d - 1] * (0 if d == 1 else d)
                 for d in range(1, k + 1))
    assert abs(out3["rbo_at_k"] - expect) < 1e-6


def test_bitext_margin_pairs_mutual_matches(spark):
    from pipelines_rj_sms_spark.operators.similarity import (
        bitext_margin_pairs)
    # x1~y1 and x2~y2 are the obvious alignments; y3 sits between
    x = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    y = spark.createDataFrame(
        [(1, [0.99, 0.1, 0.0]), (3, [0.1, 0.99, 0.0]),
         (5, [0.6, 0.6, 0.5])],
        "vec_id long, embedding array<double>")
    out = bitext_margin_pairs(x, y, k=2)
    got = {(r["x_id"], r["y_id"]): r for r in out.collect()}
    assert set(got) == {(0, 1), (2, 3)}
    for r in got.values():
        assert r["margin"] > 1.0          # true pairs beat their hood
        assert 0.0 < r["cosine_sim"] <= 1.0


@pytest.mark.slow
def test_bitext_margin_pairs_partition_invariant(spark):
    import numpy as np

    from pipelines_rj_sms_spark.operators.similarity import (
        bitext_margin_pairs)
    rng = np.random.default_rng(5)
    rows = [(i, [float(v) for v in rng.normal(size=8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    x = df.filter("vec_id % 2 = 0")
    y = df.filter("vec_id % 2 = 1")
    a = {tuple(r) for r in bitext_margin_pairs(
        x.coalesce(1), y.coalesce(1), k=3).collect()}
    b = {tuple(r) for r in bitext_margin_pairs(
        x.repartition(8), y.repartition(8), k=3).collect()}
    assert a == b and a


def test_bitext_margin_min_margin_filters(spark):
    from pipelines_rj_sms_spark.operators.similarity import (
        bitext_margin_pairs)
    x = spark.createDataFrame([(0, [1.0, 0.0])],
                              "vec_id long, embedding array<double>")
    y = spark.createDataFrame([(1, [1.0, 0.0]), (3, [0.9, 0.1])],
                              "vec_id long, embedding array<double>")
    all_pairs = bitext_margin_pairs(x, y, k=2, mutual=False).collect()
    strict = bitext_margin_pairs(x, y, k=2, mutual=False,
                                 min_margin=1.0).collect()
    assert len(strict) < len(all_pairs)


@pytest.mark.slow
def test_bitext_candidates_path_matches_brute_on_full_candidates(spark):
    """With the FULL candidate grid injected, the blocked path must
    reproduce the brute-force result exactly (same pinned cosines,
    same k-NN means, same mutual-margin filter)."""
    import numpy as np

    from pipelines_rj_sms_spark.operators.similarity import (
        bitext_margin_pairs)
    rng = np.random.default_rng(9)
    rows = [(i, [float(v) for v in rng.normal(size=8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    x = df.filter("vec_id % 2 = 0")
    y = df.filter("vec_id % 2 = 1")
    full = (x.select(F.col("vec_id").alias("x_id"))
            .crossJoin(y.select(F.col("vec_id").alias("y_id"))))
    brute = {tuple(r) for r in bitext_margin_pairs(x, y, k=3).collect()}
    blocked = {tuple(r) for r in bitext_margin_pairs(
        x, y, k=3, candidates=full).collect()}
    assert blocked == brute and brute


def test_bitext_ivf_candidates_no_broadcast_nested_loop(spark):
    """The CCMatrix-scale path: IVF candidates -> narrow equi-joins
    only. The executed plan must contain no BroadcastNestedLoop and
    no CartesianProduct anywhere."""
    import numpy as np

    from pipelines_rj_sms_spark.operators.similarity import (
        bitext_margin_pairs,
        ivf_candidate_pairs,
    )
    rng = np.random.default_rng(13)
    rows = [(i, [float(v) for v in rng.normal(size=8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    x = df.filter("vec_id % 2 = 0")
    y = df.filter("vec_id % 2 = 1")
    cents = [[float((c * 37 + d * 11) % 19 - 9) for d in range(8)]
             for c in range(4)]
    cands = ivf_candidate_pairs(x, y, cents, nprobe=2)
    out = bitext_margin_pairs(x, y, k=3, candidates=cands)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    got = out.collect()
    assert got                              # pairs actually mined
    for r in got:
        assert r["x_id"] % 2 == 0 and r["y_id"] % 2 == 1


def test_ivf_candidate_pairs_recall_within_probed_cells(spark):
    """Every (x, y) whose y-cell is among x's nprobe cells must appear;
    nothing outside the blocking may appear."""
    import math

    import numpy as np

    from pipelines_rj_sms_spark.operators.similarity import (
        ivf_candidate_pairs)
    rng = np.random.default_rng(17)
    rows = [(i, [float(v) for v in rng.normal(size=6)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    x = df.filter("vec_id % 2 = 0")
    y = df.filter("vec_id % 2 = 1")
    cents = [[float((c * 7 + d * 3) % 11 - 5) for d in range(6)]
             for c in range(4)]

    def cos(a, b):
        num = sum(p * q for p, q in zip(a, b))
        return num / (math.sqrt(sum(p * p for p in a))
                      * math.sqrt(sum(q * q for q in b)))

    vecs = dict(rows)
    ycell = {i: max(range(4), key=lambda c: (cos(vecs[i], cents[c]), c))
             for i in vecs if i % 2 == 1}
    xprobe = {i: set(sorted(range(4),
                            key=lambda c: (-cos(vecs[i], cents[c]), -c))[:2])
              for i in vecs if i % 2 == 0}
    want = {(xi, yi) for xi in xprobe for yi in ycell
            if ycell[yi] in xprobe[xi]}
    got = {(r["x_id"], r["y_id"]) for r in
           ivf_candidate_pairs(x, y, cents, nprobe=2).collect()}
    assert got == want and want
