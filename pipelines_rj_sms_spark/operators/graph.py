"""Graph centrality over edge lists — PageRank power iteration.

Companion to `dedup.connected_components`: components tell you WHICH
rows form a cluster, PageRank tells you which nodes are *central* —
canonical-record election in linkage graphs, authority scoring of
interlinked documents, hub detection in entity co-occurrence graphs.

Same execution discipline as the components operator: each power
iteration is one equi-join + one hash aggregation keyed on node ids
(never materializing anything quadratic), iteration state is
``localCheckpoint``-ed so the logical plan does not double per round,
and the only non-join state (node count, dangling mass) rides as
broadcast one-row aggregates. O(n_iter) shuffles of (node, rank)
pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.functions.numeric import (det_sum, det_sum_units,
                                                      det_units)
from pipelines_rj_sms_spark.operators.cache import track


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, n_iter: int = 10,
             nodes: DataFrame | None = None,
             node_col: str | None = None,
             assume_no_dangling: bool = False,
             broadcast_ranks: bool = False,
             assume_distinct_edges: bool = False,
             checkpoint_interval: int = 5,
             personalization: DataFrame | None = None,
             personalization_node_col: str = "node",
             personalization_weight_col: str = "weight") -> DataFrame:
    """(node, pr) after ``n_iter`` synchronous power iterations of the
    standard PageRank recurrence (public formulation):

        pr(v) = (1-d)/N + d * (Σ_{u→v} pr(u)/outdeg(u) + dangling/N)

    where ``dangling`` is the rank mass sitting on nodes with no
    out-edges, redistributed uniformly (the textbook correction — rank
    always sums to 1). Deterministic: fixed iteration count, no
    convergence probe, so two engines can replay it exactly.

    ``nodes``/``node_col`` widens the vertex set beyond edge
    endpoints (isolated nodes hold (1-d)/N + d*dangling/N).
    ``assume_no_dangling=True`` skips the per-iteration dangling-mass
    aggregate — use it when every node provably has an out-edge
    (symmetric/undirected graphs), saving one join+agg per round.
    ``assume_distinct_edges=True`` skips the defensive edge dedup —
    pass it when the caller already guarantees unique (src, dst) pairs
    (e.g. built from a distinct projection), deleting a full shuffle
    of the edge list from setup.
    ``personalization`` switches to personalized PageRank (the
    random-walk-with-restart form): the teleport mass lands on the
    seed distribution instead of uniformly — pr = (1-d)·p(v) +
    d·(Σ contrib + dangling·p(v)), p normalized over the seed weights
    and 0 elsewhere. Seeds ride as one broadcast join onto the vertex
    frame; everything else is unchanged. Initial state = p(v).
    ``checkpoint_interval`` truncates lineage with a non-eager
    ``localCheckpoint`` every that-many rounds — NOT every round:
    measured at sf0.1 (21k nodes / 1.2M edges, 3 iterations) the
    per-round checkpoint was 4.5x the entire computation (8.9s vs
    2.0s) because each checkpoint materializes partitions and breaks
    stage pipelining. Shallow runs (n_iter < interval) never
    checkpoint; deep runs stay protected from exponential plan growth.
    ``broadcast_ranks=True`` broadcasts the (node, rank) state into the
    contribution join — the cached edge list is then never shuffled OR
    sorted, and the only exchange per round is the map-side-combined
    contribution aggregate. Right when the vertex set fits a broadcast
    (≲ tens of millions); leave False for billion-node graphs, where
    the pre-partitioned sort-merge path is the scalable one.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not assume_distinct_edges:
        e = e.distinct()
    if not broadcast_ranks:
        # hash-partition + sort the edge list by source ONCE: every
        # iteration's sort-merge contribution join then reuses this
        # layout and only the (node, rank) side moves — without it,
        # Catalyst re-exchanges and re-sorts the full edge list per
        # round. (With broadcast_ranks the edges are never join-
        # shuffled at all, so the extra pass would be pure waste.)
        e = e.repartition(F.col("_s")).sortWithinPartitions("_s")
    e = e.persist()
    deg = e.groupBy("_s").agg(F.count("*").alias("_outdeg")).persist()
    if nodes is not None:
        if node_col is None:
            raise ValueError("node_col required when nodes is given")
        base = nodes.select(F.col(node_col).alias("node")).distinct()
    elif assume_no_dangling:
        # every node has an out-edge, so the source set IS the vertex
        # set — derive it from the degree frame (already computed)
        # instead of paying another full edge scan + distinct (r12)
        base = deg.select(F.col("_s").alias("node"))
    else:
        base = (e.select(F.col("_s").alias("node"))
                .unionByName(e.select(F.col("_d").alias("node")))
                .distinct())
    base = base.persist()
    pins = [base]
    n = F.broadcast(base.agg(F.count("*").cast("double").alias("_n")))
    if personalization is not None:
        seeds = personalization.select(
            F.col(personalization_node_col).alias("node"),
            F.col(personalization_weight_col).cast("double").alias("_w"))
        wtot = F.broadcast(seeds.agg(F.sum("_w").alias("_wt")))
        pv = seeds.crossJoin(wtot).select(
            "node", (F.col("_w") / F.col("_wt")).alias("_pv"))
        # rebinding `base` must not orphan the first persist — both
        # frames stay cached and both must ride the release ledger
        base = (base.join(F.broadcast(pv), "node", "left")
                .select("node", F.coalesce("_pv", F.lit(0.0)).alias("_pv"))
                .persist())
        pins.append(base)

    # non-eager checkpoints: lineage still truncates per round, but
    # materialization folds into the caller's single action instead of
    # one driver-blocking job per iteration
    if personalization is not None:
        pr = base.select("node", F.col("_pv").alias("pr"))
    else:
        pr = base.crossJoin(n).select(
            "node",
            (F.lit(1.0) / F.col("_n")).alias("pr"))

    d = float(damping)
    for _i in range(n_iter):
        # fold the outdeg join into the rank frame BEFORE the edge
        # join (r12): _spr/_outdeg is a per-SOURCE value, so dividing
        # in the node-scale frame and joining once produces the exact
        # per-edge addend the old rank⋈deg double join produced — one
        # broadcast build and one join per iteration instead of two
        ranks = (pr.join(deg, pr["node"] == deg["_s"])
                 .select(F.col("_s"),
                         (F.col("pr") / F.col("_outdeg")).alias("_cu")))
        if broadcast_ranks:
            ranks = F.broadcast(ranks)
        contrib = (
            e.join(ranks, "_s")
            .groupBy("_d")
            # det_sum: rank mass is a double sum over a node's
            # in-edges; quantized accumulation keeps every round's
            # state identical under any combine order, so iterations
            # can't compound a last-ulp divergence
            .agg(det_sum(F.col("_cu")).alias("_m"))
            .select(F.col("_d").alias("node"), "_m")
        )
        nxt = base.join(contrib, "node", "left").crossJoin(n)
        reset = (F.col("_pv") if personalization is not None
                 else F.lit(1.0) / F.col("_n"))
        if assume_no_dangling:
            rank = (F.lit((1.0 - d)) * reset
                    + F.lit(d) * F.coalesce(F.col("_m"), F.lit(0.0)))
        else:
            dangling = F.broadcast(
                pr.join(deg, pr["node"] == deg["_s"], "left_anti")
                .agg(F.coalesce(det_sum(F.col("pr")),
                                F.lit(0.0)).alias("_dm")))
            nxt = nxt.crossJoin(dangling)
            rank = (F.lit((1.0 - d)) * reset
                    + F.lit(d) * (F.coalesce(F.col("_m"), F.lit(0.0))
                                  + F.col("_dm") * reset))
        pr = nxt.select("node", rank.alias("pr"))
        if (_i + 1) % checkpoint_interval == 0 and _i + 1 < n_iter:
            pr = pr.localCheckpoint(False)
    # register the persisted subplans for cache.release() instead of
    # unpersisting here: pr is LAZY — an eager unpersist would evict
    # the caches before any action ever consumes them, forcing every
    # iteration to recompute the edge list from source (measured 3x
    # slower at sf0.1)
    return track(pr, e, deg, *pins)


def degrees(edges: DataFrame, src: str = "src",
            dst: str = "dst") -> DataFrame:
    """(node, out_degree, in_degree) in one pass over distinct edges."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")) \
        .distinct()
    out_d = e.groupBy(F.col("_s").alias("node")) \
        .agg(F.count("*").alias("out_degree"))
    in_d = e.groupBy(F.col("_d").alias("node")) \
        .agg(F.count("*").alias("in_degree"))
    return (out_d.join(in_d, "node", "full")
            .select("node",
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree")))


def cooccurrence_edges(df: DataFrame, group_col: str, item_col: str,
                       max_items_per_group: int | None = 1000,
                       src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct undirected co-occurrence edges (src < dst) from a
    membership table — the standard graph-construction step in front
    of triangles / k-core / LPA / components (co-purchase,
    co-authorship, co-diagnosis).

    Built as groupBy + collect_set + IN-ARRAY pair combinations
    (nested indexed transform over the sorted item array) instead of
    the group-key self-equi-join: the pairs are generated inside
    whole-stage codegen from each group's row, so the only shuffles
    are the set build and the final distinct — measured 2.3x faster
    than the self-join spelling on the sf0.1 bench graph (9.1 s ->
    4.0 s), same output. ``max_items_per_group`` is the hot-key guard
    (same posture as `association_rules`): a 10k-item group would emit
    50M pairs from one row; groups above the cap are DROPPED, which is
    the boilerplate-basket semantic, not a truncation (pass None to
    disable on curated inputs).
    """
    sets = (df.groupBy(F.col(group_col))
            .agg(F.sort_array(F.collect_set(F.col(item_col)))
                 .alias("_it")))
    if max_items_per_group is not None:
        sets = sets.filter(F.size("_it") <= max_items_per_group)
    # posexplode + explode(slice): two chained generates in one
    # codegen stage instead of materializing each group's full
    # d(d-1)/2 struct-pair array before a single explode — same pair
    # multiset, measured ~19% faster on the sf0.1 co-purchase graph
    return (sets.select("_it", F.posexplode("_it").alias("_i", "_s"))
            .select(F.col("_s").alias(src),
                    F.explode(F.slice(F.col("_it"), F.col("_i") + 2,
                                      F.size("_it"))).alias(dst))
            .distinct())


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst",
                    edges_canonical: bool = False,
                    packed_keys: bool | None = None) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over the undirected graph of ``edges``.

    The node-iterator++ / degree-ordered orientation (Suri &
    Vassilvitskii's MapReduce formulation, public): orient every
    undirected edge from the endpoint of lower (degree, id) rank to the
    higher, enumerate wedges as a self-equi-join of the oriented list on
    the APEX node, and close each wedge with one more equi-join against
    the oriented edges. Orientation bounds every node's out-degree by
    O(sqrt(m)), so the wedge fan-out — the quadratic danger in skewed
    graphs (celebrity nodes) — is capped at m^1.5 total regardless of
    the degree distribution; that is the best known bound for exact
    triangle listing. Each triangle is produced exactly once.

    Shuffle discipline: ranks join on node keys; wedges shuffle on the
    apex; the closing join shuffles (v, w) pairs — all narrow rows.
    (The edge-iterator alternative — adjacency arrays per node +
    array_intersect per edge — was implemented and MEASURED SLOWER on
    the dense sf0.1 bench graph, 36 s vs 12.9 s: duplicating ~450-long
    neighbor arrays onto every edge through two joins costs more than
    streaming narrow wedge rows through the broadcast closing join, so
    the wedge form stays.)
    Per-node counts come from exploding each triangle's three vertices
    into one hash aggregation. Returns
    (node, degree, triangles, clustering_coeff) with the coefficient
    2t / (deg*(deg-1)) rounded to 6 (0.0 for degree < 2).
    """
    # und is consumed three times (deg twice + ranked); persist it —
    # upstream edge builds with nondeterministic aggregates (e.g.
    # collect_set in cooccurrence_edges) block Spark's exchange reuse,
    # so without the persist the whole build would re-execute per
    # reference (measured +6 s at sf0.1)
    if edges_canonical:
        # input contract: src < dst, deduped (e.g. cooccurrence_edges
        # output) — the least/greatest + distinct shuffle is skipped
        und = edges.select(F.col(src).alias("_a"),
                           F.col(dst).alias("_b")).persist()
    else:
        und = (edges.select(F.least(F.col(src), F.col(dst)).alias("_a"),
                            F.greatest(F.col(src), F.col(dst)).alias("_b"))
               .filter(F.col("_a") != F.col("_b"))
               .distinct()
               .persist())
    deg = (und.select(F.col("_a").alias("node"))
           .unionByName(und.select(F.col("_b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("degree")))

    da = deg.select(F.col("node").alias("_a"), F.col("degree").alias("_ad"))
    db = deg.select(F.col("node").alias("_b"), F.col("degree").alias("_bd"))
    ranked = und.join(da, "_a").join(db, "_b")
    a_first = (F.col("_ad") < F.col("_bd")) | (
        (F.col("_ad") == F.col("_bd")) & (F.col("_a") < F.col("_b")))
    oriented = ranked.select(
        F.when(a_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
        F.when(a_first, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
        F.when(a_first, F.col("_bd")).otherwise(F.col("_ad")).alias("_vd"),
    ).persist()

    # wedge enumeration as a self-equi-join on the apex. The
    # grouped-adjacency alternative (collect_list + array_sort + a
    # nested-transform combination explode, emitting exactly C(d,2)
    # pairs) was implemented and MEASURED 3x SLOWER at sf0.1 (52 s vs
    # 16 s warm): Catalyst higher-order functions evaluate the inner
    # lambda per element pair OUTSIDE whole-stage codegen, which costs
    # far more than the join's codegen'd generate-then-filter — the
    # "wasted" mirrored half of the join output is cheaper than
    # interpreted struct construction. AQE turns both the wedge and
    # closing joins into BroadcastHashJoins at this scale, so no wedge
    # row ever shuffles.
    e1 = oriented.select(F.col("_u"), F.col("_v").alias("_x"),
                         F.col("_vd").alias("_xd"))
    e2 = oriented.select(F.col("_u"), F.col("_v").alias("_y"),
                         F.col("_vd").alias("_yd"))
    x_first = (F.col("_xd") < F.col("_yd")) | (
        (F.col("_xd") == F.col("_yd")) & (F.col("_x") < F.col("_y")))
    wedges = e1.join(e2, "_u").filter(x_first)
    # closing-join key layout: when node ids are nonnegative ints
    # below 2^31, pack (x, y) into ONE BIGINT (x << 32 | y) so the
    # broadcast build becomes Spark's specialized dense long-keyed
    # relation instead of a generic two-column UnsafeRow map —
    # measured 15.4 s -> 1.4 s for the 135M-probe closing join at
    # sf0.1 (the whole query 16 s -> ~5 s). Auto-detect via one
    # bounded aggregate over the persisted edge list (two scalars,
    # same driver-scalar discipline as pca_train); non-integral or
    # out-of-range ids fall back to the two-column join.
    if packed_keys is None:
        dt = dict(und.dtypes)["_a"]
        if dt in ("int", "bigint", "smallint", "tinyint"):
            mm = und.agg(
                F.min(F.least("_a", "_b")).alias("mn"),
                F.max(F.greatest("_a", "_b")).alias("mx")).first()
            packed_keys = (mm["mn"] is not None and mm["mn"] >= 0
                           and mm["mx"] < (1 << 31))
        else:
            packed_keys = False
    if packed_keys:
        wk = wedges.withColumn(
            "_k", F.shiftleft(F.col("_x").cast("long"), 32)
            + F.col("_y").cast("long"))
        closing = oriented.select(
            (F.shiftleft(F.col("_u").cast("long"), 32)
             + F.col("_v").cast("long")).alias("_k"))
        tris = wk.join(closing, "_k").select("_u", "_x", "_y")
    else:
        closing = oriented.select(F.col("_u").alias("_x"),
                                  F.col("_v").alias("_y"))
        tris = (wedges.join(closing, ["_x", "_y"])
                .select("_u", "_x", "_y"))

    per_node = (tris.select(F.explode(F.array("_u", "_x", "_y"))
                            .alias("node"))
                .groupBy("node").agg(F.count("*").alias("triangles")))
    out = (deg.join(per_node, "node", "left")
           .select(
               "node", "degree",
               F.coalesce("triangles", F.lit(0)).alias("triangles"),
               F.round(
                   F.when(F.col("degree") >= 2,
                          2.0 * F.coalesce("triangles", F.lit(0))
                          / (F.col("degree")
                             * (F.col("degree") - F.lit(1))))
                   .otherwise(F.lit(0.0)), 6).alias("clustering_coeff")))
    return track(out, und, oriented)


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
           max_rounds: int = 64,
           edges_canonical: bool = False) -> DataFrame:
    """Nodes of the ``k``-core: iteratively peel nodes of degree < k
    (with the edges they carry) until STABLE — the standard graph
    cleaning pass before community/centrality analysis (drops pendant
    chains and weak periphery that inflate linkage clusters).

    Iteration state is the ALIVE-NODE SET, not the edge list: the
    canonical edge list is cached ONCE in both orientations,
    hash-partitioned by the receiving endpoint ``_a`` (the
    label_propagation posture), and a peel round is one semi-join of
    ``_b`` against the (small, planner-broadcast) alive set, an
    exchange-free ``groupBy(_a)`` count and the ``degree >= k``
    filter, materialized by one eager ``localCheckpoint`` (node-scale
    rows) whose ``observe()`` metric counts the new alive set — two
    jobs per steady round (the alive-set broadcast and the
    checkpoint), run at call time. No ``_a`` semi-join is needed: a
    peeled node's degree over the current alive set is at most the
    degree that peeled it (< k), so the filter drops it; survivors get
    exactly their induced degree, so the fixpoint and the returned
    frame are those of peeling the edge list itself.

    Convergence is DETECTED, not assumed: peeling is monotone, so an
    unchanged alive-node count means no node fell below k — the true
    fixpoint. Most real graphs converge in a handful of rounds, but
    adversarial shapes (long pendant chains shed one tip per round)
    need O(diameter); if ``max_rounds`` is hit first the function
    RAISES rather than silently returning a superset of the core. The
    edge cache is unpersisted before returning or raising: the result
    is checkpointed, so nothing is left on the release ledger.
    Returns (node, degree) of the surviving core with its within-core
    degree.
    """
    from pyspark.sql import Observation

    if edges_canonical:  # src < dst deduped by contract: skip the
        e = edges.select(F.col(src).alias("_a"),  # canonicalize pass
                         F.col(dst).alias("_b"))
    else:
        e = (edges.select(F.least(F.col(src), F.col(dst)).alias("_a"),
                          F.greatest(F.col(src), F.col(dst)).alias("_b"))
             .filter(F.col("_a") != F.col("_b"))
             .distinct())
    e = (e.unionByName(e.select(F.col("_b").alias("_a"),
                                F.col("_a").alias("_b")))
         .repartition("_a").persist())
    alive = None          # None = every node alive (round 1)
    n_alive = None
    try:
        for _ in range(max_rounds):
            ef = e if alive is None else e.join(
                alive.withColumnRenamed("node", "_b"), "_b", "semi")
            obs = Observation()
            deg_kept = (ef.groupBy("_a").agg(F.count("*").alias("degree"))
                        .filter(F.col("degree") >= k)
                        .select(F.col("_a").alias("node"), "degree")
                        .observe(obs, F.count("*").alias("n"))
                        .localCheckpoint())
            alive = deg_kept.select("node")
            m = obs.get["n"]
            if m == 0 or m == n_alive:
                return deg_kept
            n_alive = m
        raise RuntimeError(
            f"k_core did not reach its fixpoint within {max_rounds} "
            f"rounds ({n_alive} nodes still peeling); raise max_rounds "
            "— the result would otherwise be a superset of the true "
            f"{k}-core.")
    finally:
        # each round is materialized by its checkpoint, so the edge
        # cache is dead once the loop exits, on either path
        e.unpersist()


def project_bipartite(df: DataFrame, group_col: str, item_col: str,
                      min_common: int = 1,
                      max_items_per_group: int = 1000) -> DataFrame:
    """Weighted unipartite projection of a bipartite membership table:
    items become nodes, and two items are linked with weight =
    co-membership count plus its cosine normalization
    n_ab / sqrt(n_a·n_b) (Salton index — degree-corrected so hub items
    don't dominate). This is the standard graph-construction step in
    front of components / PageRank / triangles / k-core (co-purchase,
    co-authorship, co-diagnosis graphs).

    Same scale posture as `analytics.association_rules`: the candidate
    generator is a group-key self-equi-join with ``item_a < item_b``
    inside the condition, one Exchange shared by the dedup, the cap
    window and both join sides; ``max_items_per_group`` bounds the
    worst group's fan-out (cap²/2). Degrees join back on item keys.
    Returns (item_a, item_b, n_common, cosine) with cosine rounded 6.
    """
    base = df.select(F.col(group_col).alias("_g"),
                     F.col(item_col).alias("_i")).distinct()
    sized = base.withColumn(
        "_sz", F.count("*").over(Window.partitionBy("_g")))
    kept = sized.filter(F.col("_sz") <= max_items_per_group).drop("_sz")
    counts = kept.groupBy(F.col("_i").alias("_it")).agg(
        F.count("*").alias("_ni"))
    a = kept.select("_g", F.col("_i").alias("item_a"))
    b = kept.select("_g", F.col("_i").alias("item_b"))
    pairs = (a.join(b, (a["_g"] == b["_g"])
                    & (F.col("item_a") < F.col("item_b")))
             .groupBy("item_a", "item_b")
             .agg(F.count("*").alias("n_common"))
             .filter(F.col("n_common") >= min_common))
    return (pairs
            .join(counts.withColumnRenamed("_ni", "_na"),
                  F.col("item_a") == F.col("_it")).drop("_it")
            .join(counts.withColumnRenamed("_ni", "_nb"),
                  F.col("item_b") == F.col("_it")).drop("_it")
            .select("item_a", "item_b", "n_common",
                    F.round(F.col("n_common")
                            / F.sqrt(F.col("_na").cast("double")
                                     * F.col("_nb")), 6)
                    .alias("cosine")))


def label_propagation(edges: DataFrame, n_rounds: int = 5,
                      src: str = "src", dst: str = "dst",
                      edges_distinct: bool = False) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al., public) made DETERMINISTIC: every node starts as its own
    label; each round it adopts the most frequent label among its
    neighbors, ties broken by the smallest label — so the result is a
    pure function of the graph and the round count (the classic
    random-order variant is not replayable; the synchronous fixed-
    round form is). Communities are finer-grained than connected
    components: a bridge edge joins components but LPA keeps dense
    clusters separate.

    Per round: one equi-join of the undirected edge list with the
    label frame + one (node, label) count agg + an argmax expressed as
    ``min(struct(-count, label))`` — a second HASH aggregation with
    map-side combine instead of a row_number window, so no per-round
    sort touches the collapsed counts (wall-clock parity with the
    window form at sf0.1 where the edge build dominates, but the agg
    shape partial-aggregates before the shuffle — the property that
    matters when (node, label) pairs outgrow a partition) — all narrow
    rows, lineage truncated per round. Known LPA caveat, documented not hidden: synchronous
    updates can oscillate on bipartite-ish structures; run components
    first when you need a converged partition, or raise n_rounds and
    compare consecutive rounds. Returns (node, community).
    """
    und = (edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
           .filter(F.col("_a") != F.col("_b"))
           .unionByName(
               edges.select(F.col(dst).alias("_a"),
                            F.col(src).alias("_b"))
               .filter(F.col("_a") != F.col("_b"))))
    if not edges_distinct:
        und = und.distinct()
    # edges_distinct=True: input is canonical (src < dst, deduped —
    # e.g. cooccurrence_edges output), so the symmetrized union is
    # already duplicate-free and the extra 2x-edge shuffle is skipped
    #
    # hash-partition the edge list by the RECEIVING endpoint once:
    # HashPartitioning(_a) satisfies the ClusteredDistribution of BOTH
    # per-round aggregations (groupBy(_a, label) and the argmax
    # groupBy(_a) — a subset partitioning co-locates every row of a
    # group), and the label frame joins in broadcast, so after this
    # one exchange the THREE ROUNDS RUN SHUFFLE-FREE — measured
    # 9.1 s → 3.1 s for 3 rounds over 2.4M symmetrized edges at sf0.1
    und = und.repartition(F.col("_a")).persist()
    labels = und.select(F.col("_a").alias("node")).distinct() \
        .withColumn("label", F.col("node"))
    for _ in range(n_rounds):
        nbr = (und.join(F.broadcast(
                   labels.select(F.col("node").alias("_b"),
                                 F.col("label"))), "_b")
               .groupBy(F.col("_a").alias("node"), "label")
               .agg(F.count("*").alias("_c")))
        # argmax(count) with smallest-label ties as one hash agg:
        # struct comparison is lexicographic, so the min of
        # (-count, label) is exactly (max count, then min label)
        best = F.min(F.struct((-F.col("_c")).alias("nc"),
                              F.col("label").alias("l")))
        labels = (nbr.groupBy("node").agg(best.alias("_b"))
                  .select("node", F.col("_b.l").alias("label"))
                  .localCheckpoint(False))
    # register und on the release ledger instead of unpersisting here:
    # the per-round checkpoints are LAZY, so an eager unpersist would
    # evict the cache before the caller's first action ever runs the
    # rounds — each round then recomputes the symmetrized+repartitioned
    # edge build from source (the pagerank lazy-release lesson, r12)
    from pipelines_rj_sms_spark.operators.cache import track
    return track(labels.select("node", F.col("label").alias("community")),
                 und)


def assortativity(edges: DataFrame, src: str = "src",
                  dst: str = "dst") -> DataFrame:
    """Degree assortativity coefficient of the undirected graph —
    Newman's r (public formula): the Pearson correlation of the total
    degrees at the two ends of every edge, each undirected edge
    counted once per orientation. r > 0 = hubs link to hubs (social
    shape), r < 0 = hubs link to leaves (hub-and-spoke / dependency
    shape) — the one-number audit of a co-occurrence graph's topology.

    Exactness: degrees are integers, every moment is an exact
    DECIMAL(38,0) sum over the 2m orientation rows, and by symmetry
    Σd_u = Σd_v and Σd_u² = Σd_v², so

        r = (n·Σd_u d_v − (Σd_u)²) / (n·Σd_u² − (Σd_u)²),  n = 2m

    is one final double expression. Scale shape: one degree hash agg,
    one equi-join of the (node, degree) map onto each endpoint (narrow
    rows), one fold. One row: (n_nodes, n_edges, assortativity).
    """
    from pipelines_rj_sms_spark.operators.cache import track

    # the distinct edge list feeds both orientations and the degree
    # map feeds both endpoint joins — persist each so the upstream
    # (possibly expensive) edge construction runs once
    e = (edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
         .distinct().persist())
    both = e.unionByName(e.select(F.col("_b").alias("_a"),
                                  F.col("_a").alias("_b")))
    deg = both.groupBy("_a").agg(F.count("*").alias("_d")).persist()
    d38 = "decimal(38,0)"
    du = F.col("_du").cast(d38)
    dv = F.col("_dv").cast(d38)
    paired = (both
              .join(deg.select(F.col("_a"), F.col("_d").alias("_du")),
                    "_a")
              .join(deg.select(F.col("_a").alias("_b"),
                               F.col("_d").alias("_dv")), "_b"))
    agg = paired.agg(
        F.count("*").cast(d38).alias("_n"),
        F.sum(du).alias("_sx"),
        F.sum(du * dv).alias("_sxy"),
        F.sum(du * du).alias("_sxx"))
    nodes = F.broadcast(deg.agg(
        F.count("*").cast("bigint").alias("n_nodes")))
    num = (F.col("_n") * F.col("_sxy")
           - F.col("_sx") * F.col("_sx")).cast("double")
    den = (F.col("_n") * F.col("_sxx")
           - F.col("_sx") * F.col("_sx")).cast("double")
    return track(agg.crossJoin(nodes)
                 .select("n_nodes",
                         (F.col("_n") / 2).cast("bigint")
                         .alias("n_edges"),
                         F.round(F.when(den > 0, num / den), 6)
                         .alias("assortativity")), e, deg)


def modularity(edges: DataFrame, labels: DataFrame,
               node_col: str = "node",
               community_col: str = "community",
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Newman modularity Q of a community partition over an undirected
    graph — the quality score for :func:`label_propagation` /
    :func:`connected_components` output (public formula):

        Q = Σ_c [ L_c/m − (d_c/(2m))² ]
          = Σ_c (4m·L_c − d_c²) / (4m²)

    The second form is how it's computed here: L_c (intra-community
    edges), d_c (community degree mass) and m are integers, so the
    numerator is ONE exact DECIMAL(38,0) sum and Q is a single double
    division — order-independent with no quantization step at all.

    Scale shape: one degree agg, two narrow label joins onto the edge
    endpoints, one (community) hash agg over collapsed rows. One row:
    (n_edges, n_communities, modularity).
    """
    from pipelines_rj_sms_spark.operators.cache import track

    # labels are often an ITERATIVE plan (LPA / components) — persist
    # them and the distinct edges, or every consumer re-runs the
    # whole propagation
    e = (edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
         .distinct().persist())
    lab = (labels.select(F.col(node_col).alias("_n"),
                         F.col(community_col).alias("_c"))
           .persist())
    both = e.unionByName(e.select(F.col("_b").alias("_a"),
                                  F.col("_a").alias("_b")))
    deg = both.groupBy("_a").agg(F.count("*").alias("_d"))
    d38 = "decimal(38,0)"
    dc = (lab.join(deg, lab["_n"] == deg["_a"])
          .groupBy("_c").agg(F.sum("_d").cast(d38).alias("_dsum")))
    intra = (e
             .join(lab.select(F.col("_n").alias("_a"),
                              F.col("_c").alias("_ca")), "_a")
             .join(lab.select(F.col("_n").alias("_b"),
                              F.col("_c").alias("_cb")), "_b")
             .filter(F.col("_ca") == F.col("_cb"))
             .groupBy(F.col("_ca").alias("_c"))
             .agg(F.count("*").cast(d38).alias("_intra")))
    m = F.broadcast(e.agg(F.count("*").cast(d38).alias("_m")))
    terms = (dc.join(intra, "_c", "left")
             .crossJoin(m)
             .select(
                 (4 * F.col("_m")
                  * F.coalesce(F.col("_intra"),
                               F.lit(0).cast(d38))
                  - F.col("_dsum") * F.col("_dsum")).alias("_t"),
                 F.col("_m")))
    return track(terms.agg(
        F.max(F.col("_m")).cast("bigint").alias("n_edges"),
        F.count("*").cast("bigint").alias("n_communities"),
        F.round(F.sum("_t").cast("double")
                / (4 * F.max(F.col("_m")) * F.max(F.col("_m")))
                .cast("double"), 6).alias("modularity")), e, lab)


def bfs_hops(edges: DataFrame, source, max_hops: int = 3,
             src: str = "src", dst: str = "dst",
             edges_distinct: bool = False) -> DataFrame:
    """Shortest hop counts from ``source`` by level-synchronous BFS —
    the neighborhood/reachability primitive (blast-radius queries,
    ego-network feature extraction) over the same undirected edge
    frames the other graph operators take.

    Classic BSP BFS, fixed ``max_hops`` rounds (no data-dependent
    driver loop): the frontier — tiny relative to the graph for
    hub-seeded neighborhoods, hence broadcast — expands through one
    equi-join per level against the edge list hash-partitioned ONCE by
    the receiving endpoint (the LPA trick: the per-level distinct
    reuses that partitioning, so levels run with no new edge
    shuffle); a left-anti join against the visited frame implements
    first-visit = min-hop semantics. Lineage is truncated per level
    with localCheckpoint. For frontiers too big to broadcast (dense
    expander graphs), drop the broadcast hint — the join degrades
    gracefully to shuffle-on-key. Returns (node, hops) for every node
    within ``max_hops``; a source absent from the graph returns 0
    rows.
    """
    und = (edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
           .filter(F.col("_a") != F.col("_b"))
           .unionByName(
               edges.select(F.col(dst).alias("_a"),
                            F.col(src).alias("_b"))
               .filter(F.col("_a") != F.col("_b"))))
    if not edges_distinct:
        und = und.distinct()
    und = und.repartition(F.col("_a")).persist()
    frontier = (und.select("_a").distinct()
                .filter(F.col("_a") == F.lit(source))
                .select(F.col("_a").alias("node"))
                .withColumn("hops", F.lit(0)))
    visited = frontier
    for h in range(1, int(max_hops) + 1):
        nxt = (und.join(F.broadcast(
                   frontier.select(F.col("node").alias("_a"))), "_a")
               .select(F.col("_b").alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("hops", F.lit(h))
               .localCheckpoint(False))
        visited = visited.unionByName(nxt).localCheckpoint(False)
        frontier = nxt
    # lazy checkpoints: the levels run at the CALLER's first action, so
    # und must stay cached until then — release ledger, not an eager
    # unpersist (the LPA lesson, r12)
    from pipelines_rj_sms_spark.operators.cache import track
    return track(visited, und)


def link_prediction(edges: DataFrame, src: str = "src",
                    dst: str = "dst",
                    max_center_degree: int | None = None,
                    packed_keys: bool | None = None) -> DataFrame:
    """Neighborhood link-prediction scores for 2-hop NON-edges —
    common neighbors, Jaccard, and Adamic-Adar (public formulas;
    Liben-Nowell & Kleinberg 2003), the classic "which edge appears
    next" candidate ranker (recommend a part, suggest a co-author).

        cn(u,v) = |Γu ∩ Γv|
        jac     = cn / (|Γu| + |Γv| − cn)
        aa      = Σ_{w ∈ Γu∩Γv} 1/ln(deg w)

    Input: distinct undirected edges with src < dst. Candidates are
    enumerated by the CENTER-node wedge join (adjacency ⋈ adjacency on
    the shared neighbor, u < v), never an all-pairs product, then
    existing edges leave via one anti-join. A common neighbor has
    degree ≥ 2 by construction, so ln(deg w) ≥ ln 2 — no zero guard
    needed. The AA sum det-quantizes (functions/numeric.py) so its
    ranking and 6dp rounding are combine-order-free.

    Scale: wedge fan-out is Σ_w deg(w)² — the same celebrity-hub term
    every triangle/wedge algorithm owns. ``max_center_degree`` drops
    hub CENTERS above the cap (a 100k-degree hub contributes 5×10⁹
    candidate pairs each weighted a negligible 1/ln(10⁵) — pruning
    them is the standard approximation; None keeps exact semantics
    for bounded graphs).

    ``packed_keys`` (r13, the triangle_counts closing-join lever
    applied to the SAME wedge-scale structures here): when node ids
    are nonnegative integers below 2^31 (auto-detected via one bounded
    aggregate over the persisted edge list), each wedge's (u, v) pair
    is packed into ONE BIGINT ``u << 32 | v`` BEFORE the candidate
    aggregation — the wedge-scale groupBy then keys on a single long
    (Spark's fast-hash-map / dense-relation path instead of a generic
    two-column UnsafeRow map) and the existing-edge anti-join probes a
    specialized long-keyed build. The shuffled wedge row shrinks from
    (u, v, aau) to (uv, aau) — one third fewer bytes at the Σdeg²-
    scale exchange, the only data-sized shuffle in the operator (guide
    §2.3 narrower types / §3 join strategy; heavy-tier measurement in
    OPTIMIZATION_r13.md). The packing is bijective on the detected
    range and u < v is preserved, so the candidate multiset, the
    anti-join semantics and every score are unchanged; decode restores
    the input id dtype. Non-integral or out-of-range ids fall back to
    the two-column spelling; ``packed_keys=True`` raises ValueError on
    them instead.

    EAGER EXECUTION CONTRACT: unless ``packed_keys=False``, calling this
    function runs a Spark job at construction time (the id-range
    aggregate above, which also fills the edge-list cache) — pass
    ``packed_keys=False`` for a purely lazy plan.
    """
    # persist the (possibly expensive to derive) edge set: it feeds
    # the symmetrization twice AND the final anti-join
    und = track(edges.select(F.col(src).alias("_a"),
                             F.col(dst).alias("_b")).persist())
    adj = und.union(und.select(F.col("_b").alias("_a"),
                               F.col("_a").alias("_b")))
    # wedge generation by CENTER-node neighbor ARRAY, not a self-join:
    # collect each center's sorted neighbor set once and emit the
    # u<v pairs inside whole-stage codegen (the cooccurrence_edges
    # trick) — same 27.8M wedge rows on the sf0.01 co-purchase graph
    # but one exchange instead of a sort-merge self-join
    # (measured 12.8 s -> 3.5 s warm at sf0.01)
    sets = track((adj.groupBy(F.col("_a").alias("_w"))
                  .agg(F.sort_array(F.collect_set("_b")).alias("_nb"))
                  .withColumn("_wdeg", F.size("_nb"))).persist())
    deg = sets.select(F.col("_w").alias("_a"),
                      F.col("_wdeg").alias("_deg"))
    centers = sets
    if max_center_degree is not None:
        centers = centers.filter(F.col("_wdeg") <= max_center_degree)
    # scale 1e6 = the pinned-transcendental grid. The addend is a
    # runtime 1/ln(wdeg), so the coarse grid SHRINKS the cross-engine
    # libm flip surface to one boundary check per DISTINCT degree (a
    # ~1e-17 ulp must land within ~1e-11 of a unit edge) rather than
    # eliminating it like the pinned-ln contract; kept because the
    # oracle mirrors this exact expression. The units are quantized
    # ONCE PER CENTER — every wedge of a center carries the identical
    # floor(x*scale+0.5) BIGINT, so summing the carried units is
    # bit-identical to quantizing per wedge while keeping the log /
    # divide / floor out of the per-wedge inner loop.
    # degree-1 centers emit no wedges; filtering them here both skips
    # their rows and keeps the ANSI divide away from ln(1)=0 (the
    # addend expression now runs per CENTER row, not per wedge).
    # Enumeration is posexplode + explode(slice) — two chained
    # generates in one codegen stage — instead of materializing each
    # center's full d(d-1)/2 struct-pair array before a single
    # explode: same pair multiset (symmetric-diff-verified), measured
    # 18.3 -> 14.8 s warm on the sf0.1 co-purchase wedge agg.
    wedges = (centers.filter(F.col("_wdeg") >= 2)
              .withColumn(
                  "_aau", det_units(F.lit(1.0)
                                    / F.log(F.col("_wdeg").cast("double")),
                                    scale=1_000_000))
              .select("_aau", "_nb",
                      F.posexplode("_nb").alias("_i", "_u"))
              .select("_aau", "_u",
                      F.explode(F.slice(F.col("_nb"), F.col("_i") + 2,
                                        F.size("_nb"))).alias("_v")))
    # packed-key range check: one bounded aggregate (two scalars) over
    # the persisted edge list — the same driver-scalar discipline and
    # detection rule as triangle_counts; it doubles as the cache fill
    # for und, whose lazy persist the sets/anti-join consumers would
    # otherwise race. An explicit packed_keys=True is checked too: an
    # id outside [0, 2^31) would collide in u << 32 | v.
    if packed_keys is not False:
        fits = False
        if dict(und.dtypes)["_a"] in ("int", "bigint", "smallint",
                                      "tinyint"):
            mm = und.agg(
                F.min(F.least("_a", "_b")).alias("mn"),
                F.max(F.greatest("_a", "_b")).alias("mx")).first()
            fits = mm["mn"] is None or (mm["mn"] >= 0
                                        and mm["mx"] < (1 << 31))
        if packed_keys and not fits:
            raise ValueError("packed_keys=True needs integer node ids "
                             "in [0, 2^31)")
        packed_keys = fits
    # existing-edge anti-join strategy: the edge side carries a
    # SHUFFLE_HASH hint. Unhinted, Catalyst broadcasts the edge
    # projection and pushes the anti-join below the candidate
    # aggregation — but the build is EDGE-scale, so the BroadcastExchange
    # collects the whole edge set to the driver (measured: a 1041 MiB
    # driver collect at ~sf1 that aborts on spark.driver.maxResultSize;
    # at 100 TB it is a guaranteed driver OOM — guide §3.1). With the
    # hint, the anti-join keys on the aggregation's own grouping key,
    # so the candidate side REUSES the agg exchange (zero extra shuffle
    # of the Σdeg²-scale rows) and only the edge set — orders of
    # magnitude smaller than the wedge stream — is shuffled, hashed
    # per-partition, and probed without sorting the candidates.
    if packed_keys:
        id_dt = dict(und.dtypes)["_a"]
        wk = wedges.select(
            (F.shiftleft(F.col("_u").cast("long"), 32)
             + F.col("_v").cast("long")).alias("_uv"), "_aau")
        cand = (wk.groupBy("_uv")
                .agg(F.count("*").alias("common_neighbors"),
                     det_sum_units(F.col("_aau"), scale=1_000_000)
                     .alias("_aa")))
        non_edges = (cand.join(
            und.select((F.shiftleft(F.col("_a").cast("long"), 32)
                        + F.col("_b").cast("long")).alias("_uv"))
            .hint("shuffle_hash"),
            "_uv", "left_anti")
            .select(F.shiftright(F.col("_uv"), 32).cast(id_dt)
                    .alias("_u"),
                    F.col("_uv").bitwiseAND(F.lit((1 << 32) - 1))
                    .cast(id_dt).alias("_v"),
                    "common_neighbors", "_aa"))
    else:
        cand = (wedges.groupBy("_u", "_v")
                .agg(F.count("*").alias("common_neighbors"),
                     det_sum_units(F.col("_aau"), scale=1_000_000)
                     .alias("_aa")))
        non_edges = cand.join(
            und.select(F.col("_a").alias("_u"), F.col("_b").alias("_v"))
            .hint("shuffle_hash"),
            ["_u", "_v"], "left_anti")
    du = deg.select(F.col("_a").alias("_u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("_a").alias("_v"), F.col("_deg").alias("_dv"))
    # EXPLICIT broadcast of the node-scale degree frames (guide §3.1:
    # estimates after an aggregation + anti-join are badly wrong — at
    # ~sf1 the planner estimated the candidate side small enough to
    # BUILD ON IT, collecting the Σdeg²-scale frame to the driver:
    # measured 15 GB attempted broadcast, maxResultSize abort). The
    # hint pins the build to the |V|-row side, the pagerank posture.
    out = (non_edges.join(F.broadcast(du), "_u")
           .join(F.broadcast(dv), "_v"))
    union_size = F.col("_du") + F.col("_dv") - F.col("common_neighbors")
    return track(out.select(
        F.col("_u").alias(src), F.col("_v").alias(dst),
        "common_neighbors",
        F.round(F.col("common_neighbors").cast("double")
                / union_size.cast("double"), 6).alias("jaccard"),
        F.round(F.col("_aa"), 6).alias("adamic_adar")), und, sets)


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         n_iter: int = 3, edges_distinct: bool = False,
         broadcast_scores: bool = False) -> tuple[DataFrame, DataFrame]:
    """HITS hubs-and-authorities scores (Kleinberg 1999, public
    formula) over a directed edge set — "good hubs point at good
    authorities": a = Σ_{u→v} h(u), h = Σ_{u→v} a(v), renormalized
    each half-step. Returns (hubs, authorities) DataFrames with
    (node, score).

    EAGER EXECUTION CONTRACT: calling this function runs a Spark job
    at construction time (the distinct edge list is eagerly
    ``localCheckpoint``-ed so the 2·n_iter normalizer broadcasts don't
    re-derive it) — it is an executor, not a lazy plan builder.

    Determinism: normalization divides by the MAX score (the standard
    max-norm HITS variant) instead of the L2 norm — max is order-free
    where a norm's square sum is not — and every neighbor sum is
    det-quantized (functions/numeric.py), so each iteration's scores
    are bit-identical across partitionings and engines.

    Scale shape: each half-step is one equi-join of edges with the
    ≤|V|-row score table plus one hash agg; the max rides back as a
    1-row broadcast. O(n_iter) shuffles of (node, score) — the same
    posture as `pagerank`. Edges are deduped once up front (pass
    ``edges_distinct=True`` to skip) and eagerly localCheckpoint-ed so
    every half-step join reads the materialized (src, dst) pairs.

    Release contract: BOTH returned frames carry the same full persist
    ledger (every per-iteration rollup) — releasing either one
    frees everything, including frames the OTHER output still depends
    on. Materialize (or checkpoint) both outputs before calling
    release() on one; under cache.py's evictable contract an early
    release only costs a recompute, never wrong results.
    """
    from pipelines_rj_sms_spark.functions.numeric import det_sum
    from pipelines_rj_sms_spark.operators.cache import track

    if n_iter < 1:
        raise ValueError("hits() needs n_iter >= 1 (the authorities "
                         "frame only exists after a half-step)")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not edges_distinct:
        e = e.distinct()
    # eager checkpoint, not a lazy persist (r12): the 2*n_iter
    # max-normalizer broadcasts are materialized by AQE as separate
    # jobs, and with a lazy cache each of them re-derived the edge
    # frame from source (profiled at sf0.01: seven full scans of the
    # caller's edge build, 52 s executor time for a 3-iteration run).
    # The checkpoint pins the narrow (src, dst) pairs once; every
    # half-step join reads it.
    e = e.localCheckpoint()
    pins: list[DataFrame] = []
    h = e.select("_s").distinct().withColumn("_h", F.lit(1.0))
    a = None
    for _ in range(n_iter):
        # persist each ≤|V|-row rollup: its max-aggregate AND the
        # normalize projection both consume it, and downstream rounds
        # re-reference it — without the persist the recompute tree
        # doubles per half-step (measured: 790 stages -> 60 at sf0.01).
        # broadcast_scores mirrors pagerank's broadcast_ranks: the
        # score table rides into the edge join as a broadcast, so the
        # persisted edge list never re-shuffles (right when |V| fits a
        # broadcast; leave False for billion-node graphs).
        hj = F.broadcast(h) if broadcast_scores else h
        ar = track((e.join(hj, "_s").groupBy("_d")
                    .agg(det_sum(F.col("_h")).alias("_r"))).persist())
        pins.append(ar)
        amax = F.broadcast(ar.agg(F.max("_r").alias("_m")))
        a = ar.crossJoin(amax).select(
            "_d", (F.col("_r") / F.col("_m")).alias("_a"))
        aj = F.broadcast(a) if broadcast_scores else a
        hr = track((e.join(aj, "_d").groupBy("_s")
                    .agg(det_sum(F.col("_a")).alias("_r"))).persist())
        pins.append(hr)
        hmax = F.broadcast(hr.agg(F.max("_r").alias("_m")))
        h = hr.crossJoin(hmax).select(
            "_s", (F.col("_r") / F.col("_m")).alias("_h"))
    # both outputs carry the FULL persist ledger (edges + every
    # per-iteration rollup) so release() on either frees the session
    hubs = track(h.select(F.col("_s").alias("node"),
                          F.col("_h").alias("score")), *pins)
    auths = track(a.select(F.col("_d").alias("node"),
                           F.col("_a").alias("score")), *pins)
    return hubs, auths
