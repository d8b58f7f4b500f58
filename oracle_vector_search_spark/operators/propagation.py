"""Iterative label propagation over an arbitrary directed edge list.

The graph-algorithm kernel under ``knn_label_propagation``
(queries/graph_queries.py), factored out so scale probes and future
graph queries share one implementation. Semantics (Zhu & Ghahramani
2002, hard-clamp variant, deterministic):

* seed nodes keep their label forever (clamped);
* each round, every NON-seed node takes the mode of its in-neighbors'
  current labels (NULLs excluded), ties broken by the SMALLEST label;
* a node with no labeled neighbor stays NULL — coverage grows
  monotonically with rounds but never flips a seed.

Scale shape: the edge list is built once (GEMM / ANN tiers for kNN
graphs, per-key self-joins for co-occurrence graphs) and is an at-rest
artifact at 100 TB. Each round is one join + one (node,label) count
aggregation + one mode window: every shuffle carries (node, label)
pairs — graph-sized, never corpus-sized — so round cost is independent
of the corpus the graph was built from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from oracle_vector_search_spark.operators.topk import top_k_per_group
from oracle_vector_search_spark.plans.ckpt import pin, unpin


def kcore_peel(
    edges: DataFrame,
    nodes: DataFrame,
    k: int,
    rounds: int,
    node_col: str = "node",
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop nodes
    with fewer than ``k`` neighbors among the survivors. The kernel
    under ``kcore_embedding_graph`` (queries/graph_queries.py),
    factored out so scale probes and future graph queries share one
    implementation.

    ``edges`` must be the SYMMETRIZED adjacency (src, dst) — both
    directions present for every undirected edge. ``nodes`` carries one
    row per node in ``node_col``. Peeling is monotone deletion, so a
    fixed ``rounds`` unroll past convergence IS the fixpoint (one peel
    round removes at least the current minimum-degree violators; a
    chain of length L fully dissolves in ceil(L/2) rounds).

    Returns (node, in_core boolean).

    Scale shape: each round is two semi-joins against the survivor set
    plus one degree count — every shuffle carries (node) keys only,
    graph-sized, never corpus-sized; ``localCheckpoint`` per round
    keeps the plan flat at any round count (the dedup-fixpoint
    discipline, operators/dedup.py:511).
    """
    all_nodes = nodes.select(F.col(node_col).alias("node"))
    alive = all_nodes
    for r in range(rounds):
        prev, alive = alive, pin(
            edges.join(
                alive.select(F.col("node").alias("s")),
                edges.src == F.col("s"),
            )
            .join(
                alive.select(F.col("node").alias("u")),
                edges.dst == F.col("u"),
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("k"))
            .filter(F.col("k") >= k)
            .select("node")
        )
        if r:  # new round materialized → prior round's blocks are dead
            unpin(prev)
    return all_nodes.join(
        alive.select(F.col("node").alias("_a")),
        all_nodes.node == F.col("_a"),
        "left",
    ).select("node", F.col("_a").isNotNull().alias("in_core"))


def propagate_labels(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int,
    node_col: str = "node",
    label_col: str = "label",
    seed_col: str = "is_seed",
) -> DataFrame:
    """Run ``n_iter`` deterministic vote rounds.

    ``nodes``: one row per node with ``node_col``, ``label_col`` (the
    clamped label for seeds, any value for non-seeds) and boolean
    ``seed_col``. ``edges``: (src, dst) — dst's label votes for src.
    Returns (node, is_seed, lbl) with lbl NULL where propagation never
    reached.
    """
    d = nodes.select(
        F.col(node_col).alias("_n"),
        F.col(label_col).alias("_true"),
        F.col(seed_col).alias("_seed"),
    )
    lbl = d.select(
        F.col("_n").alias("node"),
        F.when(F.col("_seed"), F.col("_true")).alias("lbl"),
    )
    for _ in range(n_iter):
        votes = (
            edges.join(
                lbl.select(
                    F.col("node").alias("_dst"), F.col("lbl")
                ),
                edges.dst == F.col("_dst"),
            )
            .filter(F.col("lbl").isNotNull())
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        mode = top_k_per_group(
            votes, ["src"], 1, F.desc("c"), F.asc("lbl")
        ).select(F.col("src").alias("_mn"), F.col("lbl").alias("_ml"))
        lbl = d.join(mode, d._n == F.col("_mn"), "left").select(
            F.col("_n").alias("node"),
            F.when(F.col("_seed"), F.col("_true"))
            .otherwise(F.col("_ml"))
            .alias("lbl"),
        )
    return d.join(lbl, d._n == lbl.node).select(
        "node", F.col("_seed").alias("is_seed"), "lbl"
    )


def hits_l1(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """HITS (Kleinberg 1999) hubs & authorities with sum-1 (L1)
    normalization after every half-step — the kernel under
    ``hits_event_transitions``, factored out so the scale probe and
    the query share one implementation.

    ``edges``: (src, dst, w); ``nodes``: (node). Returns (node, h, a)
    UNROUNDED — callers round for display/oracle parity. Each
    half-step is one edge⋈score join + one node-sized aggregate + a
    1-row broadcast normalizer; scores are localCheckpoint-pinned per
    half-step so the plan stays flat at any iteration count (round
    cost is edge-sized, never corpus-sized)."""
    h = nodes.select("node", F.lit(1.0).alias("h"))
    a = None
    for r in range(iters):
        araw = (
            nodes.join(
                h.select(F.col("node").alias("hsrc"), "h")
                .join(edges, F.col("hsrc") == edges.src)
                .groupBy(F.col("dst").alias("anode"))
                .agg(F.sum(F.col("h") * F.col("w")).alias("a")),
                nodes.node == F.col("anode"),
                "left",
            )
            .select("node", F.coalesce("a", F.lit(0.0)).alias("a"))
        )
        asum = araw.agg(F.sum("a").alias("s"))
        prev_a, a = a, pin(  # flat plan across half-steps
            araw.crossJoin(F.broadcast(asum)).select(
                "node", (F.col("a") / F.col("s")).alias("a")
            )
        )
        if r:
            unpin(prev_a)  # prior a: no remaining consumer
        hraw = (
            nodes.join(
                a.select(F.col("node").alias("adst"), "a")
                .join(edges, F.col("adst") == edges.dst)
                .groupBy(F.col("src").alias("hnode"))
                .agg(F.sum(F.col("a") * F.col("w")).alias("h")),
                nodes.node == F.col("hnode"),
                "left",
            )
            .select("node", F.coalesce("h", F.lit(0.0)).alias("h"))
        )
        hsum = hraw.agg(F.sum("h").alias("s"))
        prev_h, h = h, pin(  # flat plan across half-steps
            hraw.crossJoin(F.broadcast(hsum)).select(
                "node", (F.col("h") / F.col("s")).alias("h")
            )
        )
        if r:
            unpin(prev_h)  # prior h: no remaining consumer
    return h.join(
        a.select(F.col("node").alias("an"), "a"), h.node == F.col("an")
    ).select("node", "h", "a")


def dbscan_from_edges(
    pairs: DataFrame,
    nodes: DataFrame,
    min_pts: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """DBSCAN membership given the ε-neighborhood graph — the kernel
    under ``dbscan_embedding_clusters``, factored out so scale probes
    and other ε-graph sources (LSH-pruned similarity joins at scale)
    share one implementation.

    ``pairs``: undirected (left_id, right_id), one row per pair;
    ``nodes``: one row per ``id_col``. Rules (deterministic variant):
    core iff degree ≥ ``min_pts``; core points cluster by connected
    components of the core-core graph (min-label fixpoint,
    localCheckpoint-pinned rounds); border points adopt the SMALLEST
    neighboring core cluster (classic DBSCAN leaves this arbitrary —
    pinning min makes it engine-exact); everything else is noise
    (cluster −1). Returns (id_col, role, cluster_id).

    Scale shape: degree counting, core filtering, and border
    assignment are one shuffle each over (node, …) pairs; the fixpoint
    inherits ``dedup_clusters_fixpoint``'s flat-plan rounds."""
    from oracle_vector_search_spark.operators.dedup import (
        dedup_clusters_fixpoint,
    )

    edges = pairs.select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("right_id").alias("src"), F.col("left_id").alias("dst")
        )
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("k")
    )
    core = deg.filter(F.col("k") >= min_pts).select("node")
    core_ids = core.select(F.col("node").alias(id_col))
    ce = (
        edges.join(core.select(F.col("node").alias("src")), "src")
        .join(core.select(F.col("node").alias("dst")), "dst")
        .select(
            F.col("src").alias("left_id"), F.col("dst").alias("right_id")
        )
    )
    comp = dedup_clusters_fixpoint(ce, core_ids, id_col=id_col).select(
        F.col(id_col).alias("cnode"), F.col("canonical_id").alias("ccid")
    )
    border = (
        edges.join(comp, edges.dst == comp.cnode)
        .join(
            core.select(F.col("node").alias("src")), "src", "left_anti"
        )
        .groupBy(F.col("src").alias("bnode"))
        .agg(F.min("ccid").alias("bcid"))
    )
    return (
        nodes.select(id_col)
        .join(comp, F.col(id_col) == F.col("cnode"), "left")
        .join(border, F.col(id_col) == F.col("bnode"), "left")
        .select(
            id_col,
            F.when(F.col("ccid").isNotNull(), F.lit("core"))
            .when(F.col("bcid").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("ccid", "bcid", F.lit(-1))
            .cast("bigint")
            .alias("cluster_id"),
        )
    )


def triangle_counts(
    pairs: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-node triangle counts by DEGREE-ORDERED edge orientation —
    the kernel under ``triangle_count_graph`` (queries/
    graph_queries.py), factored out so hand-graph unit tests and scale
    probes share one implementation.

    ``pairs``: undirected unique edges (left_id, right_id), one row per
    edge, ``left_id < right_id`` (the ``similarity_join`` contract).
    Returns (``id_col``, degree, n_tri) for every node incident to an
    edge — callers left-join to pick up isolated nodes as (0, 0).

    Algorithm (cf. Suri & Vassilvitskii 2011, MR triangle counting):
    orient every edge from its lower-(degree, id) endpoint to the
    higher; enumerate wedges only at each edge's SMALLER endpoint;
    close each wedge against the oriented edge list. Each triangle is
    produced exactly once, and the per-node wedge fan-out is bounded
    by the graph's arboricity — O(m^{3/2}) total work regardless of
    degree skew, where a naive per-node wedge join is quadratic on hub
    nodes.

    Scale shape: one (node)-keyed degree aggregation, two joins on
    node keys to attach endpoint degrees, one wedge self-join keyed on
    the apex, one closing join on (v, w) — every shuffle carries
    (node, node[, degree]) tuples, never payload. The pair list is
    pinned: the degree count, both wedge sides, and the closing join
    all read it."""
    pairs = pin(pairs)
    deg = (
        pairs.select(F.col("left_id").alias("node"))
        .unionByName(pairs.select(F.col("right_id").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    withdeg = (
        pairs.join(
            deg.select(
                F.col("node").alias("left_id"),
                F.col("degree").alias("dl"),
            ),
            "left_id",
        )
        .join(
            deg.select(
                F.col("node").alias("right_id"),
                F.col("degree").alias("dr"),
            ),
            "right_id",
        )
    )
    # orient low-(deg, id) -> high-(deg, id); carry the head's degree
    # so wedges enumerate (v, w) in a fixed order (each triangle once)
    lo_first = (F.col("dl") < F.col("dr")) | (
        (F.col("dl") == F.col("dr"))
        & (F.col("left_id") < F.col("right_id"))
    )
    oriented = withdeg.select(
        F.when(lo_first, F.col("left_id"))
        .otherwise(F.col("right_id"))
        .alias("src"),
        F.when(lo_first, F.col("right_id"))
        .otherwise(F.col("left_id"))
        .alias("dst"),
        F.when(lo_first, F.col("dr")).otherwise(F.col("dl")).alias("ddeg"),
    )
    o1 = oriented.select(
        F.col("src").alias("apex"),
        F.col("dst").alias("v"),
        F.col("ddeg").alias("vdeg"),
    )
    o2 = oriented.select(
        F.col("src").alias("apex"),
        F.col("dst").alias("w"),
        F.col("ddeg").alias("wdeg"),
    )
    wedges = o1.join(o2, "apex").filter(
        (F.col("vdeg") < F.col("wdeg"))
        | ((F.col("vdeg") == F.col("wdeg")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"], "inner").select(
        "apex", "v", "w"
    )
    tn = (
        tri.select(F.explode(F.array("apex", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(tn, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        )
    )
