"""Graph analytics over the event-transition graph — iterative
algorithms with EXACT oracles.

The graph: nodes are event types; a weighted edge (src → dst, w) is
"users moved from an src-event to a dst-event w times" (the same
lead-bigram convention as ``session_path_bigrams``, minus
sessionization). On this graph we run a fixed-iteration PageRank —
the canonical "Spark can do iterative algorithms" demonstration with
a value-exact oracle: because the iteration count is FIXED, the DuckDB
side unrolls the same three update steps as chained CTEs and the
result is comparable to the 6-decimal policy.

Scale shape: the expensive part (edge extraction) is one window pass
sharing a single shuffle on user_id plus one count aggregation — and
it runs ONCE per session, persisted as an at-rest edge/node parquet
pair (the LSH-bucket / pipeline-index build-once-query-many story).
Every PageRank run reads the tiny graph tables and iterates with
joins; at 100 TB the same split holds: edge extraction scales with
data and is a nightly-build cost, iteration cost scales with the
(much smaller) graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.io import (
    at_rest,
    load_table,
    read_artifact,
    write_artifact,
)
from oracle_vector_search_spark.plans.ckpt import pin, unpin
from oracle_vector_search_spark.queries import register

_DAMPING = 0.85
_N_ITER = 3

# The graph is an at-rest artifact (same build-once/query-many story as
# the LSH buckets and the pipeline index): edge extraction scans the
# corpus ONCE per session; every PageRank run afterwards reads the tiny
# parquet instead of re-deriving the window pass.
def _graph_tables(spark: SparkSession, sf_dir: str):
    """Extract the transition graph once per session and persist it at
    rest; return ``(edges, nodes)`` read back from parquet.

    Nodes come from the EVENTS table (distinct event_type), not from
    the edge endpoints — an isolated type (no transitions) is still a
    PageRank node, exactly as the oracle defines it."""
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        ev = load_table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.expr("ts_ns div 1000"), "event_id"
        )
        steps = ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        edges = (
            steps.filter(F.col("dst").isNotNull())
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("w"))
        )
        nodes = ev.select(F.col("event_type").alias("node")).distinct()
        path = scratch_dir("ovs_graph_")
        write_artifact(edges, path + "/edges")
        write_artifact(nodes, path + "/nodes")
        return path

    path = at_rest(spark, (_graph_tables, sf_dir), build)
    return (
        read_artifact(spark, path + "/edges"),
        read_artifact(spark, path + "/nodes"),
    )


def _pagerank_oracle(n_iter: int) -> str:
    """Unroll ``n_iter`` PageRank updates as chained CTEs (DuckDB)."""
    ctes = [
        """
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_ns(ts) // 1000 AS ts_us
  FROM events
), steps AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id) AS dst
  FROM e
), edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
  FROM steps WHERE dst IS NOT NULL GROUP BY src, dst
), nodes AS (
  SELECT DISTINCT event_type AS node FROM events
), nc AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), outdeg AS (
  SELECT src, CAST(sum(w) AS DOUBLE) AS wout FROM edges GROUP BY src
), pr0 AS (
  SELECT node, CAST(1 AS DOUBLE) / nc.n AS pr FROM nodes, nc
)"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f""", pr{i} AS (
  SELECT nd.node,
         CAST({1 - _DAMPING} AS DOUBLE) / nc.n
           + CAST({_DAMPING} AS DOUBLE)
             * coalesce(m.mass, CAST(0 AS DOUBLE)) AS pr
  FROM nodes nd CROSS JOIN nc
  LEFT JOIN (
    SELECT e.dst AS node, sum(p.pr * (e.w / o.wout)) AS mass
    FROM pr{i - 1} p
    JOIN edges e  ON e.src = p.node
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) m ON m.node = nd.node
)"""
        )
    return "".join(ctes) + (
        f"\nSELECT node AS event_type, round(pr, 6) AS pagerank"
        f" FROM pr{n_iter}"
    )


@register("pagerank_event_transitions", _pagerank_oracle(_N_ITER))
def pagerank_event_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations, uniform init) over
    the event-type transition graph. Dangling mass is dropped
    identically on both sides (no out-edges → contributes nothing),
    so the oracle stays exact without a redistribution term."""
    edges, nodes = _graph_tables(spark, sf_dir)
    nc = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = edges.groupBy("src").agg(
        F.sum("w").cast("double").alias("wout")
    )
    pr = nodes.crossJoin(F.broadcast(nc)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    contrib_edges = edges.join(outdeg, "src").select(
        F.col("src"),
        F.col("dst"),
        (F.col("w") / F.col("wout")).alias("share"),
    )
    for _ in range(_N_ITER):
        mass = (
            pr.join(contrib_edges, pr.node == contrib_edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") * F.col("share")).alias("mass"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(nc))
            .join(mass, "node", "left")
            .select(
                "node",
                (
                    F.lit(1 - _DAMPING) / F.col("n")
                    + F.lit(_DAMPING)
                    * F.coalesce("mass", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("node").alias("event_type"),
        F.round("pr", 6).alias("pagerank"),
    )


# ------------------------------------------------------- label propagation

_LP_K = 5  # kNN-graph degree
_LP_ITERS = 2  # fixed propagation rounds (unrolled in the oracle)
_LP_NODE_MOD = 2  # nodes: vec_id % 2 = 0 (bounds the quadratic graph build)
_LP_SEED_MOD = 8  # seeds: vec_id % 8 = 0 (every 4th node keeps its label)

_LP_COS = (
    "round(list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v))"
    " * sqrt(list_dot_product(b.v, b.v))), 6)"
)


def _label_prop_oracle() -> str:
    """Unroll ``_LP_ITERS`` propagation rounds as chained CTEs."""
    parts = [
        f"""
WITH d AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_LP_NODE_MOD} = 0
), scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {_LP_COS} AS score
  FROM d a JOIN d b ON a.vec_id <> b.vec_id
), edges AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (
      PARTITION BY src ORDER BY score DESC, dst) AS rn
    FROM scored) WHERE rn <= {_LP_K}
), l0 AS (
  SELECT vec_id,
         CASE WHEN vec_id % {_LP_SEED_MOD} = 0 THEN label END AS lbl
  FROM d
)"""
    ]
    for t in range(1, _LP_ITERS + 1):
        parts.append(
            f""", v{t} AS (
  SELECT e.src, l.lbl, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN l{t - 1} l ON l.vec_id = e.dst
  WHERE l.lbl IS NOT NULL GROUP BY e.src, l.lbl
), m{t} AS (
  SELECT src, lbl FROM (
    SELECT src, lbl, row_number() OVER (
      PARTITION BY src ORDER BY c DESC, lbl) AS rn
    FROM v{t}) WHERE rn = 1
), l{t} AS (
  SELECT d.vec_id,
         CASE WHEN d.vec_id % {_LP_SEED_MOD} = 0 THEN d.label
              ELSE m{t}.lbl END AS lbl
  FROM d LEFT JOIN m{t} ON m{t}.src = d.vec_id
)"""
        )
    parts.append(
        f"""
SELECT d.vec_id,
       d.vec_id % {_LP_SEED_MOD} = 0 AS is_seed,
       l{_LP_ITERS}.lbl AS label_prop,
       d.label AS label_true,
       CAST(CASE WHEN l{_LP_ITERS}.lbl = d.label THEN 1 ELSE 0 END
            AS INTEGER) AS correct
FROM d JOIN l{_LP_ITERS} ON l{_LP_ITERS}.vec_id = d.vec_id
"""
    )
    return "".join(parts)


@register("knn_label_propagation", _label_prop_oracle())
def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002) over a
    kNN graph of the embedding table: every 4th node keeps its true
    label (clamped seed); the rest take the mode of their 5 nearest
    neighbors' current labels for 2 fixed rounds (ties → smaller
    label; no labeled neighbor → NULL). The standard cheap way to
    extend a small labeled set over a large corpus in a data-labeling
    pipeline.

    Scale shape: the kNN graph build is the expensive part and runs on
    the GEMM tier (BLAS matmul per Arrow batch, candidates-only
    shuffle) — ask for k+1, drop self, re-rank. That is value-exact
    against the oracle's rank-after-exclusion: self scores a rounded
    1.0, so the top-(k+1) *including* self always contains the top-k
    *excluding* it, whether or not rounded-1.0 ties outrank self.
    Each propagation round then shuffles only (node, label) pairs —
    graph-sized, not corpus-sized — so rounds are nearly free once the
    edge list is at rest.
    """
    from oracle_vector_search_spark.operators.knn import (
        knn_exact,
        knn_exact_gemm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.filter(F.col("vec_id") % _LP_NODE_MOD == 0).select(
        "vec_id", "label", "embedding"
    )
    # Both tiers are value-exact; the GEMM tier's five fixed stages only
    # pay off once the quadratic pair count dominates (same crossover
    # logic as choose_knn_tier).
    tier = knn_exact if d.count() <= 600 else knn_exact_gemm
    cand = tier(d, d, k=_LP_K + 1).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    # pin the graph: the vote loop references edges once per round and
    # nodes three times — without this the kNN build (a full index scan
    # + GEMM) re-executes per round (measured 9-scan plan at 2 rounds)
    edges = pin(
        cand.withColumn("rn2", F.row_number().over(w_rank))
        .filter(F.col("rn2") <= _LP_K)
        .select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
        ),
    )
    from oracle_vector_search_spark.operators.propagation import (
        propagate_labels,
    )

    nodes = pin(
        d.select(
            F.col("vec_id").alias("node"),
            "label",
            (F.col("vec_id") % _LP_SEED_MOD == 0).alias("is_seed"),
        ),
    )
    prop = propagate_labels(nodes, edges, _LP_ITERS)
    truth = d.select(
        F.col("vec_id").alias("tnode"), F.col("label").alias("label_true")
    )
    return prop.join(truth, prop.node == truth.tnode).select(
        F.col("node").alias("vec_id"),
        "is_seed",
        F.col("lbl").alias("label_prop"),
        "label_true",
        F.when(F.col("lbl") == F.col("label_true"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("correct"),
    )


# ------------------------------------------------------------ BFS (hops)

_BFS_ROUNDS = 3  # fixed Bellman-Ford relaxation rounds (unrolled oracle)


def _bfs_oracle() -> str:
    parts = [
        """
WITH lp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), nodes AS (
  SELECT DISTINCT pk AS node FROM lp
), seed AS (
  SELECT min(node) AS s FROM nodes
), edges AS (
  SELECT DISTINCT a.pk AS src, b.pk AS dst
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk <> b.pk
), d0 AS (
  SELECT n.node, CASE WHEN n.node = seed.s THEN 0 END AS d
  FROM nodes n CROSS JOIN seed
)"""
    ]
    for t in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f""", c{t} AS (
  SELECT e.dst AS node, CAST(min(p.d) + 1 AS INTEGER) AS cd
  FROM edges e JOIN d{t - 1} p ON p.node = e.src
  WHERE p.d IS NOT NULL GROUP BY e.dst
), d{t} AS (
  SELECT p.node, least(p.d, c{t}.cd) AS d
  FROM d{t - 1} p LEFT JOIN c{t} ON c{t}.node = p.node
)"""
        )
    parts.append(
        f"""
SELECT CAST(coalesce(d, -1) AS INTEGER) AS hops,
       CAST(count(*) AS BIGINT) AS n_parts
FROM d{_BFS_ROUNDS} GROUP BY 1
"""
    )
    return "".join(parts)


@register("copurchase_bfs_hops", _bfs_oracle())
def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop histogram from the smallest part id over the co-purchase
    graph (parts sharing an order), as 3 fixed Bellman-Ford relaxation
    rounds — min-hop distance converges monotonically, so a fixed
    unroll is value-exact against the oracle's chained CTEs. Unreached
    within 3 hops → -1 bucket.

    Scale shape: the edge list is per-order quadratic (lines/order is
    small and bounded) and built once — at 100 TB it is an at-rest
    nightly artifact like the transition graph. Each relaxation round
    shuffles only (node, dist) pairs: graph-node-sized, not
    lineitem-sized. `least` skips NULLs identically in both engines,
    giving the no-path-yet semantics for free.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
    )
    nodes = pin(li.select(F.col("pk").alias("node")).distinct())
    seed = nodes.agg(F.min("node").alias("s"))
    a = li.select("ok", F.col("pk").alias("src"))
    b = li.select(F.col("ok").alias("ok2"), F.col("pk").alias("dst"))
    # pin the graph: three relaxation rounds reference edges/dist
    # repeatedly — unpinned, the lineitem scan + self-join re-executes
    # per reference (measured 30-scan plan)
    edges = pin(
        a.join(
            b,
            (F.col("ok") == F.col("ok2"))
            & (F.col("src") != F.col("dst")),
        )
        .select("src", "dst")
        .distinct(),
    )
    dist = nodes.crossJoin(F.broadcast(seed)).select(
        "node",
        F.when(F.col("node") == F.col("s"), F.lit(0))
        .cast("int")
        .alias("d"),
    )
    # OPTIMIZATION r16 (guide §5): dist(k) references dist(k-1) TWICE
    # (the frontier filter + the left join's own row), so unpinned the
    # relaxation chain re-evaluated 2^k times — 159 physical ops /
    # 23 exchanges / 10 SMJ censused, with node-sized shuffle chains
    # replayed 8× at any scale. Per-round pins (the dedup_clusters
    # discipline) make each round one join + one aggregation over the
    # pinned previous round.
    for r in range(_BFS_ROUNDS):
        frontier = dist.filter(F.col("d").isNotNull()).select(
            F.col("node").alias("fsrc"), F.col("d").alias("fd")
        )
        cand = (
            edges.join(frontier, edges.src == frontier.fsrc)
            .groupBy(F.col("dst").alias("cnode"))
            .agg((F.min("fd") + F.lit(1)).cast("int").alias("cd"))
        )
        prev, dist = dist, pin(
            dist.join(
                cand, dist.node == cand.cnode, "left"
            ).select(
                F.col("node"), F.least(F.col("d"), F.col("cd")).alias("d")
            )
        )
        if r:
            unpin(prev)
    # the returned histogram lazily references the LAST round's blocks
    return (
        dist.select(
            F.coalesce(F.col("d"), F.lit(-1)).cast("int").alias("hops")
        )
        .groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# -------------------------------------------- connected components (WCC)

_CC_MOD = 10  # node sample: vec_id % 10 = 0 (same as similarity_self_join)
_CC_THRESHOLD = 0.3  # cosine edge threshold

_CC_COS = (
    "round(list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v))"
    " * sqrt(list_dot_product(b.v, b.v))), 6)"
)


@register(
    "embedding_components_single_linkage",
    f"""
WITH RECURSIVE
d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_CC_MOD} = 0
), pairs AS (
  SELECT a.vec_id AS l, b.vec_id AS r
  FROM d a JOIN d b ON a.vec_id < b.vec_id
  WHERE {_CC_COS} >= {_CC_THRESHOLD}
), edges AS (
  SELECT l AS src, r AS dst FROM pairs
  UNION ALL
  SELECT r AS src, l AS dst FROM pairs
), reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM d
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, min(lbl) AS cid FROM reach GROUP BY node
)
SELECT node AS vec_id, CAST(cid AS BIGINT) AS canonical_id,
       CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_size
FROM comp
""",
)
def embedding_components_single_linkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-linkage clustering = weakly-connected components of the
    cosine-threshold similarity graph (the clustering semantics behind
    near-dup grouping, here on embeddings). Spark runs min-label
    propagation to a true FIXPOINT (`dedup_clusters_fixpoint`:
    localCheckpoint per round, converges for any component diameter);
    the oracle is a recursive CTE computing the same minimum reachable
    label — exact at ANY diameter on both sides, unlike a fixed unroll.

    Scale shape: the edge list at scale comes from the LSH-pruned
    similarity join (operators.ann); each fixpoint round shuffles
    (node, label) pairs only, and the changed-label convergence check
    is metadata-sized.
    """
    from oracle_vector_search_spark.operators.dedup import (
        dedup_clusters_fixpoint,
    )
    from oracle_vector_search_spark.operators.knn import similarity_join

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _CC_MOD == 0
    )
    pairs = similarity_join(emb, emb, threshold=_CC_THRESHOLD).select(
        F.col("left_id"), F.col("right_id")
    )
    comp = dedup_clusters_fixpoint(
        pairs,
        emb,
        id_col="vec_id",
    )
    w = Window.partitionBy("canonical_id")
    return comp.select(
        "vec_id",
        "canonical_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# ------------------------------------------------------------- DBSCAN

_DB_MINPTS = 3  # core: >= 3 neighbors within the ε-ball (self excluded)


@register(
    "dbscan_embedding_clusters",
    f"""
WITH RECURSIVE
d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_CC_MOD} = 0
), pairs AS (
  SELECT a.vec_id AS l, b.vec_id AS r
  FROM d a JOIN d b ON a.vec_id < b.vec_id
  WHERE {_CC_COS} >= {_CC_THRESHOLD}
), edges AS (
  SELECT l AS src, r AS dst FROM pairs
  UNION ALL
  SELECT r AS src, l AS dst FROM pairs
), deg AS (
  SELECT src AS node, count(*) AS k FROM edges GROUP BY src
), core AS (
  SELECT node FROM deg WHERE k >= {_DB_MINPTS}
), ce AS (
  SELECT e.src, e.dst FROM edges e
  JOIN core a ON a.node = e.src
  JOIN core b ON b.node = e.dst
), reach(node, lbl) AS (
  SELECT node, node FROM core
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN ce e ON e.src = r.node
), comp AS (
  SELECT node, min(lbl) AS cid FROM reach GROUP BY node
), border AS (
  SELECT e.src AS node, min(c.cid) AS cid
  FROM edges e JOIN comp c ON c.node = e.dst
  WHERE e.src NOT IN (SELECT node FROM core)
  GROUP BY e.src
)
SELECT d.vec_id,
       CASE WHEN c.cid IS NOT NULL THEN 'core'
            WHEN b.cid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(coalesce(c.cid, b.cid, -1) AS BIGINT) AS cluster_id
FROM d
LEFT JOIN comp c ON c.node = d.vec_id
LEFT JOIN border b ON b.node = d.vec_id
""",
)
def dbscan_embedding_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DBSCAN over the embedding sample with a cosine ε-ball (≥ 0.3)
    and minPts = 3: core points cluster by connected components of the
    core-core graph (min-label fixpoint); border points adopt the
    SMALLEST neighboring core cluster (classic DBSCAN leaves this
    arbitrary — pinning min makes it engine-exact); everything else is
    noise (cluster −1). The density-clustering sibling of the
    single-linkage query: same edges, different membership rule.

    Scale shape: ε-neighborhoods at scale come from the LSH-pruned
    similarity join; degree counting, core filtering, and border
    assignment are one shuffle each over (node, …) pairs; the fixpoint
    inherits `dedup_clusters_fixpoint`'s flat-plan localCheckpoint
    rounds.
    """
    from oracle_vector_search_spark.operators.knn import similarity_join
    from oracle_vector_search_spark.operators.propagation import (
        dbscan_from_edges,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _CC_MOD == 0
    )
    # pin the quadratic pair build: edges/deg/core/border all re-derive
    # it otherwise (measured 15-scan plan)
    pairs = pin(
        similarity_join(emb, emb, threshold=_CC_THRESHOLD).select(
            "left_id", "right_id"
        ),
    )
    return dbscan_from_edges(
        pairs,
        emb,
        min_pts=_DB_MINPTS,
        id_col="vec_id",
    )


# --------------------------------------------------------------- HITS

_HITS_ITER = 2  # fixed mutual-reinforcement rounds (unrolled oracle)


def _hits_oracle() -> str:
    """Unroll ``_HITS_ITER`` HITS rounds as chained CTEs. Sum-1
    normalization after each half-step (division by a sum of doubles —
    the PageRank double policy, final round to 6)."""
    parts = [
        """
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_ns(ts) // 1000 AS ts_us
  FROM events
), steps AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id) AS dst
  FROM e
), edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
  FROM steps WHERE dst IS NOT NULL GROUP BY src, dst
), nodes AS (
  SELECT DISTINCT event_type AS node FROM events
), h0 AS (
  SELECT node, CAST(1 AS DOUBLE) AS h FROM nodes
)"""
    ]
    for t in range(1, _HITS_ITER + 1):
        parts.append(
            f""", araw{t} AS (
  SELECT n.node,
         coalesce((SELECT sum(p.h * e.w) FROM h{t - 1} p
                   JOIN edges e ON e.src = p.node
                   WHERE e.dst = n.node), 0.0) AS a
  FROM nodes n
), a{t} AS (
  SELECT node, a / (SELECT sum(a) FROM araw{t}) AS a FROM araw{t}
), hraw{t} AS (
  SELECT n.node,
         coalesce((SELECT sum(q.a * e.w) FROM a{t} q
                   JOIN edges e ON e.dst = q.node
                   WHERE e.src = n.node), 0.0) AS h
  FROM nodes n
), h{t} AS (
  SELECT node, h / (SELECT sum(h) FROM hraw{t}) AS h FROM hraw{t}
)"""
        )
    parts.append(
        f"""
SELECT h.node AS event_type,
       round(h.h, 6) AS hub,
       round(a.a, 6) AS authority
FROM h{_HITS_ITER} h JOIN a{_HITS_ITER} a ON a.node = h.node
"""
    )
    return "".join(parts)


@register("hits_event_transitions", _hits_oracle())
def hits_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities on the weighted event-type
    transition graph: 2 fixed mutual-reinforcement rounds with sum-1
    normalization (L1 keeps the oracle exact — an L2 norm would add a
    sqrt over a double sum for no semantic gain). Complements PageRank:
    a type can be a strong FEEDER (hub) without being a destination.

    Scale shape: identical to PageRank — the graph is the at-rest
    artifact (`_graph_tables`, built once per session); each half-step
    is one edge join + one node-sized aggregate.
    """
    from oracle_vector_search_spark.operators.propagation import hits_l1

    edges, nodes = _graph_tables(spark, sf_dir)
    return hits_l1(
        edges,
        nodes,
        iters=_HITS_ITER,
    ).select(
        F.col("node").alias("event_type"),
        F.round("h", 6).alias("hub"),
        F.round("a", 6).alias("authority"),
    )


# --------------------------------------------------------------- k-core

_KC_THRESHOLD = 0.25  # ε for the k-core similarity graph
_KC_K = 2  # minimum within-core degree
_KC_ROUNDS = 8  # fixed peel unroll; fixture converges in <= 5 rounds
#   (tests assert one extra round changes nothing, so the unroll IS the
#   fixpoint at these fixtures)

_KC_COS = (
    "round(list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v))"
    " * sqrt(list_dot_product(b.v, b.v))), 6)"
)


def _kcore_oracle() -> str:
    parts = [
        f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_CC_MOD} = 0
), pairs AS MATERIALIZED (
  SELECT a.vec_id AS l, b.vec_id AS r
  FROM d a JOIN d b ON a.vec_id < b.vec_id
  WHERE {_KC_COS} >= {_KC_THRESHOLD}
), edges AS MATERIALIZED (
  SELECT l AS src, r AS dst FROM pairs
  UNION ALL
  SELECT r AS src, l AS dst FROM pairs
), a0 AS (
  SELECT vec_id AS node FROM d
)"""
    ]
    for t in range(1, _KC_ROUNDS + 1):
        parts.append(
            f""", a{t} AS (
  SELECT e.src AS node FROM edges e
  JOIN a{t - 1} s ON s.node = e.src
  JOIN a{t - 1} u ON u.node = e.dst
  GROUP BY e.src HAVING count(*) >= {_KC_K}
)"""
        )
    parts.append(
        f"""
SELECT d.vec_id, a.node IS NOT NULL AS in_core
FROM d LEFT JOIN a{_KC_ROUNDS} a ON a.node = d.vec_id
"""
    )
    return "".join(parts)


@register("kcore_embedding_graph", _kcore_oracle())
def kcore_embedding_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core decomposition (k=2) of the cosine-threshold similarity
    graph: repeatedly peel nodes with fewer than k surviving neighbors.
    The core is where every member has k neighbors IN the core — the
    standard dense-substructure filter (stricter than a connected
    component, looser than a clique). Peeling is monotone DELETION, so
    a fixed unroll past convergence IS the fixpoint; the test suite
    asserts one extra round changes nothing at the fixtures.

    Scale shape: each peel round is one degree aggregation restricted
    to survivors — two semi-joins + a count on (node) pairs;
    localCheckpoint per round keeps the plan flat at any round count
    (the dedup-fixpoint discipline). The peel loop lives in
    operators/propagation.py:kcore_peel (shared with the 1M-node scale
    probe, tests/test_graph_scale.py).
    """
    from oracle_vector_search_spark.operators.knn import similarity_join
    from oracle_vector_search_spark.operators.propagation import (
        kcore_peel,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _CC_MOD == 0
    )
    pairs = similarity_join(emb, emb, threshold=_KC_THRESHOLD).select(
        "left_id", "right_id"
    )
    edges = (
        pairs.select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        )
        .unionByName(
            pairs.select(
                F.col("right_id").alias("src"),
                F.col("left_id").alias("dst"),
            )
        )
    )
    # reused every peel round
    edges = pin(edges)
    nodes = emb.select(F.col("vec_id").alias("node"))
    return kcore_peel(
        edges,
        nodes,
        k=_KC_K,
        rounds=_KC_ROUNDS,
    ).select(
        F.col("node").alias("vec_id"), "in_core"
    )


# ------------------------------------------------------- graph metrics


@register(
    "graph_degree_assortativity",
    f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_CC_MOD} = 0
), pairs AS MATERIALIZED (
  SELECT a.vec_id AS l, b.vec_id AS r
  FROM d a JOIN d b ON a.vec_id < b.vec_id
  WHERE {_KC_COS} >= {_KC_THRESHOLD}
), edges AS MATERIALIZED (
  SELECT l AS src, r AS dst FROM pairs
  UNION ALL
  SELECT r AS src, l AS dst FROM pairs
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS k
  FROM edges GROUP BY src
), ed AS (
  SELECT a.k AS kx, b.k AS ky
  FROM edges e
  JOIN deg a ON a.node = e.src
  JOIN deg b ON b.node = e.dst
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(kx) AS BIGINT) AS sx,
         CAST(sum(ky) AS BIGINT) AS sy,
         CAST(sum(kx * ky) AS BIGINT) AS sxy,
         CAST(sum(kx * kx) AS BIGINT) AS sxx,
         CAST(sum(ky * ky) AS BIGINT) AS syy
  FROM ed
)
SELECT n AS n_directed_edges,
       round((n * sxy - sx * sy) * 1.0
             / (sqrt((n * sxx - sx * sx) * 1.0)
                * sqrt((n * syy - sy * sy) * 1.0)), 6)
         AS assortativity
FROM m
""",
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman r) of the ε=0.25 similarity graph:
    the Pearson correlation of endpoint degrees over the directed edge
    list. All moments are exact BIGINT sums; only the final correlation
    formula is IEEE double — the engine's integer-moments-then-one-
    formula policy (same as skew/kurtosis and the OLS fit).

    Scale shape: degree table = one (node) aggregation; the moment pass
    is one edge-sized join+agg. Nothing corpus-sized shuffles twice.
    """
    from oracle_vector_search_spark.operators.knn import similarity_join

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _CC_MOD == 0
    )
    # pin the quadratic pair build (re-derived 6x otherwise: edges
    # twice + both degree probes — measured 12-scan plan)
    pairs = pin(
        similarity_join(emb, emb, threshold=_KC_THRESHOLD).select(
            "left_id", "right_id"
        ),
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
    ed = (
        edges.join(
            deg.select(F.col("node").alias("sn"), F.col("k").alias("kx")),
            edges.src == F.col("sn"),
        )
        .join(
            deg.select(F.col("node").alias("dn"), F.col("k").alias("ky")),
            edges.dst == F.col("dn"),
        )
        .select("kx", "ky")
    )
    m = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("kx").alias("sx"),
        F.sum("ky").alias("sy"),
        F.sum(F.col("kx") * F.col("ky")).alias("sxy"),
        F.sum(F.col("kx") * F.col("kx")).alias("sxx"),
        F.sum(F.col("ky") * F.col("ky")).alias("syy"),
    )
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * F.lit(1.0)
            / (
                F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * F.lit(1.0)
                )
                * F.sqrt(
                    (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                    * F.lit(1.0)
                )
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "local_clustering_coefficients",
    f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_CC_MOD} = 0
), pairs AS MATERIALIZED (
  SELECT a.vec_id AS l, b.vec_id AS r
  FROM d a JOIN d b ON a.vec_id < b.vec_id
  WHERE {_KC_COS} >= {_KC_THRESHOLD}
), edges AS MATERIALIZED (
  SELECT l AS src, r AS dst FROM pairs
  UNION ALL
  SELECT r AS src, l AS dst FROM pairs
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS k
  FROM edges GROUP BY src
), tri AS (
  -- neighbor pairs (u < w) of v that are themselves an edge
  SELECT e1.src AS node, CAST(count(*) AS BIGINT) AS t
  FROM edges e1
  JOIN edges e2 ON e2.src = e1.src AND e1.dst < e2.dst
  JOIN pairs p ON p.l = e1.dst AND p.r = e2.dst
  GROUP BY e1.src
)
SELECT deg.node AS vec_id, deg.k AS degree,
       coalesce(tri.t, 0) AS triangles,
       CASE WHEN deg.k >= 2
            THEN round(2.0 * coalesce(tri.t, 0)
                       / (deg.k * (deg.k - 1)), 6)
            ELSE CAST(0 AS DOUBLE) END AS lcc
FROM deg LEFT JOIN tri ON tri.node = deg.node
""",
)
def local_clustering_coefficients(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-node local clustering coefficient on the ε=0.25 similarity
    graph: triangles through v (closed neighbor pairs) over d·(d−1)/2
    possible. Triangle counting is the canonical-order join — neighbor
    pairs u<w of v equi-join the (l<r) pair list, so each triangle at v
    counts once and no pair is enumerated twice.

    Scale shape: the neighbor-pair join is Σd(v)² — bounded by the
    ε-graph's degree, not the corpus; the pair probe is an equi-join on
    (l, r). Same shape as the LSH-pruned global triangle count
    (`dedup_graph_triangles`), here per node.
    """
    from oracle_vector_search_spark.operators.knn import similarity_join

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _CC_MOD == 0
    )
    # pin the quadratic pair build (edges x2 + the triangle probe all
    # re-derive it otherwise — measured 14-scan plan)
    pairs = pin(
        similarity_join(emb, emb, threshold=_KC_THRESHOLD).select(
            F.col("left_id").alias("l"), F.col("right_id").alias("r")
        ),
    )
    edges = pairs.select(
        F.col("l").alias("src"), F.col("r").alias("dst")
    ).unionByName(
        pairs.select(F.col("r").alias("src"), F.col("l").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("k")
    )
    e1 = edges.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    e2 = edges.select(F.col("src").alias("v2"), F.col("dst").alias("w"))
    tri = (
        e1.join(
            e2,
            (F.col("v") == F.col("v2")) & (F.col("u") < F.col("w")),
        )
        .join(
            pairs,
            (F.col("l") == F.col("u")) & (F.col("r") == F.col("w")),
        )
        .groupBy(F.col("v").alias("node"))
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return deg.join(
        tri.select(F.col("node").alias("tn"), "t"),
        deg.node == F.col("tn"),
        "left",
    ).select(
        F.col("node").alias("vec_id"),
        F.col("k").alias("degree"),
        F.coalesce("t", F.lit(0)).cast("bigint").alias("triangles"),
        F.when(
            F.col("k") >= 2,
            F.round(
                F.lit(2.0)
                * F.coalesce("t", F.lit(0))
                / (F.col("k") * (F.col("k") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


# ---------------------------------------------- incremental edge merge

# batch cutoff: events in the last _GEM_HOURS hours are "new"
_GEM_HOURS = 48


@register(
    "graph_edges_incremental_merge",
    f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_ns(ts) // 1000 AS ts_us
  FROM events
), steps AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id) AS dst
  FROM e
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM steps WHERE dst IS NOT NULL GROUP BY src, dst
""",
)
def graph_edges_incremental_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of the transition-graph edge table (the
    index_maint pattern on a graph artifact): the standing table is
    built from events OLDER than a 48 h cutoff, the increment re-derives
    transitions only for users ACTIVE in the new window (their full
    history — a lead() edge can span the cutoff, so per-user
    recomputation is the correct delta unit), and the merge is
    old-minus-refreshed-users ∪ refreshed. Edge counts are an additive
    monoid, so the merged table must equal the full rebuild — which IS
    the oracle.

    Scale shape: the delta touches only active users' partitions (at
    rest: dynamic partition overwrite keyed on user-hash, same as the
    LSH bucket maintenance); the standing table is never rescanned from
    the corpus.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
    )
    cutoff = ev.agg(
        (F.max("ts_us") - F.lit(_GEM_HOURS * 3_600_000_000)).alias("cut")
    )
    e = pin(ev.crossJoin(F.broadcast(cutoff)))

    def edges_of(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        steps = df.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        return (
            steps.filter(F.col("dst").isNotNull())
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("w"))
        )

    old_events = e.filter(F.col("ts_us") <= F.col("cut"))
    standing = pin(edges_of(old_events))

    active = (
        e.filter(F.col("ts_us") > F.col("cut"))
        .select("user_id")
        .distinct()
    )
    # per-user edge contributions of the OLD table for refreshed users
    # (to subtract), and their full-history refresh (to add)
    old_active = edges_of(
        old_events.join(active, "user_id", "semi")
    )
    refreshed = edges_of(e.join(active, "user_id", "semi"))
    merged = (
        standing.select("src", "dst", F.col("w"))
        .unionByName(
            old_active.select(
                "src", "dst", (-F.col("w")).alias("w")
            )
        )
        .unionByName(refreshed.select("src", "dst", "w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") > 0)
    )
    return merged.select("src", "dst", F.col("w").cast("bigint").alias("w"))


# ------------------------------------------------ graph-ANN greedy walk

_GW_HOPS = 3  # fixed greedy hops (unrolled in the oracle)
_GW_NQ = 5  # queries: first odd ids (disjoint from the graph nodes)


def _greedy_walk_oracle() -> str:
    """Unrolled greedy search on the kNN graph: candidates at each hop
    are the current node plus its out-neighbors; move to the best by
    (rounded cosine desc, id). Monotone because the current node stays
    a candidate."""
    score = (
        "round(list_dot_product(q.qv, x.v)"
        " / (sqrt(list_dot_product(q.qv, q.qv))"
        " * sqrt(list_dot_product(x.v, x.v))), 6)"
    )
    parts = [
        f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_LP_NODE_MOD} = 0
), scored AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst, {_LP_COS} AS score
  FROM d a JOIN d b ON a.vec_id <> b.vec_id
), edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (
      PARTITION BY src ORDER BY score DESC, dst) AS rn
    FROM scored) WHERE rn <= {_LP_K}
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings
  WHERE vec_id % {_LP_NODE_MOD} = 1 AND vec_id < {2 * _GW_NQ}
), entry AS (
  SELECT min(vec_id) AS node FROM d
), w0 AS (
  SELECT q.query_id, entry.node AS cur FROM q CROSS JOIN entry
)"""
    ]
    for t in range(1, _GW_HOPS + 1):
        parts.append(
            f""", c{t} AS (
  SELECT query_id, cur AS node FROM w{t - 1}
  UNION
  SELECT w.query_id, e.dst AS node
  FROM w{t - 1} w JOIN edges e ON e.src = w.cur
), w{t} AS (
  SELECT query_id, node AS cur FROM (
    SELECT c.query_id, c.node,
           row_number() OVER (
             PARTITION BY c.query_id ORDER BY {score} DESC, c.node
           ) AS rn
    FROM c{t} c
    JOIN q ON q.query_id = c.query_id
    JOIN d x ON x.vec_id = c.node
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
, exact AS (
  SELECT query_id, node AS top1 FROM (
    SELECT q.query_id, x.vec_id AS node,
           row_number() OVER (
             PARTITION BY q.query_id ORDER BY {score} DESC, x.vec_id
           ) AS rn
    FROM q CROSS JOIN d x
  ) WHERE rn = 1
)
SELECT w.query_id, w.cur AS walk_end_id, e.top1 AS exact_top1_id,
       CAST(CASE WHEN w.cur = e.top1 THEN 1 ELSE 0 END AS INTEGER)
         AS hit
FROM w{_GW_HOPS} w JOIN exact e ON e.query_id = w.query_id
"""
    )
    return "".join(parts)


@register("graph_ann_greedy_walk_recall", _greedy_walk_oracle())
def graph_ann_greedy_walk_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Graph-ANN serving (the NSW/HNSW base layer): greedy best-first
    walk on the at-rest kNN graph from a fixed entry point, 3 hops,
    queries DISJOINT from the graph nodes; audited against the exact
    brute-force top-1. The current node stays a candidate, so the walk
    score is monotone and a fixed unroll is the converged walk whenever
    it stalls earlier.

    Scale shape: the kNN graph is the LP query's at-rest artifact;
    each hop touches |Q| × (1 + out-degree) candidate rows — the whole
    point of graph ANN: per-query work is degree-bounded, never
    index-sized. The exact-top1 audit is the quadratic oracle baseline
    (GEMM tier at scale).
    """
    from oracle_vector_search_spark.operators.knn import (
        knn_exact,
        knn_exact_gemm,
    )
    from oracle_vector_search_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    d = pin(
        emb.filter(F.col("vec_id") % _LP_NODE_MOD == 0).select(
            "vec_id", as_double_array("embedding").alias("v")
        ),
    )
    tier = knn_exact if d.count() <= 600 else knn_exact_gemm
    cand = tier(d, d, k=_LP_K + 1, vec_col="v").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    edges = pin(
        cand.withColumn("rn2", F.row_number().over(w_rank))
        .filter(F.col("rn2") <= _LP_K)
        .select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
        ),
    )
    q = emb.filter(
        (F.col("vec_id") % _LP_NODE_MOD == 1)
        & (F.col("vec_id") < 2 * _GW_NQ)
    ).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("qv"),
    )
    q = pin(q)
    entry = d.agg(F.min("vec_id").alias("enode"))
    walk = q.crossJoin(F.broadcast(entry)).select(
        "query_id", F.col("enode").alias("cur")
    )
    score = F.round(cosine_similarity("qv", "v"), 6)
    for r in range(_GW_HOPS):
        cands = walk.select(
            "query_id", F.col("cur").alias("node")
        ).unionByName(
            walk.join(edges, walk.cur == edges.src).select(
                "query_id", F.col("dst").alias("node")
            )
        ).distinct()
        scored = (
            cands.join(
                d.select(F.col("vec_id").alias("node"), "v"), "node"
            )
            .join(F.broadcast(q), "query_id")
            .select("query_id", "node", score.alias("s"))
        )
        w_best = Window.partitionBy("query_id").orderBy(
            F.desc("s"), F.asc("node")
        )
        prev, walk = walk, pin(
            scored.withColumn("rn", F.row_number().over(w_best))
            .filter(F.col("rn") == 1)
            .select("query_id", F.col("node").alias("cur"))
        )
        if r:  # the new hop is materialized: prior hop's blocks are dead
            unpin(prev)
    # the final hop feeds the lazy result — the NEXT invocation frees it
    exact = tier(
        d, q, k=1, vec_col="v", query_id_col="query_id",
        query_vec_col="qv",
    ).select("query_id", F.col("neighbor_id").alias("top1"))
    return walk.join(exact, "query_id").select(
        "query_id",
        F.col("cur").alias("walk_end_id"),
        F.col("top1").alias("exact_top1_id"),
        F.when(F.col("cur") == F.col("top1"), 1)
        .otherwise(0)
        .cast("int")
        .alias("hit"),
    )


# ------------------------------------------------- triangle counting

_TRI_THRESHOLD = 0.3  # same ε as the single-linkage component graph


def _triangle_oracle() -> str:
    cos = (
        "round(list_dot_product(a.v, b.v)"
        " / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v))), 6)"
    )
    return f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_CC_MOD} = 0
), pairs AS MATERIALIZED (
  SELECT a.vec_id AS l, b.vec_id AS r
  FROM d a JOIN d b ON a.vec_id < b.vec_id
  WHERE {cos} >= {_TRI_THRESHOLD}
), deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT l AS node FROM pairs UNION ALL SELECT r AS node FROM pairs
  ) GROUP BY node
), tri AS (
  SELECT p1.l AS a, p1.r AS b, p2.r AS c
  FROM pairs p1
  JOIN pairs p2 ON p2.l = p1.r
  JOIN pairs p3 ON p3.l = p1.l AND p3.r = p2.r
), tn AS (
  SELECT node, count(*) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  ) GROUP BY node
)
SELECT d.vec_id,
       CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree,
       CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN coalesce(deg.degree, 0) >= 2
            THEN round(2.0 * coalesce(tn.n_tri, 0)
                       / (deg.degree * (deg.degree - 1)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM d
LEFT JOIN deg ON deg.node = d.vec_id
LEFT JOIN tn ON tn.node = d.vec_id
ORDER BY d.vec_id
"""


@register("triangle_count_graph", _triangle_oracle())
def triangle_count_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient on the
    cosine-threshold similarity graph — the transitivity measure the
    component/k-core/DBSCAN family lacks (a dense near-dup cluster has
    high transitivity; a chain of borderline matches has none).

    Spark runs the DEGREE-ORDERED orientation algorithm (the standard
    distributed formulation, cf. Cohen 2009 / Suri & Vassilvitskii
    2011 "graph twiddling" / MR triangle counting): orient every edge
    from its lower-(degree, id) endpoint to the higher, enumerate
    wedges only at each edge's smaller endpoint, and close them
    against the oriented edge list. Each triangle is produced EXACTLY
    once, and the wedge list is bounded by the graph's arboricity —
    O(m^{{3/2}}) total regardless of degree skew, where the naive
    per-node wedge join blows up quadratically on hub nodes. The
    oracle is the naive three-way id-ordered join — same triangles.

    Complements ``dedup_graph_triangles`` (dedup_queries.py), which
    reports the single GLOBAL triangle count over the MinHash near-dup
    graph with the naive id-ordered joins (wedge cost Σ deg² — fine
    there because LSH caps component sizes): this query is the
    per-node/skew-safe tier, the shape needed when a similarity graph
    has hub nodes and the consumer wants local transitivity, not one
    scalar.

    Scale shape: the quadratic pair space is the similarity join's
    problem (LSH-pruned at 100 TB, like the component/k-core family);
    beyond it every shuffle carries (node, node) pairs or node-sized
    degree tuples. The pinned pair list is read by the degree count,
    both wedge sides, and the closing semi-join — checkpointed once."""
    from oracle_vector_search_spark.operators.knn import similarity_join
    from oracle_vector_search_spark.operators.propagation import (
        triangle_counts,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _CC_MOD == 0
    )
    pairs = similarity_join(emb, emb, threshold=_TRI_THRESHOLD).select(
        "left_id", "right_id"
    )
    counts = triangle_counts(
        pairs,
        id_col="node",
    )
    nodes = emb.select("vec_id")
    out = nodes.join(
        counts, nodes.vec_id == counts.node, "left"
    ).drop("node")
    degree = F.coalesce(F.col("degree"), F.lit(0)).cast("long")
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0)).cast("long")
    return out.select(
        "vec_id",
        degree.alias("degree"),
        n_tri.alias("n_triangles"),
        F.when(
            degree >= 2,
            F.round(
                F.lit(2.0) * n_tri / (degree * (degree - F.lit(1))), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    ).orderBy("vec_id")
