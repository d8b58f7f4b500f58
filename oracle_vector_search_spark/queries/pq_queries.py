"""Product-quantization oracle corpus (operators.quantize).

Both the encoding (codes per subspace) and the PQ search (asymmetric
scoring against reconstructions) hash-match DuckDB because the
codebooks are deterministic hash-derived literals and every distance
sum uses the same left-assoc fold on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.functions.vector import cosine_similarity
from oracle_vector_search_spark.io import (
    at_rest,
    load_table,
    read_artifact,
    write_artifact,
)
from oracle_vector_search_spark.operators import quantize as Q
from oracle_vector_search_spark.operators.topk import top_k_per_group
from oracle_vector_search_spark.queries import register

_CODE_COLS = [f"code{s}" for s in range(Q.PQ_SUBSPACES)]


def _duck_coded_cte(source_sql: str) -> str:
    code_exprs = ", ".join(
        f"{Q.duck_code_sql('e', s)} AS code{s}"
        for s in range(Q.PQ_SUBSPACES)
    )
    recon = Q.duck_recon_sql(_CODE_COLS)
    return f"""
v AS ({source_sql}),
coded AS (SELECT vec_id, e, {code_exprs} FROM v),
recon AS (SELECT vec_id, e, {', '.join(_CODE_COLS)}, {recon} AS recon
          FROM coded)"""


_DUCK_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "pq_codes_fidelity",
    f"""
WITH {_duck_coded_cte("SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings")}
SELECT vec_id, {', '.join(_CODE_COLS)},
       {_DUCK_COS.format(a='e', b='recon')} AS recon_cosine
FROM recon
""",
)
def pq_codes_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode every vector (8 subspaces × 16 centroids → 8 codes;
    64 doubles become 8 bytes at rest) and report the reconstruction
    cosine per vector — the compression-loss audit. Pure per-row
    projection; at 100 TB the codes table IS the index payload."""
    emb = load_table(spark, sf_dir, "embeddings")
    coded = Q.pq_encode(emb)
    return coded.select(
        "vec_id",
        *_CODE_COLS,
        F.round(cosine_similarity("e", "recon"), 6).alias("recon_cosine"),
    )


@register(
    "pq_ann_topk",
    f"""
WITH {_duck_coded_cte("SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings")},
q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         {_DUCK_COS.format(a='q.qv', b='r.recon')} AS score
  FROM recon r CROSS JOIN q
)
SELECT query_id, neighbor_id, score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 5
""",
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search: exact query vectors scored against the index
    RECONSTRUCTIONS (asymmetric distance computation) — the same
    broadcast-query/stream-index plan as exact kNN with the index 64x
    smaller. Recall vs exact kNN is property-tested; the scoring
    itself is oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    recon = Q.pq_encode(emb).select(
        F.col("vec_id").alias("neighbor_id"), "recon"
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    scored = recon.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("qv", "recon"), 6).alias("score"),
    )
    return top_k_per_group(
        scored, ["query_id"], 5, F.desc("score"), F.asc("neighbor_id")
    )


@register(
    "pq_refined_topk",
    f"""
WITH {_duck_coded_cte("SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings")},
q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10),
pq_scored AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         {_DUCK_COS.format(a='q.qv', b='r.recon')} AS pq_score
  FROM recon r CROSS JOIN q
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY pq_score DESC, neighbor_id) AS rn
    FROM pq_scored
  ) WHERE rn <= 20
),
refined AS (
  SELECT c.query_id, c.neighbor_id,
         {_DUCK_COS.format(a='q.qv', b='d.e')} AS score
  FROM cand c
  JOIN v d ON d.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
)
SELECT query_id, neighbor_id, score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM refined)
WHERE rn <= 5
""",
)
def pq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the standard large-index serving shape:
    stage 1 scores the 64x-smaller PQ reconstructions and keeps 20
    candidates per query; stage 2 rescores ONLY those candidates
    against the exact vectors (a 20-rows-per-query semi-join — the
    full-precision index is touched for 20/N of its rows) and emits
    the exact-scored top-5. At 100 TB stage 1 reads the codes table,
    stage 2 does point lookups into the full vectors — this query is
    why the codes table exists.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    recon = Q.pq_encode(emb).select(
        F.col("vec_id").alias("neighbor_id"), "recon"
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    cand = top_k_per_group(
        recon.join(F.broadcast(q)).select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("qv", "recon"), 6).alias("pq_score"),
        ),
        ["query_id"], 20, F.desc("pq_score"), F.asc("neighbor_id"),
    ).select("query_id", "neighbor_id")
    exact_vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ev"),
    )
    refined = (
        cand.join(exact_vecs, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("qv", "ev"), 6).alias("score"),
        )
    )
    return top_k_per_group(
        refined, ["query_id"], 5, F.desc("score"), F.asc("neighbor_id")
    )


# ---------------------------------------------------------------- IVF-PQ

_NPROBE = 2
_DIM = 64
_STRIDE = 31  # operators.ann.SEED_STRIDE — frozen coarse codebook


def _duck_ivfpq_cte() -> str:
    """Shared CTE chain: coarse-assign → residual → PQ(residual) →
    approx reconstruction (seed + residual recon)."""
    code_exprs = ", ".join(
        f"{Q.duck_code_sql('r', s)} AS code{s}"
        for s in range(Q.PQ_SUBSPACES)
    )
    recon = Q.duck_recon_sql(_CODE_COLS)
    cos = _DUCK_COS
    return f"""
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
seeds AS (SELECT vec_id AS seed_id, e AS sv FROM v
          WHERE vec_id % {_STRIDE} = 0),
asg AS (
  SELECT vec_id, seed_id AS cluster_id, sv FROM (
    SELECT v.vec_id, s.seed_id, s.sv,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {cos.format(a='v.e', b='s.sv')} DESC, s.seed_id
           ) AS rn
    FROM v CROSS JOIN seeds s) z
  WHERE rn = 1
),
res AS (
  SELECT a.vec_id, a.cluster_id, a.sv,
         list_transform(generate_series(1, {_DIM}),
                        i -> v.e[i] - a.sv[i]) AS r
  FROM asg a JOIN v USING (vec_id)
),
coded AS (SELECT vec_id, cluster_id, sv, r, {code_exprs} FROM res),
reconr AS (SELECT vec_id, cluster_id, sv, r, {recon} AS rr FROM coded),
approx AS (
  SELECT vec_id, cluster_id,
         list_transform(generate_series(1, {_DIM}),
                        i -> sv[i] + rr[i]) AS av
  FROM reconr
)"""


def _spark_ivfpq_approx(spark: SparkSession, sf_dir: str):
    """(vec_id, cluster_id, av) — the Spark twin of the oracle CTEs.

    Materialized once per (session, sf_dir) as a cluster-partitioned
    parquet table: the codes/reconstruction table IS the at-rest index
    (build-once nightly artifact); searches read it back and prune to
    the probed clusters' partitions."""
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        out = _build_ivfpq_approx(spark, sf_dir)
        path = scratch_dir("ovs_ivfpq_")
        write_artifact(
            out.repartition("cluster_id"), path, partition_by=["cluster_id"]
        )
        return path

    path = at_rest(spark, (_spark_ivfpq_approx, sf_dir), build)
    return read_artifact(spark, path)


def _build_ivfpq_approx(spark: SparkSession, sf_dir: str):
    from oracle_vector_search_spark.functions.vector import as_double_array
    from oracle_vector_search_spark.operators.ann import (
        SEED_STRIDE,
        ivf_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    seeds = v.filter(F.col("vec_id") % SEED_STRIDE == 0).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("sv")
    )
    asg = ivf_assign(emb)
    res = (
        v.join(asg, "vec_id")
        .join(F.broadcast(seeds), "cluster_id")
        .select(
            "vec_id",
            "cluster_id",
            "sv",
            F.zip_with("v", "sv", lambda x, y: x - y).alias("r"),
        )
    )
    coded = Q.pq_encode(res, vec_col="r").select(
        "vec_id", F.col("e").alias("r_used"), "recon"
    )
    return coded.join(
        res.select("vec_id", "cluster_id", "sv"), "vec_id"
    ).select(
        "vec_id",
        "cluster_id",
        F.zip_with("sv", "recon", lambda x, y: x + y).alias("av"),
    )


@register(
    "ivfpq_ann_topk",
    f"""
WITH {_duck_ivfpq_cte()},
q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10),
probes AS (
  SELECT query_id, seed_id AS cluster_id FROM (
    SELECT q.query_id, s.seed_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_DUCK_COS.format(a='q.qv', b='s.sv')} DESC,
                      s.seed_id
           ) AS rn
    FROM q CROSS JOIN seeds s) z
  WHERE rn <= {_NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_DUCK_COS.format(a='q.qv', b='a.av')} AS score
  FROM probes p
  JOIN approx a ON a.cluster_id = p.cluster_id
  JOIN q ON q.query_id = p.query_id
)
SELECT query_id, neighbor_id, score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 5
""",
)
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual search — the FAISS-workhorse composition of the
    two existing tiers: coarse-quantize to the frozen O(√N) seed set
    (operators.ann.ivf_assign), PQ-encode the RESIDUAL vector against
    the hash-derived codebooks (operators.quantize), and serve queries
    by probing the top-{_NPROBE} coarse clusters and ADC-scoring
    ``seed + recon(residual)``.

    Residual coding is what makes PQ codes usable under IVF: within a
    cluster the residuals are centered near zero, so the same codebook
    budget spends its precision on the local neighborhood (audited by
    ``ivfpq_residual_fidelity``). At rest the table is
    (cluster_id, codes): cluster-partition-pruned at query time, with
    8 code bytes per vector — the 100 TB serving layout. Entirely
    oracle-checked because every stage (assignment argmax, codebooks,
    fold order, rounding) is engine-portable by construction."""
    from oracle_vector_search_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )
    from oracle_vector_search_spark.operators.ann import SEED_STRIDE

    emb = load_table(spark, sf_dir, "embeddings")
    approx = _spark_ivfpq_approx(spark, sf_dir)
    v = emb.select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    seeds = v.filter(F.col("vec_id") % SEED_STRIDE == 0).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("sv")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("qv"),
    )
    probes = top_k_per_group(
        q.crossJoin(F.broadcast(seeds)).select(
            "query_id",
            "cluster_id",
            F.round(cosine_similarity("qv", "sv"), 6).alias("probe_score"),
        ),
        ["query_id"], _NPROBE, F.desc("probe_score"), F.asc("cluster_id"),
    ).select("query_id", "cluster_id")
    scored = (
        probes.join(approx, "cluster_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity("qv", "av"), 6).alias("score"),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], 5, F.desc("score"), F.asc("neighbor_id")
    )


@register(
    "ivfpq_residual_fidelity",
    f"""
WITH {_duck_ivfpq_cte()},
plain AS (
  SELECT vec_id,
         {', '.join(f"{Q.duck_code_sql('e', s)} AS pcode{s}"
                    for s in range(Q.PQ_SUBSPACES))}
  FROM v
),
plain_recon AS (
  SELECT vec_id,
         {Q.duck_recon_sql([f"pcode{s}" for s in range(Q.PQ_SUBSPACES)])}
           AS pr
  FROM plain
),
fid AS (
  SELECT a.cluster_id,
         CAST(round({_DUCK_COS.format(a='v.e', b='a.av')} * 1000000.0)
              AS BIGINT) AS ivfpq_micros,
         CAST(round({_DUCK_COS.format(a='v.e', b='p.pr')} * 1000000.0)
              AS BIGINT) AS pq_micros
  FROM approx a
  JOIN v USING (vec_id)
  JOIN plain_recon p USING (vec_id)
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(ivfpq_micros) AS BIGINT) AS sum_ivfpq_recon_micros,
       CAST(sum(pq_micros) AS BIGINT) AS sum_pq_recon_micros
FROM fid
GROUP BY cluster_id
""",
)
def ivfpq_residual_fidelity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Why residual coding: per coarse cluster, the summed
    reconstruction cosine of IVF-PQ (seed + coded residual) vs plain
    PQ on the raw vector, as exact integer micro-units (rounded
    per-row BEFORE summing, so the aggregate is order-independent).
    With the hash-derived (untrained) codebooks the residual tier wins
    on average but modestly (measured ~0.248 vs ~0.237 mean recon
    cosine at sf0.01) — trained per-cluster codebooks would widen the
    gap; the point of the query is that the measurement itself is
    engine-exact and re-runs on every corpus."""
    from oracle_vector_search_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    approx = _spark_ivfpq_approx(spark, sf_dir)
    v = emb.select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    plain = Q.pq_encode(emb).select(
        "vec_id", F.col("recon").alias("pr")
    )
    both = (
        approx.join(v, "vec_id")
        .join(plain, "vec_id")
        .select(
            "cluster_id",
            # mirror the oracle exactly: round to 6 FIRST (the
            # _DUCK_COS template includes it), then scale to micros
            F.round(F.round(cosine_similarity("v", "av"), 6) * 1000000.0)
            .cast("long")
            .alias("ivfpq_micros"),
            F.round(F.round(cosine_similarity("v", "pr"), 6) * 1000000.0)
            .cast("long")
            .alias("pq_micros"),
        )
    )
    return both.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("ivfpq_micros").alias("sum_ivfpq_recon_micros"),
        F.sum("pq_micros").alias("sum_pq_recon_micros"),
    )
