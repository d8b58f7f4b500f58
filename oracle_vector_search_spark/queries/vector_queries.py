"""Flagship vector queries — the reference's core semantics as Spark ops.

Covers SURVEY.md §2.6 A2 (top-k by similarity), §2.7 M1/M2/M3 (dot,
normalize, float policy), §2.5 J2 (result⋈metadata join), §2.3 T13 (rank).
Reference behavior: L2-normalize + IndexFlatIP top-5 cosine
(/root/reference/build_faiss_db.py:216-218, /root/reference/app.py:139-151).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.io import (
    at_rest,
    load_table,
    read_artifact,
    write_artifact,
)
from oracle_vector_search_spark.functions.vector import (
    as_double_array,
    cosine_similarity,
    dot,
    l2_norm,
    l2_normalize,
)
from oracle_vector_search_spark.operators.knn import (
    knn_exact,
    knn_exact_gemm,
    knn_join_metadata,
    similarity_join,
)
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register

N_QUERIES = 10  # first N vec_ids serve as the query set (FIXTURES.md)
K = 5  # the reference's fixed k (app.py:142)

_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES}
), d AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
  FROM embeddings
), scored AS (
  SELECT q.query_id, d.neighbor_id,
         round(
           list_dot_product(q.v, d.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM d CROSS JOIN q
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= {K}
"""


@register("knn_exact_cosine_top5", _KNN_ORACLE)
def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5, expression tier (broadcast cross join + window)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn_exact(emb, queries, k=K)


@register("knn_exact_cosine_top5_gemm", _KNN_ORACLE)
def q_knn_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via the BLAS fast path (mapInPandas GEMM + merge)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn_exact_gemm(emb, queries, k=K)


@register(
    "knn_with_metadata",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES}
), d AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
  FROM embeddings
), scored AS (
  SELECT q.query_id, d.neighbor_id,
         round(
           list_dot_product(q.v, d.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM d CROSS JOIN q
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT r.query_id, r.neighbor_id, r.score, r.rank, e.label AS neighbor_label
FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
WHERE r.rank <= {K}
""",
)
def q_knn_with_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k decorated with index metadata — the reference's positional
    metadata lookup (app.py:149-153) as an explicit broadcast join (J2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    topk = knn_exact(emb, queries, k=K)
    meta = emb.select("vec_id", F.col("label").alias("neighbor_label"))
    return knn_join_metadata(topk, meta).select(
        "query_id", "neighbor_id", "score", "rank", "neighbor_label"
    )


@register(
    "vector_normalize_stats",
    """
SELECT vec_id,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
         AS norm,
       round(list_dot_product(
           [x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            for x in embedding::DOUBLE[]],
           [x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            for x in embedding::DOUBLE[]]), 6) AS unit_dot
FROM embeddings
WHERE vec_id < 100
""",
)
def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize invariant: ‖v‖ reported, and v̂·v̂ = 1 (M2/T10)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = as_double_array("embedding")
    unit = l2_normalize(v)
    return emb.select(
        "vec_id",
        F.round(l2_norm(v), 6).alias("norm"),
        F.round(dot(unit, unit), 6).alias("unit_dot"),
    )


@register(
    "similarity_self_join",
    """
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS left_id, b.vec_id AS right_id,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS score
FROM d a JOIN d b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
""",
)
def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine similarity self-join (threshold 0.3) on a 1/10th
    sample — the quadratic oracle baseline for the LSH-pruned version."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 == 0
    )
    return similarity_join(emb, emb, threshold=0.3)


@register(
    "knn_label_purity",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES}
), d AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label,
         embedding::DOUBLE[] AS v
  FROM embeddings
), scored AS (
  SELECT q.query_id, q.query_label, d.neighbor_id, d.neighbor_label,
         round(list_dot_product(q.v, d.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM d CROSS JOIN q
  WHERE d.neighbor_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id,
       CAST(sum(CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_same_label,
       round(avg(score), 6) AS avg_score
FROM ranked WHERE rn <= {K}
GROUP BY query_id
""",
)
def q_knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query label purity of the top-5 (self excluded) — an
    aggregate consumer of the kNN operator (classification-style eval,
    the reference's class-decode path J3/T12 generalized)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        as_double_array("embedding").alias("q_vec"),
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        as_double_array("embedding").alias("v_vec"),
    )
    scored = (
        v.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine_similarity("q_vec", "v_vec"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("neighbor_label") == F.col("query_label"), 1
                ).otherwise(0)
            ).alias("n_same_label"),
            F.round(F.avg("score"), 6).alias("avg_score"),
        )
    )


@register(
    "embedding_dim_stats",
    """
WITH d AS (
  SELECT vec_id,
         unnest([{'dim': i - 1,
                  'q': CAST(floor(embedding[i] * 1000000.0::DOUBLE)
                            AS BIGINT)}
                 FOR i IN range(1, len(embedding) + 1)]) AS u
  FROM (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings)
),
m AS (
  SELECT u.dim AS dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(u.q) AS BIGINT) AS s1,
         CAST(sum(u.q * u.q) AS BIGINT) AS s2
  FROM d GROUP BY u.dim
)
SELECT dim, n,
       round(CAST(s1 AS DOUBLE) / n / 1000000.0, 6) AS mean,
       round(sqrt(greatest(
         CAST(s2 AS DOUBLE) / n
         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
         0.0)) / 1000000.0, 6) AS std
FROM m
ORDER BY dim
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding telemetry (mean / std) — the drift audit
    an embedding pipeline runs when the model or corpus changes (a
    collapsed or shifted dimension shows up immediately). Moments
    accumulate as EXACT integers (floor(x·1e6), the engine's standard
    determinism trick), so the shuffle is order-independent and the one
    final double formula hash-matches across engines. One posexplode +
    one partial-agg shuffle on (dim); 64 output rows regardless of
    corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                "transform(cast(embedding as array<double>), "
                "x -> cast(floor(x * 1000000.0D) as bigint))"
            )
        ).alias("dim", "q"),
    )
    m = d.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    n = F.col("n")
    return m.select(
        "dim",
        "n",
        F.round(s1d / n / 1000000.0, 6).alias("mean"),
        F.round(
            F.sqrt(
                F.greatest(
                    s2d / n - (s1d / n) * (s1d / n), F.lit(0.0)
                )
            )
            / 1000000.0,
            6,
        ).alias("std"),
    ).orderBy("dim")


@register(
    "embedding_drift_audit",
    """
WITH halves AS (
  SELECT vec_id, vec_id % 2 = 0 AS is_base, embedding::DOUBLE[] AS v
  FROM embeddings
),
comps AS (
  SELECT is_base, generate_subscripts(v, 1) AS dim,
         CAST(floor(unnest(v) * 1000000) AS BIGINT) AS micro
  FROM halves
),
stats AS (
  SELECT dim,
         CAST(sum(CASE WHEN is_base THEN micro ELSE 0 END) AS BIGINT)
           AS base_sum,
         CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
           AS base_n,
         CAST(sum(CASE WHEN is_base THEN 0 ELSE micro END) AS BIGINT)
           AS cur_sum,
         CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
  FROM comps GROUP BY dim
),
drift AS (
  SELECT CAST(dim AS INTEGER) AS dim,
         round(base_sum * 1.0 / base_n / 1000000, 6) AS base_mean,
         round(cur_sum * 1.0 / cur_n / 1000000, 6) AS cur_mean,
         round(abs(cur_sum * 1.0 / cur_n - base_sum * 1.0 / base_n)
               / 1000000, 6) AS abs_shift
  FROM stats
)
SELECT dim, base_mean, cur_mean, abs_shift, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY abs_shift DESC, dim) AS rn
      FROM drift)
WHERE rn <= 10
""",
)
def embedding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift between two index snapshots (vec_id
    parity stands in for yesterday/today): per-dimension means from
    EXACT integer micro-unit sums (float components floored to 1e-6
    units before summation, so partial-agg order can never move a
    mean), ranked by absolute shift — the nightly audit that catches a
    silently retrained or corrupted embedder before it poisons
    retrieval. Top-10 drifting dimensions with engine-exact shift
    values.

    Shape at 100 TB: posexplode rides the scan, one groupBy(dim) with
    map-side partial aggregation — 64 output rows regardless of corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2 == 0).alias("is_base"),
        F.posexplode(as_double_array("embedding")).alias("dim0", "comp"),
    )
    comps = emb.select(
        "is_base",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("comp") * 1000000).cast("long").alias("micro"),
    )
    stats = comps.groupBy("dim").agg(
        F.sum(F.when(F.col("is_base"), F.col("micro")).otherwise(0)).alias(
            "base_sum"
        ),
        F.sum(F.col("is_base").cast("long")).alias("base_n"),
        F.sum(
            F.when(~F.col("is_base"), F.col("micro")).otherwise(0)
        ).alias("cur_sum"),
        F.sum((~F.col("is_base")).cast("long")).alias("cur_n"),
    )
    base_mean = F.col("base_sum") * 1.0 / F.col("base_n")
    cur_mean = F.col("cur_sum") * 1.0 / F.col("cur_n")
    drift = stats.select(
        F.col("dim").cast("int").alias("dim"),
        F.round(base_mean / 1000000, 6).alias("base_mean"),
        F.round(cur_mean / 1000000, 6).alias("cur_mean"),
        F.round(F.abs(cur_mean - base_mean) / 1000000, 6).alias(
            "abs_shift"
        ),
    )
    from oracle_vector_search_spark.operators.topk import global_topn_ranked

    return global_topn_ranked(
        drift, 10, F.desc("abs_shift"), F.asc("dim")
    ).select("dim", "base_mean", "cur_mean", "abs_shift", "rank")


# ------------------------------------ int8-quantized exact search (r5 #5)
REFINE = 50  # stage-1 candidates per query before float rescore

# At-rest int8 codes table, written once per corpus (1 byte/dim
# payload), scanned by every int8-GEMM query — the 100 TB storage shape.
def _int8_codes_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oracle_vector_search_spark.operators.knn import quantize_unit_int8
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_int8_codes_")
        # Inherit the SOURCE's partition grain instead of a pinned
        # repartition(32): parquet splits grow with bytes, so at 100 TB
        # the codes table lands as thousands of files while a 2k-row
        # bench corpus stays one file. The pinned 32 made every warm
        # stage-1 scan pay 32 Arrow task round-trips on a table 100×
        # smaller than one task deserves — measured 1.72 s → 0.80 s
        # warm-median at sf0.1 (PERF.md r11; the r10 "regression" on
        # this query was this overhead breathing with host load).
        emb = load_table(spark, sf_dir, "embeddings")
        write_artifact(quantize_unit_int8(emb), path)
        return path

    path = at_rest(spark, (_int8_codes_table, sf_dir), build)
    return read_artifact(spark, path)


_INT8_CODES_CTE = f"""
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), nz AS (
  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v
  WHERE list_dot_product(e, e) > 0
), c AS (
  SELECT vec_id, e,
         [CAST(floor(x / nrm * 127 + 0.5) AS INTEGER) FOR x IN e] AS cv
  FROM nz
), q AS (
  SELECT vec_id AS query_id, e AS qe,
         [CAST(floor(x / nrm * 127 + 0.5) AS INTEGER) FOR x IN e] AS cq
  FROM nz WHERE vec_id < {N_QUERIES}
), st1 AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_dot_product(c.cv::DOUBLE[], q.cq::DOUBLE[]) AS BIGINT)
           AS iscore
  FROM c CROSS JOIN q
)"""

_INT8_KNN_ORACLE = f"""
WITH {_INT8_CODES_CTE},
cand AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY iscore DESC, neighbor_id) AS rr
    FROM st1
  ) WHERE rr <= {REFINE}
),
rescored AS (
  SELECT cd.query_id, cd.neighbor_id,
         round(list_dot_product(q.qe, d.e)
               / (sqrt(list_dot_product(q.qe, q.qe))
                  * sqrt(list_dot_product(d.e, d.e))), 6) AS score
  FROM cand cd
  JOIN q ON q.query_id = cd.query_id
  JOIN v d ON d.vec_id = cd.neighbor_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id)
              AS INTEGER) AS rank
  FROM rescored
) WHERE rank <= {K}
"""


@register("knn_exact_gemm_int8", _INT8_KNN_ORACLE)
def q_knn_gemm_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 served from the AT-REST int8 codes table
    (1 byte/dim — the memory-bandwidth lever at 100 TB): integer GEMM
    over packed codes selects top-50 candidates per query, a float
    rescore of only those candidates restores exact scores. The oracle
    replays BOTH stages (integer candidate ranking is bit-portable by
    construction), so this is hash-checked as an algorithm, not just
    as an answer."""
    from oracle_vector_search_spark.operators.knn import knn_exact_gemm_int8

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn_exact_gemm_int8(
        emb, queries, k=K, refine=REFINE,
        codes=_int8_codes_table(spark, sf_dir),
    )


@register(
    "sq8_recall_refine_audit",
    f"""
WITH {_INT8_CODES_CTE},
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, d.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qe, d.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(d.e, d.e))), 6) DESC,
                   d.vec_id) AS rr
    FROM v d CROSS JOIN q
  ) WHERE rr <= {K}
),
stage1 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY iscore DESC, neighbor_id) AS rr
    FROM st1
  ) WHERE rr <= {K}
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY iscore DESC, neighbor_id) AS rr
    FROM st1
  ) WHERE rr <= {REFINE}
),
refined AS (
  SELECT query_id, neighbor_id FROM (
    SELECT cd.query_id, cd.neighbor_id,
           row_number() OVER (
             PARTITION BY cd.query_id
             ORDER BY round(list_dot_product(q.qe, d.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(d.e, d.e))), 6) DESC,
                   cd.neighbor_id) AS rr
    FROM cand cd
    JOIN q ON q.query_id = cd.query_id
    JOIN v d ON d.vec_id = cd.neighbor_id
  ) WHERE rr <= {K}
)
SELECT e.query_id,
       CAST((SELECT count(*) FROM stage1 s
             WHERE s.query_id = e.query_id
               AND s.neighbor_id IN (SELECT neighbor_id FROM exact x
                                     WHERE x.query_id = e.query_id))
            AS BIGINT) AS stage1_hits_at_5,
       CAST((SELECT count(*) FROM refined r
             WHERE r.query_id = e.query_id
               AND r.neighbor_id IN (SELECT neighbor_id FROM exact x
                                     WHERE x.query_id = e.query_id))
            AS BIGINT) AS refined_hits_at_5
FROM (SELECT DISTINCT query_id FROM exact) e
ORDER BY e.query_id
""",
)
def sq8_recall_refine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the int8 tier (the audit you'd run before
    switching the scan to quantized storage): per query, how many of
    the exact float top-5 survive (a) ranking by raw int8 integer
    scores alone and (b) the full retrieve-50-then-rescore pipeline.
    (b) at 5/5 everywhere is the evidence that the int8 fast path is
    EXACT in practice; (a) quantifies how much the refine stage is
    doing. Stage-1 integer scoring here runs as Catalyst array
    arithmetic (exact integers), so the audit itself is engine-exact
    and fully oracle-checked."""
    from oracle_vector_search_spark.operators.knn import (
        knn_exact,
        knn_exact_gemm_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # OPTIMIZATION r15 (guide §2.4/§5): the exact ground truth feeds
    # both hit joins and the qids projection — unpinned, the corpus
    # kNN crossJoin + window replayed three times per run (measured
    # 128 ops / 13 exchanges). K×|queries| rows: pin once.
    exact = pin(knn_exact(emb, queries, k=K).select("query_id", "neighbor_id"))

    # stage-1-only top-5: integer code dot products in pure Catalyst
    sq = lambda col: F.aggregate(
        F.zip_with(col, col, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    codes_expr = (
        "transform(e, x -> cast(floor(x / sqrt(__sq) * 127 + 0.5D)"
        " as bigint))"
    )
    base = emb.select(
        "vec_id", as_double_array("embedding").alias("e")
    ).withColumn("__sq", sq(F.col("e"))).filter(F.col("__sq") > 0)
    coded = base.select("vec_id", F.expr(codes_expr).alias("cv"))
    qcoded = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.expr(codes_expr).alias("cq")
    )
    iscore = F.aggregate(
        F.zip_with("cv", "cq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    st1 = (
        coded.join(F.broadcast(qcoded))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            iscore.alias("iscore"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("iscore"), F.asc("neighbor_id")
    )
    stage1 = (
        st1.withColumn("rr", F.row_number().over(w))
        .filter(F.col("rr") <= K)
        .select("query_id", "neighbor_id")
    )
    refined = knn_exact_gemm_int8(
        emb, queries, k=K, refine=REFINE,
        codes=_int8_codes_table(spark, sf_dir),
    ).select("query_id", "neighbor_id")

    def hits(candidate: DataFrame, name: str) -> DataFrame:
        return (
            exact.join(candidate, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias(name))
        )

    s1 = hits(stage1, "stage1_hits_at_5")
    rf = hits(refined, "refined_hits_at_5")
    qids = exact.select("query_id").distinct()
    return (
        qids.join(s1, "query_id", "left")
        .join(rf, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("stage1_hits_at_5", F.lit(0)).alias(
                "stage1_hits_at_5"
            ),
            F.coalesce("refined_hits_at_5", F.lit(0)).alias(
                "refined_hits_at_5"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------- retrieval evaluation

_MAP_K = 20  # evaluation depth for average precision


@register(
    "retrieval_map_audit",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {{n_queries}}
), d AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label,
         embedding::DOUBLE[] AS v
  FROM embeddings
), rel AS (
  SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_relevant
  FROM q JOIN d ON d.neighbor_label = q.query_label
              AND d.neighbor_id <> q.query_id
  GROUP BY q.query_id
), scored AS (
  SELECT q.query_id, q.query_label, d.neighbor_id, d.neighbor_label,
         round(list_dot_product(q.v, d.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM d CROSS JOIN q
  WHERE d.neighbor_id <> q.query_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT)
    AS rnk
  FROM scored
), hits AS (
  SELECT query_id,
         rnk,
         CAST(CASE WHEN neighbor_label = query_label
                   THEN 1 ELSE 0 END AS BIGINT) AS hit,
         CAST(sum(CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END)
              OVER (PARTITION BY query_id ORDER BY rnk) AS BIGINT)
           AS cum_hits
  FROM ranked WHERE rnk <= {_MAP_K}
), ap_terms AS (
  SELECT query_id,
         CAST(sum(CASE WHEN hit = 1
                       THEN (cum_hits * 1000000000) // rnk
                       ELSE 0 END) AS BIGINT) AS ap_nano_sum,
         CAST(sum(hit) AS BIGINT) AS hits_at_k
  FROM hits GROUP BY query_id
)
SELECT a.query_id, a.hits_at_k, r.n_relevant,
       round(a.ap_nano_sum * 1.0
             / (1000000000.0 * least(r.n_relevant, {_MAP_K})), 6)
         AS avg_precision
FROM ap_terms a JOIN rel r USING (query_id)
ORDER BY query_id
""".replace("{n_queries}", str(N_QUERIES)),
)
def retrieval_map_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation for the retrieval stack: average precision at
    depth 20 per query, with label agreement as relevance (the
    reference's class labels as ground truth). AP's precision@hit
    terms are integerized to nano-units — floor((cum_hits·10⁹)/rank)
    — so the per-query sum is order-independent and engine-exact; the
    single final division is rounded to 6.

    Scale: the ranking reuses the exact-kNN plan (broadcast queries,
    map-side scan, per-query WindowGroupLimit); evaluation adds one
    metadata-sized cumulative window over Q×20 rows."""
    from pyspark.sql import Window

    from oracle_vector_search_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        as_double_array("embedding").alias("qv"),
    )
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        as_double_array("embedding").alias("dv"),
    )
    rel = (
        d.join(
            F.broadcast(q),
            (F.col("neighbor_label") == F.col("query_label"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_relevant"))
    )
    scored = (
        d.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine_similarity("qv", "dv"), 6).alias("score"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    ranked = (
        scored.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= _MAP_K)
        .withColumn(
            "hit",
            F.when(
                F.col("neighbor_label") == F.col("query_label"), 1
            )
            .otherwise(0)
            .cast("long"),
        )
    )
    wc = (
        Window.partitionBy("query_id")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hits = ranked.withColumn("cum_hits", F.sum("hit").over(wc))
    ap = hits.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("hit") == 1,
                F.expr("(cum_hits * 1000000000) div rnk"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("ap_nano_sum"),
        F.sum("hit").cast("long").alias("hits_at_k"),
    )
    return (
        ap.join(rel, "query_id")
        .select(
            "query_id",
            "hits_at_k",
            "n_relevant",
            F.round(
                F.col("ap_nano_sum")
                * 1.0
                / (
                    1000000000.0
                    * F.least(F.col("n_relevant"), F.lit(_MAP_K))
                ),
                6,
            ).alias("avg_precision"),
        )
        .orderBy("query_id")
    )


@register(
    "knn_classifier_confusion",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS true_label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES * 5}
), d AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label,
         embedding::DOUBLE[] AS v
  FROM embeddings
), scored AS (
  SELECT q.query_id, q.true_label, d.neighbor_id, d.neighbor_label,
         round(list_dot_product(q.v, d.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM d CROSS JOIN q
  WHERE d.neighbor_id <> q.query_id
), topk AS (
  SELECT query_id, true_label, neighbor_label
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
        FROM scored)
  WHERE rn <= {K}
), votes AS (
  SELECT query_id, true_label, neighbor_label AS predicted,
         count(*) AS n_votes
  FROM topk GROUP BY query_id, true_label, neighbor_label
), decided AS (
  SELECT query_id, true_label, predicted
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY n_votes DESC, predicted) AS rn
        FROM votes)
  WHERE rn = 1
)
SELECT true_label, predicted,
       CAST(count(*) AS BIGINT) AS n
FROM decided
GROUP BY true_label, predicted
ORDER BY true_label, predicted
""",
)
def knn_classifier_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """kNN majority-vote classification with its confusion matrix —
    the reference's class-decode path (T12/J3) evaluated end-to-end:
    predict each query's label by top-5 neighbor majority (ties →
    smallest label id), then count (true, predicted) cells. The eval
    every retrieval-as-classifier deployment reports.

    Scale: same broadcast-query exact-kNN plan; voting and the matrix
    are two metadata-sized aggregations."""
    from pyspark.sql import Window

    from oracle_vector_search_spark.operators.knn import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES * 5)
    # fetch k+1 then drop the self-match (the oracle's
    # neighbor_id <> query_id), renumbering to keep exactly k votes
    wq = Window.partitionBy("query_id").orderBy("rank")
    topk = (
        knn_exact(emb, q, k=K + 1)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rn2", F.row_number().over(wq))
        .filter(F.col("rn2") <= K)
    )
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .join(F.broadcast(truth), "query_id")
        .groupBy("query_id", "true_label", "neighbor_label")
        .agg(F.count("*").alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("neighbor_label")
    )
    decided = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("predicted"),
        )
    )
    return (
        decided.groupBy("true_label", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("true_label", "predicted")
    )


@register(
    "knn_radius_search",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES}
), d AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
  FROM embeddings
)
SELECT q.query_id, d.neighbor_id,
       round(
         list_dot_product(q.v, d.v)
         / (sqrt(list_dot_product(q.v, q.v))
            * sqrt(list_dot_product(d.v, d.v))), 6) AS score
FROM d CROSS JOIN q
WHERE round(
        list_dot_product(q.v, d.v)
        / (sqrt(list_dot_product(q.v, q.v))
           * sqrt(list_dot_product(d.v, d.v))), 6) >= 0.3
""",
)
def q_knn_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search (FAISS ``range_search`` counterpart): all neighbors
    within cosine ≥ 0.3 of each query — top-k's sibling where the
    result set is similarity-bounded instead of count-bounded. Same
    broadcast/map-only plan as `knn_exact`, no window; the threshold
    compares the ROUNDED score so the cut is engine-portable."""
    from oracle_vector_search_spark.operators.knn import radius_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return radius_search(emb, queries, threshold=0.3)


_NDCG_K = 20  # evaluation depth for discounted cumulative gain


@register(
    "retrieval_ndcg_audit",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES}
), d AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label,
         embedding::DOUBLE[] AS v
  FROM embeddings
), rel AS (
  SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_relevant
  FROM q JOIN d ON d.neighbor_label = q.query_label
              AND d.neighbor_id <> q.query_id
  GROUP BY q.query_id
), scored AS (
  SELECT q.query_id, q.query_label, d.neighbor_id, d.neighbor_label,
         round(list_dot_product(q.v, d.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM d CROSS JOIN q
  WHERE d.neighbor_id <> q.query_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT)
    AS rnk
  FROM scored
), dcg AS (
  SELECT query_id,
         CAST(sum(CASE WHEN neighbor_label = query_label
                       THEN CAST(floor(1000000000.0 / log2(rnk + 1))
                                 AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS dcg_nano,
         CAST(sum(CASE WHEN neighbor_label = query_label
                       THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k
  FROM ranked WHERE rnk <= {_NDCG_K}
  GROUP BY query_id
)
SELECT d.query_id, d.hits_at_k, r.n_relevant,
       round(d.dcg_nano * 1.0 /
             CAST(list_sum(
               [CAST(floor(1000000000.0 / log2(i + 1)) AS BIGINT)
                for i in range(1, least(r.n_relevant, {_NDCG_K}) + 1)])
             AS BIGINT), 6) AS ndcg_at_k
FROM dcg d JOIN rel r USING (query_id)
WHERE r.n_relevant > 0
ORDER BY d.query_id
""",
)
def retrieval_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@20 per query, label agreement as binary relevance — the
    rank-position-sensitive companion to ``retrieval_map_audit``. Each
    rank's discount term is integerized to nano-units BEFORE summing
    (``floor(1e9 / log2(rank+1))`` — identical IEEE double in both
    engines, floor-stable because log2(rank+1) is either an exact
    integer or irrational), so DCG and ideal-DCG accumulate as exact
    integers in any order; the single final division rounds to 6.
    Ideal DCG is a closed-form sum over the first min(n_relevant, k)
    ranks — no second ranking pass.

    Scale: same broadcast-queries exact-kNN plan as the mAP audit plus
    one metadata-sized aggregation over Q x 20 rows."""
    from pyspark.sql import Window

    from oracle_vector_search_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        as_double_array("embedding").alias("qv"),
    )
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        as_double_array("embedding").alias("dv"),
    )
    rel = (
        d.join(
            F.broadcast(q),
            (F.col("neighbor_label") == F.col("query_label"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_relevant"))
    )
    scored = (
        d.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine_similarity("qv", "dv"), 6).alias("score"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    dcg = (
        scored.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= _NDCG_K)
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("neighbor_label") == F.col("query_label"),
                    F.expr(
                        "cast(floor(1000000000.0D / log2(rnk + 1)) "
                        "as bigint)"
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("dcg_nano"),
            F.sum(
                F.when(
                    F.col("neighbor_label") == F.col("query_label"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("hits_at_k"),
        )
    )
    idcg = F.expr(
        f"aggregate(sequence(1, least(n_relevant, {_NDCG_K})), "
        f"cast(0 as bigint), "
        f"(a, i) -> a + cast(floor(1000000000.0D / log2(i + 1)) "
        f"as bigint))"
    )
    return (
        dcg.join(rel, "query_id")
        .filter(F.col("n_relevant") > 0)
        .select(
            "query_id",
            "hits_at_k",
            "n_relevant",
            F.round(F.col("dcg_nano") * 1.0 / idcg, 6).alias("ndcg_at_k"),
        )
        .orderBy("query_id")
    )


# --- binary (sign-bit) quantization: 64 dims -> two 32-bit halves
#     (avoids the BIGINT sign bit, which wraps differently per engine)

_BQ_DIM = 64
_BQ_K = 5
_BQ_NQ = 10


def _bq_code_duck(half: int) -> str:
    lo, hi = (0, 32) if half == 0 else (32, 64)
    return (
        f"CAST(list_sum([CASE WHEN v[i + 1] > 0"
        f" THEN (CAST(1 AS BIGINT) << (i - {lo})) ELSE 0 END"
        f" for i in range({lo}, {hi})]) AS BIGINT)"
    )


def _bq_code_spark(half: int) -> str:
    lo, hi = (0, 32) if half == 0 else (32, 64)
    return (
        f"aggregate(sequence({lo}, {hi - 1}), cast(0 as bigint),"
        f" (acc, i) -> acc + CASE WHEN element_at(v, i + 1) > 0"
        f" THEN shiftleft(cast(1 as bigint), i - {lo})"
        f" ELSE cast(0 as bigint) END)"
    )


@register(
    "binary_quantization_recall",
    f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), codes AS MATERIALIZED (
  SELECT vec_id, {_bq_code_duck(0)} AS lo, {_bq_code_duck(1)} AS hi
  FROM d
), q AS (
  SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM codes
  WHERE vec_id < {_BQ_NQ}
), ham AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         bit_count(xor(q.qlo, c.lo)) + bit_count(xor(q.qhi, c.hi))
           AS hd,
         CAST(row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY bit_count(xor(q.qlo, c.lo))
                    + bit_count(xor(q.qhi, c.hi)), c.vec_id
         ) AS INTEGER) AS rn
  FROM q CROSS JOIN codes c
), hat AS (
  SELECT query_id, neighbor_id FROM ham WHERE rn <= {_BQ_K}
), ext AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 6) DESC,
                    b.vec_id
         ) AS INTEGER) AS rn
  FROM d a JOIN d b ON a.vec_id < {_BQ_NQ}
), ext5 AS (
  SELECT query_id, neighbor_id FROM ext WHERE rn <= {_BQ_K}
)
SELECT e.query_id,
       CAST(count(h.neighbor_id) AS BIGINT) AS n_overlap,
       round(count(h.neighbor_id) * 1.0 / {_BQ_K}, 6) AS recall
FROM ext5 e
LEFT JOIN hat h
  ON h.query_id = e.query_id AND h.neighbor_id = e.neighbor_id
GROUP BY e.query_id
""",
)
def binary_quantization_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary (sign-bit) embedding quantization with a Hamming top-k
    recall audit: 64 dims collapse to 8 BYTES per vector (two 32-bit
    halves — the BIGINT sign bit wraps differently per engine, so bit
    63 never lands there), candidates rank by popcount XOR, and
    recall@5 is measured against the exact rounded-cosine top-5. The
    32× at-rest compression tier below SQ8 (8×) and PQ — what a vector
    store scans FIRST at 100 TB.

    Scale shape: codes ride the scan (pure fold expressions); the
    Hamming scan reads 8 bytes/vector; the audit joins two
    candidate-sized lists. Deterministic: integer distances, id
    tie-breaks.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    codes = d.select(
        "vec_id",
        F.expr(_bq_code_spark(0)).alias("lo"),
        F.expr(_bq_code_spark(1)).alias("hi"),
    )
    q = codes.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    hd = F.expr("bit_count(qlo ^ lo) + bit_count(qhi ^ hi)")
    w_h = Window.partitionBy("query_id").orderBy(
        hd.asc(), F.asc("vec_id")
    )
    hat = (
        codes.crossJoin(F.broadcast(q))
        .withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") <= _BQ_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    ext5 = knn_exact(
        emb, emb.filter(F.col("vec_id") < _BQ_NQ), k=_BQ_K
    ).select("query_id", "neighbor_id")
    hat2 = hat.select(
        F.col("query_id").alias("h_query"),
        F.col("neighbor_id").alias("h_neighbor"),
    )
    return (
        ext5.join(
            hat2,
            (ext5.query_id == hat2.h_query)
            & (ext5.neighbor_id == hat2.h_neighbor),
            "left",
        )
        .groupBy(ext5.query_id)
        .agg(
            F.count("h_neighbor").alias("n_overlap"),
            F.round(
                F.count("h_neighbor") * F.lit(1.0) / _BQ_K, 6
            ).alias("recall"),
        )
    )


# --- Rocchio pseudo-relevance feedback -------------------------------

_PRF_NQ = 5  # queries
_PRF_NPOS = 3  # pseudo-positives (top-3 non-self)
_PRF_ALPHA = "0.7"  # original-query weight (exact decimal literal)
_PRF_BETA = "0.3"  # positive-centroid weight
_PRF_K = 5  # evaluation depth

_PRF_COS = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "prf_rocchio_requery",
    f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM d
  WHERE vec_id < {_PRF_NQ}
), r0 AS (
  SELECT q.query_id, q.qlabel, d.vec_id AS neighbor_id, d.label, d.v,
         CAST(row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY {_PRF_COS.format(a="q.qv", b="d.v")} DESC, d.vec_id
         ) AS INTEGER) AS rn
  FROM q CROSS JOIN d
), before AS (
  SELECT query_id,
         CAST(count(*) FILTER (label = qlabel) AS BIGINT) AS n_same_before
  FROM r0 WHERE neighbor_id <> query_id AND rn <= {_PRF_K + 1}
  GROUP BY query_id
), pos AS (
  SELECT query_id, v FROM r0
  WHERE neighbor_id <> query_id AND rn <= {_PRF_NPOS + 1}
), cent AS (
  -- 64-d fixture (linalg queries pin the same width)
  SELECT p.query_id, u.dim, avg(p.v[u.dim]) AS mval
  FROM pos p CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) u
  GROUP BY p.query_id, u.dim
), q2 AS (
  SELECT c.query_id,
         list({_PRF_ALPHA} * q.qv[c.dim] + {_PRF_BETA} * c.mval
              ORDER BY c.dim) AS qv2
  FROM cent c JOIN q ON q.query_id = c.query_id
  GROUP BY c.query_id
), r1 AS (
  SELECT q2.query_id, d.vec_id AS neighbor_id, d.label,
         CAST(row_number() OVER (
           PARTITION BY q2.query_id
           ORDER BY {_PRF_COS.format(a="q2.qv2", b="d.v")} DESC, d.vec_id
         ) AS INTEGER) AS rn
  FROM q2 CROSS JOIN d
), after AS (
  SELECT r1.query_id,
         CAST(count(*) FILTER (r1.label = q.qlabel) AS BIGINT)
           AS n_same_after
  FROM r1 JOIN q ON q.query_id = r1.query_id
  WHERE r1.neighbor_id <> r1.query_id AND r1.rn <= {_PRF_K + 1}
  GROUP BY r1.query_id
)
SELECT b.query_id, b.n_same_before, a.n_same_after
FROM before b JOIN after a ON a.query_id = b.query_id
""",
)
def prf_rocchio_requery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback (the classic PRF retrieval
    op): take each query's top-3 non-self neighbors as pseudo-
    positives, move the query to 0.7·q + 0.3·centroid(positives), and
    re-search — reporting same-label hits in the top-5 before vs after
    (label purity as the relevance proxy). Exact decimal-literal
    weights; centroid = per-dimension mean over exactly 3 vectors;
    both rankings tie-break on id under the round-6 score policy.

    Scale shape: two exact-kNN passes (GEMM/ANN tier at scale) plus
    one dimension-keyed centroid aggregate over k·Q rows — the
    re-query costs exactly one more search, which is the PRF deal.
    """
    from oracle_vector_search_spark.operators.knn import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    d = pin(
        emb.select(
            "vec_id", "label", as_double_array("embedding").alias("v")
        ),
    )
    q = d.filter(F.col("vec_id") < _PRF_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    r0 = knn_exact(
        d, q, k=_PRF_K + 1, id_col="vec_id", vec_col="v",
        query_id_col="query_id", query_vec_col="qv",
    )
    labels = d.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("nv"),
    )
    # OPTIMIZATION r16 (guide §2.4/§5): r0l feeds BOTH `before` and the
    # pseudo-positive centroid chain (pos → cent → q2 → r1 → after), so
    # Catalyst replayed the corpus-sized exact-kNN crossJoin + window
    # TWICE — three corpus passes per run where the PRF design costs
    # two (one search before, one after). Pin the first search's
    # labeled result: it is ≤ (K+1)·|queries| rows (30 here) at ANY
    # corpus scale, the canonical small-table pin.
    r0l = pin(
        r0.join(F.broadcast(labels), "neighbor_id")
        .join(
            F.broadcast(q.select("query_id", "qlabel")), "query_id"
        )
        .filter(F.col("neighbor_id") != F.col("query_id")),
    )
    before = r0l.filter(F.col("rank") <= _PRF_K + 1).groupBy(
        "query_id"
    ).agg(
        F.count(F.when(F.col("nlabel") == F.col("qlabel"), 1)).alias(
            "n_same_before"
        )
    )
    pos = r0l.filter(F.col("rank") <= _PRF_NPOS + 1).select(
        "query_id", "nv"
    )
    cent = (
        pos.select(
            "query_id",
            F.posexplode("nv").alias("dim0", "val"),
        )
        .groupBy("query_id", (F.col("dim0") + 1).alias("dim"))
        .agg(F.avg("val").alias("mval"))
    )
    q2 = (
        cent.join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            "dim",
            (
                F.lit(float(_PRF_ALPHA))
                * F.element_at("qv", F.col("dim").cast("int"))
                + F.lit(float(_PRF_BETA)) * F.col("mval")
            ).alias("nval"),
        )
        .groupBy("query_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, nval))),"
                " s -> s.nval)"
            ).alias("qv2")
        )
    )
    r1 = knn_exact(
        d, q2, k=_PRF_K + 1, id_col="vec_id", vec_col="v",
        query_id_col="query_id", query_vec_col="qv2",
    )
    after = (
        r1.join(F.broadcast(labels.select("neighbor_id", "nlabel")), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qlabel")), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(F.col("rank") <= _PRF_K + 1)
        .groupBy("query_id")
        .agg(
            F.count(
                F.when(F.col("nlabel") == F.col("qlabel"), 1)
            ).alias("n_same_after")
        )
    )
    return before.join(after, "query_id").select(
        "query_id", "n_same_before", "n_same_after"
    )
