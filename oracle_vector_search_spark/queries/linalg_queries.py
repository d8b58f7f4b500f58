"""Distributed linear-algebra queries over the embeddings table —
Gram matrix, sample covariance, and power-iteration PCA.

The reference's entire numeric surface is one dense product
(Q @ Xᵀ, FAISS flat cosine — build_faiss_db.py:216-218); this family
adds the complementary corpus-level kernels: Xᵀ@X accumulation (the
basis of PCA/whitening over embedding corpora) and the leading
eigenvector by fixed-iteration power method.

Oracle notes: the DuckDB side rebuilds the same matrices from an
element-wise ``range(d) × list_extract`` expansion; sums accumulate in
a different order than Spark's batch partials, so all outputs ride the
registry's 6-decimal rounding policy (unit-norm embeddings keep Gram
entries ≤ N/…, far from the rounding noise floor — verified ≤ ~10 at
sf0.01). Iteration counts are FIXED so the oracle unrolls them as
chained CTEs, same as ``pagerank_event_transitions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.functions.rounding import round_signed
from oracle_vector_search_spark.functions.vector import as_double_array
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.linalg import (
    covariance_from_gram,
    gram_matrix,
    power_iteration,
)
from oracle_vector_search_spark.queries import register

_DIM = 64  # fixture embedding width (FIXTURES.md; embedding_dim_stats)

# (ADVICE r5) The Spark side (gram_matrix(dim=_DIM)) drops rows whose
# vector width differs from _DIM (F3 tolerance rule); the oracle must
# apply the SAME width guard, else one ragged row on real data would
# surface as an opaque hash mismatch instead of agreeing exclusion.
_X_CTE = f"""
WITH x AS (
  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         list_extract(embedding::DOUBLE[], CAST(t.i AS INTEGER) + 1) AS v
  FROM embeddings, range({_DIM}) t(i)
  WHERE len(embedding) = {_DIM}
)"""


@register(
    "embedding_gram_upper",
    _X_CTE
    + """
SELECT a.i, b.i AS j, round(sum(a.v * b.v), 6) + 0.0 AS g
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
""",
)
def embedding_gram_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix Xᵀ@X over all embeddings, BLAS-batch
    tier: each Arrow batch emits a d×d partial, the shuffle carries
    O(batches·d²) rows regardless of corpus size — the map-side-combine
    shape that survives 100 TB (the oracle's element self-join is the
    verification tier only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, dim=_DIM).select(
        "i", "j", round_signed("g").alias("g")
    )


@register(
    "embedding_covariance_upper",
    _X_CTE
    + """
, n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings)
SELECT a.i, b.i AS j,
       round((sum(a.v * b.v)
              - (SELECT n FROM n) * avg(a.v) * avg(b.v))
             / ((SELECT n FROM n) - 1), 6) + 0.0 AS cov
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
""",
)
def embedding_covariance_upper(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sample covariance from one data pass: the Gram partials plus
    per-dimension means combine as (G − n·μᵢμⱼ)/(n−1) — both engines
    evaluate the SAME rearranged formula (not a streaming covar
    update), so the only divergence is summation order under the
    rounding policy. The n-count is a metadata-sized scalar."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    gram = gram_matrix(emb, dim=_DIM)
    means = (
        emb.select(
            F.posexplode(as_double_array("embedding")).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.avg("x").alias("mu"))
    )
    return covariance_from_gram(gram, means, n).select(
        "i", "j", round_signed("cov").alias("cov")
    )


def _pca_oracle(n_iter: int) -> str:
    sql = (
        _X_CTE
        + f"""
, g AS (
  SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS g
  FROM x a JOIN x b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
), v0 AS (
  SELECT CAST(t.i AS INTEGER) AS i,
         CAST(1 AS DOUBLE) / sqrt(CAST({_DIM} AS DOUBLE)) AS val
  FROM range({_DIM}) t(i)
)"""
    )
    for k in range(1, n_iter + 1):
        sql += f"""
, w{k} AS (
  SELECT g.i, sum(g.g * p.val) AS val
  FROM g JOIN v{k - 1} p ON p.i = g.j
  GROUP BY g.i
), n{k} AS (
  SELECT sqrt(sum(val * val)) AS nrm FROM w{k}
), v{k} AS (
  SELECT i, val / nrm AS val FROM w{k}, n{k}
)"""
    return sql + f"\nSELECT i, round(val, 6) + 0.0 AS component FROM v{n_iter}"


@register("pca_top_eigenvector", _pca_oracle(3))
def pca_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading eigenvector of the (uncentered) Gram matrix by 3 fixed
    power-iteration steps — distributed PCA's inner loop with no
    driver-side matrix: the d×d Gram stays a DataFrame, each step is a
    matvec join + a broadcast-scalar normalization. Sign pinned by the
    uniform positive v₀; iteration count fixed so the oracle unrolls
    identically."""
    emb = load_table(spark, sf_dir, "embeddings")
    gram = gram_matrix(emb, dim=_DIM)
    return power_iteration(gram, dim=_DIM, n_iter=3).select("i", round_signed("component").alias("component"))
