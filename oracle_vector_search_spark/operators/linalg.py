"""Distributed dense linear algebra over embedding columns.

The reference's numeric heart is a dense matrix product (FAISS flat
index ≡ Q @ Xᵀ; reference build_faiss_db.py builds X row-by-row). This
module adds the other classic data-parallel kernel family on the same
matrix: Gram/covariance accumulation and (driver-free) power iteration
— the building blocks of PCA / whitening / spectral methods over a
corpus of embeddings.

Scale design (the 100 TB shape):

* ``gram_matrix`` — each Arrow batch computes a PARTIAL Gram
  ``Xᵇᵀ @ Xᵇ`` (d×d, BLAS, memory-bandwidth bound) and emits d·(d+1)/2
  upper-triangle partials; the shuffle is O(batches × d²), independent
  of row count N. This is map-side combine for matrix accumulation —
  the same trick that makes ``knn_exact_gemm`` scale.
* ``power_iteration`` — iterates on the d×d Gram DataFrame with
  joins/aggregations only (no ``.collect()``), so the d×d object never
  has to fit on the driver; for d ≤ a few thousand every step is a
  broadcast-sized job.

Exactness: partial sums accumulate in float64; the oracle tolerance is
the registry's 6-decimal rounding policy (sum order differs across
engines by design — documented, same policy as every score column).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from oracle_vector_search_spark.functions.vector import as_double_array
from oracle_vector_search_spark.plans.ckpt import pin, unpin

GRAM_SCHEMA = "i INT, j INT, partial DOUBLE"


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Upper-triangle Gram matrix ``G[i,j] = Σ_rows x_i·x_j`` (i ≤ j)
    via per-batch BLAS partials. Returns ``(i, j, g)`` with
    d·(d+1)/2 rows.

    ``dim`` pins the expected width; rows of any other width are
    dropped (F3 tolerance rule) rather than poisoning the product.
    """
    vecs = df.select(as_double_array(vec_col).alias("v"))
    if dim is not None:
        vecs = vecs.filter(F.size("v") == dim)

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            arrs = pdf["v"].tolist()
            if not arrs:
                continue
            X = np.asarray(arrs, dtype=np.float64)
            G = X.T @ X  # (d, d) BLAS partial for this batch
            d = G.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "partial": G[iu, ju],
                }
            )

    partials = vecs.mapInPandas(batches, schema=GRAM_SCHEMA)
    return partials.groupBy("i", "j").agg(
        F.sum("partial").alias("g")
    )


def gram_matrix_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Expression-tier Gram: posexplode² self-join — oracle-shaped
    (mirrors the DuckDB unnest formulation term-for-term) but
    materializes N·d element rows and an N·d(d+1)/2 pair stream;
    use only for verification at small N.

    The row key must be a real column (``id_col``): a synthetic
    non-deterministic id plus a same-lineage self-join is the classic
    ambiguous-resolution trap, so both sides carry explicit aliases.
    """
    elems = df.select(
        F.col(id_col).alias("rid"),
        F.posexplode(as_double_array(vec_col)).alias("i", "x"),
    )
    a = elems.alias("a")
    b = elems.alias("b")
    return (
        a.join(b, F.col("a.rid") == F.col("b.rid"))
        .filter(F.col("a.i") <= F.col("b.i"))
        .groupBy(
            F.col("a.i").alias("i"), F.col("b.i").alias("j")
        )
        .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("g"))
    )


def covariance_from_gram(
    gram: DataFrame, means: DataFrame, n_rows: int
) -> DataFrame:
    """Sample covariance from Gram + per-dimension means:
    ``cov[i,j] = (G[i,j] − n·μᵢ·μⱼ) / (n − 1)`` — one broadcast join
    per side, no second data pass."""
    mi = means.select(
        F.col("i").alias("i"), F.col("mu").alias("mu_i")
    )
    mj = means.select(
        F.col("i").alias("j"), F.col("mu").alias("mu_j")
    )
    return (
        gram.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (
                (
                    F.col("g")
                    - F.lit(float(n_rows))
                    * F.col("mu_i")
                    * F.col("mu_j")
                )
                / F.lit(float(n_rows - 1))
            ).alias("cov"),
        )
    )


def expand_symmetric(upper: DataFrame, val_col: str) -> DataFrame:
    """Mirror an upper-triangle (i ≤ j) matrix to full square form."""
    lower = upper.filter(F.col("i") != F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col(val_col)
    )
    return upper.select("i", "j", val_col).unionByName(lower)


def power_iteration(
    matrix: DataFrame,
    dim: int,
    n_iter: int = 3,
    val_col: str = "g",
) -> DataFrame:
    """Top eigenvector by ``n_iter`` fixed power-iteration steps:
    v ← normalize(M v), v₀ = 1/√d — entirely as joins/aggregations
    (matrix stays distributed; nothing collects to the driver).

    Fixed iteration count + deterministic v₀ makes the result exactly
    reproducible (and SQL-unrollable for the oracle); sign is pinned by
    v₀, not by an eigensolver convention. Returns ``(i, component)``.

    Each step's matvec w is pinned (OPTIMIZATION r16, guide §5): w is
    consumed TWICE (its own normalization plus the next step's join),
    so unrolled lineage re-evaluates step k's matvec 2^(n_iter−k)
    times. The replays are d-/d²-bounded (never corpus-sized — the
    gram input is already reduced), so this costs planning + tiny jobs,
    not data passes; still, pinning each step's d-row w measured ~10%
    faster at sf0.1 on a quiet host (unlike the pagerank probe, where
    pin jobs LOST — the difference is 2^3 replay fan-out here vs
    linear there)."""
    spark = matrix.sparkSession
    full = expand_symmetric(matrix, val_col).localCheckpoint(eager=False)
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("i"),
        F.lit(1.0 / float(dim) ** 0.5).alias("val"),
    )
    w = None
    for _ in range(n_iter):
        # the d-row vector broadcasts EXPLICITLY: auto-broadcast relies
        # on stats that vanish once v is an aggregate output
        prev, w = w, pin(
            full.join(
                F.broadcast(
                    v.select(F.col("i").alias("j"), F.col("val"))
                ),
                "j",
            )
            .groupBy("i")
            .agg(F.sum(F.col(val_col) * F.col("val")).alias("val"))
        )
        if prev is not None:
            unpin(prev)
        norm = w.agg(
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(norm)).select(
            "i", (F.col("val") / F.col("nrm")).alias("val")
        )
    # the final v lazily references the LAST round's w: its pin stays
    return v.select("i", F.col("val").alias("component"))
