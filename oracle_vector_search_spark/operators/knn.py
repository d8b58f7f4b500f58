"""Exact k-nearest-neighbor search over embedding columns.

Re-expresses the reference's core query — L2-normalize, ``IndexFlatIP``
top-k=5 cosine search, positional metadata join (reference app.py:139-151,
SURVEY.md §2.6 A2 / §2.7 M1) — as two Spark tiers:

* **expression tier** (`knn_exact`): broadcast the (small) query set,
  cross-join against the index DataFrame, score with the pure-SQL cosine
  kernel, rank per query with a window. Whole plan is JVM-side Catalyst
  expressions — oracle-checkable, and at cluster scale it is a
  map-only pass over the index (broadcast join, no shuffle) followed by a
  tiny shuffle of ≤ (partitions × k × Q) ranked candidate rows.

* **GEMM tier** (`knn_exact_gemm`): same semantics, numpy BLAS matmul per
  Arrow batch with a partition-local top-k, then a global top-k merge.
  This is the 100 TB fast path: each executor does
  ``V_block @ Q.T`` at memory bandwidth, emits only k rows per query per
  batch, so the shuffle is O(batches × Q × k), independent of index size.

Scale notes: queries are broadcast (the reference's Q=1..few pattern;
fine up to ~10⁵ × dim floats). For Q large enough that broadcast fails,
use `operators.ann` (LSH bucketed join) instead.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from oracle_vector_search_spark.functions.vector import (
    as_double_array,
    cosine_similarity,
)
from oracle_vector_search_spark.operators.topk import top_k_per_group

SCORE_DECIMALS = 6  # oracle comparison policy, SURVEY.md §5.2


def _prep(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str
) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id), as_double_array(vec_col).alias(out_vec)
    )


def knn_exact(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    round_decimals: int | None = SCORE_DECIMALS,
) -> DataFrame:
    """Exact cosine top-k per query, expression tier.

    Returns ``(query_id, neighbor_id, score, rank)`` with rank 1..k by
    (score desc, neighbor_id asc) — deterministic under float ties.
    """
    q = _prep(query_df, query_id_col or id_col, query_vec_col or vec_col,
              "query_id", "q_vec")
    v = _prep(index_df, id_col, vec_col, "neighbor_id", "v_vec")

    score = cosine_similarity("q_vec", "v_vec")
    if round_decimals is not None:
        score = F.round(score, round_decimals)

    scored = (
        v.join(F.broadcast(q))  # cross join; index side streams, no shuffle
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    return top_k_per_group(
        scored, ["query_id"], k, F.desc("score"), F.asc("neighbor_id")
    )


def radius_search(
    index_df: DataFrame,
    query_df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    round_decimals: int | None = SCORE_DECIMALS,
) -> DataFrame:
    """Range (radius) search: every index vector with
    cosine(query, vector) ≥ ``threshold`` per query — FAISS's
    ``range_search`` counterpart to the reference's fixed top-k call.

    Same physical shape as `knn_exact` minus the window: broadcast the
    query set, stream the index map-only, filter on the ROUNDED score
    so the threshold comparison is engine-portable. Output size is
    data-dependent (unlike top-k) — at 100 TB pair the call with a
    selective threshold or route through the LSH bucketed variant
    (`operators.ann.lsh_similarity_join`) to prune candidates first.
    """
    q = _prep(query_df, query_id_col or id_col, query_vec_col or vec_col,
              "query_id", "q_vec")
    v = _prep(index_df, id_col, vec_col, "neighbor_id", "v_vec")
    score = cosine_similarity("q_vec", "v_vec")
    if round_decimals is not None:
        score = F.round(score, round_decimals)
    return (
        v.join(F.broadcast(q))  # cross join; index side streams
        .select("query_id", "neighbor_id", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )


def _batch_topk_rows(S_part, ids_v, top):
    """(row, col) indices of every entry tying-or-beating its column's
    ``top``-th value under the merge key.

    The global merge window re-ranks all batch candidates, so a batch
    only needs to emit a SUPERSET of its true top-``top`` by
    (score desc, id asc) — emitting the full tie set replaces the
    per-query python sort loop with two vectorized passes (the loop
    was the dominant cost at Q=10⁴: Q×batches lexsorts). Tie-heavy
    columns (common with quantized integer scores) fall back to exact
    per-column selection so a degenerate batch (e.g. all-equal scores)
    cannot flood the shuffle.
    """
    import numpy as np

    idx = np.argpartition(-S_part, top - 1, axis=0)[:top]
    kth = np.take_along_axis(S_part, idx, 0).min(axis=0)  # (q,)
    mask = S_part >= kth[None, :]
    counts = mask.sum(axis=0)
    heavy = np.flatnonzero(counts > top + 16)
    extra_v, extra_q = [], []
    for j in heavy:
        cand = np.flatnonzero(mask[:, j])
        order = cand[np.lexsort((ids_v[cand], -S_part[cand, j]))][:top]
        extra_v.append(order)
        extra_q.append(np.full(len(order), j))
        mask[:, j] = False
    rows_v, rows_q = np.nonzero(mask)
    if extra_v:
        rows_v = np.concatenate([rows_v, *extra_v])
        rows_q = np.concatenate([rows_q, *extra_q])
    return rows_v, rows_q


def knn_exact_gemm(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    round_decimals: int | None = SCORE_DECIMALS,
    max_queries: int = 65_536,
) -> DataFrame:
    """Exact cosine top-k per query, BLAS fast path.

    Collects the query set to the driver (must be ≪ index — guarded by
    ``max_queries``), broadcasts the normalized query matrix, and scores
    each Arrow batch of the index with one ``V @ Q.T`` GEMM + per-batch
    top-k. A final window merges the per-batch candidates.

    Exactness: the per-batch selection orders by the SAME key as the
    global merge — (score rounded to ``round_decimals`` desc,
    neighbor_id asc) — so a candidate can never be dropped at a batch
    boundary by a tie that only appears after rounding. Zero-norm
    vectors score NULL (as the expression tier's try_divide does), so
    both tiers rank them identically (last).
    """
    import numpy as np
    import pandas as pd

    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    n_queries = query_df.count()
    if n_queries == 0:
        # empty query set is a legitimate input at scale (a filter that
        # matched nothing) — degrade to an empty result with the tier's
        # contract schema instead of raising (F5 discipline)
        return query_df.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, score double, rank int"
        )
    if n_queries > max_queries:
        raise ValueError(
            f"query set has {n_queries} rows > max_queries={max_queries}; "
            "a query matrix this large should not be driver-collected — "
            "use operators.ann.lsh_ann_topk (bucketed candidate join) "
            "instead, or raise max_queries explicitly if you have the "
            "driver memory for it"
        )
    # bounded: the max_queries guard above caps this at 65,536 rows
    q_rows = query_df.select(qid, qvec).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(Q, axis=1, keepdims=True)
    Q /= np.maximum(q_norms, 1e-300)
    q_zero = (q_norms == 0.0).ravel()  # zero-norm query → NULL scores

    spark = index_df.sparkSession
    b = spark.sparkContext.broadcast((q_ids, Q, q_zero))
    local_k = k
    decimals = round_decimals

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_l, Q_l, q_zero_l = b.value
        # Bound the per-task score matrix: an Arrow batch of 10k rows
        # against Q=65k queries would be a 5.2 GB float64 S — found by
        # tools/ann_crossover_bench.py (workers OOM-crashed). Chunk the
        # batch rows so rows × n_q stays ≤ ~16M doubles (128 MiB);
        # per-chunk top-k supersets merge identically in the final
        # window (same rounded-key argument as the batch boundary).
        chunk_rows = max(256, 16_000_000 // max(1, len(q_ids_l)))
        for pdf in it:
            if pdf.empty:
                continue
            ids_all = pdf[id_col].to_numpy()
            vec_all = pdf[vec_col]
            for lo in range(0, len(ids_all), chunk_rows):
                hi = lo + chunk_rows
                ids_v = ids_all[lo:hi]
                V = np.array(list(vec_all.iloc[lo:hi]), dtype=np.float64)
                v_norms = np.linalg.norm(V, axis=1, keepdims=True)
                V /= np.maximum(v_norms, 1e-300)
                S = V @ Q_l.T  # (rows ≤ chunk_rows, q)
                S[(v_norms == 0.0).ravel(), :] = np.nan
                S[:, q_zero_l] = np.nan
                S_key = (
                    np.round(S, decimals) if decimals is not None else S
                )
                # NaN → -inf for selection so NULL-scored rows rank
                # last (matching the window's NULLS LAST) without
                # poisoning argpartition
                S_part = np.where(np.isnan(S_key), -np.inf, S_key)
                top = min(local_k, S.shape[0])
                # emit every row tying-or-beating the per-query top-th
                # ROUNDED score — a superset the merge window re-ranks;
                # no per-query python sort (see _batch_topk_rows)
                rows_v, rows_q = _batch_topk_rows(S_part, ids_v, top)
                yield pd.DataFrame(
                    {
                        "query_id": q_ids_l[rows_q],
                        "neighbor_id": ids_v[rows_v],
                        "score": S[rows_v, rows_q],
                    }
                )

    candidates = index_df.select(id_col, vec_col).mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, score double"
    )
    score = F.when(F.isnan("score"), None).otherwise(F.col("score"))
    if round_decimals is not None:
        score = F.round(score, round_decimals)
    return top_k_per_group(
        candidates.select("query_id", "neighbor_id", score.alias("score")),
        ["query_id"], k, F.desc("score"), F.asc("neighbor_id"),
    )


INT8_SCALE = 127  # fixed symmetric scale for unit-vector codes


def quantize_unit_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Int8 codes of the L2-NORMALIZED vector, packed to a d-byte BINARY:
    ``c_i = floor(v_i / ||v|| · 127 + 0.5)`` ∈ [-127, 127].

    This is the at-rest storage tier for the exact-search fast path
    (VERDICT r4 #5): 1 byte/dim instead of 8 — at 100 TB the GEMM scan
    is memory-bandwidth-bound, so the 4-8× smaller payload is a
    4-8× throughput lever. The fixed scale (no per-vector float
    factor) makes stage-1 scores pure INTEGERS (Σ c_q·c_v), so
    candidate ranking is bit-exact across engines and the whole
    retrieve-then-rescore pipeline stays DuckDB-oracle-checkable.

    Codes are computed in Catalyst (norm = strict left-to-right fold,
    matching the oracle's arithmetic); only the byte-packing runs as an
    Arrow-batched pandas UDF. Zero-norm rows are dropped (they can
    never enter a top-k ahead of any real vector)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    d = df.select(F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("e"))
    sq = F.aggregate(
        F.zip_with("e", "e", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d = d.withColumn("__sq", sq).filter(F.col("__sq") > 0)
    codes = F.expr(
        f"transform(e, x -> cast(floor(x / sqrt(__sq) * {INT8_SCALE}"
        " + 0.5D) as int))"
    )
    d = d.select("vec_id", codes.alias("codes_i"))

    def _pack(codes_col):
        return codes_col.map(
            lambda cs: np.asarray(cs, dtype=np.int8).tobytes()
        )

    # annotations set as real classes: the module uses postponed (string)
    # annotations, and pandas_udf can't resolve strings against imports
    # local to this function
    _pack.__annotations__ = {"codes_col": pd.Series, "return": pd.Series}
    pack = pandas_udf(_pack, "binary")
    return d.select("vec_id", pack(F.col("codes_i")).alias("code"))


def knn_exact_gemm_int8(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    refine: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    round_decimals: int | None = SCORE_DECIMALS,
    codes: DataFrame | None = None,
    max_queries: int = 65_536,
) -> DataFrame:
    """Exact cosine top-k served from int8 codes + float refine.

    Stage 1 (the scan): int8 codes (``quantize_unit_int8`` — pass a
    previously WRITTEN ``codes`` table for the at-rest path) are
    GEMM-scored against the int8-quantized queries. Products are ≤
    127²·d ≪ 2⁵³, so the float64 BLAS matmul accumulates EXACT
    integers — stage-1 ranking (iscore desc, id asc) is deterministic,
    engine-portable, and reads 1/8 the bytes of the double-vector scan.
    Per batch only the top-``refine`` candidates per query survive
    (selection by the same integer key, so batch boundaries never drop
    a tying candidate).

    Stage 2 (the refine): the ≤ Q×refine global candidates join back to
    the FLOAT vectors and rescore with the exact cosine kernel — the
    output ordering/rounding contract is identical to ``knn_exact``.

    Exactness of the final top-k holds whenever the true top-k survive
    stage 1; ``refine`` ≫ k makes that robust to quantization error,
    and the ``sq8_recall_refine_audit`` query measures it. The DuckDB
    oracle replays BOTH stages, so the result is hash-checkable even if
    recall ever slipped."""
    import numpy as np
    import pandas as pd

    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    # guard before collecting, so a refused query set costs no driver
    # memory
    n_queries = query_df.count()
    if n_queries > max_queries:
        raise ValueError(
            f"query set has {n_queries} rows > max_queries={max_queries}; "
            "use operators.ann for huge query sets"
        )
    # bounded: the max_queries guard above caps this at 65,536 rows
    q_rows = query_df.select(qid, qvec).collect()
    if not q_rows:
        # same empty-input contract as knn_exact_gemm above
        return query_df.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, score double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(Q, axis=1)
    keep = q_norms > 0
    q_ids, Q, q_norms = q_ids[keep], Q[keep], q_norms[keep]
    # same code formula as quantize_unit_int8 (floor(x+0.5) tie-break)
    Qc = np.floor(Q / q_norms[:, None] * INT8_SCALE + 0.5)

    if codes is None:
        codes = quantize_unit_int8(index_df, id_col, vec_col)

    spark = index_df.sparkSession
    b = spark.sparkContext.broadcast((q_ids, Qc))
    local_refine = refine

    def stage1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_l, Qc_l = b.value
        # per-task score matrix bound (same chunking as the float GEMM
        # tier — rows × n_q ≤ ~16M elements keeps S ≤ 128 MiB float64
        # / 64 MiB float32 regardless of Arrow batch size or Q)
        chunk_rows = max(256, 16_000_000 // max(1, len(q_ids_l)))
        for pdf in it:
            if pdf.empty:
                continue
            ids_all = pdf["vec_id"].to_numpy()
            C_all = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.int8
            ).reshape(len(pdf), -1)
            # every |iscore| ≤ d·127² — when that fits below 2²⁴ the
            # float32 GEMM accumulates the SAME exact integers as
            # float64 (all ints < 2²⁴ are representable), at ~2× the
            # throughput and half the memory traffic
            acc = (
                np.float32
                if C_all.shape[1] * INT8_SCALE * INT8_SCALE < (1 << 24)
                else np.float64
            )
            QcT = Qc_l.T.astype(acc)
            for lo in range(0, len(ids_all), chunk_rows):
                hi = lo + chunk_rows
                ids_v = ids_all[lo:hi]
                S = C_all[lo:hi].astype(acc) @ QcT  # exact integers
                top = min(local_refine, S.shape[0])
                # superset emission (ties included), no per-query sort
                # — the refine-candidate window re-ranks; integer
                # scores tie often, so the helper's heavy-column
                # fallback matters here
                rows_v, rows_q = _batch_topk_rows(S, ids_v, top)
                yield pd.DataFrame(
                    {
                        "query_id": q_ids_l[rows_q],
                        "neighbor_id": ids_v[rows_v],
                        "iscore": S[rows_v, rows_q].astype(np.int64),
                    }
                )

    cand = codes.mapInPandas(
        stage1, schema="query_id long, neighbor_id long, iscore long"
    )
    cand = top_k_per_group(
        cand, ["query_id"], refine, F.desc("iscore"), F.asc("neighbor_id")
    ).select("query_id", "neighbor_id")

    # stage 2: exact float rescore of candidates only
    q = _prep(query_df, qid, qvec, "query_id", "q_vec")
    v = _prep(index_df, id_col, vec_col, "neighbor_id", "v_vec")
    score = cosine_similarity("q_vec", "v_vec")
    if round_decimals is not None:
        score = F.round(score, round_decimals)
    # candidates are ≤ Q×refine rows — broadcast them so the refine is
    # a map-side hash join over the float index scan (no index shuffle)
    rescored = (
        v.join(
            F.broadcast(cand.join(F.broadcast(q), "query_id")),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    return top_k_per_group(
        rescored, ["query_id"], k, F.desc("score"), F.asc("neighbor_id")
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int | None = SCORE_DECIMALS,
) -> DataFrame:
    """All pairs (l, r) with cosine(l, r) ≥ threshold, l.id < r.id.

    Expression tier (exact, quadratic) — the oracle-checkable baseline.
    For scale use `operators.ann.lsh_similarity_join` which prunes the
    pair space with banded random-hyperplane buckets first.
    """
    l = _prep(left, id_col, vec_col, "left_id", "l_vec")
    r = _prep(right, id_col, vec_col, "right_id", "r_vec")
    score = cosine_similarity("l_vec", "r_vec")
    if round_decimals is not None:
        score = F.round(score, round_decimals)
    return (
        l.join(r, F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )


def knn_join_metadata(
    topk: DataFrame, metadata: DataFrame, on: str = "vec_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Decorate top-k results with index metadata — the reference's
    positional ``metadata_list[idx]`` lookup (app.py:149-151) as an
    explicit equi-join (SURVEY.md §2.5 J2). Broadcast-hash when small."""
    return topk.join(
        metadata.withColumnRenamed(on, neighbor_col), on=neighbor_col
    )


# --------------------------------------------------------- tier dispatch

# knn_exact_gemm collects the query set to the driver; beyond this the
# broadcast/collect pattern stops being the right physical plan
GEMM_MAX_QUERIES = 65_536
# below this many queries the GEMM tier's collect+broadcast setup costs
# more than it saves — the expression tier is pure Catalyst
EXPR_MAX_QUERIES = 8


def choose_knn_tier(
    n_queries: int,
    has_int8_codes: bool = False,
    tier: str = "auto",
) -> str:
    """Physical-strategy choice for exact top-k — the engine-side
    analogue of Catalyst picking broadcast vs sort-merge for a join.

    Rules (exact tiers only — approximate tiers like LSH/IVF change
    SEMANTICS, so they are never auto-selected; callers opt in via
    ``operators.ann``):

    * tiny query sets (≤ ``EXPR_MAX_QUERIES``): expression tier — no
      driver collect, lowest latency, whole plan Catalyst;
    * batch query sets up to ``GEMM_MAX_QUERIES``: GEMM tier — BLAS
      throughput, shuffle independent of index size; served from int8
      codes when a codes table is supplied (the at-rest fast path);
    * beyond ``GEMM_MAX_QUERIES``: expression tier again — it never
      collects, so it is the only exact plan that still scales; at that
      query volume the right deployment answer is usually the ANN path,
      which stays an explicit choice.
    """
    if tier != "auto":
        return tier
    if n_queries <= EXPR_MAX_QUERIES:
        return "expr"
    if n_queries <= GEMM_MAX_QUERIES:
        return "gemm_int8" if has_int8_codes else "gemm"
    return "expr"


def knn_search(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    tier: str = "auto",
    codes: DataFrame | None = None,
    n_queries: int | None = None,
    **kwargs,
) -> DataFrame:
    """Exact cosine top-k with automatic physical-tier selection.

    ``tier``: "auto" | "expr" | "gemm" | "gemm_int8". ``codes``: an
    int8 codes table (``quantize_unit_int8``) — supplying one routes
    the auto choice to the integer-GEMM + float-refine path.
    ``n_queries`` skips the dispatch count when the caller already
    knows it (e.g. from table stats at rest).

    Every tier returns the same (query_id, neighbor_id, score, rank)
    contract with identical ordering/rounding — the tier is a physical
    choice, never a semantic one.
    """
    if n_queries is None and tier == "auto":
        n_queries = query_df.count()
    chosen = choose_knn_tier(
        n_queries or 0, has_int8_codes=codes is not None, tier=tier
    )
    if chosen == "expr":
        return knn_exact(index_df, query_df, k=k, **kwargs)
    if chosen == "gemm":
        return knn_exact_gemm(index_df, query_df, k=k, **kwargs)
    if chosen == "gemm_int8":
        return knn_exact_gemm_int8(
            index_df, query_df, k=k, codes=codes, **kwargs
        )
    raise ValueError(f"unknown kNN tier: {chosen!r}")
