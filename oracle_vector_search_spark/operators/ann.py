"""Approximate nearest-neighbor search (SURVEY.md §7 M5, §4.2).

The scale path for the reference's brute-force ``IndexFlatIP`` scan
(build_faiss_db.py:216): at 100 TB the Q×N cross join is infeasible, so
prune candidates with locality-sensitive hashing and verify survivors
with exact cosine.

Two tiers:

* **Random-hyperplane LSH (cosine), hash-derived planes.** Plane
  components come from the engine's portable md5 hash
  (``r_j[d] = hash28('plane:j:d')/2^27 - 1``), so signatures — and
  therefore candidate sets — are identical in Spark and DuckDB: even
  the APPROXIMATE search is oracle-checkable. Signature bit j =
  [v·r_j ≥ 0]; bits band into bucket keys; the join shuffles only
  (band, bucket) groups. This is also how the index table would be
  laid out at rest (partitioned by bucket → partition pruning at
  query time).

* **MLlib BucketedRandomProjectionLSH wrapper** (Euclidean on
  L2-normalized vectors preserves cosine ordering). Uses Spark's own
  implementation + VectorUDT; validated by a recall-vs-exact property
  test rather than the DuckDB oracle (MLlib's internal planes aren't
  reproducible outside Spark).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from oracle_vector_search_spark.functions.vector import (
    as_double_array,
    cosine_similarity,
)
from oracle_vector_search_spark.operators.topk import top_k_per_group

N_PLANES = 16
N_BANDS = 4
ROWS_PER_BAND = N_PLANES // N_BANDS
_SCALE = float(1 << 27)


def plane_sql(j: int, dims: int) -> str:
    """Spark SQL fragment: deterministic hyperplane j as ARRAY<DOUBLE>
    (components hash-derived per dimension — identical in DuckDB)."""
    return (
        f"transform(sequence(0, {dims - 1}), d -> "
        f"cast(conv(substr(md5(concat('plane:{j}:', cast(d as string))), "
        f"1, 7), 16, 10) as bigint) / {_SCALE}D - 1.0D)"
    )


def duck_plane_sql(j: int, dims: int) -> str:
    return (
        f"[CAST(('0x' || substr(md5('plane:{j}:' || d::VARCHAR), 1, 7)) "
        f"AS BIGINT) / {_SCALE} - 1.0 for d in range(0, {dims})]"
    )


def plane_values(j: int, dims: int) -> list[float]:
    """Driver-side plane j — same md5 definition as plane_sql/duck_plane_sql,
    so inlining these as literals changes nothing semantically but removes
    16×dims md5 evaluations PER ROW from the Spark plan."""
    import hashlib

    out = []
    for d in range(dims):
        h = int(
            hashlib.md5(f"plane:{j}:{d}".encode()).hexdigest()[:7], 16
        )
        out.append(h / _SCALE - 1.0)
    return out


def signature_bits(vec_col: str, dims: int) -> Column:
    """ARRAY<INT> of N_PLANES sign bits for a (double-array) vector.
    Planes are constant literals; per-row cost is 16 fused dot products."""
    bits = []
    for j in range(N_PLANES):
        plane = F.array(*[F.lit(x) for x in plane_values(j, dims)])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(dot >= 0, 1).otherwise(0))
    return F.array(*bits)


def duck_signature_bits(vec_expr: str, dims: int) -> list[str]:
    """DuckDB twin: one 0/1 expression per plane."""
    out = []
    for j in range(N_PLANES):
        out.append(
            f"CASE WHEN list_dot_product({vec_expr}, "
            f"{duck_plane_sql(j, dims)}) >= 0 THEN 1 ELSE 0 END"
        )
    return out


def band_keys(bits_col: str) -> list[Column]:
    """Pack each band's bits into an integer bucket key."""
    keys = []
    for b in range(N_BANDS):
        expr = None
        for r in range(ROWS_PER_BAND):
            bit = F.element_at(F.col(bits_col), b * ROWS_PER_BAND + r + 1)
            term = bit * (2 ** r)
            expr = term if expr is None else expr + term
        keys.append(expr.alias(f"band{b}"))
    return keys


def lsh_bucket_table(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Index layout: (id, band, bucket) rows — the at-rest bucketed form
    (long format: one row per band). One projection + posexplode: the
    signature expressions evaluate exactly once per row, with no
    branching union and no persist. At scale this table is WRITTEN once
    (see the queries' session materialization), partitioned by bucket,
    and every search reads it instead of re-hashing the corpus."""
    d = df.select(
        F.col(id_col), as_double_array(vec_col).alias("v")
    ).withColumn("bits", signature_bits("v", dims))
    keyed = d.select(F.col(id_col), F.array(*band_keys("bits")).alias("bk"))
    return keyed.select(
        F.col(id_col), F.posexplode("bk").alias("band", "bucket")
    )


def lsh_similarity_join(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine similarity self-join: candidates share ≥1 LSH
    band bucket; survivors verified with exact cosine ≥ threshold.
    Shuffles only bucket groups — never the quadratic pair space.
    Pass a precomputed ``buckets`` table (id, band, bucket) to search a
    materialized signature table instead of re-hashing ``df``."""
    if buckets is None:
        buckets = lsh_bucket_table(df, id_col, vec_col, dims)
    l = buckets.select(
        "band", "bucket", F.col(id_col).alias("left_id")
    )
    r = buckets.select(
        "band", "bucket", F.col(id_col).alias("right_id")
    )
    cand = (
        l.join(r, ["band", "bucket"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )
    vecs = df.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    return (
        cand.join(
            vecs.select(F.col(id_col).alias("left_id"), F.col("v").alias("lv")),
            "left_id",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("right_id"), F.col("v").alias("rv")
            ),
            "right_id",
        )
        .select(
            "left_id",
            "right_id",
            F.round(cosine_similarity("lv", "rv"), 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def lsh_ann_topk(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    index_buckets: DataFrame | None = None,
    query_buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: score only index vectors sharing ≥1 band bucket
    with the query (candidate recall < 1; property-tested ≥ threshold).
    At rest the index is partitioned by bucket → queries prune partitions;
    pass the materialized table via ``index_buckets`` to skip re-hashing."""
    ibuckets = (
        index_buckets
        if index_buckets is not None
        else lsh_bucket_table(index_df, id_col, vec_col, dims)
    )
    qbuckets = (
        query_buckets
        if query_buckets is not None
        else lsh_bucket_table(query_df, id_col, vec_col, dims)
    )
    cand = (
        qbuckets.select(
            F.col(id_col).alias("query_id"), "band", "bucket"
        )
        .join(
            ibuckets.select(
                F.col(id_col).alias("neighbor_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    vecs = index_df.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("nv"),
    )
    qvecs = query_df.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    scored = (
        cand.join(F.broadcast(qvecs), "query_id")
        .join(vecs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("qv", "nv"), 6).alias("score"),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], k, F.desc("score"), F.asc("neighbor_id")
    )


def mllib_brp_lsh_join(
    df: DataFrame,
    threshold_euclidean: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 1.0,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approxSimilarityJoin on
    L2-normalized vectors (Euclidean distance on unit vectors is a
    monotone transform of cosine: d² = 2 - 2cos)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from oracle_vector_search_spark.functions.vector import l2_normalize

    d = df.select(
        F.col(id_col),
        array_to_vector(
            l2_normalize(as_double_array(vec_col))
        ).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(d)
    joined = model.approxSimilarityJoin(
        d, d, threshold_euclidean, distCol="euclidean"
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("left_id"),
            F.col(f"datasetB.{id_col}").alias("right_id"),
            F.round(F.col("euclidean"), 6).alias("euclidean"),
        )
        .filter(F.col("left_id") < F.col("right_id"))
    )


SEED_STRIDE = 31  # deterministic coarse "centroids": vec_id % 31 == 0
N_PROBE = 2


def ivf_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_stride: int = SEED_STRIDE,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization with deterministic seeds: every vector is
    assigned to its highest-cosine seed vector (ties → lowest seed id).
    The seed set is O(√N)-ish and broadcast; assignment is a map-only
    pass. At rest the index is partitioned by cluster_id — a query
    touches nprobe partitions only (partition pruning).

    ``seeds`` (columns ``seed_id``, ``sv: array<double>``) supplies an
    external frozen codebook — the incremental-maintenance path
    (operators.index_maint) assigns new batches against the SAME seeds
    the standing index was built with, so batch assignment composes
    with the old table instead of invalidating it."""
    vecs = df.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    if seeds is None:
        seeds = vecs.filter(F.col(id_col) % seed_stride == 0).select(
            F.col(id_col).alias("seed_id"), F.col("v").alias("sv")
        )
    scored = vecs.join(F.broadcast(seeds)).select(
        F.col(id_col),
        "seed_id",
        F.round(cosine_similarity("v", "sv"), 6).alias("seed_score"),
    )
    return top_k_per_group(
        scored, [id_col], 1, F.desc("seed_score"), F.asc("seed_id")
    ).select(F.col(id_col), F.col("seed_id").alias("cluster_id"))


def ivf_closure_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_stride: int = SEED_STRIDE,
    n_assign: int = 2,
    seeds: DataFrame | None = None,
    with_rank: bool = False,
) -> DataFrame:
    """SPANN-style closure assignment (Chen et al. 2021, SPANN): every
    vector lands in its ``n_assign`` nearest clusters instead of one.
    Boundary vectors — the ones single-assignment IVF misses when a
    query probes only its own cluster — are replicated into the
    neighboring posting list, so recall at n_probe=1 approaches
    single-assignment recall at n_probe=``n_assign`` while each query
    still scans ONE partition. The cost is explicit and bounded: the
    at-rest index grows by at most ``n_assign``x (exactly the measured
    replication factor, not a hidden blowup), which is the right trade
    at 100 TB where probe fan-out multiplies query-time reads but
    storage is cheap and sequential."""
    vecs = df.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    if seeds is None:
        seeds = vecs.filter(F.col(id_col) % seed_stride == 0).select(
            F.col(id_col).alias("seed_id"), F.col("v").alias("sv")
        )
    scored = vecs.join(F.broadcast(seeds)).select(
        F.col(id_col),
        "seed_id",
        F.round(cosine_similarity("v", "sv"), 6).alias("seed_score"),
    )
    out = top_k_per_group(
        scored, [id_col], n_assign, F.desc("seed_score"), F.asc("seed_id"),
        rank_col="rn",
    )
    cols = [F.col(id_col), F.col("seed_id").alias("cluster_id")]
    if with_rank:
        # rn lets a caller slice the single-assignment tier (rn = 1)
        # out of the same window pass instead of re-ranking the corpus
        cols.append(F.col("rn"))
    return out.select(*cols)


def ivf_ann_topk(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_stride: int = SEED_STRIDE,
    n_probe: int = N_PROBE,
    assign: DataFrame | None = None,
) -> DataFrame:
    """IVF search: each query probes its n_probe nearest clusters and
    scores only their members — the candidate set shrinks by
    ~n_probe/n_clusters vs brute force while staying deterministic
    (and therefore oracle-checkable). Pass a precomputed ``assign``
    table (id, cluster_id) — the at-rest cluster layout — to skip
    re-assigning the corpus per query."""
    if assign is None:
        assign = ivf_assign(index_df, id_col, vec_col, seed_stride).persist()
    vecs = index_df.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("nv"),
    )
    qvecs = query_df.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    seeds = index_df.filter(F.col(id_col) % seed_stride == 0).select(
        F.col(id_col).alias("seed_id"),
        as_double_array(vec_col).alias("sv"),
    )
    qscored = qvecs.join(F.broadcast(seeds)).select(
        "query_id",
        "qv",
        "seed_id",
        F.round(cosine_similarity("qv", "sv"), 6).alias("seed_score"),
    )
    probes = top_k_per_group(
        qscored, ["query_id"], n_probe, F.desc("seed_score"), F.asc("seed_id")
    ).select("query_id", "qv", F.col("seed_id").alias("cluster_id"))
    members = assign.select(
        F.col(id_col).alias("neighbor_id"), "cluster_id"
    )
    cand = (
        probes.join(members, "cluster_id")
        .select("query_id", "qv", "neighbor_id")
        .distinct()
    )
    scored = cand.join(vecs, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("qv", "nv"), 6).alias("score"),
    )
    return top_k_per_group(
        scored, ["query_id"], k, F.desc("score"), F.asc("neighbor_id")
    )


def multiprobe_query_buckets(
    qbuckets: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Multi-probe expansion of a query's LSH buckets: probe each band's
    own bucket PLUS every bucket at Hamming distance 1 (one band bit
    flipped) — the standard recall lever that trades a bounded number
    of extra bucket lookups (rows_per_band per band) for fewer misses,
    instead of adding whole hash tables. Pure column expansion: explode
    over the XOR masks; the downstream bucket join is unchanged."""
    masks = F.array(
        F.lit(0), *[F.lit(1 << r) for r in range(ROWS_PER_BAND)]
    )
    return (
        qbuckets.select(
            F.col(id_col), "band", "bucket", F.explode(masks).alias("m")
        )
        .select(
            F.col(id_col),
            "band",
            F.col("bucket").bitwiseXOR(F.col("m")).alias("bucket"),
        )
        .distinct()
    )
