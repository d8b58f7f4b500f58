"""Approximate-NN oracle corpus (SURVEY.md §7 M5).

Because the LSH planes are hash-derived (operators.ann), signatures,
buckets, candidate sets and final scores are IDENTICAL in Spark and
DuckDB — the approximate index is oracle-checked exactly, not just
statistically. Recall-vs-exact is covered by property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.functions.vector import (
    as_double_array,
    cosine_similarity,
)
from oracle_vector_search_spark.io import (
    at_rest,
    at_rest_built,
    load_table,
    read_artifact,
    write_artifact,
)
from oracle_vector_search_spark.operators import ann
from oracle_vector_search_spark.operators.knn import knn_exact
from oracle_vector_search_spark.operators.topk import top_k_per_group
from oracle_vector_search_spark.plans.ckpt import pin, unpin
from oracle_vector_search_spark.queries import register

DIMS = 64  # embeddings fixture dimensionality (FIXTURES.md)

# Materialized LSH bucket table, built once per session (io.at_rest).
# The signature table is computed and WRITTEN once per corpus; every
# LSH query reads it back instead of re-evaluating the interpreted
# hash expressions — the at-rest index design (at warehouse scale this
# table is partitioned by bucket for pruning).
def _bucket_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_lsh_buckets_")
        # single-file fixture → one input partition; spread the 16
        # per-row plane dot products across cores before evaluating.
        # Written partitioned by band — a band-scoped read prunes 3/4
        # of the files at the metadata level (asserted in tests).
        emb = load_table(spark, sf_dir, "embeddings").repartition(32)
        write_artifact(
            # signatures compute 32-way upstream; the tiny (id, band,
            # bucket) rows then shuffle to one writer task per band so
            # each partition directory is a single clean file instead
            # of 32 fragments with a dynamic-partition sort
            ann.lsh_bucket_table(emb, dims=DIMS).repartition("band"),
            path,
            partition_by=["band"],
        )
        return path

    return read_artifact(spark, at_rest(spark, (_bucket_table, sf_dir), build))


# Same pattern for the IVF coarse assignment: (id, cluster_id) at rest
# (a 100 TB index is written partitioned by cluster_id for pruning).
def _ivf_assign_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_ivf_assign_")
        emb = load_table(spark, sf_dir, "embeddings").repartition(32)
        write_artifact(ann.ivf_assign(emb), path)
        return path

    return read_artifact(
        spark, at_rest(spark, (_ivf_assign_table, sf_dir), build)
    )


# SPANN closure assignment at rest, rank retained: rn=1 is the single-
# assignment tier, rn<=2 the closure posting lists — ONE written table
# serves both (at 100 TB this IS the index layout, partitioned by
# cluster_id; the rank column costs one byte-ish per row).
def _ivf_closure_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_ivf_closure_")
        emb = load_table(spark, sf_dir, "embeddings").repartition(32)
        write_artifact(
            ann.ivf_closure_assign(emb, n_assign=2, with_rank=True), path
        )
        return path

    return read_artifact(
        spark, at_rest(spark, (_ivf_closure_table, sf_dir), build)
    )


# Fast path for the unified recall AUDIT (VERDICT r7 #5): the audit
# needs the same (bucket / closure / PQ-reconstruction) VALUES as the
# serving queries but not their at-rest parquet materialization —
# three partitioned write+read round-trips that dominated its cold cost
# (~20 s of a 26 s cold run at sf0.01, all scheduling + file I/O on
# tiny tables).  localCheckpoint gives an identical-value in-memory
# pin.  Resolution order per table: an at-rest artifact another query
# already built this session is reused (free, and keeps the audit
# reading the SAME bytes the serving path reads); otherwise
# OVS_SCALE_STRESS=1 forces the full at-rest build (the mode scale
# probes exercise); otherwise build in-plan and pin, once per session
# under the key (_audit_tables, sf_dir, name).
def _audit_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Resolve {buckets, closure, ivfpq} for the unified recall audit.

    Missing fast-path tables build CONCURRENTLY (one driver thread per
    localCheckpoint — Spark job submission is thread-safe, and the
    three builds are independent), so the audit pays the slowest build
    rather than the sum."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from oracle_vector_search_spark.queries.pq_queries import (
        _build_ivfpq_approx,
        _spark_ivfpq_approx,
    )

    specs = {
        "buckets": (
            _bucket_table,
            lambda: ann.lsh_bucket_table(
                load_table(spark, sf_dir, "embeddings").repartition(32),
                dims=DIMS,
            ),
        ),
        "closure": (
            _ivf_closure_table,
            lambda: ann.ivf_closure_assign(
                load_table(spark, sf_dir, "embeddings").repartition(32),
                n_assign=2,
                with_rank=True,
            ),
        ),
        "ivfpq": (
            _spark_ivfpq_approx,
            lambda: _build_ivfpq_approx(spark, sf_dir),
        ),
    }
    stress = os.environ.get("OVS_SCALE_STRESS") == "1"
    out: dict[str, DataFrame] = {}
    for name, (at_rest_fn, _) in specs.items():
        if stress or at_rest_built(spark, (at_rest_fn, sf_dir)):
            out[name] = at_rest_fn(spark, sf_dir)
    fast = {n: (_audit_tables, sf_dir, n) for n in specs if n not in out}
    to_build = [n for n, k in fast.items() if not at_rest_built(spark, k)]
    # deliberately a RAW localCheckpoint: these pins are session-cached
    # by at_rest — one per (app, sf, name), dropped when the session
    # changes — so residue is already bounded and no re-invocation ever
    # supersedes a pin. The pool threads have no pin scope; they only
    # build, and at_rest stores on this thread.
    with ThreadPoolExecutor(max_workers=max(len(to_build), 1)) as ex:
        futs = {
            n: ex.submit(lambda f=specs[n][1]: f().localCheckpoint())
            for n in to_build
        }
        for n, key in fast.items():
            out[n] = at_rest(spark, key, lambda n=n: futs[n].result())
    return out


def _duck_bits_cte(source_sql: str) -> str:
    bit_exprs = ", ".join(
        f"{e} AS bit{j}"
        for j, e in enumerate(ann.duck_signature_bits("v", DIMS))
    )
    band_exprs = []
    for b in range(ann.N_BANDS):
        terms = " + ".join(
            f"bit{b * ann.ROWS_PER_BAND + r} * {2 ** r}"
            for r in range(ann.ROWS_PER_BAND)
        )
        band_exprs.append(f"({terms}) AS band{b}")
    bands_union = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, band{b} AS bucket FROM keys"
        for b in range(ann.N_BANDS)
    )
    return f"""
v AS ({source_sql}),
bits AS (SELECT vec_id, {bit_exprs} FROM v),
keys AS (SELECT vec_id, {', '.join(band_exprs)} FROM bits),
buckets AS ({bands_union})"""


@register(
    "lsh_bucket_distribution",
    f"""
WITH {_duck_bits_cte("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")}
SELECT band, CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM buckets
GROUP BY band, bucket
""",
)
def lsh_bucket_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest LSH index layout: vectors per (band, bucket). This is
    the partitioning a 100 TB index would be written with — queries read
    only their own buckets (partition pruning)."""
    buckets = _bucket_table(spark, sf_dir)
    return buckets.groupBy("band", "bucket").agg(
        F.count("*").alias("n_vectors")
    ).select("band", F.col("bucket").cast("int").alias("bucket"), "n_vectors")


@register(
    "lsh_similarity_join_approx",
    f"""
WITH {_duck_bits_cte(
    "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 = 0"
)},
cand AS (
  SELECT DISTINCT a.vec_id AS left_id, b.vec_id AS right_id
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                AND a.vec_id < b.vec_id
)
SELECT c.left_id, c.right_id,
       round(list_dot_product(x.v, y.v)
             / (sqrt(list_dot_product(x.v, x.v))
                * sqrt(list_dot_product(y.v, y.v))), 6) AS score
FROM cand c
JOIN v x ON x.vec_id = c.left_id
JOIN v y ON y.vec_id = c.right_id
WHERE round(list_dot_product(x.v, y.v)
            / (sqrt(list_dot_product(x.v, x.v))
               * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.3
""",
)
def lsh_similarity_join_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate similarity self-join (LSH candidates + exact-cosine
    verify ≥ 0.3) on the same subset as the exact ``similarity_self_join``
    — the two results differ only by LSH recall, measured in tests."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 == 0
    )
    buckets = _bucket_table(spark, sf_dir).filter(F.col("vec_id") % 10 == 0)
    return pin(
        ann.lsh_similarity_join(
            emb, threshold=0.3, dims=DIMS, buckets=buckets
        ),
    )


@register(
    "lsh_ann_topk",
    f"""
WITH {_duck_bits_cte("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")},
qbuckets AS (
  SELECT vec_id AS query_id, band, bucket FROM buckets WHERE vec_id < 10
),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM qbuckets q
  JOIN buckets b ON q.band = b.band AND q.bucket = b.bucket
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(n.v, n.v))), 6) AS score
  FROM cand c
  JOIN v q ON q.vec_id = c.query_id
  JOIN v n ON n.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5
""",
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: candidates share ≥1 LSH band bucket with the
    query, then exact cosine + rank. Same output shape as the exact kNN
    queries; recall measured against them in property tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ibuckets = _bucket_table(spark, sf_dir)
    qbuckets = ibuckets.filter(F.col("vec_id") < 10)
    return pin(
        ann.lsh_ann_topk(
            emb,
            queries,
            k=5,
            dims=DIMS,
            index_buckets=ibuckets,
            query_buckets=qbuckets,
        ),
    )


_IVF_ORACLE = """
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
seeds AS (
  SELECT vec_id AS seed_id, v AS sv FROM vecs WHERE vec_id % 31 = 0
),
assign_scored AS (
  SELECT x.vec_id, s.seed_id,
         round(list_dot_product(x.v, s.sv)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(s.sv, s.sv))), 6) AS seed_score
  FROM vecs x CROSS JOIN seeds s
),
assigned AS (
  SELECT vec_id, seed_id AS cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY seed_score DESC, seed_id) AS rn
        FROM assign_scored)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
qprobe AS (
  SELECT query_id, cluster_id FROM (
    SELECT q.query_id, s.seed_id AS cluster_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qv, s.sv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(s.sv, s.sv))), 6) DESC,
                   s.seed_id) AS rn
    FROM q CROSS JOIN seeds s)
  WHERE rn <= 2
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p JOIN assigned a ON a.cluster_id = p.cluster_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(q.qv, n.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(n.v, n.v))), 6) AS score
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN vecs n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, score,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 5
"""


@register("ivf_ann_topk", _IVF_ORACLE)
def ivf_ann_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5: deterministic seed vectors as coarse
    centroids, nprobe=2 cluster probing, exact cosine within probed
    clusters. The at-rest layout partitions the index by cluster_id so
    a query scans nprobe partitions, not the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann.ivf_ann_topk(
        emb, queries, k=5, assign=_ivf_assign_table(spark, sf_dir)
    )


_KMEANS_REFINE_ORACLE = """
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
seeds AS (
  SELECT vec_id AS seed_id, v AS sv FROM vecs WHERE vec_id % 31 = 0
),
assign_scored AS (
  SELECT x.vec_id, s.seed_id,
         round(list_dot_product(x.v, s.sv)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(s.sv, s.sv))), 6) AS seed_score
  FROM vecs x CROSS JOIN seeds s
),
assigned AS (
  SELECT vec_id, seed_id AS cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY seed_score DESC, seed_id) AS rn
        FROM assign_scored)
  WHERE rn = 1
),
dim_rows AS (
  SELECT a.cluster_id,
         unnest([{'d': i - 1,
                  'q': CAST(floor(x.v[i] * 1000000.0::DOUBLE) AS BIGINT)}
                 FOR i IN range(1, len(x.v) + 1)]) AS u
  FROM vecs x JOIN assigned a USING (vec_id)
),
cent_dims AS (
  SELECT cluster_id, u.d AS dim,
         CAST(sum(u.q) AS DOUBLE) / count(*) AS cd
  FROM dim_rows GROUP BY cluster_id, u.d
),
cents AS (
  SELECT cluster_id, list(cd ORDER BY dim) AS cv
  FROM cent_dims GROUP BY cluster_id
),
reassigned AS (
  SELECT vec_id, cluster_id
  FROM (SELECT x.vec_id, c.cluster_id,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY round(list_dot_product(x.v, c.cv)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                       c.cluster_id) AS rn
        FROM vecs x CROSS JOIN cents c)
  WHERE rn = 1
),
b AS (SELECT cluster_id, count(*) AS n FROM assigned GROUP BY cluster_id),
f AS (SELECT cluster_id, count(*) AS n FROM reassigned GROUP BY cluster_id),
st AS (
  SELECT a.cluster_id, count(*) AS n
  FROM assigned a JOIN reassigned r
    ON a.vec_id = r.vec_id AND a.cluster_id = r.cluster_id
  GROUP BY a.cluster_id
)
SELECT s.seed_id AS cluster_id,
       CAST(coalesce(b.n, 0) AS BIGINT) AS n_before,
       CAST(coalesce(f.n, 0) AS BIGINT) AS n_after,
       CAST(coalesce(st.n, 0) AS BIGINT) AS n_stayed
FROM seeds s
LEFT JOIN b ON b.cluster_id = s.seed_id
LEFT JOIN f ON f.cluster_id = s.seed_id
LEFT JOIN st ON st.cluster_id = s.seed_id
ORDER BY cluster_id
"""


@register("kmeans_refine_clusters", _KMEANS_REFINE_ORACLE)
def kmeans_refine_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unrolled Lloyd (k-means) refinement step on the IVF coarse
    assignment: per-cluster centroids are the element-wise means of
    member vectors — accumulated as EXACT integers (floor(x·1e6)) so
    the 64 per-dimension sums are order-independent, then one division
    each — and every vector reassigns to its nearest centroid. Reports
    per-cluster membership before/after and how many stayed: the
    convergence telemetry a k-means driver loop reads. Further
    iterations chain the same two relational steps; at 100 TB each
    step is one posexplode shuffle on (cluster, dim) plus a
    broadcast-centroid reassignment scan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = _ivf_assign_table(spark, sf_dir)  # (vec_id, cluster_id)
    dims = vecs.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(v, x -> cast(floor(x * 1000000.0D) as bigint))")
        ).alias("dim", "q"),
    ).join(assigned, "vec_id")
    cent_dims = dims.groupBy("cluster_id", "dim").agg(
        (F.sum("q").cast("double") / F.count("*")).alias("cd")
    )
    cents = cent_dims.groupBy("cluster_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, cd))), x -> x.cd)"
        ).alias("cv")
    )
    # `reassigned` feeds both f and st; unpinned, each consumer would
    # replay the whole Lloyd step (the (cluster, dim) posexplode
    # shuffle and the broadcast-centroid scan), so pin the ids only
    reassigned = pin(
        top_k_per_group(
            vecs.join(F.broadcast(cents)).select(
                "vec_id", "cluster_id",
                F.round(cosine_similarity("v", "cv"), 6).alias("score"),
            ),
            ["vec_id"], 1, F.desc("score"), F.asc("cluster_id"),
        ).select("vec_id", "cluster_id"),
    )
    seeds = vecs.filter(F.col("vec_id") % ann.SEED_STRIDE == 0).select(
        F.col("vec_id").alias("cluster_id")
    )
    b = assigned.groupBy("cluster_id").agg(F.count("*").alias("n_before"))
    f = reassigned.groupBy("cluster_id").agg(F.count("*").alias("n_after"))
    st = (
        assigned.alias("a")
        .join(
            reassigned.alias("r"),
            (F.col("a.vec_id") == F.col("r.vec_id"))
            & (F.col("a.cluster_id") == F.col("r.cluster_id")),
        )
        .groupBy(F.col("a.cluster_id").alias("cluster_id"))
        .agg(F.count("*").alias("n_stayed"))
    )
    return (
        seeds.join(b, "cluster_id", "left")
        .join(f, "cluster_id", "left")
        .join(st, "cluster_id", "left")
        .select(
            "cluster_id",
            F.coalesce("n_before", F.lit(0)).alias("n_before"),
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            F.coalesce("n_stayed", F.lit(0)).alias("n_stayed"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Incremental index maintenance (the operation a 100 TB corpus runs
# nightly). The reference rebuilds its FAISS index from scratch on every
# corpus change (/root/reference/build_faiss_db.py:138-225); here a batch
# of new + changed vectors is merged into the standing at-rest index
# tables with batch-proportional work, rewriting only affected
# partitions (operators/index_maint.py). The merged table must be
# row-identical to a full rebuild over the upserted corpus — exactly
# what the DuckDB oracles compute.
#
# Shared deterministic scenario:
#   base corpus = vec_id % 10 != 0                      (original vectors)
#   inserts     = vec_id % 10 == 0                      (original vectors)
#   updates     = vec_id % 10 == 1 AND vec_id % 31 != 0 (vector negated)
# Updates never touch a seed id (% 31 == 0): the IVF codebook is frozen
# between retrains — the precondition for incremental assignment.

_UPSERT_SOURCE_DUCK = """
SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
WHERE NOT (vec_id % 10 = 1 AND vec_id % 31 <> 0)
UNION ALL
SELECT vec_id, [-x for x in embedding::DOUBLE[]] AS v FROM embeddings
WHERE vec_id % 10 = 1 AND vec_id % 31 <> 0
"""


def _upsert_batch(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding: array<double>) — the inserts + updates batch."""
    inserts = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", as_double_array("embedding").alias("embedding")
    )
    updates = emb.filter(
        (F.col("vec_id") % 10 == 1) & (F.col("vec_id") % 31 != 0)
    ).select(
        "vec_id",
        F.transform(as_double_array("embedding"), lambda x: -x).alias(
            "embedding"
        ),
    )
    return inserts.unionByName(updates)


def _upserted_lsh_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the base LSH bucket table at rest (partitioned by band,
    bucket), then apply one incremental upsert in place — hashing only
    the batch, rewriting only affected partitions."""
    from oracle_vector_search_spark.operators import index_maint
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_lsh_upsert_")
        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") % 10 != 0).repartition(32)
        write_artifact(
            ann.lsh_bucket_table(base, dims=DIMS).repartition(
                "band", "bucket"
            ),
            path,
            partition_by=["band", "bucket"],
        )
        old = read_artifact(spark, path)
        # checkpoint the batch signatures once: reused by the merge
        # AND the affected-partition scan (batch-sized rows)
        fresh = pin(ann.lsh_bucket_table(_upsert_batch(emb), dims=DIMS))
        merged = index_maint.merge_index_rows(old, fresh)
        affected = index_maint.affected_partitions(
            old, fresh, ["band", "bucket"]
        )
        index_maint.incremental_overwrite(
            spark, merged, affected, path, ["band", "bucket"]
        )
        # the write was the last consumer — release the pin now
        unpin(fresh)
        return path

    path = at_rest(spark, (_upserted_lsh_table, sf_dir), build)
    return read_artifact(spark, path)


@register(
    "index_upsert_merge",
    f"""
WITH {_duck_bits_cte(_UPSERT_SOURCE_DUCK)}
SELECT vec_id, band, CAST(bucket AS INTEGER) AS bucket
FROM buckets
ORDER BY vec_id, band
""",
)
def index_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index maintenance: merge an insert+update batch
    into the standing bucket table. Work is proportional to the batch
    (only batch vectors are re-hashed; stale rows drop via a broadcast
    anti-join) and only partitions that gained or lost a row are
    rewritten (dynamic partition overwrite). The oracle computes the
    full rebuild over the upserted corpus — the driver hash-match IS
    the incremental ≡ rebuild proof."""
    t = _upserted_lsh_table(spark, sf_dir)
    return t.select(
        "vec_id",
        F.col("band").cast("int").alias("band"),
        F.col("bucket").cast("int").alias("bucket"),
    ).orderBy("vec_id", "band")


def _upserted_ivf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same maintenance cycle for the IVF assignment table (partitioned
    by cluster_id), assigning the batch against the FROZEN codebook the
    base index was built with."""
    from oracle_vector_search_spark.operators import index_maint
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_ivf_upsert_")
        emb = load_table(spark, sf_dir, "embeddings")
        seeds = emb.filter(F.col("vec_id") % ann.SEED_STRIDE == 0).select(
            F.col("vec_id").alias("seed_id"),
            as_double_array("embedding").alias("sv"),
        )
        base = emb.filter(F.col("vec_id") % 10 != 0).repartition(32)
        write_artifact(
            ann.ivf_assign(base, seeds=seeds).repartition("cluster_id"),
            path,
            partition_by=["cluster_id"],
        )
        old = read_artifact(spark, path)
        fresh = pin(ann.ivf_assign(_upsert_batch(emb), seeds=seeds))
        merged = index_maint.merge_index_rows(old, fresh)
        affected = index_maint.affected_partitions(
            old, fresh, ["cluster_id"]
        )
        index_maint.incremental_overwrite(
            spark, merged, affected, path, ["cluster_id"]
        )
        # the write was the last consumer — release the pin now
        unpin(fresh)
        return path

    path = at_rest(spark, (_upserted_ivf_table, sf_dir), build)
    return read_artifact(spark, path)


@register(
    "ivf_index_upsert",
    f"""
WITH corpus AS ({_UPSERT_SOURCE_DUCK}),
seeds AS (
  SELECT vec_id AS seed_id, embedding::DOUBLE[] AS sv FROM embeddings
  WHERE vec_id % 31 = 0
),
scored AS (
  SELECT x.vec_id, s.seed_id,
         round(list_dot_product(x.v, s.sv)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(s.sv, s.sv))), 6) AS seed_score
  FROM corpus x CROSS JOIN seeds s
)
SELECT vec_id, cluster_id
FROM (SELECT vec_id, seed_id AS cluster_id,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY seed_score DESC, seed_id) AS rn
      FROM scored)
WHERE rn = 1
ORDER BY vec_id
""",
)
def ivf_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF assignment maintenance: the batch is assigned
    against the frozen codebook (only batch vectors score against
    seeds), merged over the standing table, and only affected cluster
    partitions are rewritten. Oracle = full re-assignment of the
    upserted corpus."""
    t = _upserted_ivf_table(spark, sf_dir)
    return t.select(
        "vec_id", F.col("cluster_id").cast("long").alias("cluster_id")
    ).orderBy("vec_id")


def _duck_lloyd_step(assign_cte: str, suffix: str) -> str:
    """DuckDB CTE fragment: one Lloyd step — exact-integer centroids of
    ``assign_cte`` (vec_id, cluster_id), then nearest-centroid
    reassignment as ``reassigned{suffix}``."""
    return f"""
dim_rows{suffix} AS (
  SELECT a.cluster_id,
         unnest([{{'d': i - 1,
                  'q': CAST(floor(x.v[i] * 1000000.0::DOUBLE) AS BIGINT)}}
                 FOR i IN range(1, len(x.v) + 1)]) AS u
  FROM vecs x JOIN {assign_cte} a USING (vec_id)
),
cent_dims{suffix} AS (
  SELECT cluster_id, u.d AS dim,
         CAST(sum(u.q) AS DOUBLE) / count(*) AS cd
  FROM dim_rows{suffix} GROUP BY cluster_id, u.d
),
cents{suffix} AS (
  SELECT cluster_id, list(cd ORDER BY dim) AS cv
  FROM cent_dims{suffix} GROUP BY cluster_id
),
reassigned{suffix} AS (
  SELECT vec_id, cluster_id
  FROM (SELECT x.vec_id, c.cluster_id,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY round(list_dot_product(x.v, c.cv)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                       c.cluster_id) AS rn
        FROM vecs x CROSS JOIN cents{suffix} c)
  WHERE rn = 1
)"""


_KMEANS_CHAIN_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
seeds AS (
  SELECT vec_id AS seed_id, v AS sv FROM vecs WHERE vec_id % 31 = 0
),
assign_scored AS (
  SELECT x.vec_id, s.seed_id,
         round(list_dot_product(x.v, s.sv)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(s.sv, s.sv))), 6) AS seed_score
  FROM vecs x CROSS JOIN seeds s
),
assigned AS (
  SELECT vec_id, seed_id AS cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY seed_score DESC, seed_id) AS rn
        FROM assign_scored)
  WHERE rn = 1
),
{_duck_lloyd_step('assigned', '1')},
{_duck_lloyd_step('reassigned1', '2')},
f1 AS (SELECT cluster_id, count(*) AS n FROM reassigned1 GROUP BY cluster_id),
f2 AS (SELECT cluster_id, count(*) AS n FROM reassigned2 GROUP BY cluster_id),
st AS (
  SELECT a.cluster_id, count(*) AS n
  FROM reassigned1 a JOIN reassigned2 r
    ON a.vec_id = r.vec_id AND a.cluster_id = r.cluster_id
  GROUP BY a.cluster_id
)
SELECT s.seed_id AS cluster_id,
       CAST(coalesce(f1.n, 0) AS BIGINT) AS n_after1,
       CAST(coalesce(f2.n, 0) AS BIGINT) AS n_after2,
       CAST(coalesce(st.n, 0) AS BIGINT) AS n_stayed
FROM seeds s
LEFT JOIN f1 ON f1.cluster_id = s.seed_id
LEFT JOIN f2 ON f2.cluster_id = s.seed_id
LEFT JOIN st ON st.cluster_id = s.seed_id
ORDER BY cluster_id
"""


def _lloyd_step(vecs: DataFrame, assigned: DataFrame) -> DataFrame:
    """One Lloyd refinement: exact-integer centroid means of the current
    assignment, then nearest-centroid (round-6 cosine, lowest-id tie)
    reassignment. At 100 TB: one posexplode shuffle on (cluster, dim)
    plus a broadcast-centroid map-only scan."""
    dims = vecs.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(v, x -> cast(floor(x * 1000000.0D) as bigint))")
        ).alias("dim", "q"),
    ).join(assigned, "vec_id")
    cent_dims = dims.groupBy("cluster_id", "dim").agg(
        (F.sum("q").cast("double") / F.count("*")).alias("cd")
    )
    cents = cent_dims.groupBy("cluster_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, cd))), x -> x.cd)"
        ).alias("cv")
    )
    return top_k_per_group(
        vecs.join(F.broadcast(cents)).select(
            "vec_id",
            "cluster_id",
            F.round(cosine_similarity("v", "cv"), 6).alias("score"),
        ),
        ["vec_id"], 1, F.desc("score"), F.asc("cluster_id"),
    ).select("vec_id", "cluster_id")


@register("kmeans_chain_two_steps", _KMEANS_CHAIN_ORACLE)
def kmeans_chain_two_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained Lloyd iterations from the IVF coarse assignment —
    the k-means driver loop a clustering job runs to convergence,
    unrolled to depth 2 with per-cluster convergence telemetry
    (n_after1 / n_after2 / n_stayed). Each iteration's assignment is
    locally checkpointed: the tiny (vec_id, cluster_id) rows are
    materialized so iteration N+1's plan doesn't recompute iteration N
    — exactly how an iterative driver persists per-step state at scale
    (cf. MLlib KMeans' per-iteration materialization)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = _ivf_assign_table(spark, sf_dir)
    # BOTH rounds feed the final stats (f1/f2/st join them), so
    # neither is superseded within a run
    it1 = pin(_lloyd_step(vecs, assigned))
    it2 = pin(_lloyd_step(vecs, it1))
    seeds = vecs.filter(F.col("vec_id") % ann.SEED_STRIDE == 0).select(
        F.col("vec_id").alias("cluster_id")
    )
    f1 = it1.groupBy("cluster_id").agg(F.count("*").alias("n_after1"))
    f2 = it2.groupBy("cluster_id").agg(F.count("*").alias("n_after2"))
    st = (
        it1.alias("a")
        .join(
            it2.alias("r"),
            (F.col("a.vec_id") == F.col("r.vec_id"))
            & (F.col("a.cluster_id") == F.col("r.cluster_id")),
        )
        .groupBy(F.col("a.cluster_id").alias("cluster_id"))
        .agg(F.count("*").alias("n_stayed"))
    )
    return (
        seeds.join(f1, "cluster_id", "left")
        .join(f2, "cluster_id", "left")
        .join(st, "cluster_id", "left")
        .select(
            "cluster_id",
            F.coalesce("n_after1", F.lit(0)).alias("n_after1"),
            F.coalesce("n_after2", F.lit(0)).alias("n_after2"),
            F.coalesce("n_stayed", F.lit(0)).alias("n_stayed"),
        )
        .orderBy("cluster_id")
    )


@register(
    "lsh_recall_audit",
    f"""
WITH {_duck_bits_cte("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")},
qbuckets AS (
  SELECT vec_id AS query_id, band, bucket FROM buckets WHERE vec_id < 10
),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM qbuckets q
  JOIN buckets b ON q.band = b.band AND q.bucket = b.bucket
),
lsh_scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(n.v, n.v))), 6) AS score
  FROM cand c
  JOIN v q ON q.vec_id = c.query_id
  JOIN v n ON n.vec_id = c.neighbor_id
),
lsh_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
    FROM lsh_scored) WHERE rn <= 5
),
exact_scored AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         round(list_dot_product(q.v, d.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM v d CROSS JOIN (SELECT * FROM v WHERE vec_id < 10) q
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
    FROM exact_scored) WHERE rn <= 5
),
hits AS (
  SELECT e.query_id, CAST(count(l.neighbor_id) AS BIGINT) AS n_overlap
  FROM exact_top e
  LEFT JOIN lsh_top l
    ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT query_id, n_overlap,
       round(n_overlap / 5.0, 6) AS recall_at_5
FROM hits
ORDER BY query_id
""",
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate as a first-class query: recall@5 of the LSH
    tier against the exact kNN tier, per query. Both tiers are fully
    deterministic (hash-derived planes), so even the RECALL NUMBER is
    oracle-checkable — the audit a production ANN deployment runs
    nightly to catch index drift/corruption, here with a hard
    cross-engine hash match instead of a statistical bound. (PQ has
    the analogous gate in pq_codes_fidelity.)"""
    from oracle_vector_search_spark.operators.knn import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_exact(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    buckets = _bucket_table(spark, sf_dir)
    qbuckets = buckets.filter(F.col("vec_id") < 10)
    lsh = ann.lsh_ann_topk(
        emb,
        queries,
        k=5,
        dims=DIMS,
        index_buckets=buckets,
        query_buckets=qbuckets,
    ).select("query_id", F.col("neighbor_id").alias("lsh_neighbor"))
    hits = exact.join(
        lsh,
        (exact.query_id == lsh.query_id)
        & (exact.neighbor_id == lsh.lsh_neighbor),
        "left",
    ).select(exact.query_id, "lsh_neighbor")
    return (
        hits.groupBy("query_id")
        .agg(F.count("lsh_neighbor").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / 5.0, 6).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


@register(
    "index_health_audit",
    f"""
WITH {_duck_bits_cte("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")},
per_id AS (
  SELECT vec_id, count(*) AS n_rows,
         count(DISTINCT band) AS n_bands
  FROM buckets GROUP BY vec_id
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(n_rows) AS BIGINT) AS n_index_rows,
       CAST(sum(CASE WHEN n_rows <> {ann.N_BANDS} THEN 1 ELSE 0 END)
            AS BIGINT) AS bad_row_count,
       CAST(sum(CASE WHEN n_bands <> {ann.N_BANDS} THEN 1 ELSE 0 END)
            AS BIGINT) AS dup_band_count,
       (SELECT CAST(sum(CASE WHEN bucket < 0
                          OR bucket >= {2 ** ann.ROWS_PER_BAND}
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM buckets) AS out_of_range_buckets
FROM per_id
""",
)
def index_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint audit for the at-rest LSH index table —
    the invariants a deployment checks after every maintenance cycle:
    every vector has exactly one row per band, no duplicate (id, band)
    rows, every bucket key within [0, 2^rows_per_band). Violation
    counts must be zero AND match the oracle's recomputation, so a
    corrupted partition rewrite (the failure mode of incremental
    maintenance) is caught by count, not by luck. Scan-local partial
    aggregations only — one pass over the index."""
    buckets = _bucket_table(spark, sf_dir)
    per_id = buckets.groupBy("vec_id").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("band").alias("n_bands"),
    )
    oor = buckets.agg(
        F.sum(
            F.when(
                (F.col("bucket") < 0)
                | (F.col("bucket") >= 2 ** ann.ROWS_PER_BAND),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("out_of_range_buckets")
    )
    agg = per_id.agg(
        F.count("*").alias("n_vectors"),
        F.sum("n_rows").alias("n_index_rows"),
        F.sum(
            F.when(F.col("n_rows") != ann.N_BANDS, 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_row_count"),
        F.sum(
            F.when(F.col("n_bands") != ann.N_BANDS, 1).otherwise(0)
        )
        .cast("long")
        .alias("dup_band_count"),
    )
    return agg.crossJoin(F.broadcast(oor))


@register(
    "matryoshka_recall_audit",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
full_scored AS (
  SELECT q.query_id, d.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, d.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM v d CROSS JOIN q
),
full_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
    FROM full_scored) WHERE rn <= 5
),
trunc_scored AS (
  SELECT q.query_id, d.vec_id AS neighbor_id,
         round(list_dot_product(q.qv[1:16], d.v[1:16])
               / (sqrt(list_dot_product(q.qv[1:16], q.qv[1:16]))
                  * sqrt(list_dot_product(d.v[1:16], d.v[1:16]))), 6)
           AS score
  FROM v d CROSS JOIN q
),
trunc_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
    FROM trunc_scored) WHERE rn <= 5
)
SELECT f.query_id,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap,
       round(count(t.neighbor_id) / 5.0, 6) AS recall_at5
FROM full_top f
LEFT JOIN trunc_top t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
""",
)
def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension (matryoshka-style) retrieval audit: recall@5
    of cosine top-k computed on the FIRST 16 of 64 dims vs the full
    vectors — the measurement that decides whether a deployment can
    serve its coarse ANN stage from a 4× narrower (4× cheaper to scan,
    shuffle, and cache) prefix slice and refine only the survivors with
    full vectors. Deterministic end to end, so the recall numbers
    themselves hash-match the oracle (same discipline as
    ``lsh_recall_audit`` / ``pq_codes_fidelity``).

    Shape at 100 TB: the prefix slice is a pure column projection
    (``slice(v, 1, 16)``) — at rest it becomes a narrow sibling table;
    the audit's cross join is bounded by the query sample, never the
    corpus squared."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    def topk(score_col):
        return top_k_per_group(
            emb.crossJoin(F.broadcast(q)).select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(score_col, 6).alias("score"),
            ),
            ["query_id"], 5, F.desc("score"), F.asc("neighbor_id"),
        ).select("query_id", "neighbor_id")

    full_top = topk(cosine_similarity("qv", "v"))
    trunc_top = topk(
        cosine_similarity(F.slice("qv", 1, 16), F.slice("v", 1, 16))
    )
    return (
        full_top.join(
            trunc_top.withColumnRenamed("neighbor_id", "t_neighbor"),
            (full_top.query_id == trunc_top.query_id)
            & (full_top.neighbor_id == F.col("t_neighbor")),
            "left",
        )
        .groupBy(full_top.query_id)
        .agg(
            F.count("t_neighbor").alias("n_overlap"),
            F.round(F.count("t_neighbor") / 5.0, 6).alias("recall_at5"),
        )
        .orderBy("query_id")
    )


@register(
    "lsh_multiprobe_topk",
    f"""
WITH {_duck_bits_cte("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")},
qbuckets AS (
  SELECT vec_id AS query_id, band, bucket FROM buckets WHERE vec_id < 10
),
qprobes AS (
  SELECT DISTINCT query_id, band, xor(bucket, m.mask) AS bucket
  FROM qbuckets, (SELECT unnest([0, 1, 2, 4, 8]) AS mask) m
),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM qprobes q
  JOIN buckets b ON q.band = b.band AND q.bucket = b.bucket
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(n.v, n.v))), 6) AS score
  FROM cand c
  JOIN v q ON q.vec_id = c.query_id
  JOIN v n ON n.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5
""",
)
def lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own bucket plus every
    Hamming-distance-1 bucket per band (operators/ann.py:
    multiprobe_query_buckets) — the recall lever that costs
    rows_per_band extra bucket lookups instead of more hash tables.
    Candidates then score and rank exactly like ``lsh_ann_topk``;
    deterministic hash-derived planes keep even this approximate tier
    fully oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ibuckets = _bucket_table(spark, sf_dir)
    qprobes = ann.multiprobe_query_buckets(
        ibuckets.filter(F.col("vec_id") < 10)
    )
    return pin(
        ann.lsh_ann_topk(
            emb,
            queries,
            k=5,
            dims=DIMS,
            index_buckets=ibuckets,
            query_buckets=qprobes,
        ),
    )


@register(
    "filtered_knn_label",
    """
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, d.vec_id AS neighbor_id, d.label,
         round(list_dot_product(q.qv, d.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM v d CROSS JOIN q
  WHERE d.label = 2 AND d.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, label, score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 3
ORDER BY query_id, rank
""",
)
def filtered_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search (the vector-db table stake): top-3 cosine
    neighbors restricted to a metadata predicate (label = 2), with the
    filter applied BEFORE scoring so it pushes into the parquet scan —
    pre-filtering semantics (exact top-k of the filtered set), not
    post-filtering's recall-losing prune of an unfiltered top-k. On
    the at-rest index the same predicate prunes bucket/cluster
    partitions."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("qv"),
    )
    cand = emb.filter(F.col("label") == 2).select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        as_double_array("embedding").alias("nv"),
    )
    scored = (
        cand.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "label",
            F.round(cosine_similarity("qv", "nv"), 6).alias("score"),
        )
    )
    return (
        top_k_per_group(
            scored, ["query_id"], 3, F.desc("score"), F.asc("neighbor_id")
        )
        .select("query_id", "neighbor_id", "label", "score", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "multiprobe_recall_audit",
    f"""
WITH {_duck_bits_cte("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")},
qbuckets AS (
  SELECT vec_id AS query_id, band, bucket FROM buckets WHERE vec_id < 10
),
single_cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM qbuckets q JOIN buckets b
    ON q.band = b.band AND q.bucket = b.bucket
),
qprobes AS (
  SELECT DISTINCT query_id, band, xor(bucket, m.mask) AS bucket
  FROM qbuckets, (SELECT unnest([0, 1, 2, 4, 8]) AS mask) m
),
multi_cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM qprobes q JOIN buckets b
    ON q.band = b.band AND q.bucket = b.bucket
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.v, d.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(d.v, d.v))), 6) DESC,
                   d.vec_id) AS rn
    FROM v d CROSS JOIN (SELECT * FROM v WHERE vec_id < 10) q)
  WHERE rn <= 5
)
SELECT e.query_id,
       CAST(count(s.neighbor_id) AS BIGINT) AS single_hits,
       CAST(count(m.neighbor_id) AS BIGINT) AS multi_hits,
       round(count(s.neighbor_id) / 5.0, 6) AS single_recall_at5,
       round(count(m.neighbor_id) / 5.0, 6) AS multi_recall_at5
FROM exact_top e
LEFT JOIN single_cand s
  ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
LEFT JOIN multi_cand m
  ON m.query_id = e.query_id AND m.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""",
)
def multiprobe_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the multi-probe recall lever: per query, how many of
    the exact top-5 fall in the single-probe candidate set vs the
    Hamming-1 multi-probe set — multi_recall ≥ single_recall by
    construction (the probe set is a superset), and the gap is the
    number that decides whether the extra bucket lookups pay. All
    three tiers deterministic, so the recall numbers themselves
    hash-match the oracle (discipline of ``lsh_recall_audit``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ibuckets = _bucket_table(spark, sf_dir)
    qb = ibuckets.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    qprobes = ann.multiprobe_query_buckets(
        ibuckets.filter(F.col("vec_id") < 10)
    ).select(F.col("vec_id").alias("query_id"), "band", "bucket")
    ib = ibuckets.select(
        F.col("vec_id").alias("neighbor_id"), "band", "bucket"
    )
    # one tagged probe union, one bucket join and one (query, neighbor)
    # flag aggregation; the flags reproduce set membership exactly
    # without assuming the multi-probe set is a superset
    qall = qb.withColumn("is_single", F.lit(True)).unionByName(
        qprobes.withColumn("is_single", F.lit(False))
    )
    cand = (
        qall.join(ib, ["band", "bucket"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.max("is_single").alias("in_single"),
            F.max(~F.col("is_single")).alias("in_multi"),
        )
    )
    # exact top-5 ground truth
    exact_top = knn_exact(emb, emb.filter(F.col("vec_id") < 10)).select(
        "query_id", "neighbor_id"
    )
    s_hit = F.count(F.when(F.col("in_single"), F.lit(1)))
    m_hit = F.count(F.when(F.col("in_multi"), F.lit(1)))
    return (
        exact_top.join(
            F.broadcast(cand), ["query_id", "neighbor_id"], "left"
        )
        .groupBy("query_id")
        .agg(
            s_hit.alias("single_hits"),
            m_hit.alias("multi_hits"),
            F.round(s_hit / 5.0, 6).alias("single_recall_at5"),
            F.round(m_hit / 5.0, 6).alias("multi_recall_at5"),
        )
        .orderBy("query_id")
    )


@register(
    "ivf_closure_recall_audit",
    """
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
seeds AS (
  SELECT vec_id AS seed_id, v AS sv FROM vecs WHERE vec_id % 31 = 0
),
ranked_assign AS (
  SELECT x.vec_id, s.seed_id AS cluster_id,
         row_number() OVER (
           PARTITION BY x.vec_id
           ORDER BY round(list_dot_product(x.v, s.sv)
                 / (sqrt(list_dot_product(x.v, x.v))
                    * sqrt(list_dot_product(s.sv, s.sv))), 6) DESC,
                 s.seed_id) AS rn
  FROM vecs x CROSS JOIN seeds s
),
single_assign AS (
  SELECT vec_id, cluster_id FROM ranked_assign WHERE rn = 1
),
closure_assign AS (
  SELECT vec_id, cluster_id FROM ranked_assign WHERE rn <= 2
),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
qprobe AS (
  SELECT query_id, cluster_id FROM (
    SELECT q.query_id, s.seed_id AS cluster_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qv, s.sv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(s.sv, s.sv))), 6) DESC,
                   s.seed_id) AS rn
    FROM q CROSS JOIN seeds s)
  WHERE rn = 1
),
single_cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p JOIN single_assign a USING (cluster_id)
),
closure_cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p JOIN closure_assign a USING (cluster_id)
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, d.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qv, d.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(d.v, d.v))), 6) DESC,
                   d.vec_id) AS rn
    FROM vecs d CROSS JOIN q)
  WHERE rn <= 5
)
SELECT e.query_id,
       CAST(count(s.neighbor_id) AS BIGINT) AS single_hits,
       CAST(count(c.neighbor_id) AS BIGINT) AS closure_hits,
       round(count(s.neighbor_id) / 5.0, 6) AS single_recall_at5,
       round(count(c.neighbor_id) / 5.0, 6) AS closure_recall_at5
FROM exact_top e
LEFT JOIN single_cand s
  ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
LEFT JOIN closure_cand c
  ON c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""",
)
def ivf_closure_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the SPANN closure-assignment trade (operators.ann.
    ivf_closure_assign): per query, how many of the exact top-5 the
    n_probe=1 candidate set contains under single assignment vs top-2
    closure assignment. closure_recall >= single_recall by construction
    (the closure posting lists are supersets); the gap is what boundary
    replication buys while queries still scan ONE cluster partition.
    Deterministic tiers all the way down, so the recall numbers
    hash-match the oracle (discipline of ``multiprobe_recall_audit``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # ONE at-rest assignment table serves both tiers: single
    # assignment is the rn=1 slice of the same ranked table whose
    # rn<=2 rows are the closure posting lists — written once per
    # session (the index layout), so the audit's warm path reads a
    # tiny parquet instead of re-ranking the corpus against seeds
    ranked = _ivf_closure_table(spark, sf_dir)
    vs = emb.select("vec_id", as_double_array("embedding").alias("v"))
    seeds = vs.filter(F.col("vec_id") % ann.SEED_STRIDE == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )
    q = vs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qprobe = top_k_per_group(
        q.join(F.broadcast(seeds)).select(
            "query_id",
            "seed_id",
            F.round(cosine_similarity("qv", "sv"), 6).alias("seed_score"),
        ),
        ["query_id"], 1, F.desc("seed_score"), F.asc("seed_id"),
    ).select("query_id", F.col("seed_id").alias("cluster_id"))
    # single_cand is the rn=1 slice of the same probed posting lists
    # closure_cand reads, so one join and one (query, neighbor)
    # MIN(rn) aggregation carries both tiers: membership in the single
    # set ⟺ best_rn = 1, membership in the closure set ⟺ presence
    cand = (
        ranked.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(qprobe), "cluster_id")
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("rn").alias("best_rn"))
    )
    exact_top = knn_exact(emb, emb.filter(F.col("vec_id") < 10)).select(
        "query_id", "neighbor_id"
    )
    # one left join carries both tiers: best_rn = 1 ⟺ the neighbor is
    # in the single-assignment candidate set, best_rn NOT NULL ⟺ it is
    # in the closure candidate set (superset)
    s_hit = F.count(F.when(F.col("best_rn") == 1, F.lit(1)))
    c_hit = F.count("best_rn")
    return (
        exact_top.join(F.broadcast(cand), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            s_hit.alias("single_hits"),
            c_hit.alias("closure_hits"),
            F.round(s_hit / 5.0, 6).alias("single_recall_at5"),
            F.round(c_hit / 5.0, 6).alias("closure_recall_at5"),
        )
        .orderBy("query_id")
    )


# ------------------------- unified recall/economics table (VERDICT r6 #6)

_U_ET = """
et AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, d.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qv, d.{vcol})
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(d.{vcol}, d.{vcol}))), 6)
                   DESC, d.vec_id) AS rn
    FROM {vsrc} d CROSS JOIN q)
  WHERE rn <= 5
)"""

_U_AGG = """,
per AS (SELECT query_id, count(*) AS n_cand FROM {cand} GROUP BY query_id),
hit AS (
  SELECT e.query_id, count(r.neighbor_id) AS hits
  FROM et e LEFT JOIN {retr} r
    ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT '{name}' AS method,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(CAST(sum(per.n_cand) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_candidates,
       round(CAST(sum(hit.hits) AS DOUBLE)
             / (5.0 * CAST(count(*) AS DOUBLE)), 6) AS macro_recall_at5
FROM per JOIN hit USING (query_id)"""


def _unified_recall_oracle() -> str:
    from oracle_vector_search_spark.queries.pq_queries import (
        _duck_ivfpq_cte,
    )

    lsh_block = f"""
SELECT * FROM (
WITH {_duck_bits_cte("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")},
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
qb AS (SELECT vec_id AS query_id, band, bucket FROM buckets
       WHERE vec_id < 10),
scand AS (
  SELECT DISTINCT b2.query_id, b.vec_id AS neighbor_id
  FROM qb b2 JOIN buckets b
    ON b2.band = b.band AND b2.bucket = b.bucket
),
qp AS (
  SELECT DISTINCT query_id, band, xor(bucket, m.mask) AS bucket
  FROM qb, (SELECT unnest([0, 1, 2, 4, 8]) AS mask) m
),
mcand AS (
  SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
  FROM qp p JOIN buckets b ON p.band = b.band AND p.bucket = b.bucket
),
{_U_ET.format(vsrc="v", vcol="v")}
{_U_AGG.format(cand="scand", retr="scand", name="lsh_single")}
)
UNION ALL
SELECT * FROM (
WITH {_duck_bits_cte("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")},
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
qb AS (SELECT vec_id AS query_id, band, bucket FROM buckets
       WHERE vec_id < 10),
qp AS (
  SELECT DISTINCT query_id, band, xor(bucket, m.mask) AS bucket
  FROM qb, (SELECT unnest([0, 1, 2, 4, 8]) AS mask) m
),
mcand AS (
  SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
  FROM qp p JOIN buckets b ON p.band = b.band AND p.bucket = b.bucket
),
{_U_ET.format(vsrc="v", vcol="v")}
{_U_AGG.format(cand="mcand", retr="mcand", name="lsh_multiprobe")}
)"""

    ivf_cte = """
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM vecs
          WHERE vec_id % 31 = 0),
ranked_assign AS (
  SELECT x.vec_id, s.seed_id AS cluster_id,
         row_number() OVER (
           PARTITION BY x.vec_id
           ORDER BY round(list_dot_product(x.v, s.sv)
                 / (sqrt(list_dot_product(x.v, x.v))
                    * sqrt(list_dot_product(s.sv, s.sv))), 6) DESC,
                 s.seed_id) AS rn
  FROM vecs x CROSS JOIN seeds s
),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
qprobe AS (
  SELECT query_id, cluster_id FROM (
    SELECT q.query_id, s.seed_id AS cluster_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qv, s.sv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(s.sv, s.sv))), 6) DESC,
                   s.seed_id) AS rn
    FROM q CROSS JOIN seeds s)
  WHERE rn = 1
)"""
    ivf_single = f"""
SELECT * FROM (
WITH {ivf_cte},
icand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p
  JOIN (SELECT vec_id, cluster_id FROM ranked_assign WHERE rn = 1) a
    USING (cluster_id)
),
{_U_ET.format(vsrc="vecs", vcol="v")}
{_U_AGG.format(cand="icand", retr="icand", name="ivf_single")}
)"""
    ivf_closure = f"""
SELECT * FROM (
WITH {ivf_cte},
ccand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p
  JOIN (SELECT vec_id, cluster_id FROM ranked_assign WHERE rn <= 2) a
    USING (cluster_id)
),
{_U_ET.format(vsrc="vecs", vcol="v")}
{_U_AGG.format(cand="ccand", retr="ccand", name="ivf_closure")}
)"""

    cos = _DUCK_IVFPQ_COS
    ivfpq = f"""
SELECT * FROM (
WITH {_duck_ivfpq_cte()},
q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10),
probes AS (
  SELECT query_id, seed_id AS cluster_id FROM (
    SELECT q.query_id, s.seed_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {cos.format(a='q.qv', b='s.sv')} DESC, s.seed_id
           ) AS rn
    FROM q CROSS JOIN seeds s) z
  WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {cos.format(a='q.qv', b='a.av')} AS score
  FROM probes p
  JOIN approx a ON a.cluster_id = p.cluster_id
  JOIN q ON q.query_id = p.query_id
),
pqtop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
    FROM scored)
  WHERE rn <= 5
),
{_U_ET.format(vsrc="v", vcol="e")}
{_U_AGG.format(cand="scored", retr="pqtop", name="ivfpq_adc")}
)"""
    return (
        lsh_block
        + "\nUNION ALL"
        + ivf_single
        + "\nUNION ALL"
        + ivf_closure
        + "\nUNION ALL"
        + ivfpq
        + "\nORDER BY method"
    )


_DUCK_IVFPQ_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register("ann_recall_vs_exact_clustered", _unified_recall_oracle())
def ann_recall_vs_exact_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE standing artifact for the ANN recall/economics tradeoff
    (VERDICT r6 #6): every approximate tier measured against the exact
    scan in a single table — method, mean candidate-set size (the rows
    the serving path actually scores per query: the scan-bytes
    economics at 100 TB) and macro recall@5. Methods:

    * lsh_single      — banded LSH buckets (operators.ann.lsh_bucket_table)
    * lsh_multiprobe  — + Hamming-1 probe expansion (multiprobe_query_buckets)
    * ivf_single      — n_probe=1 over the frozen O(sqrt N) coarse seeds
    * ivf_closure     — SPANN top-2 closure posting lists, still 1 probe
    * ivfpq_adc       — IVF(n_probe=2) + PQ-residual ADC ranking
                        (the only tier whose RANKING is approximate, so
                        its retrieved set is the ADC top-5, not an
                        exact rerank of candidates)

    For the candidate-pruning tiers the retrieved top-5 is the exact
    rerank of the candidate set, so recall@5 reduces to
    |candidates ∩ exact top-5| / 5 (same identity the per-family
    audits use — this query supersedes them as the one-look summary;
    they remain as per-query drill-downs). Every tier is deterministic
    (hash-derived planes/codebooks, frozen seed stride), so the recall
    NUMBERS hash-match DuckDB, not just the shapes. The index tables
    (buckets, closure assignment, PQ reconstruction) resolve through
    `_audit_table`: the serving queries' session-cached at-rest parquet
    artifacts when they exist (or under OVS_SCALE_STRESS=1), else the
    identical values built in-plan and localCheckpoint-pinned — the
    VERDICT r7 #5 fast path that drops the cold audit from ~26 s to
    single digits at sf0.01 without changing a single output value."""
    from oracle_vector_search_spark.queries.pq_queries import (
        _NPROBE as PQ_NPROBE,
        _spark_ivfpq_approx,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vs = emb.select("vec_id", as_double_array("embedding").alias("v"))
    q = vs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    exact_top = knn_exact(emb, emb.filter(F.col("vec_id") < 10)).select(
        "query_id", "neighbor_id"
    )

    def tagged(name, df, with_score=False):
        score = (
            F.col("score") if with_score
            else F.lit(None).cast("double")
        )
        return df.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id",
            score.alias("score"),
        )

    # --- index tables: same values as the at-rest artifacts
    # (see _audit_tables)
    audit = _audit_tables(spark, sf_dir)
    buckets = audit["buckets"]
    qb = buckets.filter(F.col("vec_id") < 10)
    ib = buckets.select(
        F.col("vec_id").alias("neighbor_id"), "band", "bucket"
    )
    lsh_cand = (
        qb.select(F.col("vec_id").alias("query_id"), "band", "bucket")
        .join(ib, ["band", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    mp_cand = (
        ann.multiprobe_query_buckets(qb)
        .select(F.col("vec_id").alias("query_id"), "band", "bucket")
        .join(ib, ["band", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )

    # --- IVF tiers over the closure-assignment table
    ranked = audit["closure"]
    seeds = vs.filter(F.col("vec_id") % ann.SEED_STRIDE == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )
    qprobe = top_k_per_group(
        q.join(F.broadcast(seeds)).select(
            "query_id",
            "seed_id",
            F.round(cosine_similarity("qv", "sv"), 6).alias("seed_score"),
        ),
        ["query_id"], 1, F.desc("seed_score"), F.asc("seed_id"),
    ).select("query_id", F.col("seed_id").alias("cluster_id"))
    ivf_s_cand = (
        ranked.filter(F.col("rn") == 1)
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(qprobe), "cluster_id")
        .select("query_id", "neighbor_id")
        .distinct()
    )
    ivf_c_cand = (
        ranked.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(qprobe), "cluster_id")
        .select("query_id", "neighbor_id")
        .distinct()
    )

    # --- IVF-PQ: ADC ranking over the reconstruction table
    approx = audit["ivfpq"]
    pq_probes = top_k_per_group(
        q.crossJoin(F.broadcast(seeds)).select(
            "query_id",
            F.col("seed_id").alias("cluster_id"),
            F.round(cosine_similarity("qv", "sv"), 6).alias("probe_score"),
        ),
        ["query_id"], PQ_NPROBE, F.desc("probe_score"), F.asc("cluster_id"),
    ).select("query_id", "cluster_id")
    pq_scored = (
        pq_probes.join(approx, "cluster_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity("qv", "av"), 6).alias("score"),
        )
    )
    # ONE aggregation pass over all five methods: the five candidate
    # derivations union under a method tag and pin ONCE (localCheckpoint
    # — a single job whose branches the scheduler runs concurrently);
    # per-query counts, the exact-top join, the ADC top-5 window, and
    # the final per-method rollup all read the pinned ~10^4-row table,
    # so the whole audit is builds + one candidate job + one cheap
    # rollup job.
    cand_all = (
        tagged("lsh_single", lsh_cand)
        .unionByName(tagged("lsh_multiprobe", mp_cand))
        .unionByName(tagged("ivf_single", ivf_s_cand))
        .unionByName(tagged("ivf_closure", ivf_c_cand))
        .unionByName(tagged("ivfpq_adc", pq_scored, with_score=True))
    )
    # eager pin: one job, every consumer reuses it
    cand_all = pin(cand_all)
    # retrieved = candidates for the exact-rerank tiers; the ADC top-5
    # for ivfpq (the only tier whose ranking is approximate)
    pq_top5 = top_k_per_group(
        cand_all.filter(F.col("method") == "ivfpq_adc"),
        ["query_id"], 5, F.desc("score"), F.asc("neighbor_id"),
    ).select("method", "query_id", "neighbor_id")
    retr_all = (
        cand_all.filter(F.col("method") != "ivfpq_adc")
        .select("method", "query_id", "neighbor_id")
        .unionByName(pq_top5)
    )
    per = cand_all.groupBy("method", "query_id").agg(
        F.count(F.lit(1)).alias("n_cand")
    )
    hit = (
        exact_top.join(retr_all, ["query_id", "neighbor_id"])
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    j = per.join(hit, ["method", "query_id"], "left").select(
        "method", "n_cand", F.coalesce("hits", F.lit(0)).alias("hits")
    )
    return (
        j.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("n_cand").alias("sc"),
            F.sum("hits").alias("sh"),
        )
        .select(
            "method",
            "n_queries",
            F.round(
                F.col("sc").cast("double")
                / F.col("n_queries").cast("double"),
                6,
            ).alias("mean_candidates"),
            F.round(
                F.col("sh").cast("double")
                / (F.lit(5.0) * F.col("n_queries").cast("double")),
                6,
            ).alias("macro_recall_at5"),
        )
        .orderBy("method")
    )


# ------------------------------------------- two-tier fusion rerank serving

_DUCK_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "ann_fusion_rerank_topk",
    f"""
WITH {{bits}},
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM v WHERE vec_id % 31 = 0),
assigned AS (
  SELECT vec_id, cluster_id
  FROM (SELECT x.vec_id, s.seed_id AS cluster_id,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY {_DUCK_COS.format(a='x.v', b='s.sv')} DESC,
                          s.seed_id) AS rn
        FROM v x CROSS JOIN seeds s)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
qprobe AS (
  SELECT query_id, cluster_id FROM (
    SELECT q.query_id, s.seed_id AS cluster_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_DUCK_COS.format(a='q.qv', b='s.sv')} DESC,
                      s.seed_id) AS rn
    FROM q CROSS JOIN seeds s)
  WHERE rn <= 2
),
ivf_cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p JOIN assigned a USING (cluster_id)
),
lsh_cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM buckets qb JOIN buckets b
    ON qb.band = b.band AND qb.bucket = b.bucket
  WHERE qb.vec_id < 10
),
cand AS (
  SELECT query_id, neighbor_id,
         CAST(max(from_ivf) AS INTEGER) AS from_ivf,
         CAST(max(from_lsh) AS INTEGER) AS from_lsh
  FROM (SELECT query_id, neighbor_id, 1 AS from_ivf, 0 AS from_lsh
        FROM ivf_cand
        UNION ALL
        SELECT query_id, neighbor_id, 0 AS from_ivf, 1 AS from_lsh
        FROM lsh_cand)
  GROUP BY query_id, neighbor_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id, c.from_ivf, c.from_lsh,
         {_DUCK_COS.format(a='q.qv', b='n.v')} AS score
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN v n ON n.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, d.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_DUCK_COS.format(a='q.qv', b='d.v')} DESC,
                      d.vec_id) AS rn
    FROM v d CROSS JOIN q)
  WHERE rn <= 5
)
SELECT r.query_id, r.rank, r.neighbor_id, r.score,
       r.from_ivf, r.from_lsh,
       (e.neighbor_id IS NOT NULL) AS in_exact_top5
FROM ranked r
LEFT JOIN exact_top e
  ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
WHERE r.rank <= 5
ORDER BY r.query_id, r.rank
""".format(
        bits=_duck_bits_cte(
            "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        )
    ),
)
def ann_fusion_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end serving-shaped retrieval (VERDICT r14 #5b): candidates
    from TWO independent at-rest index layouts — IVF nprobe=2 cluster
    probing and LSH band buckets — are unioned with provenance flags,
    exactly rescored ONCE, and reranked into the final top-5, each row
    carrying which tier(s) surfaced it and whether it is in the exact
    flat top-5 (the per-row recall audit). This is the standard
    candidate-generation -> rerank architecture: cheap generators with
    complementary failure modes, one exact scorer bounded by the
    candidate union, never the corpus.

    Scale shape: both candidate tiers read at-rest partitioned tables
    (``_ivf_assign_table`` pruned by probed cluster_id, the LSH bucket
    table pruned by band/bucket); the union and rerank are bounded by
    |candidates| ~ nprobe·|cluster| + Σ|bucket| per query; the exact
    top-5 ground-truth join is the same bounded broadcast the recall
    audits use. No corpus-sized shuffle anywhere; reference parity:
    the query path of app.py:118-160 (FAISS flat search) with recall
    made measurable per result row."""
    emb = load_table(spark, sf_dir, "embeddings")
    vs = emb.select("vec_id", as_double_array("embedding").alias("v"))
    q = vs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    seeds = vs.filter(F.col("vec_id") % ann.SEED_STRIDE == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )
    qprobe = top_k_per_group(
        q.join(F.broadcast(seeds)).select(
            "query_id",
            "seed_id",
            F.round(cosine_similarity("qv", "sv"), 6).alias("seed_score"),
        ),
        ["query_id"], 2, F.desc("seed_score"), F.asc("seed_id"),
    ).select("query_id", F.col("seed_id").alias("cluster_id"))
    # no .distinct() on either candidate tier: the provenance groupBy
    # below dedups (query, neighbor)
    ivf_cand = (
        _ivf_assign_table(spark, sf_dir)
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(qprobe), "cluster_id")
        .select("query_id", "neighbor_id")
    )
    ibuckets = _bucket_table(spark, sf_dir)
    lsh_cand = (
        ibuckets.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "band", "bucket")
        .join(
            ibuckets.select(
                F.col("vec_id").alias("neighbor_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("query_id", "neighbor_id")
    )
    cand = (
        ivf_cand.select(
            "query_id",
            "neighbor_id",
            F.lit(1).alias("from_ivf"),
            F.lit(0).alias("from_lsh"),
        )
        .unionByName(
            lsh_cand.select(
                "query_id",
                "neighbor_id",
                F.lit(0).alias("from_ivf"),
                F.lit(1).alias("from_lsh"),
            )
        )
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.max("from_ivf").cast("int").alias("from_ivf"),
            F.max("from_lsh").cast("int").alias("from_lsh"),
        )
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(
            vs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("nv"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "from_ivf",
            "from_lsh",
            F.round(cosine_similarity("qv", "nv"), 6).alias("score"),
        )
    )
    ranked = top_k_per_group(
        scored, ["query_id"], 5, F.desc("score"), F.asc("neighbor_id")
    )
    exact_top = knn_exact(emb, emb.filter(F.col("vec_id") < 10)).select(
        "query_id", "neighbor_id", F.lit(True).alias("hit")
    )
    return (
        ranked.join(exact_top, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "score",
            "from_ivf",
            "from_lsh",
            F.coalesce("hit", F.lit(False)).alias("in_exact_top5"),
        )
        .orderBy("query_id", "rank")
    )


# ------------------------------------- incremental index rebuild planning

_DUCK_VFP = (
    "CAST(list_sum([CAST(floor({v}[i] * 1000) AS BIGINT) * i"
    " FOR i IN range(1, len({v}) + 1)]) AS BIGINT)"
)
_DUCK_ASSIGN1 = """
  SELECT vec_id, cluster_id
  FROM (SELECT x.vec_id, s.seed_id AS cluster_id,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY round(list_dot_product(x.v, s.sv)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(s.sv, s.sv))), 6) DESC,
                          s.seed_id) AS rn
        FROM {src} x CROSS JOIN seeds s)
  WHERE rn = 1"""


@register(
    "snapshot_index_rebuild_plan",
    f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM vecs WHERE vec_id % 31 = 0),
newsnap AS (
  SELECT vec_id,
         CASE WHEN vec_id % 89 = 2 THEN [v[1] + 0.25] || v[2:]
              ELSE v END AS v
  FROM vecs WHERE vec_id % 101 <> 5
  UNION ALL
  SELECT -vec_id - 1 AS vec_id, v FROM vecs WHERE vec_id % 103 = 7
),
assign_old AS ({_DUCK_ASSIGN1.format(src='vecs')}),
assign_new AS ({_DUCK_ASSIGN1.format(src='newsnap')}),
rows_old AS (
  SELECT a.vec_id, a.cluster_id, {_DUCK_VFP.format(v='x.v')} AS vfp
  FROM assign_old a JOIN vecs x USING (vec_id)
),
rows_new AS (
  SELECT a.vec_id, a.cluster_id, {_DUCK_VFP.format(v='x.v')} AS vfp
  FROM assign_new a JOIN newsnap x USING (vec_id)
),
sum_old AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_old,
         CAST(sum(vec_id * 31 + vfp) AS BIGINT) AS ck_old
  FROM rows_old GROUP BY cluster_id
),
sum_new AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_new,
         CAST(sum(vec_id * 31 + vfp) AS BIGINT) AS ck_new
  FROM rows_new GROUP BY cluster_id
),
flagged AS (
  SELECT coalesce(o.cluster_id, n.cluster_id) AS cluster_id,
         coalesce(o.n_old, 0) AS n_old,
         coalesce(n.n_new, 0) AS n_new
  FROM sum_old o FULL OUTER JOIN sum_new n ON o.cluster_id = n.cluster_id
  WHERE NOT (coalesce(o.n_old, 0) = coalesce(n.n_new, 0)
             AND coalesce(o.ck_old, 0) = coalesce(n.ck_new, 0))
),
entering AS (
  SELECT n.cluster_id, CAST(count(*) AS BIGINT) AS n_entering
  FROM rows_new n ANTI JOIN rows_old o
    ON o.vec_id = n.vec_id AND o.cluster_id = n.cluster_id
   AND o.vfp = n.vfp
  GROUP BY n.cluster_id
),
leaving AS (
  SELECT o.cluster_id, CAST(count(*) AS BIGINT) AS n_leaving
  FROM rows_old o ANTI JOIN rows_new n
    ON n.vec_id = o.vec_id AND n.cluster_id = o.cluster_id
   AND n.vfp = o.vfp
  GROUP BY o.cluster_id
)
SELECT f.cluster_id, f.n_old, f.n_new,
       coalesce(e.n_entering, 0) AS n_entering,
       coalesce(l.n_leaving, 0) AS n_leaving
FROM flagged f
LEFT JOIN entering e ON e.cluster_id = f.cluster_id
LEFT JOIN leaving l ON l.cluster_id = f.cluster_id
ORDER BY f.cluster_id
""",
)
def snapshot_index_rebuild_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental index rebuild manifest across two corpus snapshots
    (VERDICT r14 #5c, extending ``range_checksum_diff`` from replica
    sync to INDEX maintenance): snapshot B is the corpus after a
    deterministic delta (deletes on vec_id % 101 = 5, a first-component
    perturbation on % 89 = 2, re-keyed additions on % 103 = 7 under the
    provably-non-colliding -vec_id - 1 key). Both snapshots are coarse-
    quantized against the SAME frozen seed codebook — the incremental-
    maintenance contract (operators.index_maint) — and reduced to
    per-cluster (count, additive checksum) summaries; only clusters
    whose summaries diverge appear in the output, with the exact
    entering/leaving row counts that size the rebuild work.

    Scale shape — assignment work is DELTA-sized, not corpus-sized:
    the old snapshot's assignment is READ from the standing at-rest
    table (``_ivf_assign_table`` — the index layout other ANN queries
    serve from); unchanged rows carry it into the new snapshot
    untouched, additions inherit their source row's cluster (identical
    vector, identical codebook, identical argmax — no window), and
    ONLY the modified vectors pay the seed-scoring window. Each
    snapshot then collapses map-side to |clusters|-sized (count,
    additive checksum) summaries (an order-independent monoid over
    vec_id*31 + an integer vector fingerprint); the diff joins two
    metadata-sized tables, and the entering/leaving counts join on
    (vec_id, cluster_id, fingerprint) triples — 24 B/row, never the
    vectors. At 100 TB the plan costs one scan, a delta-sized
    reassignment, and key-sized shuffles; the rebuild itself touches
    only the flagged cluster partitions of the at-rest index."""
    vs = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_array("embedding").alias("v"))
    )
    seeds = vs.filter(F.col("vec_id") % ann.SEED_STRIDE == 0).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("sv")
    )
    vfp = F.expr(
        "aggregate(zip_with(v, sequence(1, size(v)),"
        " (x, i) -> cast(floor(x * 1000) as bigint) * i),"
        " cast(0 as bigint), (acc, y) -> acc + y)"
    )
    # old snapshot rows: the standing at-rest assignment table joined
    # with the scan-born fingerprint — no assignment window. Pinned
    # once (consume-before-reinvoke contract): five consumers
    # (unchanged slice, additions, both anti-joins, the old summary)
    # read the 24 B/row triples instead of re-running the scan+join
    rows_old = pin(
        _ivf_assign_table(spark, sf_dir).join(
            vs.select("vec_id", vfp.alias("vfp")), "vec_id"
        ),
    )
    # the delta: ONLY the perturbed vectors re-score against the
    # frozen codebook (their argmax may move clusters)
    mods = vs.filter(
        (F.col("vec_id") % 89 == 2) & (F.col("vec_id") % 101 != 5)
    ).select(
        "vec_id",
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(0.25)),
            F.slice("v", 2, DIMS - 1),
        ).alias("v"),
    )
    mod_rows = ann.ivf_assign(
        mods, id_col="vec_id", vec_col="v", seeds=seeds
    ).join(mods.select("vec_id", vfp.alias("vfp")), "vec_id")
    # additions copy an existing vector under a fresh key: same
    # vector + same frozen seeds -> same argmax cluster and same
    # fingerprint, so they inherit the source's at-rest row verbatim
    add_rows = rows_old.filter(F.col("vec_id") % 103 == 7).select(
        (-F.col("vec_id") - 1).alias("vec_id"), "cluster_id", "vfp"
    )
    rows_new = pin(
        rows_old.filter(
            (F.col("vec_id") % 101 != 5) & (F.col("vec_id") % 89 != 2)
        )
        .unionByName(mod_rows)
        .unionByName(add_rows),
    )

    # OPTIMIZATION r15 (guide §2.3/§2.4): both diffs now ride ONE
    # tagged union of the two pinned triple tables instead of a
    # full-outer SMJ (summaries) plus TWO anti-join SMJs (entering/
    # leaving) — same 24 B/row keys shuffled, one pass each, no sorts.
    u = rows_old.withColumn("is_new", F.lit(False)).unionByName(
        rows_new.withColumn("is_new", F.lit(True))
    )
    diff = u.groupBy("cluster_id").agg(
        F.count(F.when(~F.col("is_new"), F.lit(1))).alias("n_old"),
        F.sum(
            F.when(~F.col("is_new"), F.col("vec_id") * 31 + F.col("vfp"))
        ).alias("ck_old"),
        F.count(F.when(F.col("is_new"), F.lit(1))).alias("n_new"),
        F.sum(
            F.when(F.col("is_new"), F.col("vec_id") * 31 + F.col("vfp"))
        ).alias("ck_new"),
    )
    flagged = diff.filter(
        ~(
            (F.col("n_old") == F.col("n_new"))
            & (
                F.coalesce("ck_old", F.lit(0))
                == F.coalesce("ck_new", F.lit(0))
            )
        )
    ).select("cluster_id", "n_old", "n_new")
    # a (vec_id, cluster_id, vfp) triple appears at most once per
    # snapshot, so per-key side counts reproduce the anti-joins:
    # new-only ⟺ entering, old-only ⟺ leaving — folded into ONE
    # |clusters|-sized aggregate carrying both counts
    el = (
        u.groupBy("vec_id", "cluster_id", "vfp")
        .agg(
            F.count(F.when(~F.col("is_new"), F.lit(1))).alias("n_o"),
            F.count(F.when(F.col("is_new"), F.lit(1))).alias("n_n"),
        )
        .filter(F.col("n_o") != F.col("n_n"))
        .groupBy("cluster_id")
        .agg(
            F.sum(
                F.when(F.col("n_n") > F.col("n_o"), 1).otherwise(0)
            ).alias("n_entering"),
            F.sum(
                F.when(F.col("n_o") > F.col("n_n"), 1).otherwise(0)
            ).alias("n_leaving"),
        )
    )
    return (
        # entering/leaving are |clusters|-sized aggregates — broadcast
        # them onto the flagged manifest instead of shuffling it
        flagged.join(F.broadcast(el), "cluster_id", "left")
        .select(
            "cluster_id",
            "n_old",
            "n_new",
            F.coalesce("n_entering", F.lit(0)).alias("n_entering"),
            F.coalesce("n_leaving", F.lit(0)).alias("n_leaving"),
        )
        .orderBy("cluster_id")
    )
