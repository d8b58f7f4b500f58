"""User-facing API — the reference's two programs as engine calls.

The reference ships ``build_faiss_db.py`` (offline: images + YOLO
labels → FAISS index + pickle metadata) and ``app.py`` (online: upload
→ detect → crop → embed → top-5 → metadata). A reference user switches
to this engine with two calls:

    index = build_index(spark, images_dir, labels_df, out_path)
    results = search(spark, index, query_images, k=5)

Differences by design (SURVEY.md §1.3-1.4):
- one Parquet index table with explicit ids — no positional
  FAISS-row ↔ pickle-list correlation;
- preprocessing is ONE parameterized operator applied identically at
  build and query time (the reference's gamma-blur/CLAHE mismatch is
  reproducible as a config choice, not an accident);
- everything is a lazy DataFrame plan — scales from one laptop to a
  cluster without code changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from oracle_vector_search_spark.operators.index_maint import merge_index_rows
from oracle_vector_search_spark.operators.ingest import (
    assign_index_ids_two_phase,
    decode_class,
    parse_yolo_labels,
    write_index_table,
)
from oracle_vector_search_spark.io import read_artifact
from oracle_vector_search_spark.operators.knn import (
    knn_join_metadata,
    knn_search,
)
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.sources.images import (
    crop_boxes,
    decode_images,
    detect_boxes,
    embed_crops,
    embed_labelled_crops,
    preprocess_images,
    scan_images,
)

# the index table: one row per labelled box, (split, stem, box_idx) its
# unique key, ``id`` dense from 1 in key order at the first build
INDEX_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("split", T.StringType()),
    T.StructField("stem", T.StringType()),
    T.StructField("box_idx", T.LongType()),
    T.StructField("class_id", T.IntegerType()),
    T.StructField("class_name", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])


def build_index(
    spark: SparkSession,
    images: str | DataFrame,
    labels: DataFrame,
    out_path: str | None = None,
    preprocess: str = "gamma_blur",
    dims: int = 8,
    split: str = "train",
) -> DataFrame:
    """The offline build (reference build_faiss_db.py:138-225 as one
    lazy DAG): :func:`upsert_index` into an empty index, so ids are
    assigned and the index is written in one place. ``images``: a
    directory (binaryFile scan) or a DataFrame with (stem, path,
    content). ``labels``: (stem, box_idx, value) raw YOLO lines.
    Returns the index table (``INDEX_SCHEMA``); writes it when
    ``out_path`` is given. The empty index is a ``limit(0)``, which the
    optimizer folds to an empty local relation, so the joins against
    it drop out at plan time and its ``max(id)`` reads nothing."""
    empty = spark.createDataFrame([], INDEX_SCHEMA).limit(0)
    return upsert_index(
        spark, empty, images, labels, out_path=out_path,
        preprocess=preprocess, dims=dims, split=split,
    )


def _embedded_rows(
    spark: SparkSession,
    images: str | DataFrame,
    labels: DataFrame,
    preprocess: str,
    dims: int,
    split: str,
) -> DataFrame:
    """The rows of a batch before ids, for :func:`upsert_index`. The
    labels are parsed in SQL, then ONE grouped Python pass per stem
    (``embed_labelled_crops``) decodes, preprocesses, denormalizes,
    crops and embeds: one Python operator in the plan, where the stage
    chain of :func:`search` has five. Returns (stem, box_idx, class_id,
    embedding, class_name, split)."""
    if isinstance(images, str):
        images = scan_images(spark, images)
    parsed = parse_yolo_labels(labels, passthrough=["box_idx"])
    embedded = embed_labelled_crops(
        images, parsed, mode=preprocess, dims=dims
    )
    return decode_class(embedded).withColumn("split", F.lit(split))


def upsert_index(
    spark: SparkSession,
    index: DataFrame,
    images: str | DataFrame,
    labels: DataFrame,
    out_path: str | None = None,
    preprocess: str = "gamma_blur",
    dims: int = 8,
    split: str = "train",
) -> DataFrame:
    """Incremental index maintenance — the nightly operation the
    reference lacks (build_faiss_db.py:138-225 rebuilds and renumbers
    everything) — and the one write path of the index (:func:`build_index`
    is an upsert into an empty index). ONLY the batch is decoded and
    embedded: stems already in the index keep their ids (their rows are
    replaced in place), new stems get dense ids continuing past the
    current max. Ids of untouched rows never move, so downstream
    artifacts keyed on id (cached results, ANN tables via
    operators/index_maint.py) stay valid.

    The batch goes through the build's own one-pass-per-stem embedding
    (:func:`_embedded_rows`), so a re-labelled stem is cropped exactly
    as a full rebuild would crop it. That pass runs once: the embedded
    batch is pinned (``plans.ckpt.pin``; outside any scope the pin is
    GC-owned, so the result stays the caller's), and the id assignment,
    the rows that keep their ids and the merge all read the pin. The
    cost at scale: until GC, the batch pin and the id assignment's rank
    pin hold two copies of the batch payload.

    Returns ``INDEX_SCHEMA`` rows. Writes a NEW snapshot when
    ``out_path`` is given — the versioned-table shape; at warehouse
    scale an id-bucket-partitioned table with dynamic partition
    overwrite (operators/index_maint.py) or a transactional format
    replaces the snapshot swap."""
    cols = INDEX_SCHEMA.fieldNames()
    key = ["split", "stem", "box_idx"]
    embedded = _embedded_rows(spark, images, labels, preprocess, dims, split)
    batch = pin(embedded).join(index.select("id", *key), key, "left")
    # bounded: a single max row
    max_id = index.agg(F.max("id")).collect()[0][0] or 0
    # rows of keys new to the index: dense ids past the current max
    fresh = assign_index_ids_two_phase(
        batch.filter(F.col("id").isNull()).drop("id"), key
    ).withColumn("id", F.col("id") + F.lit(max_id))
    rows = batch.filter(F.col("id").isNotNull()).unionByName(fresh)
    # every batch stem's old rows are dropped: stale boxes must not
    # survive a re-label
    merged = merge_index_rows(index.select(*cols), rows, ["split", "stem"])
    if out_path:
        write_index_table(merged, out_path)
        merged = read_artifact(spark, out_path)
    return merged.select(*cols)


def load_index(spark: SparkSession, path: str) -> DataFrame:
    """The reference's load_all() (app.py:34-57): read once, cache."""
    return read_artifact(spark, path).persist()


def _query_embeddings(
    query_images: DataFrame, preprocess: str, dims: int
) -> DataFrame:
    """Shared query-side pipeline (reference app.py:100-135): decode →
    preprocess (SAME operator as build) → detect → best box per image
    (max_by conf, A1; app.py:121-125) → crop → embed. Returns
    (query_stem, embedding, qid). F5: images with no detection simply
    produce no rows. Factored out (ADVICE r5) so :func:`search` and
    :func:`search_radius` cannot diverge — e.g. the best-box tie-break
    lives in exactly one place.

    The uploads are hash-partitioned on ``stem`` before the first
    Python stage: one exchange of the raw upload bytes, which AQE
    coalesces by size — one task for a single upload, many for a large
    batch. Without it the five Python stages, each a worker hand-off
    per task, ran on the caller's partitions: ``defaultParallelism`` of
    them for a ``createDataFrame`` upload, nearly all empty. ``stem``
    is the key the best-box aggregate and the crop join group on, so
    all images of a stem stay in one task."""
    query_images = query_images.repartition("stem")
    decoded = decode_images(query_images).filter(
        F.col("pixels").isNotNull()
    )
    pre = preprocess_images(decoded, mode=preprocess)
    dets = detect_boxes(pre)
    best = dets.groupBy("stem").agg(
        F.max_by(
            F.struct("x1", "y1", "x2", "y2"), F.struct("conf", "x1")
        ).alias("b")
    )
    boxes = best.select(
        "stem",
        F.lit(0).cast("long").alias("box_idx"),
        F.lit(-1).alias("class_id"),
        F.col("b.x1").alias("x1"),
        F.col("b.y1").alias("y1"),
        F.col("b.x2").alias("x2"),
        F.col("b.y2").alias("y2"),
    )
    crops = crop_boxes(boxes.join(pre, "stem"))
    q = embed_crops(crops.filter(F.col("crop").isNotNull()), dims=dims)
    # dense per-query ids for the join (stems are the user-facing key)
    return q.select(
        F.col("stem").alias("query_stem"), "embedding"
    ).withColumn("qid", F.xxhash64("query_stem"))


def _attach_metadata(
    hits: DataFrame, index: DataFrame, q: DataFrame, extra: list[str]
) -> DataFrame:
    """Shared result tail: (query_id, neighbor_id, score[, rank]) →
    user-facing rows with match metadata and the query stem back."""
    meta = index.select(
        "id", "class_id", "class_name", "stem", "split"
    ).withColumnRenamed("stem", "match_stem")
    out = knn_join_metadata(
        hits, meta, on="id", neighbor_col="neighbor_id"
    )
    names = q.select("qid", "query_stem")
    return out.join(names, out.query_id == names.qid).select(
        "query_stem",
        *extra,
        F.col("neighbor_id").alias("match_id"),
        "match_stem",
        "class_id",
        "class_name",
        "score",
    )


def search(
    spark: SparkSession,
    index: DataFrame,
    query_images: DataFrame,
    k: int = 5,
    preprocess: str = "gamma_blur",
    dims: int = 8,
    tier: str = "auto",
    n_queries: int | None = None,
) -> DataFrame:
    """The online query path (reference app.py:100-156): decode →
    preprocess (SAME operator as build) → detect → best box per image
    (max_by conf) → crop → embed → cosine top-k → metadata join →
    rank. ``query_images``: (stem, path, content).

    ``tier`` picks the physical top-k strategy ("auto" | "expr" |
    "gemm" | "gemm_int8" | "ann"). The exact tiers return identical
    results — a deployment knob, not a semantic one. "auto" is ALWAYS
    exact (ADVICE r6 medium): ``knn.choose_knn_tier`` picks expr /
    GEMM by batch size and falls back to the streaming expression tier
    (never collects) above ``GEMM_MAX_QUERIES``. The approximate LSH
    path (recall < 1, property-tested ≥ threshold by
    tests/test_ann.py::test_lsh_topk_recall_vs_exact) is an explicit
    ``tier="ann"`` opt-in only — the crossover bench showed it can be
    slower AND weaker than the exact chunked GEMM on unstructured
    embeddings. ``n_queries`` skips the dispatch count when already
    known.

    Result lifetime: the returned DataFrame is lazy and independent of
    any other invocation — hold as many live results as you like and
    collect them in any order (each call pins its own GC-owned
    checkpoint; no later call releases it)."""
    # the decode→preprocess→detect→embed pipeline feeds both the top-k
    # scan and the metadata name join — pin it so it runs once
    # (ADVICE r6 low: q was re-executed per consumer). Deliberately a
    # LAZY localCheckpoint outside plans/ckpt.py's scopes (GC-owned):
    # this is a public entry point returning a lazy DataFrame whose
    # lifetime the CALLER owns. A pin released by the next search()
    # would destroy the first result's only blocks, crashing any caller
    # holding two live results; scoped release is for registered
    # queries with a consume-before-reinvoke contract only.
    q = _query_embeddings(query_images, preprocess, dims).localCheckpoint(
        eager=False
    )
    if tier == "ann":
        # no dispatch count needed — the tier is already decided
        from oracle_vector_search_spark.operators.ann import (
            lsh_ann_topk,
        )

        # lsh_ann_topk uses one id_col name for both sides
        hits = lsh_ann_topk(
            index.select(F.col("id").alias("qid"), "embedding"),
            q.select("qid", "embedding"),
            k=k,
            id_col="qid",
            vec_col="embedding",
            dims=dims,
        )
        return _attach_metadata(hits, index, q, ["rank"])
    topk = knn_search(
        index,
        q,
        k=k,
        tier=tier,
        n_queries=n_queries,
        id_col="id",
        vec_col="embedding",
        query_id_col="qid",
        query_vec_col="embedding",
    )
    return _attach_metadata(topk, index, q, ["rank"])


def search_radius(
    spark: SparkSession,
    index: DataFrame,
    query_images: DataFrame,
    threshold: float = 0.9,
    preprocess: str = "gamma_blur",
    dims: int = 8,
) -> DataFrame:
    """Similarity-bounded search (FAISS ``range_search`` counterpart to
    the reference's fixed top-5 call): every index match with cosine ≥
    ``threshold`` per query image — same decode → preprocess → detect →
    crop → embed pipeline as :func:`search` (shared helper, so the two
    entry points cannot diverge), no rank cutoff. Use when the question
    is "everything at least this similar" (duplicate sweeps,
    recall-first retrieval) rather than "the best k". Results are
    lazy and invocation-independent — same lifetime contract as
    :func:`search`."""
    from oracle_vector_search_spark.operators.knn import radius_search

    # pinned for the same reason as in search(): one pipeline run
    # feeds both the radius scan and the metadata join. Lazy and
    # GC-owned — see the matching comment in search(); each invocation
    # gets its own checkpoint so N live results can coexist and be
    # collected in any order (VERDICT r13 #1 regression fix).
    q = _query_embeddings(query_images, preprocess, dims).localCheckpoint(
        eager=False
    )
    hits = radius_search(
        index,
        q,
        threshold=threshold,
        id_col="id",
        vec_col="embedding",
        query_id_col="qid",
        query_vec_col="embedding",
    )
    return _attach_metadata(hits, index, q, [])
