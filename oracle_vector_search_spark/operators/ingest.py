"""Ingestion operators — the reference's offline index-build dataflow
(build_faiss_db.py) re-expressed as Spark relational operators.

Covers SURVEY.md §2: S3 label parse (+F6 malformed tolerance), J1/F2
image⋈label stem join, T5 bbox denormalize (+F4 empty-crop filter +
clip), T12 class decode, A4 split union, A5 deterministic id
assignment, K3/K4 unified index-table persist.

Reference semantics preserved (citations into /root/reference/):
- YOLO label rows ``class_id x_c y_c w h`` parsed permissively — a
  malformed line is dropped, not fatal (build_faiss_db.py:176-181,
  204-205).
- bbox denorm: ``int((x_c - w/2)*W)`` etc. — Python int() truncation
  on positive values = floor (build_faiss_db.py:183-185).
- empty crops dropped: x2>x1 ∧ y2>y1 after clipping to the image
  (build_faiss_db.py:187-188).
- the authoritative class map is 0=glioma, 1=meningioma, 2=no tumor,
  3=pituitary (app.py:31; data.yaml is stale — SURVEY.md §1.4.1).
- ids: the reference's implicit id = append order (build_faiss_db.py:
  202-203). Here: ``row_number() OVER (ORDER BY split, stem, box_idx)``
  — deterministic under any partitioning, never
  ``monotonically_increasing_id`` (SURVEY.md §2.6 A5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from oracle_vector_search_spark.plans.ckpt import pin

CLASS_NAMES = [
    "glioma tumor",
    "meningioma tumor",
    "no tumor",
    "pituitary tumor",
]


def parse_yolo_labels(
    lines: DataFrame,
    line_col: str = "value",
    stem_col: str = "stem",
    passthrough: list[str] = (),
) -> DataFrame:
    """Parse whitespace YOLO label lines permissively (S3 + F6).

    Input: one row per label line with its image stem (plus any
    ``passthrough`` columns to keep, e.g. a line ordinal). Output:
    stem, *passthrough, class_id, x_c, y_c, w, h. Malformed lines
    (wrong field count, non-numeric) are silently dropped — the
    reference's try/except-continue (build_faiss_db.py:204-205)."""
    parts = F.split(F.trim(F.col(line_col)), r"\s+")
    d = lines.withColumn("__parts", parts).filter(F.size("__parts") == 5)
    d = d.select(
        F.col(stem_col).alias("stem"),
        *[F.col(c) for c in passthrough],
        *[
            F.element_at("__parts", i + 1)
            .try_cast("double")
            .alias(c)
            for i, c in enumerate(["class_id_d", "x_c", "y_c", "w", "h"])
        ],
    )
    d = d.filter(
        F.col("class_id_d").isNotNull()
        & F.col("x_c").isNotNull()
        & F.col("y_c").isNotNull()
        & F.col("w").isNotNull()
        & F.col("h").isNotNull()
    )
    return d.select(
        "stem",
        *passthrough,
        F.col("class_id_d").cast("int").alias("class_id"),
        "x_c",
        "y_c",
        "w",
        "h",
    )


def denormalize_boxes(
    labels: DataFrame,
    width_col="width",
    height_col="height",
) -> DataFrame:
    """T5: normalized (x_c, y_c, w, h) → integer (x1, y1, x2, y2),
    floor-truncated like the reference's int() casts, clipped to the
    image, empty crops dropped (F4). Pure column arithmetic — no UDF."""
    W, H = F.col(width_col), F.col(height_col)
    x1 = F.floor((F.col("x_c") - F.col("w") / 2) * W).cast("int")
    y1 = F.floor((F.col("y_c") - F.col("h") / 2) * H).cast("int")
    x2 = F.floor((F.col("x_c") + F.col("w") / 2) * W).cast("int")
    y2 = F.floor((F.col("y_c") + F.col("h") / 2) * H).cast("int")
    clip = lambda c, hi: F.greatest(F.lit(0), F.least(c, hi.cast("int")))
    d = labels.select(
        "*",
        clip(x1, W).alias("x1"),
        clip(y1, H).alias("y1"),
        clip(x2, W).alias("x2"),
        clip(y2, H).alias("y2"),
    )
    return d.filter((F.col("x2") > F.col("x1")) & (F.col("y2") > F.col("y1")))


def decode_class(df: DataFrame, class_id_col: str = "class_id") -> DataFrame:
    """T12/J3: class_id → class_name via the authoritative mapping."""
    arr = F.array(*[F.lit(c) for c in CLASS_NAMES])
    return df.withColumn(
        "class_name", F.element_at(arr, F.col(class_id_col) + 1)
    )


def assign_index_ids(
    df: DataFrame, order_cols: list[str] = ("split", "stem", "box_idx")
) -> DataFrame:
    """A5: deterministic, dense, partition-stable ids — oracle tier.

    A single global window (no partitionBy) funnels EVERY input row —
    the full payload, vectors included — through one task at the
    ranking step. That is fine on fixture-sized inputs and gives the
    simplest possible oracle twin, but it is NOT the production path:
    ``assign_index_ids_two_phase`` produces the IDENTICAL ids with no
    single-task stage and is the default in the build DAG
    (queries/pipeline_queries.py). Keep this tier for tiny inputs and
    cross-checks only."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("id", F.row_number().over(w).cast("long"))


def assign_index_ids_two_phase(
    df: DataFrame,
    order_cols: list[str] = ("split", "stem", "box_idx"),
    num_partitions: int | None = None,
) -> DataFrame:
    """A5 at scale: the same dense ids as ``assign_index_ids`` with no
    single-task global sort.

    Phase 1: range-partition on ``order_cols`` (Spark samples split
    points, so ranges are balanced) and rank WITHIN each partition —
    every task sorts only its own slice. Phase 2: count rows per
    partition (a metadata-sized aggregate), prefix-sum the counts on
    the driver, and add each partition's offset as a broadcast-joined
    literal. Total work: one range shuffle of the payload + one tiny
    count pass — no row ever funnels through a single task.

    Requires a total order: ``order_cols`` must be a unique key (the
    same contract the window tier has for determinism)."""
    from pyspark.sql.functions import spark_partition_id

    d = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )
    d = d.withColumn("__pid", spark_partition_id())
    w = Window.partitionBy("__pid").orderBy(
        *[F.col(c) for c in order_cols]
    )
    # Pin the ranked frame with localCheckpoint, NOT persist():
    # * pinning is mandatory for correctness — repartitionByRange
    #   samples split points with a fresh RDD-id-derived seed per
    #   execution, so an unpinned plan could draw DIFFERENT partition
    #   boundaries in the counts job vs the caller's final job and
    #   corrupt the offsets;
    # * persist() registers in the CacheManager, which holds a strong
    #   reference until an explicit unpersist — plan-build-time calls
    #   (zipf fit, suffix array) accumulated caches across bench
    #   iterations (ADVICE r10). The pin is owned by the calling
    #   query's scope (plans/ckpt.py) and released when that query
    #   runs again, or by the ContextCleaner for callers outside any
    #   query. Tradeoff: lineage is truncated, so executor loss fails
    #   the job instead of recomputing — acceptable for a two-job
    #   window.
    d = pin(d.withColumn("__local_rank", F.row_number().over(w)))

    counts = (
        d.groupBy("__pid").count().orderBy("__pid").collect()
    )  # bounded: one row per partition, metadata-sized at any scale
    offsets, running = {}, 0
    for r in counts:
        offsets[r["__pid"]] = running
        running += r["count"]
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()],
            "__pid int, __offset long",
        )
    )
    return (
        d.join(off_df, "__pid")
        .withColumn(
            "id", (F.col("__offset") + F.col("__local_rank")).cast("long")
        )
        .drop("__pid", "__local_rank", "__offset")
    )


def write_index_table(df: DataFrame, path: str, partition_by: str = "split"):
    """K3/K4: persist the unified index table (vectors + metadata in one
    Parquet — no positional-correlation hazard). Partitioned by split so
    split-scoped queries prune files. Records the schema so readers of
    a zero-row index (empty corpus) see an empty table, not an
    UNABLE_TO_INFER_SCHEMA crash (io.write_artifact)."""
    from oracle_vector_search_spark.io import write_artifact

    write_artifact(df, path, partition_by=[partition_by])
