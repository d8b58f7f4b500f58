"""Reference build-pipeline parity queries (SURVEY.md §3.1, §7 M3/M6).

The reference's offline index build (/root/reference/build_faiss_db.py)
is: scan images → match label files → parse YOLO rows → denormalize
boxes → crop → embed → assign ids → persist. These queries run that
EXACT dataflow — including the permissive drop rules F1 (extension),
F3 (undecodable), F4 (empty crop), F6 (malformed line) and the
deterministic id discipline A5 — over fixtures synthesized
deterministically from the driver tables (part → images, lineitem →
label lines), with the hash-projection embedder (functions.embed), so
the ENTIRE pipeline is DuckDB-oracle-checkable, embeddings included.

Planted violations (same formulas both engines):
- p_partkey % 89 = 0 → path ends '.txt'   (F1 drops it)
- p_partkey % 90 = 0 → path ends '.PNG'   (F1 keeps: case-insensitive)
- p_partkey % 97 = 0 → "undecodable"      (F3 drops it)
- l_quantity = 13    → 3-field label line (F6 drops it)
- l_quantity = 7     → w = 0.0001 → empty crop after floor (F4 drops)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.functions import embed as E
from oracle_vector_search_spark.io import at_rest, load_table
from oracle_vector_search_spark.operators.ingest import (
    CLASS_NAMES,
    assign_index_ids_two_phase,
    decode_class,
    denormalize_boxes,
    parse_yolo_labels,
)
from oracle_vector_search_spark.operators.rowmap import map_rows
from oracle_vector_search_spark.operators.topk import top_k_per_group
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register

IMG_W = 640
IMG_H = 640
DIMS = E.DEFAULT_DIMS


# ------------------------------------------------------ synthesized inputs
def _images_df(spark, sf_dir, max_key: int) -> DataFrame:
    """part → images: stem, path (with planted F1 cases), content_md5
    (stand-in for decoded bytes), decodable flag (F3)."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") < max_key
    )
    stem = F.concat(F.lit("img_"), F.col("p_partkey").cast("string"))
    ext = (
        F.when(F.col("p_partkey") % 89 == 0, ".txt")
        .when(F.col("p_partkey") % 90 == 0, ".PNG")
        .otherwise(".jpg")
    )
    return part.select(
        stem.alias("stem"),
        F.concat(F.lit("data/raw/"), stem, ext).alias("path"),
        F.md5(F.col("p_name").cast("binary")).alias("content_md5"),
        (~(F.col("p_partkey") % 97 == 0)).alias("decodable"),
        F.lit(IMG_W).alias("width"),
        F.lit(IMG_H).alias("height"),
    )


_DUCK_IMAGES = """
SELECT 'img_' || p_partkey::VARCHAR AS stem,
       'data/raw/' || 'img_' || p_partkey::VARCHAR ||
         (CASE WHEN p_partkey % 89 = 0 THEN '.txt'
               WHEN p_partkey % 90 = 0 THEN '.PNG'
               ELSE '.jpg' END) AS path,
       md5(p_name) AS content_md5,
       NOT (p_partkey % 97 = 0) AS decodable
FROM part WHERE p_partkey < {max_key}
"""


def _label_lines_df(spark, sf_dir, max_key: int) -> DataFrame:
    """lineitem → raw YOLO label lines (with planted F6/F4 cases)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < max_key
    )
    frac = lambda expr, lo, span: F.concat(
        F.lit("0."),
        F.lpad(((expr % span) + lo).cast("string"), 4, "0"),
    )
    x_c = frac(F.col("l_orderkey") * 37 + F.col("l_partkey"), 1000, 8000)
    y_c = frac(F.col("l_orderkey") * 53 + F.col("l_suppkey"), 1000, 8000)
    w = F.when(F.col("l_quantity") == 7, F.lit("0.0001")).otherwise(
        frac(F.col("l_partkey") * 11, 500, 3000)
    )
    h = frac(F.col("l_suppkey") * 13, 500, 3000)
    cls = (F.col("l_suppkey") % 4).cast("string")
    full_line = F.concat_ws(" ", cls, x_c, y_c, w, h)
    short_line = F.concat_ws(" ", cls, x_c, y_c)  # F6: field missing
    return li.select(
        F.concat(F.lit("img_"), F.col("l_partkey").cast("string")).alias(
            "stem"
        ),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("box_idx"),
        F.when(F.col("l_quantity") == 13, short_line)
        .otherwise(full_line)
        .alias("value"),
    )


_DUCK_LABEL_LINES = """
SELECT 'img_' || l_partkey::VARCHAR AS stem,
       l_orderkey * 10 + l_linenumber AS box_idx,
       CASE WHEN l_quantity = 13
            THEN (l_suppkey % 4)::VARCHAR || ' ' ||
                 '0.' || lpad((((l_orderkey*37 + l_partkey) % 8000) + 1000)::VARCHAR, 4, '0') || ' ' ||
                 '0.' || lpad((((l_orderkey*53 + l_suppkey) % 8000) + 1000)::VARCHAR, 4, '0')
            ELSE (l_suppkey % 4)::VARCHAR || ' ' ||
                 '0.' || lpad((((l_orderkey*37 + l_partkey) % 8000) + 1000)::VARCHAR, 4, '0') || ' ' ||
                 '0.' || lpad((((l_orderkey*53 + l_suppkey) % 8000) + 1000)::VARCHAR, 4, '0') || ' ' ||
                 (CASE WHEN l_quantity = 7 THEN '0.0001'
                       ELSE '0.' || lpad((((l_partkey*11) % 3000) + 500)::VARCHAR, 4, '0') END) || ' ' ||
                 '0.' || lpad((((l_suppkey*13) % 3000) + 500)::VARCHAR, 4, '0')
       END AS value
FROM lineitem WHERE l_partkey < {max_key}
"""

_DUCK_PARSE = """
parsed AS (
  SELECT stem, box_idx,
         TRY_CAST(parts[1] AS DOUBLE) AS class_id_d,
         TRY_CAST(parts[2] AS DOUBLE) AS x_c,
         TRY_CAST(parts[3] AS DOUBLE) AS y_c,
         TRY_CAST(parts[4] AS DOUBLE) AS w,
         TRY_CAST(parts[5] AS DOUBLE) AS h
  FROM (SELECT stem, box_idx,
               string_split_regex(trim(value), '\\s+') AS parts
        FROM lines)
  WHERE len(parts) = 5
), labels AS (
  SELECT stem, box_idx, CAST(class_id_d AS INTEGER) AS class_id,
         x_c, y_c, w, h
  FROM parsed
  WHERE class_id_d IS NOT NULL AND x_c IS NOT NULL AND y_c IS NOT NULL
    AND w IS NOT NULL AND h IS NOT NULL
)"""

_DUCK_BOXES = f"""
boxes AS (
  SELECT stem, box_idx, class_id,
         greatest(0, least(CAST(floor((x_c - w/2) * {IMG_W}) AS INTEGER), {IMG_W})) AS x1,
         greatest(0, least(CAST(floor((y_c - h/2) * {IMG_H}) AS INTEGER), {IMG_H})) AS y1,
         greatest(0, least(CAST(floor((x_c + w/2) * {IMG_W}) AS INTEGER), {IMG_W})) AS x2,
         greatest(0, least(CAST(floor((y_c + h/2) * {IMG_H}) AS INTEGER), {IMG_H})) AS y2
  FROM labels
)
SELECT * FROM boxes WHERE x2 > x1 AND y2 > y1
"""

_CLASS_ARRAY_SQL = (
    "['" + "', '".join(CLASS_NAMES) + "']"
)


@register(
    "pipeline_label_parse",
    "WITH lines AS ("
    + _DUCK_LABEL_LINES.format(max_key=500)
    + "), "
    + _DUCK_PARSE
    + "\nSELECT stem, box_idx, class_id, x_c, y_c, w, h FROM labels",
)
def pipeline_label_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 + F6: permissive YOLO label parsing (malformed lines dropped,
    job never fails) — reference build_faiss_db.py:176-181, 204-205."""
    lines = _label_lines_df(spark, sf_dir, 500)
    return parse_yolo_labels(lines, passthrough=["box_idx"])


@register(
    "pipeline_bbox_denorm",
    "WITH lines AS ("
    + _DUCK_LABEL_LINES.format(max_key=500)
    + "), "
    + _DUCK_PARSE
    + ", "
    + _DUCK_BOXES,
)
def pipeline_bbox_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 + F4: bbox denormalize (floor like Python int()), clip to the
    image, drop empty crops — pure column arithmetic, no UDF."""
    labels = pipeline_label_parse(spark, sf_dir)
    boxes = denormalize_boxes(
        labels.withColumn("width", F.lit(IMG_W)).withColumn(
            "height", F.lit(IMG_H)
        )
    )
    return boxes.select(
        "stem", "box_idx", "class_id", "x1", "y1", "x2", "y2"
    )


def _built_index(spark: SparkSession, sf_dir: str, max_key: int) -> DataFrame:
    """The full build DAG: images ⋈ labels → boxes → crop-id → embed →
    deterministic ids. One lazy plan, no intermediate files (the Spark
    re-expression of build_faiss_db.py stages A+C+D, SURVEY.md §3.1)."""
    images = _images_df(spark, sf_dir, max_key).filter(
        F.lower("path").rlike(r"\.(jpg|jpeg|png)$") & F.col("decodable")
    )
    labels = pipeline_label_parse(spark, sf_dir)  # max_key 500 superset
    boxes = denormalize_boxes(
        labels.withColumn("width", F.lit(IMG_W)).withColumn(
            "height", F.lit(IMG_H)
        )
    )
    joined = boxes.join(images, "stem")  # J1 (F2 implicit: inner)
    # The fixture tables are single parquet files, so the join output
    # lands on ~3 partitions — and the (interpreted higher-order) hash-
    # embedding projection downstream would run near-single-core.
    # Spread it across the cluster BEFORE the embed column; ids are
    # repartition-stable by construction (two-phase assignment,
    # tests/test_scale_ops.py). Measured: 15.8 s → 4.1 s at sf0.1.
    joined = joined.repartition(
        spark.sparkContext.defaultParallelism
    )
    joined = decode_class(joined)
    crop_md5 = F.md5(
        F.concat_ws(
            ":", "content_md5", "x1", "y1", "x2", "y2"
        ).cast("binary")
    )
    d = joined.withColumn("crop_md5", crop_md5).withColumn(
        "emb", F.expr(E.spark_embedding_expr("crop_md5", DIMS))
    )
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("emb", "emb", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    d = d.withColumn("enorm", norm).withColumn(
        "e0", F.element_at("emb", 1)
    ).withColumn("unit0", F.col("e0") / F.col("enorm"))
    d = d.withColumn("split", F.lit("train"))
    # box_idx alone can tie (synthetic lineitem reuses (orderkey, linenumber));
    # extend the A5 ordering with box content so ids are fully deterministic.
    # Two-phase assignment is the default: the embedded payload range-
    # partitions once and ranks locally — no single-task global window
    # ever sees the vector column (ids proven identical to the window
    # tier by tests/test_scale_ops.py::test_two_phase_ids_match_window_tier).
    return assign_index_ids_two_phase(
        d, ["split", "stem", "box_idx", "class_id", "x1", "y1", "x2", "y2"]
    )


def _duck_index_head(max_key: int) -> str:
    """The shared CTE prefix (lines → … → withvec → final) WITHOUT the
    final id projection — the composition seam. `_duck_query_topk_sql`
    and `_duck_detect_search_sql` append their own CTEs after it
    (ADVICE r11: they used to slice `_duck_index_sql`'s rendered text
    by substring at import time, so any reformatting of the base SQL
    raised ValueError and broke importing the whole queries package).
    Ends just after `final`'s closing paren, so callers append either
    the final SELECT or `, more_ctes AS (...) SELECT ...`."""
    class_arr = _CLASS_ARRAY_SQL
    return f"""
WITH lines AS ({_DUCK_LABEL_LINES.format(max_key=500)}),
{_DUCK_PARSE},
boxes AS (
  SELECT stem, box_idx, class_id,
         greatest(0, least(CAST(floor((x_c - w/2) * {IMG_W}) AS INTEGER), {IMG_W})) AS x1,
         greatest(0, least(CAST(floor((y_c - h/2) * {IMG_H}) AS INTEGER), {IMG_H})) AS y1,
         greatest(0, least(CAST(floor((x_c + w/2) * {IMG_W}) AS INTEGER), {IMG_W})) AS x2,
         greatest(0, least(CAST(floor((y_c + h/2) * {IMG_H}) AS INTEGER), {IMG_H})) AS y2
  FROM labels
  WHERE greatest(0, least(CAST(floor((x_c + w/2) * {IMG_W}) AS INTEGER), {IMG_W}))
        > greatest(0, least(CAST(floor((x_c - w/2) * {IMG_W}) AS INTEGER), {IMG_W}))
    AND greatest(0, least(CAST(floor((y_c + h/2) * {IMG_H}) AS INTEGER), {IMG_H}))
        > greatest(0, least(CAST(floor((y_c - h/2) * {IMG_H}) AS INTEGER), {IMG_H}))
),
images AS ({_DUCK_IMAGES.format(max_key=max_key)}),
good_images AS (
  SELECT * FROM images
  WHERE regexp_matches(lower(path), '\\.(jpg|jpeg|png)$') AND decodable
),
joined AS (
  SELECT b.*, i.content_md5,
         {class_arr}[b.class_id + 1] AS class_name
  FROM boxes b JOIN good_images i USING (stem)
),
embedded AS (
  SELECT *,
         md5(content_md5 || ':' || x1::VARCHAR || ':' || y1::VARCHAR
             || ':' || x2::VARCHAR || ':' || y2::VARCHAR) AS crop_md5
  FROM joined
),
withvec AS (
  SELECT *, {E.duck_embedding_expr('crop_md5', DIMS)} AS emb
  FROM embedded
),
final AS (
  SELECT 'train' AS split, stem, box_idx, class_id, class_name,
         x1, y1, x2, y2,
         emb[1] AS e0,
         sqrt(list_dot_product(emb, emb)) AS enorm,
         emb[1] / sqrt(list_dot_product(emb, emb)) AS unit0
  FROM withvec
)
"""


def _duck_index_sql(max_key: int) -> str:
    return _duck_index_head(max_key) + """
SELECT CAST(row_number() OVER (ORDER BY split, stem, box_idx, class_id, x1, y1, x2, y2) AS BIGINT) AS id,
       stem, box_idx, class_id, class_name, x1, y1, x2, y2,
       e0, enorm, unit0
FROM final
"""


@register("pipeline_index_build", _duck_index_sql(500))
def pipeline_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE offline build as one lazy Spark plan —
    scan → F1/F3 filters → J1 stem join → S3/F6 parse → T5/F4 boxes →
    T12 class decode → T6 crop identity → T8 hash-projection embed →
    A5 deterministic ids → K3/K4 persist. Oracle-checked end-to-end
    incl. embeddings. Serves from the written index table (the build's
    actual product) — the online query path reads the same table."""
    idx = _materialized_index(spark, sf_dir, 500)
    return idx.select(
        "id",
        "stem",
        "box_idx",
        "class_id",
        "class_name",
        "x1",
        "y1",
        "x2",
        "y2",
        "e0",
        "enorm",
        "unit0",
    )


_QUERY_NAMES = ["query_a", "query_b", "query_c"]

# The written index, once per (session, sf_dir, max_key). The online
# query path reads this table; it never re-derives the build DAG (the
# reference's faiss.write_index / faiss.read_index split,
# build_faiss_db.py:220-225 vs app.py:50).
def _materialized_index(
    spark: SparkSession, sf_dir: str, max_key: int
) -> DataFrame:
    """Build-once, query-many: run the build DAG, persist it with
    write_index_table (K3/K4), and serve queries from the parquet at
    rest. Breaking lineage here is the scale story — a 100 TB index is
    a table, not a subplan rebuilt per query."""
    from oracle_vector_search_spark.scratch import scratch_dir

    from oracle_vector_search_spark.operators.ingest import write_index_table

    def build():
        path = scratch_dir("ovs_index_")
        idx = _built_index(spark, sf_dir, max_key).select(
            "id", "split", "stem", "box_idx", "class_id", "class_name",
            "x1", "y1", "x2", "y2", "e0", "enorm", "unit0", "emb",
        )
        write_index_table(idx, path)
        return path

    path = at_rest(spark, (_materialized_index, sf_dir, max_key), build)
    from oracle_vector_search_spark.io import read_artifact

    return read_artifact(spark, path)


def _duck_query_topk_sql(max_key: int) -> str:
    """Oracle for the online query path: rebuild the index CTEs, then
    embed 3 synthetic uploads and rank cosine top-5 per query."""
    # reuse the shared CTE prefix; re-derive ids WITH the embedding
    # column carried through
    head = _duck_index_head(max_key)
    names = ", ".join(f"'{n}'" for n in _QUERY_NAMES)
    return (
        head
        + f""", idx AS (
  SELECT CAST(row_number() OVER (
           ORDER BY split, stem, box_idx, class_id, x1, y1, x2, y2)
         AS BIGINT) AS id,
         class_name, emb
  FROM (SELECT 'train' AS split, stem, box_idx, class_id, class_name,
               x1, y1, x2, y2, emb
        FROM withvec)
),
q AS (
  SELECT qname, {E.duck_embedding_expr("md5(qname)", DIMS)} AS qvec
  FROM (SELECT unnest([{names}]) AS qname)
),
scored AS (
  SELECT q.qname, i.id, i.class_name,
         round(list_dot_product(q.qvec, i.emb)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(i.emb, i.emb))), 6) AS score
  FROM idx i CROSS JOIN q
),
ranked AS (
  SELECT qname, id, class_name, score,
         CAST(row_number() OVER (
           PARTITION BY qname ORDER BY score DESC, id) AS INTEGER) AS rank
  FROM scored
)
SELECT qname, rank, id, class_name, score FROM ranked WHERE rank <= 5"""
    )


@register("pipeline_query_topk", _duck_query_topk_sql(500))
def pipeline_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ONLINE query path (app.py:100-156) end-to-end:
    synthetic "uploads" -> embed (T8) -> exact cosine top-5 against the
    freshly built index (M1+A2) -> class metadata (J2/T12) -> rank label
    (T13). Build + query in one oracle-checked lazy plan."""
    from oracle_vector_search_spark.functions.vector import cosine_similarity

    idx = _materialized_index(spark, sf_dir, 500).select(
        "id", "class_name", "emb"
    )
    q = spark.createDataFrame(
        [(n,) for n in _QUERY_NAMES], "qname string"
    ).withColumn(
        "qvec",
        F.expr(E.spark_embedding_expr("md5(cast(qname as binary))", DIMS)),
    )
    scored = idx.join(F.broadcast(q)).select(
        "qname",
        "id",
        "class_name",
        F.round(cosine_similarity("qvec", "emb"), 6).alias("score"),
    )
    return top_k_per_group(
        scored, ["qname"], 5, F.desc("score"), F.asc("id")
    ).select("qname", "rank", "id", "class_name", "score")


# ------------------------------------------- custom Python data source
def _label_file_corpus(spark: SparkSession, sf_dir: str) -> str:
    """One-time scratch directory of REAL YOLO ``stem.txt`` files (one
    per image stem, lines ordered by box_idx) materialized from the
    same deterministic formulas as ``_label_lines_df`` — so the custom
    connector reads genuine files while staying oracle-checkable.

    The writer is distributed (foreachPartition; local-mode shared FS
    stands in for the object store) — no driver collect."""
    import os

    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_label_files_")
        content = (
            _label_lines_df(spark, sf_dir, 500)
            .groupBy("stem")
            .agg(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("box_idx", "value"))
                        ),
                        lambda s: s["value"],
                    ),
                ).alias("content")
            )
        )

        def _write(rows):
            for r in rows:
                fpath = os.path.join(path, f"{r['stem']}.txt")
                with open(fpath, "w", encoding="utf-8") as f:
                    f.write(r["content"] + "\n")

        content.foreachPartition(_write)
        return path

    path = at_rest(spark, (_label_file_corpus, sf_dir), build)
    return path


@register(
    "yolo_source_class_stats",
    "WITH lines AS ("
    + _DUCK_LABEL_LINES.format(max_key=500)
    + "), "
    + _DUCK_PARSE
    + """
SELECT class_id,
       CAST(count(*) AS BIGINT) AS n_boxes,
       CAST(count(DISTINCT stem) AS BIGINT) AS n_stems,
       CAST(sum(CAST(round(x_c * 10000) AS BIGINT)) AS BIGINT) AS x_tenk_sum,
       CAST(sum(CAST(round(y_c * 10000) AS BIGINT)) AS BIGINT) AS y_tenk_sum,
       CAST(sum(CAST(round(w * 10000) AS BIGINT)) AS BIGINT) AS w_tenk_sum,
       CAST(sum(CAST(round(h * 10000) AS BIGINT)) AS BIGINT) AS h_tenk_sum
FROM labels
GROUP BY class_id
ORDER BY class_id
""",
)
def yolo_source_class_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end custom-connector path: real ``stem.txt`` YOLO files
    read through the Spark 4 Python Data Source API
    (sources/yolo_datasource.py — partition-planned file chunks,
    executor-side line reads), parsed permissively
    (parse_yolo_labels, F6), aggregated per class with exact-integer
    coordinate sums. The oracle replays the same lines from the
    deterministic fixture formulas — proving the connector loses/
    mangles nothing on its way through real files."""
    from oracle_vector_search_spark.sources.yolo_datasource import (
        register_yolo_source,
    )

    register_yolo_source(spark)
    path = _label_file_corpus(spark, sf_dir)
    lines = (
        spark.read.format("yolo_labels")
        .option("path", path)
        .option("filesPerPartition", "32")
        .load()
    )
    labels = parse_yolo_labels(lines)
    tenk = lambda c: F.sum(F.round(F.col(c) * 10000).cast("long")).alias(
        f"{c[0]}_tenk_sum"
    )
    return (
        labels.groupBy("class_id")
        .agg(
            F.count("*").alias("n_boxes"),
            F.countDistinct("stem").alias("n_stems"),
            tenk("x_c"),
            tenk("y_c"),
            tenk("w"),
            tenk("h"),
        )
        .orderBy("class_id")
    )


# ------------------------------- REAL reference-data parity (VERDICT r4 #3)
_REF_ROOT = "/root/reference/data/processed/Brain_MRI_GammaBlur"
_REF_REL = "data/processed/Brain_MRI_GammaBlur"
_REF_SPLITS = ("train", "valid", "test")


@register(
    "reference_labels_index_parity",
    f"""
WITH lines AS (
  SELECT regexp_extract(filename, '/(train|valid|test)/labels/', 1) AS split,
         regexp_extract(filename, '([^/]+)[.]txt$', 1) AS stem,
         class_id, x_c, y_c, w, h
  FROM read_csv('{_REF_ROOT}/*/labels/*.txt',
       delim=' ', header=false, filename=true,
       columns={{'class_id': 'INTEGER', 'x_c': 'DOUBLE', 'y_c': 'DOUBLE',
                 'w': 'DOUBLE', 'h': 'DOUBLE'}})
), boxes AS (
  SELECT split, stem, class_id,
         CAST(trunc(w * 640) AS INTEGER) AS w_abs,
         CAST(trunc(h * 640) AS INTEGER) AS h_abs,
         CAST(trunc(x_c * 640 - trunc(w * 640) / 2) AS INTEGER) AS x1,
         CAST(trunc(y_c * 640 - trunc(h * 640) / 2) AS INTEGER) AS y1
  FROM lines
), coords AS (
  SELECT split, stem, class_id, x1, y1,
         x1 + w_abs AS x2, y1 + h_abs AS y2
  FROM boxes
)
SELECT split, stem, class_id, x1, y1, x2, y2,
       '{_REF_REL}/' || split || '/images/' || stem || '.jpg'
         AS original_path
FROM coords
WHERE least(greatest(CASE WHEN x2 < 0 THEN x2 + 640 ELSE x2 END, 0), 640)
      > least(greatest(CASE WHEN x1 < 0 THEN x1 + 640 ELSE x1 END, 0), 640)
  AND least(greatest(CASE WHEN y2 < 0 THEN y2 + 640 ELSE y2 END, 0), 640)
      > least(greatest(CASE WHEN y1 < 0 THEN y1 + 640 ELSE y1 END, 0), 640)
""",
)
def reference_labels_index_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's index-build SKELETON computed from its ACTUAL
    shipped files (VERDICT r4 #3) — no synthetic fixtures anywhere:

    * S1: ``binaryFile`` scan of the 2,443 real processed JPEGs per
      split, extension-filtered (F1, build_faiss_db.py:164);
    * real metadata: (width, height) parsed from the JPEG SOF header
      bytes by an Arrow-batched pandas UDF (sources/images.py:
      jpeg_sof_dims) — the decoder-free tier, exercised on REAL bytes;
      unparseable → NULL → dropped (F3, :172-173);
    * S3/F6: the 2,472 real label lines via the custom Data Source
      (one file per image, :176-181);
    * J1/F2: image⋈label stem join (:167-169 exists-check);
    * T5: the reference's EXACT box arithmetic (:183-185) — Python
      ``int()`` truncation toward zero, w_abs/2 float halving, RAW
      (unclipped) coords stored, exactly as metadata.pkl stores them;
    * F4: the reference's EXACT empty-crop drop (:187-188) —
      ``image[y1:y2, x1:x2].size == 0`` under numpy/python slice
      semantics (negative indices wrap, then clamp to [0, 640]);
    * metadata: ``original_path`` as build_faiss_db.py:198 relpaths it.

    The DuckDB oracle reads the SAME real label files via read_csv and
    replays the arithmetic with dims hard-coded to the known 640×640 —
    so the Spark side's parsed-from-bytes dims are themselves verified
    (a wrong parse shifts every coordinate and hash-mismatches).
    sf_dir is unused: this query is pinned to the reference's data.
    """
    from oracle_vector_search_spark.sources.images import image_dimensions
    from oracle_vector_search_spark.sources.yolo_datasource import (
        register_yolo_source,
    )

    register_yolo_source(spark)
    img_parts, lbl_parts = [], []
    for s in _REF_SPLITS:
        img = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.*")
            .load(f"{_REF_ROOT}/{s}/images")
        )
        img_parts.append(
            img.filter(F.lower("path").rlike(r"\.(jpg|jpeg|png)$")).select(
                F.lit(s).alias("split"),
                F.regexp_extract(
                    F.col("path"), r"([^/]+)\.[^.]+$", 1
                ).alias("stem"),
                F.element_at(F.split(F.col("path"), "/"), -1).alias(
                    "image_name"
                ),
                "content",
            )
        )
        lbl = (
            spark.read.format("yolo_labels")
            .option("path", f"{_REF_ROOT}/{s}/labels")
            .option("filesPerPartition", "64")
            .load()
        )
        lbl_parts.append(lbl.withColumn("split", F.lit(s)))

    images = img_parts[0].unionByName(img_parts[1]).unionByName(img_parts[2])
    images = (
        image_dimensions(images)
        .filter(F.col("width").isNotNull() & F.col("height").isNotNull())
        .drop("content")
    )
    lines = lbl_parts[0].unionByName(lbl_parts[1]).unionByName(lbl_parts[2])
    labels = parse_yolo_labels(lines, passthrough=["split"])

    j = labels.join(images, ["split", "stem"])  # J1 + F2 exists-check
    W, H = F.col("width"), F.col("height")
    w_abs = (F.col("w") * W).cast("int")  # Spark double→int: trunc to zero
    h_abs = (F.col("h") * H).cast("int")
    d = j.select(
        "split",
        "stem",
        "class_id",
        (F.col("x_c") * W - w_abs / 2).cast("int").alias("x1"),
        (F.col("y_c") * H - h_abs / 2).cast("int").alias("y1"),
        w_abs.alias("w_abs"),
        h_abs.alias("h_abs"),
        "image_name",
        W.alias("width"),
        H.alias("height"),
    ).select(
        "split",
        "stem",
        "class_id",
        "x1",
        "y1",
        (F.col("x1") + F.col("w_abs")).alias("x2"),
        (F.col("y1") + F.col("h_abs")).alias("y2"),
        "image_name",
        "width",
        "height",
    )

    # numpy slice adjustment: negative wraps once, then clamp to [0, L]
    def _adj(c, L):
        wrapped = F.when(c < 0, c + L).otherwise(c)
        return F.least(F.greatest(wrapped, F.lit(0)), L)

    nonempty = (
        (_adj(F.col("x2"), W) > _adj(F.col("x1"), W))
        & (_adj(F.col("y2"), H) > _adj(F.col("y1"), H))
    )
    return d.filter(nonempty).select(
        "split",
        "stem",
        "class_id",
        "x1",
        "y1",
        "x2",
        "y2",
        F.concat(
            F.lit(_REF_REL + "/"),
            F.col("split"),
            F.lit("/images/"),
            F.col("image_name"),
        ).alias("original_path"),
    )


# --------------------------- REAL reference PIXEL parity (VERDICT r5 #4)
_REF_CROPS = "/root/reference/cropped_images"


@register(
    "reference_crops_decode_parity",
    f"""
WITH lines AS (
  SELECT regexp_extract(filename, '([^/]+)[.]txt$', 1) AS stem,
         class_id, x_c, y_c, w, h
  FROM read_csv('{_REF_ROOT}/*/labels/*.txt',
       delim=' ', header=false, filename=true,
       columns={{'class_id': 'INTEGER', 'x_c': 'DOUBLE', 'y_c': 'DOUBLE',
                 'w': 'DOUBLE', 'h': 'DOUBLE'}})
), boxes AS (
  SELECT stem,
         CAST(trunc(w * 640) AS INTEGER) AS w_abs,
         CAST(trunc(h * 640) AS INTEGER) AS h_abs,
         CAST(trunc(x_c * 640 - trunc(w * 640) / 2) AS INTEGER) AS x1,
         CAST(trunc(y_c * 640 - trunc(h * 640) / 2) AS INTEGER) AS y1
  FROM lines
), eff AS (
  SELECT stem,
    least(greatest(CASE WHEN x1 < 0 THEN x1 + 640 ELSE x1 END, 0), 640)
      AS ex1,
    least(greatest(CASE WHEN x1 + w_abs < 0 THEN x1 + w_abs + 640
                        ELSE x1 + w_abs END, 0), 640) AS ex2,
    least(greatest(CASE WHEN y1 < 0 THEN y1 + 640 ELSE y1 END, 0), 640)
      AS ey1,
    least(greatest(CASE WHEN y1 + h_abs < 0 THEN y1 + h_abs + 640
                        ELSE y1 + h_abs END, 0), 640) AS ey2
  FROM boxes
), kept AS (
  SELECT stem, ey2 - ey1 AS hh, ex2 - ex1 AS ww
  FROM eff WHERE ex2 > ex1 AND ey2 > ey1
), expdims AS (
  SELECT stem, CAST(count(*) AS BIGINT) AS n_decoded,
         string_agg(
           lpad(CAST(hh AS VARCHAR), 4, '0') || 'x'
             || lpad(CAST(ww AS VARCHAR), 4, '0'), ','
           ORDER BY lpad(CAST(hh AS VARCHAR), 4, '0') || 'x'
             || lpad(CAST(ww AS VARCHAR), 4, '0')) AS dims_multiset
  FROM kept GROUP BY stem
), blobs AS (
  SELECT regexp_extract(filename, '([^/]+)_box[0-9]+[.]jpg$', 1) AS stem,
         octet_length(content) AS nb
  FROM read_blob('{_REF_CROPS}/*.jpg')
), files AS (
  SELECT stem, CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(nb) AS BIGINT) AS crop_bytes
  FROM blobs GROUP BY stem
)
SELECT f.stem, f.n_files, e.n_decoded, f.crop_bytes, e.dims_multiset,
       TRUE AS dc_consistent
FROM files f JOIN expdims e ON f.stem = e.stem
""",
)
def reference_crops_decode_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's 2,472 ACTUAL shipped crop JPEGs
    (build_faiss_db.py:195-196, cv2.imwrite output) pushed through the
    engine's dependency-free baseline-JPEG decoder
    (functions/jpeg_numpy.py) — closing the S2/T6 real-pixel evidence
    gap (VERDICT r5 #4) with zero optional deps:

    * Spark: binaryFile scan → full entropy decode + batched-IDCT per
      crop (Arrow batches; one Python pass per file, all matrix work
      BLAS) → per-stem rollup of decoded geometry, file counts/bytes,
      and the DC-vs-IDCT luma-mean consistency flag.
    * Oracle: DuckDB independently derives every crop's EXPECTED pixel
      dims from the reference's real label files (read_csv), replaying
      build_faiss_db.py:183-188's numpy-slice crop semantics
      (truncation toward zero, negative-index wrap, clamp, empty-drop)
      — and reads the same JPEG files via read_blob for counts/bytes.

    So the hash match proves: every file decoded (n_decoded), the
    decoded MCU-grid-verified (height,width) of every crop equals the
    label-derived crop rectangle (dims_multiset — a per-stem sorted
    multiset, order-free), the scan read the same bytes (crop_bytes),
    and the decoder's two luma paths agree to <0.05 gray levels
    (dc_consistent; measured max 0.009). sf_dir unused — pinned to the
    reference's shipped data."""
    from oracle_vector_search_spark.functions.jpeg_numpy import (
        jpeg_decode_stats,
    )

    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(_REF_CROPS)
    )
    src = scan.select(
        F.regexp_extract(
            F.col("path"), r"([^/]+)_box[0-9]+\.jpg$", 1
        ).alias("stem"),
        "length",
        "content",
    )

    def decode_stats(stem, nb, b):
        stats = jpeg_decode_stats(bytes(b))
        if stats is None:
            return [(stem, nb, None, None, None)]
        h, w, idct_m, dc_m = stats
        return [(stem, nb, h, w, abs(idct_m - dc_m))]

    per = map_rows(
        src,
        decode_stats,
        "stem string, nb long, dec_h int, dec_w int, dcdiff double",
    )
    return per.groupBy("stem").agg(
        F.count("*").alias("n_files"),
        F.count("dec_h").alias("n_decoded"),
        F.sum("nb").alias("crop_bytes"),
        F.array_join(
            F.sort_array(
                F.collect_list(
                    F.format_string("%04dx%04d", "dec_h", "dec_w")
                )
            ),
            ",",
        ).alias("dims_multiset"),
        (F.max("dcdiff") <= F.lit(0.05)).alias("dc_consistent"),
    )


# ----------------- REAL pixels through the WHOLE chain (VERDICT r6 #4)
@register(
    "reference_crops_pixel_chain_profile",
    f"""
WITH lines AS (
  SELECT regexp_extract(filename, '([^/]+)[.]txt$', 1) AS stem,
         x_c, y_c, w, h
  FROM read_csv('{_REF_ROOT}/*/labels/*.txt',
       delim=' ', header=false, filename=true,
       columns={{'class_id': 'INTEGER', 'x_c': 'DOUBLE', 'y_c': 'DOUBLE',
                 'w': 'DOUBLE', 'h': 'DOUBLE'}})
), boxes AS (
  SELECT stem,
         CAST(trunc(w * 640) AS INTEGER) AS w_abs,
         CAST(trunc(h * 640) AS INTEGER) AS h_abs,
         CAST(trunc(x_c * 640 - trunc(w * 640) / 2) AS INTEGER) AS x1,
         CAST(trunc(y_c * 640 - trunc(h * 640) / 2) AS INTEGER) AS y1
  FROM lines
), eff AS (
  SELECT stem,
    least(greatest(CASE WHEN x1 < 0 THEN x1 + 640 ELSE x1 END, 0), 640)
      AS ex1,
    least(greatest(CASE WHEN x1 + w_abs < 0 THEN x1 + w_abs + 640
                        ELSE x1 + w_abs END, 0), 640) AS ex2,
    least(greatest(CASE WHEN y1 < 0 THEN y1 + 640 ELSE y1 END, 0), 640)
      AS ey1,
    least(greatest(CASE WHEN y1 + h_abs < 0 THEN y1 + h_abs + 640
                        ELSE y1 + h_abs END, 0), 640) AS ey2
  FROM boxes
), kept AS (
  SELECT split_part(stem, '_', 1) AS prefix,
         (ey2 - ey1) * (ex2 - ex1) AS px
  FROM eff WHERE ex2 > ex1 AND ey2 > ey1
), lab AS (
  SELECT prefix, CAST(count(*) AS BIGINT) AS n_crops,
         CAST(sum(px) AS BIGINT) AS n_pixels
  FROM kept GROUP BY prefix
), blobs AS (
  SELECT split_part(regexp_extract(filename, '([^/]+)[.]jpg$', 1),
                    '_', 1) AS prefix,
         octet_length(content) AS nb
  FROM read_blob('{_REF_CROPS}/*.jpg')
), fb AS (
  SELECT prefix, CAST(sum(nb) AS BIGINT) AS crop_bytes
  FROM blobs GROUP BY prefix
), golden(prefix, g_crops, g_pixels, raw_sum, chain_sum,
          emb_checksum_micros) AS (
  VALUES
  ('Tr-gl', 830, 5826961, 1973591499, 2497859121, -5931702),
  ('Tr-me', 547, 10506157, 4267077504, 5106191664, 24093198),
  ('Tr-no', 483, 67581885, 25603097547, 31207910178, -27404872),
  ('Tr-pi', 612, 4143710, 1793076513, 2078247801, -9133599)
)
SELECT l.prefix, l.n_crops, l.n_pixels, f.crop_bytes,
       round(CAST(g.raw_sum AS DOUBLE)
             / CAST(3 * l.n_pixels AS DOUBLE), 6) AS mean_raw_luma,
       round(CAST(g.chain_sum AS DOUBLE)
             / CAST(3 * l.n_pixels AS DOUBLE), 6) AS mean_chain_luma,
       CAST(g.emb_checksum_micros AS BIGINT) AS emb_checksum_micros
FROM lab l
JOIN fb f ON l.prefix = f.prefix
JOIN golden g ON l.prefix = g.prefix
""",
)
def reference_crops_pixel_chain_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VERDICT r6 #4 — the LAST pre-torch fidelity step: every one of
    the reference's 2,472 real shipped crops runs the FULL
    preprocessing stack on its REAL decoded pixels, in one Arrow pass:

        S2 decode (functions/jpeg_numpy.py, no deps)
        → T1 gamma LUT γ=1.5     (build_faiss_db.py:53-55)
        → T2 Gaussian blur 3×3   (build_faiss_db.py:77)
        → T7 CNN input tensor    (build_faiss_db.py:117-124 semantics)
        → T8 hash-projection embed over the tensor bytes

    using the SAME kernels as the production operators
    (sources/images.py `_gamma_lut`/`_blur3`/`_cnn_input_tensor`,
    functions/embed.py batch embedder). Per class prefix (the filename
    token cv2.imwrite inherited from the dataset split —
    build_faiss_db.py:192) it emits exact-integer aggregates: crop and
    pixel counts, byte totals, mean luma before and after the chain,
    and an order-free embedding checksum (per-crop micro-quantized
    BEFORE the integer sum, so aggregation order cannot perturb it).

    Oracle: n_crops / n_pixels re-derived INDEPENDENTLY from the
    reference's label files (numpy-slice crop semantics replay),
    crop_bytes from read_blob over the same JPEGs, and the three
    pixel-chain scalars pinned to frozen goldens produced by
    tools/make_pixel_chain_golden.py — an INDEPENDENT scalar
    re-implementation of every post-decode transform, asserted equal to
    the production kernels crop-by-crop before freezing (decode itself
    is cross-validated by `reference_crops_decode_parity`). sf_dir
    unused — pinned to the reference's shipped data."""
    import numpy as np

    from oracle_vector_search_spark.functions.embed import (
        hash_projection_embed_batch,
    )
    from oracle_vector_search_spark.functions.jpeg_numpy import (
        decode_baseline_jpeg,
    )
    from oracle_vector_search_spark.sources.images import (
        _blur3,
        _cnn_input_tensor,
        _gamma_lut,
    )

    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(_REF_CROPS)
    )
    src = scan.select(
        F.regexp_extract(F.col("path"), r"([^/]+)\.jpg$", 1).alias(
            "stem"
        ),
        "length",
        "content",
    )
    lut = _gamma_lut(1.5)

    def chain_stats(stem, nb, b):
        arr = decode_baseline_jpeg(bytes(b))
        if arr is None:  # F3: skip undecodable, never raise
            return []
        chain = _blur3(lut[arr])
        tensor = _cnn_input_tensor(chain)
        emb = hash_projection_embed_batch([tensor.tobytes()], 8)[0]
        return [(
            stem.split("_", 1)[0],
            nb,
            arr.shape[0] * arr.shape[1],
            int(arr.astype(np.int64).sum()),
            int(chain.astype(np.int64).sum()),
            int(np.rint(sum(emb) * 1e6)),
        )]

    per = map_rows(
        src,
        chain_stats,
        "prefix string, nb long, px long, raw_sum long, "
        "chain_sum long, emb_micros long",
    )
    agg = per.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_crops"),
        F.sum("px").alias("n_pixels"),
        F.sum("nb").alias("crop_bytes"),
        F.sum("raw_sum").alias("raw_sum"),
        F.sum("chain_sum").alias("chain_sum"),
        F.sum("emb_micros").alias("emb_checksum_micros"),
    )
    den = (F.lit(3) * F.col("n_pixels")).cast("double")
    return agg.select(
        "prefix",
        "n_crops",
        "n_pixels",
        "crop_bytes",
        F.round(F.col("raw_sum").cast("double") / den, 6).alias(
            "mean_raw_luma"
        ),
        F.round(F.col("chain_sum").cast("double") / den, 6).alias(
            "mean_chain_luma"
        ),
        "emb_checksum_micros",
    )


# ---------- QUERY-path (CLAHE) real pixels through the chain (r8)
@register(
    "reference_crops_clahe_chain_profile",
    f"""
WITH lines AS (
  SELECT regexp_extract(filename, '([^/]+)[.]txt$', 1) AS stem,
         x_c, y_c, w, h
  FROM read_csv('{_REF_ROOT}/*/labels/*.txt',
       delim=' ', header=false, filename=true,
       columns={{'class_id': 'INTEGER', 'x_c': 'DOUBLE', 'y_c': 'DOUBLE',
                 'w': 'DOUBLE', 'h': 'DOUBLE'}})
), boxes AS (
  SELECT stem,
         CAST(trunc(w * 640) AS INTEGER) AS w_abs,
         CAST(trunc(h * 640) AS INTEGER) AS h_abs,
         CAST(trunc(x_c * 640 - trunc(w * 640) / 2) AS INTEGER) AS x1,
         CAST(trunc(y_c * 640 - trunc(h * 640) / 2) AS INTEGER) AS y1
  FROM lines
), eff AS (
  SELECT stem,
    least(greatest(CASE WHEN x1 < 0 THEN x1 + 640 ELSE x1 END, 0), 640)
      AS ex1,
    least(greatest(CASE WHEN x1 + w_abs < 0 THEN x1 + w_abs + 640
                        ELSE x1 + w_abs END, 0), 640) AS ex2,
    least(greatest(CASE WHEN y1 < 0 THEN y1 + 640 ELSE y1 END, 0), 640)
      AS ey1,
    least(greatest(CASE WHEN y1 + h_abs < 0 THEN y1 + h_abs + 640
                        ELSE y1 + h_abs END, 0), 640) AS ey2
  FROM boxes
), kept AS (
  SELECT split_part(stem, '_', 1) AS prefix,
         (ey2 - ey1) * (ex2 - ex1) AS px
  FROM eff WHERE ex2 > ex1 AND ey2 > ey1
), lab AS (
  SELECT prefix, CAST(count(*) AS BIGINT) AS n_crops,
         CAST(sum(px) AS BIGINT) AS n_pixels
  FROM kept GROUP BY prefix
), golden(prefix, g_crops, g_pixels, eq_sum, emb_checksum_micros) AS (
  VALUES
  ('Tr-gl', 830, 5826961, 2247341100, -15196),
  ('Tr-me', 547, 10506157, 4316863386, 11711573),
  ('Tr-no', 483, 67581885, 26020274853, 45809054),
  ('Tr-pi', 612, 4143710, 1783973739, 21046316)
)
SELECT l.prefix, l.n_crops, l.n_pixels,
       round(CAST(g.eq_sum AS DOUBLE)
             / CAST(3 * l.n_pixels AS DOUBLE), 6) AS mean_eq_luma,
       CAST(g.emb_checksum_micros AS BIGINT) AS emb_checksum_micros
FROM lab l
JOIN golden g ON l.prefix = g.prefix
ORDER BY l.prefix
""",
)
def reference_crops_clahe_chain_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VERDICT r7 #3 / r8 #3 — the QUERY-path twin of
    `reference_crops_pixel_chain_profile`: every one of the
    reference's 2,472 real shipped crops runs the reference's QUERY
    preprocessing branch (app.py:60-66 — TRUE CLAHE, clip 4.0, 8×8
    tiles, cv2-exact semantics via the pure-numpy kernel in
    functions/clahe_numpy.py) on its REAL decoded pixels, then the
    same T7 CNN-tensor + T8 embed tail, in one Arrow pass:

        S2 decode → BGR → T3 CLAHE → T7 tensor → T8 embed

    Together with the build-path chain query this reproduces SURVEY
    §1.4.2's build/query preprocessing MISMATCH on real pixels: the
    same bytes yield mean_chain_luma ≠ mean_eq_luma and different
    embedding checksums — the fidelity bug the unified
    `preprocess_images(mode=...)` operator fixes by construction.

    Oracle: n_crops / n_pixels re-derived independently from the
    label files (numpy-slice crop replay, as the sibling query); the
    CLAHE-luma sum and embedding checksum pinned to frozen goldens
    from tools/make_clahe_golden.py, whose scalar pure-python CLAHE
    (per-tile histogram/clip/redistribute/LUT loops, float32-scalar
    blend) is asserted equal to the vectorized production kernel
    crop-by-crop before freezing (and to cv2.createCLAHE where cv2 is
    importable).  sf_dir unused — pinned to the reference's shipped
    data."""
    import numpy as np

    from oracle_vector_search_spark.functions.embed import (
        hash_projection_embed_batch,
    )
    from oracle_vector_search_spark.functions.jpeg_numpy import (
        decode_baseline_jpeg,
    )
    from oracle_vector_search_spark.sources.images import (
        _cnn_input_tensor,
        _equalize_numpy,
    )

    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(_REF_CROPS)
    )
    src = scan.select(
        F.regexp_extract(F.col("path"), r"([^/]+)\.jpg$", 1).alias(
            "stem"
        ),
        "content",
    )

    def clahe_stats(stem, b):
        arr = decode_baseline_jpeg(bytes(b))
        if arr is None:  # F3: skip undecodable, never raise
            return []
        # decode is RGB; the reference reads BGR (cv2.imread)
        # and CLAHE's gray weights are order-sensitive
        eq = _equalize_numpy(arr[:, :, ::-1].copy())
        emb = hash_projection_embed_batch(
            [_cnn_input_tensor(eq).tobytes()], 8
        )[0]
        return [(
            stem.split("_", 1)[0],
            arr.shape[0] * arr.shape[1],
            int(eq.astype(np.int64).sum()),
            int(np.rint(sum(emb) * 1e6)),
        )]

    per = map_rows(
        src,
        clahe_stats,
        "prefix string, px long, eq_sum long, emb_micros long",
    )
    agg = per.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_crops"),
        F.sum("px").alias("n_pixels"),
        F.sum("eq_sum").alias("eq_sum"),
        F.sum("emb_micros").alias("emb_checksum_micros"),
    )
    den = (F.lit(3) * F.col("n_pixels")).cast("double")
    return agg.select(
        "prefix",
        "n_crops",
        "n_pixels",
        F.round(F.col("eq_sum").cast("double") / den, 6).alias(
            "mean_eq_luma"
        ),
        "emb_checksum_micros",
    ).orderBy("prefix")


# ----------------- T9 closure: the reference's ONLINE entry point
# (app.py:100-156) with a REAL detector in the loop (VERDICT r10 #3).
# Frames are synthetic MRI-like fixtures (functions/detect_numpy.py:
# render_mri_like) whose piecewise-constant geometry makes every
# detector output — boxes, confidences, even the crop's serialized
# pixel bytes — EXACTLY re-derivable by integer arithmetic in the
# DuckDB oracle, so detect → F5 guard → A1 argmax → T6 crop → T8 embed
# → M1 top-5 search is one hash-checked row set end-to-end.
_QP_N = 40  # query fixture ids: p_partkey < 40 (3 of them render flat)
_QP_TOPK = 5


def _mri_query_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part keys < _QP_N → rendered grayscale frames (IMAGE_SCHEMA
    shape: stem/width/height/channels/pixels). Pixels are born inside
    the map stage and never shuffle."""
    from oracle_vector_search_spark.functions.detect_numpy import (
        MRI_H,
        MRI_W,
        render_mri_like,
    )

    ks = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < _QP_N)
        .select(F.col("p_partkey").cast("int").alias("k"))
    )

    def frame(k):
        px = render_mri_like(k).reshape(MRI_H, MRI_W, 1).tobytes()
        return [(f"q_{k}", MRI_W, MRI_H, 1, px)]

    return map_rows(
        ks,
        frame,
        "stem string, width int, height int, channels int, pixels binary",
    )


def _crop_serialize_best(best: DataFrame) -> DataFrame:
    """T6 for the winning box: re-render the frame from its stem (the
    deterministic renderer IS the image store here — a real deployment
    re-reads the one winning image from object storage rather than
    shuffling every frame's pixels to the ranking stage), numpy-slice
    the crop and serialize it as '<h>x<w>:<row-major csv>' for the
    hash-projection embedder."""
    from oracle_vector_search_spark.functions.detect_numpy import (
        render_mri_like,
    )

    def serialize(stem, nb, x1, y1, x2, y2, conf, cls):
        arr = render_mri_like(int(stem.split("_")[1]))
        vals = ",".join(str(int(v)) for v in arr[y1:y2, x1:x2].ravel())
        csv = f"{y2 - y1}x{x2 - x1}:" + vals
        return [(stem, nb, x1, y1, x2, y2, conf, cls, csv)]

    return map_rows(
        best,
        serialize,
        "stem string, n_boxes long, x1 int, y1 int, x2 int, "
        "y2 int, conf double, cls int, crop_csv string",
        ["stem", "n_boxes", "x1", "y1", "x2", "y2", "conf", "cls"],
    )


def _duck_detect_search_sql() -> str:
    """Oracle: re-derive detector outputs from the fixture's integer
    arithmetic (functions/detect_numpy.py:mri_params — keep in
    lockstep), then embed the reconstructed crop bytes and rank cosine
    top-5 against the same rebuilt index CTEs pipeline_query_topk
    uses."""
    from oracle_vector_search_spark.functions.detect_numpy import (
        MRI_H,
        MRI_NO_BLOB_MOD,
        MRI_W,
    )

    head = _duck_index_head(500)
    npx = MRI_H * MRI_W
    return (
        head
        + f""", idx AS (
  SELECT CAST(row_number() OVER (
           ORDER BY split, stem, box_idx, class_id, x1, y1, x2, y2)
         AS BIGINT) AS id,
         class_name, emb
  FROM (SELECT 'train' AS split, stem, box_idx, class_id, class_name,
               x1, y1, x2, y2, emb
        FROM withvec)
),
par AS (
  SELECT p_partkey AS k,
         16 + p_partkey % 13 AS bg,
         160 + p_partkey % 60 AS va,
         6 + (p_partkey * 7) % 50 AS xa,
         6 + (p_partkey * 11) % 24 AS ya,
         12 + p_partkey % 9 AS wa,
         10 + (p_partkey * 3) % 9 AS ha,
         96 + p_partkey % 30 AS vb,
         8 + p_partkey % 7 AS wb,
         8 + (p_partkey * 5) % 7 AS hb
  FROM part
  WHERE p_partkey < {_QP_N} AND p_partkey % {MRI_NO_BLOB_MOD} <> 0
),
det AS (
  SELECT *, wa * ha AS aa,
         (vb > (bg + va) / 2.0) AS has_b,
         CAST(bg * ({npx} - wa * ha - wb * hb)
              + va * wa * ha + vb * wb * hb AS DOUBLE) AS total
  FROM par
),
best AS (
  SELECT 'q_' || k::VARCHAR AS qstem,
         CAST(CASE WHEN has_b THEN 2 ELSE 1 END AS BIGINT) AS n_boxes,
         CAST(xa AS INTEGER) AS bx1, CAST(ya AS INTEGER) AS by1,
         CAST(xa + wa AS INTEGER) AS bx2,
         CAST(ya + ha AS INTEGER) AS by2,
         round((va - (total - CAST(va * aa AS DOUBLE))
                / ({npx} - aa)) / 255.0, 6) AS conf,
         CAST(va // 64 AS INTEGER) AS cls,
         md5(ha::VARCHAR || 'x' || wa::VARCHAR || ':' ||
             repeat(va::VARCHAR || ',', wa * ha - 1) || va::VARCHAR)
           AS crop_md5
  FROM det
),
q AS (
  SELECT *, {E.duck_embedding_expr('crop_md5', DIMS)} AS qvec FROM best
),
scored AS (
  SELECT q.qstem, q.n_boxes, q.bx1, q.by1, q.bx2, q.by2, q.conf, q.cls,
         i.id, i.class_name,
         round(list_dot_product(q.qvec, i.emb)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(i.emb, i.emb))), 6) AS score
  FROM idx i CROSS JOIN q
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY qstem ORDER BY score DESC, id) AS INTEGER) AS rank
  FROM scored
)
SELECT qstem, n_boxes, bx1, by1, bx2, by2, conf, cls, rank, id,
       class_name, score
FROM ranked WHERE rank <= {_QP_TOPK}"""
    )


@register("query_path_detect_search", _duck_detect_search_sql())
def query_path_detect_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's online query path (app.py:100-156) with a REAL
    detect stage: render query frames → deterministic numpy detector
    (T9: threshold → connected components → contrast-ranked boxes;
    sources/images.py:detect_boxes_numpy) → F5 no-detection guard
    (flat frames yield zero rows) → A1 argmax-confidence box per frame
    → T6 numpy-slice crop → T8 hash-projection embed of the crop bytes
    → M1 exact cosine top-5 against the materialized build index →
    J2 class metadata → T13 rank.

    100 TB shape: pixels never shuffle (render→detect fused in one
    Arrow stage; the winning crop re-reads its single frame from the
    deterministic store); only box/stat rows move. The search is the
    M1 GEMM tier: the ≤{_QP_N} query vectors collect/broadcast and
    every index partition runs ONE BLAS multiply — measured 3.3 s →
    1.6 s warm-median at sf0.1 vs the expression-tier cross join,
    whose interpreted zip_with/aggregate cosine paid per pair (the
    remaining time is the detect/crop pipeline itself, pinned once
    per run via localCheckpoint)."""
    from pyspark.sql import Window

    from oracle_vector_search_spark.operators.knn import knn_exact_gemm
    from oracle_vector_search_spark.sources.images import (
        detect_boxes_numpy,
    )

    frames = _mri_query_frames(spark, sf_dir)
    dets = detect_boxes_numpy(frames)
    n_boxes = F.count("*").over(Window.partitionBy("stem")).cast("bigint")
    best = top_k_per_group(
        dets.withColumn("n_boxes", n_boxes),
        ["stem"], 1, F.desc("conf"), F.asc("y1"), F.asc("x1"),
    )
    q = _crop_serialize_best(best)
    q = pin(
        # detect+crop runs ONCE; the GEMM collect and the metadata
        # broadcast below both read the pinned rows
        q.withColumn("crop_md5", F.md5(F.col("crop_csv").cast("binary")))
        .withColumn("qvec", F.expr(E.spark_embedding_expr("crop_md5", DIMS)))
        .withColumn(
            "qid", F.element_at(F.split("stem", "_"), 2).cast("long")
        ),
    )
    qmeta = q.select(
        "qid",
        F.col("stem").alias("qstem"),
        "n_boxes",
        F.col("x1").alias("bx1"),
        F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"),
        F.col("y2").alias("by2"),
        F.round("conf", 6).alias("conf"),
        "cls",
    )
    idx = _materialized_index(spark, sf_dir, 500)
    hits = knn_exact_gemm(
        idx.select("id", "emb"),
        q.select("qid", "qvec"),
        k=_QP_TOPK,
        id_col="id",
        vec_col="emb",
        query_id_col="qid",
        query_vec_col="qvec",
    )
    named = idx.select("id", "class_name").join(
        F.broadcast(hits.withColumnRenamed("neighbor_id", "id")), "id"
    )
    return named.join(F.broadcast(qmeta), qmeta.qid == named.query_id).select(
        "qstem", "n_boxes", "bx1", "by1", "bx2", "by2", "conf", "cls",
        "rank", "id", "class_name", "score",
    )
