"""Deduplication oracle corpus over ``documents`` (SURVEY.md §7 M7).

Exact dedup, MinHash-LSH near-dedup, SimHash near-dedup, n-gram
Jaccard — each as a registered query whose DuckDB oracle replays the
IDENTICAL integer/hash pipeline (constants shared via functions.text),
so candidate generation and final scores match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.io import (
    at_rest,
    load_table,
    read_artifact,
    write_artifact,
)
from oracle_vector_search_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup,
    ngram_jaccard_join,
    prefix_filter_jaccard_join,
    simhash_fingerprints,
    simhash_near_dup,
)
from oracle_vector_search_spark.plans.ckpt import pin, unpin
from oracle_vector_search_spark.queries import register

MINHASH_THRESHOLD = 0.4
NGRAM_THRESHOLD = 0.35
SIMHASH_MAX_HAMMING = 1  # tiny synthetic vocab collapses fingerprints; 3 floods pairs

# Session-scoped materialized MinHash signature table. Signatures (plus
# the shingle sets used for exact-Jaccard verification) are computed and
# written ONCE per corpus; near-dup passes read them back — the at-scale
# shape, where signatures live at rest next to the documents.
def _minhash_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oracle_vector_search_spark.scratch import scratch_dir

    from oracle_vector_search_spark.operators.dedup import minhash_signatures

    def build():
        path = scratch_dir("ovs_minhash_sigs_")
        # the fixture is a single parquet file → one input partition;
        # spread the (interpreted, per-row) hash expressions across
        # cores before evaluating them
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
        write_artifact(minhash_signatures(docs), path)
        return path

    path = at_rest(spark, (_minhash_sig_table, sf_dir), build)
    return read_artifact(spark, path)


# Session-scoped at-rest SimHash fingerprint table, same shape as the
# MinHash signature table: the 28-bit majority-vote expression is the
# expensive part (interpreted higher-order aggregate, O(bits × tokens)
# per doc), so it is evaluated ONCE per corpus and every consumer —
# banded near-dup, Hamming kNN — reads 4-byte fingerprints back.
def _simhash_fp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_simhash_fps_")
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
        write_artifact(simhash_fingerprints(docs), path)
        return path

    path = at_rest(spark, (_simhash_fp_table, sf_dir), build)
    return read_artifact(spark, path)


@register(
    "exact_dedup_groups",
    f"""
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
SELECT {T.duck_hash60('text')} AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM doubled
GROUP BY 1
""",
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy, keep min id) over a corpus unioned
    with a re-ingested copy of itself — every group collapses 2 → 1."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return exact_dedup(doubled)


def _duck_sig_cte(base: str = "documents") -> str:
    """Shared DuckDB CTE chain computing shingles + MinHash signature.
    ``base``: table name or parenthesized subquery providing
    (doc_id, text) — lets the same pipeline run over derived corpora."""
    sigs = ", ".join(
        f"{e} AS m{j}" for j, e in enumerate(T.duck_minhash_sigs("hs"))
    )
    return f"""
base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM {base}
), tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM base
), sh AS (
  SELECT doc_id, {T.duck_shingles('toks', 'norm')} AS shingles FROM tok
), hs AS (
  SELECT doc_id, shingles, {T.duck_shingle_hashes('shingles')} AS hs FROM sh
), sig AS (
  SELECT doc_id, shingles, {sigs} FROM hs
)"""


def _duck_minhash_bands() -> str:
    parts = []
    for b in range(T.MINHASH_BANDS):
        key = " || '-' || ".join(
            f"m{b * T.MINHASH_ROWS + r}::VARCHAR" for r in range(T.MINHASH_ROWS)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sig"
        )
    return " UNION ALL ".join(parts)


@register(
    "minhash_near_dup_pairs",
    f"""
WITH {_duck_sig_cte()},
bands AS ({_duck_minhash_bands()}),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT c.left_id, c.right_id,
       round(len(list_intersect(s1.shingles, s2.shingles)) * 1.0
             / len(list_distinct(list_concat(s1.shingles, s2.shingles))), 6)
         AS jaccard
FROM cand c
JOIN sig s1 ON s1.doc_id = c.left_id
JOIN sig s2 ON s2.doc_id = c.right_id
WHERE round(len(list_intersect(s1.shingles, s2.shingles)) * 1.0
            / len(list_distinct(list_concat(s1.shingles, s2.shingles))), 6)
      >= {MINHASH_THRESHOLD}
""",
)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: banded signatures prune the
    pair space, exact word-shingle Jaccard ≥ 0.4 confirms."""
    docs = load_table(spark, sf_dir, "documents")
    # tiny band-bucket/verify joins — 32+ shuffle partitions are pure
    # task overhead at fixture scale; pin low, restore after
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        return pin(
            minhash_near_dup(
                docs,
                threshold=MINHASH_THRESHOLD,
                sigs=_minhash_sig_table(spark, sf_dir),
            ),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@register(
    "simhash_fingerprints",
    f"""
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, list_distinct(string_split(norm, ' ')) AS toks FROM base
), h AS (
  SELECT doc_id, {T.duck_shingle_hashes('toks')} AS hs FROM tok
)
SELECT doc_id, {T.duck_simhash('hs')} AS simhash FROM h
""",
)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-bit SimHash fingerprint per document (token-majority bits)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(docs)


_SIMHASH_MASK = (1 << T.SIMHASH_BAND_BITS) - 1


def _duck_simhash_bands() -> str:
    parts = []
    for b in range(T.SIMHASH_BANDS):
        parts.append(
            f"SELECT doc_id, simhash, {b} AS band, "
            f"(simhash >> {b * T.SIMHASH_BAND_BITS}) & {_SIMHASH_MASK} "
            f"AS band_key FROM fp"
        )
    return " UNION ALL ".join(parts)


@register(
    "simhash_near_dup_pairs",
    f"""
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, list_distinct(string_split(norm, ' ')) AS toks FROM base
), h AS (
  SELECT doc_id, {T.duck_shingle_hashes('toks')} AS hs FROM tok
), fp AS (
  SELECT doc_id, {T.duck_simhash('hs')} AS simhash FROM h
),
bands AS ({_duck_simhash_bands()}),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT left_id, right_id, CAST(hamming AS INTEGER) AS hamming
FROM cand WHERE hamming <= {SIMHASH_MAX_HAMMING}
""",
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via lossless 4-band buckets
    (pigeonhole: ≤3 differing bits leave ≥1 of 4 bands identical)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_dup(
        docs,
        max_hamming=SIMHASH_MAX_HAMMING,
        fps=_simhash_fp_table(spark, sf_dir),
    )
    return pairs.select(
        "left_id", "right_id", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "ngram_jaccard_pairs",
    f"""
WITH base AS (
  SELECT doc_id, source, lang,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), g AS (
  SELECT doc_id, source, lang,
         list_distinct([substr(norm, i, 3)
                        for i in range(1, greatest(length(norm) - 2, 1) + 1)])
           AS grams
  FROM base
)
SELECT a.source, a.lang, a.doc_id AS left_id, b.doc_id AS right_id,
       round(len(list_intersect(a.grams, b.grams)) * 1.0
             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
FROM g a
JOIN g b ON a.source = b.source AND a.lang = b.lang
        AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.grams, b.grams)) * 1.0
            / len(list_distinct(list_concat(a.grams, b.grams))), 6)
      >= {NGRAM_THRESHOLD}
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Jaccard near-dup within (source, lang) blocks —
    exact n-gram similarity with explicit blocking."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_join(
        docs, ["source", "lang"], n=3, threshold=NGRAM_THRESHOLD
    )


def _duck_cluster_sql(iterations: int = 3, base: str = "documents") -> str:
    """Unrolled min-label propagation over the minhash near-dup graph."""
    sql = f"""
WITH {_duck_sig_cte(base)},
bands AS ({_duck_minhash_bands()}),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.left_id, c.right_id
  FROM cand c
  JOIN sig s1 ON s1.doc_id = c.left_id
  JOIN sig s2 ON s2.doc_id = c.right_id
  WHERE round(len(list_intersect(s1.shingles, s2.shingles)) * 1.0
              / len(list_distinct(list_concat(s1.shingles, s2.shingles))), 6)
        >= {MINHASH_THRESHOLD}
),
edges AS (
  SELECT left_id AS src, right_id AS dst FROM pairs
  UNION
  SELECT right_id AS src, left_id AS dst FROM pairs
),
l0 AS (SELECT doc_id AS node, doc_id AS canonical_id FROM {base})"""
    for k in range(1, iterations + 1):
        prev = f"l{k - 1}"
        sql += f""",
l{k} AS (
  SELECT l.node,
         least(l.canonical_id,
               coalesce(m.nbr_min, l.canonical_id)) AS canonical_id
  FROM {prev} l
  LEFT JOIN (
    SELECT e.src, min(p.canonical_id) AS nbr_min
    FROM edges e JOIN {prev} p ON p.node = e.dst
    GROUP BY e.src
  ) m ON m.src = l.node
)"""
    sql += f"""
SELECT node AS doc_id, canonical_id FROM l{iterations}"""
    return sql


@register("dedup_canonical_ids", _duck_cluster_sql(3))
def dedup_canonical_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component canonical ids over the MinHash near-dup
    graph (min-label propagation, 3 rounds — exact for this fixture's
    chain diameters; unrolled identically in the oracle). The final
    dedup artifact: every doc mapped to its cluster representative."""
    from oracle_vector_search_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup(
        docs,
        threshold=MINHASH_THRESHOLD,
        sigs=_minhash_sig_table(spark, sf_dir),
    )
    return dedup_clusters(
        pairs,
        docs.select("doc_id"),
        iterations=3,
    )


# ---------------------------------------------------------------------------
# Incremental signature maintenance — the dedup twin of the vector-index
# upsert (queries/ann_queries.py index_upsert_merge). A 100 TB corpus
# ingests documents continuously; re-hashing the corpus per batch is the
# reference's rebuild-everything shape (build_faiss_db.py:138-225), so
# instead ONLY the new/changed documents are shingled+hashed and merged
# over the standing signature table (operators/index_maint.py).
#   base    = doc_id % 10 != 0                (original text)
#   inserts = doc_id % 10 == 0                (original text)
#   updates = doc_id % 10 == 1                (text || ' updated')
# The oracle recomputes signatures over the upserted corpus — the
# hash-match proves incremental ≡ rebuild.

_SIG_UPSERT_SIGS = ", ".join(
    f"{e} AS m{j}"
    for j, e in enumerate(T.duck_minhash_sigs("hs"))
)


@register(
    "signature_upsert_merge",
    f"""
WITH src AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 1
  UNION ALL
  SELECT doc_id, text || ' updated' AS text FROM documents
  WHERE doc_id % 10 = 1
), base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM src
), tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM base
), sh AS (
  SELECT doc_id, {T.duck_shingles('toks', 'norm')} AS shingles FROM tok
), hs AS (
  SELECT doc_id, shingles, {T.duck_shingle_hashes('shingles')} AS hs FROM sh
)
SELECT doc_id, {_SIG_UPSERT_SIGS}
FROM hs
ORDER BY doc_id
""",
)
def signature_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash signature maintenance: hash ONLY the
    insert+update batch, drop the batch ids' stale signature rows via a
    broadcast anti-join, union the fresh rows. Work is proportional to
    the batch; the standing corpus is never re-shingled."""
    from oracle_vector_search_spark.operators.dedup import (
        minhash_signatures,
    )
    from oracle_vector_search_spark.operators.index_maint import (
        merge_index_rows,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionByName(
        docs.filter(F.col("doc_id") % 10 == 1).select(
            "doc_id", F.concat(F.col("text"), F.lit(" updated")).alias("text")
        )
    )
    old = minhash_signatures(base.repartition(32))
    fresh = minhash_signatures(batch)
    merged = merge_index_rows(old, fresh, id_col="doc_id")
    sig_cols = [f"m{j}" for j in range(T.MINHASH_PERMS)]
    return merged.select("doc_id", *sig_cols).orderBy("doc_id")


@register(
    "benchmark_decontamination",
    f"""
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM base
), sh AS (
  SELECT doc_id, {T.duck_shingles('toks', 'norm')} AS shingles FROM tok
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), eval_sh AS (
  SELECT doc_id AS eval_id, shingle FROM ex WHERE doc_id % 50 = 0
), train_sh AS (
  SELECT doc_id, shingle FROM ex WHERE doc_id % 50 <> 0
), hits AS (
  SELECT t.doc_id, e.eval_id, t.shingle
  FROM train_sh t JOIN eval_sh e USING (shingle)
)
SELECT doc_id,
       CAST(count(DISTINCT shingle) AS BIGINT) AS n_shared_shingles,
       CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
FROM hits
GROUP BY doc_id
ORDER BY doc_id
""",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training documents that share
    any word 3-shingle with a held-out eval set (doc_id % 50 == 0),
    reporting how many shingles and eval docs each one collides with.
    The standard pre-training hygiene pass (remove eval overlap before
    training). Scale shape: the eval side is tiny by construction, so
    its exploded shingle set BROADCASTS; the corpus side explodes
    map-side into the broadcast join — the only shuffle is the final
    per-doc aggregation. The corpus-sized shingle set is never
    self-joined."""
    from oracle_vector_search_spark.operators.dedup import with_norm_tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = with_norm_tokens(docs)
    ex = d.withColumn(
        "shingles", F.expr(T.word_shingles_expr("toks", "norm"))
    ).select("doc_id", F.explode("shingles").alias("shingle"))
    eval_sh = ex.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    train_sh = ex.filter(F.col("doc_id") % 50 != 0)
    hits = train_sh.join(F.broadcast(eval_sh), "shingle")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_keep_best",
    f"""
WITH clusters AS ({_duck_cluster_sql(3)}),
qual AS (
  SELECT doc_id,
         CAST(len(string_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT c.canonical_id, c.doc_id, q.n_tokens,
         row_number() OVER (
           PARTITION BY c.canonical_id
           ORDER BY q.n_tokens DESC, c.doc_id) AS rn
  FROM clusters c JOIN qual q ON q.doc_id = c.doc_id
)
SELECT canonical_id,
       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keep_id,
       CAST(max(CASE WHEN rn = 1 THEN n_tokens END) AS BIGINT)
         AS keep_tokens,
       CAST(count(*) AS BIGINT) AS n_members
FROM ranked
GROUP BY canonical_id
ORDER BY canonical_id
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the LONGEST document (ties → lowest id) instead of the lowest
    id — the policy a training-data pipeline actually wants (near-dups
    are usually truncations/boilerplate variants of one best copy).
    Composes the connected-component clustering with a per-doc quality
    metric via one rank-1 window per cluster; swapping in a richer
    score (gopher flags, LM perplexity) changes only the ORDER BY."""
    from oracle_vector_search_spark.operators.dedup import (
        dedup_clusters,
        with_norm_tokens,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup(
        docs,
        threshold=MINHASH_THRESHOLD,
        sigs=_minhash_sig_table(spark, sf_dir),
    )
    clusters = dedup_clusters(
        pairs,
        docs.select("doc_id"),
        iterations=3,
    )
    qual = with_norm_tokens(docs).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    j = clusters.join(qual, "doc_id")
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    r = j.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("canonical_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("keep_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_tokens")))
            .cast("long")
            .alias("keep_tokens"),
            F.count("*").alias("n_members"),
        )
        .orderBy("canonical_id")
    )


@register(
    "domain_cap_sample",
    """
WITH qual AS (
  SELECT doc_id, source,
         CAST(len(string_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_tokens,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY n_tokens DESC, doc_id)
           AS INTEGER) AS rank
  FROM qual
)
SELECT source, doc_id, n_tokens, rank
FROM ranked
WHERE rank <= 5
ORDER BY source, rank
""",
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping — the anti-domination pass a training blend runs
    so no single source floods the mix: keep at most 5 documents per
    source, chosen by quality (longest first, ties → lowest id).
    One WindowGroupLimit per source partition (Spark prunes to ≤5 rows
    per group before the final sort — no global shuffle of the losers);
    the per-domain cap composes with domain_mixture_rates' global
    blend."""
    from oracle_vector_search_spark.operators.dedup import (
        with_norm_tokens,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    qual = with_norm_tokens(docs).select(
        "doc_id",
        "source",
        F.size("toks").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        qual.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("source", "doc_id", "n_tokens", "rank")
        .orderBy("source", "rank")
    )


@register(
    "candidate_jaccard_histogram",
    """
WITH base AS (
  SELECT doc_id, source, lang,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), g AS (
  SELECT doc_id, source, lang,
         list_distinct([substr(norm, i, 3)
                        for i in range(1, greatest(length(norm) - 2, 1) + 1)])
           AS grams
  FROM base
),
scored AS (
  SELECT round(len(list_intersect(a.grams, b.grams)) * 1.0
               / len(list_distinct(list_concat(a.grams, b.grams))), 6)
           AS jaccard
  FROM g a
  JOIN g b ON a.source = b.source AND a.lang = b.lang
          AND a.doc_id < b.doc_id
)
SELECT CAST(least(floor(jaccard * 10), 9) AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM scored
GROUP BY decile
ORDER BY decile
""",
)
def candidate_jaccard_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup threshold-tuning telemetry: the exact character-trigram
    Jaccard distribution of ALL within-block pairs, bucketed by decile
    — the curve an operator reads to place the near-dup threshold
    (mass below the chosen decile = pairs a lower threshold would
    merge). Blocking keys (source, lang) bound each block's pair space,
    so the join is block-local and the global all-pairs space is never
    scanned — the same blocking the production n-gram pass uses."""
    docs = load_table(spark, sf_dir, "documents")
    scored = ngram_jaccard_join(
        docs, ["source", "lang"], n=3, threshold=0.0
    )
    return (
        scored.select(
            F.least(F.floor(F.col("jaccard") * 10), F.lit(9))
            .cast("int")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("decile")
    )


@register(
    "prefix_filter_jaccard_pairs",
    f"""
WITH base AS (
  SELECT doc_id, {T.duck_norm('text')} AS norm FROM documents
), tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM base
), sh AS (
  SELECT doc_id, {T.duck_shingles('toks', 'norm')} AS shingles FROM tok
), sets AS (
  SELECT doc_id, shingles, len(shingles) AS set_size FROM sh
), ex AS (
  SELECT doc_id, set_size, unnest(shingles) AS s FROM sets
), dfreq AS (
  SELECT s, count(*) AS df FROM ex GROUP BY s
), ranked AS (
  SELECT e.doc_id, e.s,
         row_number() OVER (
           PARTITION BY e.doc_id ORDER BY d.df ASC, e.s ASC) AS rk,
         e.set_size
  FROM ex e JOIN dfreq d USING (s)
), pref AS (
  SELECT doc_id, s FROM ranked
  WHERE rk <= set_size - ((3 * set_size + 4) // 5) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
)
SELECT c.left_id, c.right_id,
       round(len(list_intersect(s1.shingles, s2.shingles)) * 1.0
             / len(list_distinct(list_concat(s1.shingles, s2.shingles))), 6)
         AS jaccard
FROM cand c
JOIN sets s1 ON s1.doc_id = c.left_id
JOIN sets s2 ON s2.doc_id = c.right_id
WHERE len(list_intersect(s1.shingles, s2.shingles)) * 5
      >= len(list_distinct(list_concat(s1.shingles, s2.shingles))) * 3
""",
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join WITHOUT a blocking key: PPJoin prefix
    filtering over word 3-shingles at Jaccard >= 3/5. Complements
    ``ngram_jaccard_pairs`` (explicit blocking) and
    ``minhash_near_dup_pairs`` (probabilistic banding) with the third
    standard recipe — exact, global, frequency-ordered prefix
    candidates. All threshold comparisons are cross-multiplied integer
    arithmetic, so Spark and the oracle agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_join(docs, threshold_num=3, threshold_den=5)


@register(
    "repeated_span_doc_stats",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(range(len(toks) - 7)) AS i, toks
  FROM base WHERE len(toks) >= 8
),
grams AS (
  SELECT doc_id, array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS gram
  FROM pos
),
gcount AS (
  SELECT gram, count(DISTINCT doc_id) AS n_docs FROM grams GROUP BY gram
),
perdoc AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM grams g JOIN gcount c USING (gram)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_grams,
       round(coalesce(p.n_dup, 0) * 1.0
             / greatest(coalesce(p.n_grams, 0), 1), 6) AS dup_frac
FROM documents d LEFT JOIN perdoc p USING (doc_id)
""",
)
def repeated_span_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (sub-document) duplication: per document, the
    fraction of its word 8-gram spans that also appear in ANOTHER
    document — the RefinedWeb/Falcon "repeated span removal" signal at
    the granularity between whole-doc exact dedup and shingle-set
    near-dedup.

    Shape at 100 TB: grams are born in the scan projection
    (split→transform→posexplode, all JVM), one groupBy(gram) counting
    DISTINCT doc_ids, one join back on gram — both shuffles carry
    (gram, id) pairs only; no document text ever shuffles."""
    from oracle_vector_search_spark.operators.dedup import span_grams

    docs = load_table(spark, sf_dir, "documents")
    grams = span_grams(docs, n=8)
    gcount = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    perdoc = (
        grams.join(gcount, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_dup"),
        )
    )
    return (
        docs.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.coalesce("n_dup", F.lit(0))
                * 1.0
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


@register(
    "boilerplate_spans_per_source",
    """
WITH base AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, source, unnest(range(len(toks) - 4)) AS i, toks
  FROM base WHERE len(toks) >= 5
),
grams AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
  FROM pos
),
src AS (
  SELECT source, count(DISTINCT doc_id) AS src_docs FROM documents
  GROUP BY source
),
hits AS (
  SELECT g.source, g.gram, count(*) AS n_docs
  FROM grams g GROUP BY g.source, g.gram
)
SELECT h.source, h.gram,
       CAST(h.n_docs AS BIGINT) AS n_docs,
       round(h.n_docs * 1.0 / s.src_docs, 6) AS doc_frac
FROM hits h JOIN src s USING (source)
WHERE h.n_docs >= 2
ORDER BY h.source, h.gram
""",
)
def boilerplate_spans_per_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate detection (C4-style): word 5-gram spans recurring
    across a source's documents — the headers/footers/navigation
    chrome a web-scale pipeline strips before training. The recurrence
    threshold is integer-exact (here ≥2 docs — the synthetic corpus's
    planted near-dups; a web corpus would use n_docs*5 >= src_docs);
    ``doc_frac`` reports the per-source share for downstream tuning.

    Shape at 100 TB: per-doc DISTINCT grams in the map stage, one
    groupBy(source, gram) — the boilerplate table this emits is tiny
    and broadcast-joins back against the corpus for removal."""
    from oracle_vector_search_spark.operators.dedup import span_grams

    docs = load_table(spark, sf_dir, "documents")
    grams = span_grams(docs, n=5, extra_cols=("source",)).select(
        "doc_id", "source", "gram"
    ).distinct()
    src = docs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("src_docs")
    )
    hits = grams.groupBy("source", "gram").agg(
        F.count("*").alias("n_docs")
    )
    return (
        hits.join(F.broadcast(src), "source")
        .filter(F.col("n_docs") >= 2)
        .select(
            "source",
            "gram",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("src_docs"), 6).alias(
                "doc_frac"
            ),
        )
        .orderBy("source", "gram")
    )


@register(
    "hamming_knn_top5",
    f"""
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, list_distinct(string_split(norm, ' ')) AS toks FROM base
), h AS (
  SELECT doc_id, {T.duck_shingle_hashes('toks')} AS hs FROM tok
), fp AS (
  SELECT doc_id, {T.duck_simhash('hs')} AS simhash FROM h
), q AS (
  SELECT doc_id AS query_id, simhash AS qfp FROM fp WHERE doc_id < 10
), scored AS (
  SELECT q.query_id, fp.doc_id AS neighbor_id,
         CAST(bit_count(xor(q.qfp, fp.simhash)) AS BIGINT) AS hamming
  FROM fp CROSS JOIN q
  WHERE fp.doc_id <> q.query_id
)
SELECT query_id, neighbor_id, hamming, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 5
ORDER BY query_id, rank
""",
)
def hamming_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance kNN over 28-bit SimHash fingerprints — the
    bit-twiddling coarse search tier: distance is ONE xor + popcount
    per pair (vs 64 multiply-adds for cosine), the classic first pass
    of a dedup-oriented retrieval cascade whose survivors go to exact
    Jaccard/cosine. Query fingerprints broadcast; the fingerprint
    column is 4 bytes/doc at rest (vs 256 for the float vector), so at
    100 TB the whole coarse index fits where the vectors don't. Reads
    the session's at-rest fingerprint table — the scan is xor/popcount
    over 4-byte codes, never the majority-vote projection."""
    fp = _simhash_fp_table(spark, sf_dir)
    q = fp.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("simhash").alias("qfp")
    )
    from pyspark.sql import Window

    scored = (
        fp.join(F.broadcast(q))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.bit_count(
                F.col("qfp").bitwiseXOR(F.col("simhash"))
            ).cast("long").alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "hamming", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "dedup_cleaned_corpus_checksum",
    f"""
WITH canon AS ({_duck_cluster_sql(3)}),
kept AS (
  SELECT d.doc_id, d.n_chars, d.source
  FROM documents d
  JOIN canon c ON c.doc_id = d.doc_id AND c.canonical_id = d.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs_in,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       CAST(sum(n_chars) AS BIGINT) AS chars_checksum,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources_kept
FROM kept
""",
)
def dedup_cleaned_corpus_checksum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The end-to-end dedup statement: MinHash-LSH pairs → connected-
    component canonical ids → keep ONLY cluster representatives → the
    cleaned corpus, checksummed. This is the artifact a training run
    actually consumes; the checksum proves the whole cascade (shingle →
    signature → band join → exact-Jaccard verify → min-label
    components → canonical filter) is engine-exact end to end, not
    just each stage in isolation."""
    from oracle_vector_search_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup(
        docs,
        threshold=MINHASH_THRESHOLD,
        sigs=_minhash_sig_table(spark, sf_dir),
    )
    labels = dedup_clusters(
        pairs,
        docs.select("doc_id"),
        iterations=3,
    )
    kept = docs.join(
        labels.filter(F.col("doc_id") == F.col("canonical_id")).select(
            "doc_id"
        ),
        "doc_id",
    )
    total = docs.agg(F.count("*").alias("n_docs_in"))
    return kept.agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("chars_checksum"),
        F.countDistinct("source").alias("n_sources_kept"),
    ).crossJoin(F.broadcast(total)).select(
        "n_docs_kept",
        "n_docs_in",
        "id_checksum",
        "chars_checksum",
        "n_sources_kept",
    )


# ---------------------------------------------------- cascade scaling probe
# Deterministic corpus expansion (×3): every document plus one EXACT
# copy and one NEAR copy (single appended token). Both engines build it
# from the same SQL-expressible expressions, so the full cascade stays
# hash-checkable while exercising 3× the corpus with planted duplicate
# structure of BOTH kinds.
_EXPANDED_BASE = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id,
         text || ' probe' || (doc_id % 7)::VARCHAR AS text
  FROM documents
)"""


@register(
    "dedup_cascade_scaling_probe",
    f"""
WITH canon AS ({_duck_cluster_sql(4, _EXPANDED_BASE)}),
corpus AS (SELECT doc_id, text FROM {_EXPANDED_BASE} c),
kept AS (
  SELECT doc_id FROM canon WHERE doc_id = canonical_id
)
SELECT CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_docs_in,
       CAST((SELECT count(DISTINCT {T.duck_hash60('text')}) FROM corpus)
            AS BIGINT) AS n_exact_groups,
       CAST((SELECT count(*) FROM kept) AS BIGINT) AS n_docs_kept,
       CAST((SELECT sum(doc_id) FROM kept) AS BIGINT) AS id_checksum
""",
)
def dedup_cascade_scaling_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full dedup cascade under deterministic 3× corpus expansion
    (every doc + an exact copy + a near copy): shingle → MinHash sig →
    band join → exact-Jaccard verify → 4-round min-label components →
    canonical filter, summarized as exact checkable aggregates. The
    planted structure means the cascade MUST collapse each original
    with both of its copies — a recall or clustering bug changes
    n_docs_kept/id_checksum and hash-mismatches.

    This is the driver-checked face of the scaling story; the same
    code path is stress-run at ~10⁶ docs (generated, not fixture) in
    tests/test_dedup_scale.py with convergence-round and flat-plan
    assertions, and its wall-clock curve is recorded in PERF.md."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact_copy = docs.select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "text"
    )
    near_copy = docs.select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" probe"),
            (F.col("doc_id") % 7).cast("string"),
        ).alias("text"),
    )
    corpus = docs.unionByName(exact_copy).unionByName(near_copy)
    corpus = corpus.repartition(32, "doc_id")
    from oracle_vector_search_spark.operators.dedup import dedup_clusters

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        pairs = minhash_near_dup(corpus, threshold=MINHASH_THRESHOLD)
        labels = dedup_clusters(
            pairs,
            corpus.select("doc_id"),
            iterations=4,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    kept = labels.filter(F.col("doc_id") == F.col("canonical_id"))
    stats = corpus.agg(
        F.count("*").alias("n_docs_in"),
        F.countDistinct(F.expr(T.hash60_sql("text"))).alias(
            "n_exact_groups"
        ),
    )
    kept_stats = kept.agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("doc_id").alias("id_checksum"),
    )
    return stats.crossJoin(F.broadcast(kept_stats)).select(
        "n_docs_in", "n_exact_groups", "n_docs_kept", "id_checksum"
    )


@register(
    "dedup_graph_triangles",
    f"""
WITH {_duck_sig_cte()},
bands AS ({_duck_minhash_bands()}),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.left_id, c.right_id
  FROM cand c
  JOIN sig s1 ON s1.doc_id = c.left_id
  JOIN sig s2 ON s2.doc_id = c.right_id
  WHERE round(len(list_intersect(s1.shingles, s2.shingles)) * 1.0
              / len(list_distinct(list_concat(s1.shingles, s2.shingles))),
              6) >= {MINHASH_THRESHOLD}
), tri AS (
  SELECT e1.left_id AS a, e1.right_id AS b, e2.right_id AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.left_id = e1.right_id
  JOIN pairs e3 ON e3.left_id = e1.left_id AND e3.right_id = e2.right_id
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles,
       CAST(coalesce(sum(a + b + c), 0) AS BIGINT) AS id_checksum,
       CAST(count(DISTINCT a) AS BIGINT) AS n_root_docs
FROM tri
""",
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup graph — the classic multi-way
    self-join (edges ordered a<b<c so each triangle counts once).
    Triangles measure how CLIQUE-LIKE dup clusters are: near-dup
    groups that are true re-posts form triangles; chains of borderline
    pairs don't — a cheap structural audit before choosing a canonical
    representative policy.

    Scale shape: edges come from the at-rest signature table's bucket
    join (never all-pairs); the two triangle joins shuffle on single
    edge endpoints, and the open-wedge intermediate (e1⋈e2) is bounded
    by Σ_b deg²(b) — the standard distributed-triangle cost, tamed
    here because LSH caps component sizes."""
    docs = load_table(spark, sf_dir, "documents")
    # the edge list feeds all three join legs — materialize it once
    # (localCheckpoint) instead of re-running band-join + verify 3×
    pairs = pin(
        minhash_near_dup(
            docs,
            threshold=MINHASH_THRESHOLD,
            sigs=_minhash_sig_table(spark, sf_dir),
        ).select("left_id", "right_id"),
    )
    e1 = pairs.select(
        F.col("left_id").alias("a"), F.col("right_id").alias("b")
    )
    e2 = pairs.select(
        F.col("left_id").alias("b"), F.col("right_id").alias("c")
    )
    e3 = pairs.select(
        F.col("left_id").alias("a"), F.col("right_id").alias("c")
    )
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return tri.agg(
        F.count("*").alias("n_triangles"),
        F.coalesce(
            F.sum(F.col("a") + F.col("b") + F.col("c")), F.lit(0)
        )
        .cast("bigint")
        .alias("id_checksum"),
        F.countDistinct("a").alias("n_root_docs"),
    )


@register(
    "minhash_estimate_error_audit",
    f"""
WITH {_duck_sig_cte()},
bands AS ({_duck_minhash_bands()}),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT c.left_id, c.right_id,
       round(({" + ".join(
           f"CASE WHEN s1.m{j} = s2.m{j} THEN 1 ELSE 0 END"
           for j in range(T.MINHASH_PERMS))}) * 1.0
             / {T.MINHASH_PERMS}, 6) AS est_jaccard,
       round(len(list_intersect(s1.shingles, s2.shingles)) * 1.0
             / len(list_distinct(list_concat(s1.shingles, s2.shingles))),
             6) AS exact_jaccard,
       round(abs(({" + ".join(
           f"CASE WHEN s1.m{j} = s2.m{j} THEN 1 ELSE 0 END"
           for j in range(T.MINHASH_PERMS))}) * 1.0 / {T.MINHASH_PERMS}
             - len(list_intersect(s1.shingles, s2.shingles)) * 1.0
               / len(list_distinct(list_concat(s1.shingles,
                                               s2.shingles)))), 6)
         AS abs_err
FROM cand c
JOIN sig s1 ON s1.doc_id = c.left_id
JOIN sig s2 ON s2.doc_id = c.right_id
""",
)
def minhash_estimate_error_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch-accuracy audit for MinHash itself: the signature-based
    Jaccard ESTIMATE (matching-permutation fraction, a multiple of
    1/J) next to the exact shingle Jaccard and the absolute error,
    for every LSH candidate pair — the measurement that justifies the
    (J, bands, rows) configuration. Completes the audit family
    (LSH/multiprobe recall, count-min error, PQ fidelity): every
    sketch in the engine reports its own accuracy.

    Scale: candidates only (band join — never all-pairs); both
    estimate and truth are exact integer arithmetic over the at-rest
    signature table, so the audit itself is engine-exact."""
    sigs = _minhash_sig_table(spark, sf_dir)
    keyed = sigs.select(
        F.col("doc_id"),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "-",
                        *[
                            F.col(
                                f"m{b * T.MINHASH_ROWS + r}"
                            ).cast("string")
                            for r in range(T.MINHASH_ROWS)
                        ],
                    )
                    for b in range(T.MINHASH_BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )
    cand = (
        keyed.select("band", "band_key", F.col("doc_id").alias("left_id"))
        .join(
            keyed.select(
                "band", "band_key", F.col("doc_id").alias("right_id")
            ),
            ["band", "band_key"],
        )
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )
    l = sigs.select(
        F.col("doc_id").alias("left_id"),
        F.col("shingles").alias("sh_l"),
        *[F.col(f"m{j}").alias(f"lm{j}") for j in range(T.MINHASH_PERMS)],
    )
    r = sigs.select(
        F.col("doc_id").alias("right_id"),
        F.col("shingles").alias("sh_r"),
        *[F.col(f"m{j}").alias(f"rm{j}") for j in range(T.MINHASH_PERMS)],
    )
    j = cand.join(l, "left_id").join(r, "right_id")
    matches = sum(
        F.when(F.col(f"lm{i}") == F.col(f"rm{i}"), 1).otherwise(0)
        for i in range(T.MINHASH_PERMS)
    )
    est = matches * 1.0 / T.MINHASH_PERMS
    exact = (
        F.size(F.array_intersect("sh_l", "sh_r"))
        * 1.0
        / F.size(F.array_union("sh_l", "sh_r"))
    )
    return j.select(
        "left_id",
        "right_id",
        F.round(est, 6).alias("est_jaccard"),
        F.round(exact, 6).alias("exact_jaccard"),
        F.round(F.abs(est - exact), 6).alias("abs_err"),
    )


def _soft_weights_sql() -> str:
    """Extend the cluster oracle with sizes + inverse-size weights."""
    base_sql = _duck_cluster_sql(3)
    final = "SELECT node AS doc_id, canonical_id FROM l3"
    if not base_sql.endswith(final):
        raise RuntimeError(
            f"cluster oracle SQL no longer ends with {final!r}"
        )
    return (
        base_sql[: -len(final)]
        + """,
comp AS (SELECT node AS doc_id, canonical_id FROM l3),
sizes AS (
  SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY canonical_id
)
SELECT c.doc_id, c.canonical_id, s.cluster_size,
       round(1.0 / s.cluster_size, 6) AS sample_weight
FROM comp c JOIN sizes s ON s.canonical_id = c.canonical_id
"""
    )


@register("dedup_soft_sample_weights", _soft_weights_sql())
def dedup_soft_sample_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Soft dedup: instead of dropping near-duplicates, weight each
    document by 1/|its near-dup cluster| so every duplicate GROUP
    contributes one document's worth of training mass (the
    keep-but-downweight strategy when hard removal is too aggressive).
    Clusters come from the same MinHash component machinery as
    `dedup_canonical_ids`; the weight is one exact division, rounded.

    Scale shape: adds one cluster-keyed count to the existing
    component pipeline — weights ride the cluster table; nothing
    corpus-sized moves twice.
    """
    from oracle_vector_search_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup(
        docs,
        threshold=MINHASH_THRESHOLD,
        sigs=_minhash_sig_table(spark, sf_dir),
    )
    comp = dedup_clusters(
        pairs,
        docs.select("doc_id"),
        iterations=3,
    )
    w = Window.partitionBy("canonical_id")
    return comp.select(
        "doc_id",
        "canonical_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
        F.round(
            F.lit(1.0) / F.count(F.lit(1)).over(w), 6
        ).alias("sample_weight"),
    )


# ------------------------------------ image near-dedup (perceptual hash)

_DH_IMAGES = 60  # 20 bases x 3 brightness variants
_DH_H, _DH_W = 16, 18  # source geometry: exact 2x the 8x9 dHash grid
# resized grid value for image m at dHash cell (i, j) — pure integers:
#   base  = (((m//3)*53 + (2i)*17 + (2j)*29) % 200) + 10
#   perturb = ((m*7 + (2i)*3 + 2j) % 5) - 2        (|perturb| <= 2)
# adjacent-column base deltas are +58 or -142, so perturbation can
# never flip a gradient bit: all 3 variants of a base share one dHash.
_DH_R = (
    "((((m.m // 3)*53 + (2*g.i)*17 + (2*{j})*29) % 200) + 10"
    " + ((m.m*7 + (2*g.i)*3 + 2*{j}) % 5) - 2)"
)


@register(
    "image_dhash_dup_groups",
    f"""
WITH bits AS (
  SELECT m.m, g.i, g.j,
         CASE WHEN {_DH_R.format(j="(g.j + 1)")}
                 > {_DH_R.format(j="g.j")}
              THEN '1' ELSE '0' END AS b
  FROM (SELECT unnest(range({_DH_IMAGES})) AS m) m,
       (SELECT i.i, j.j
        FROM (SELECT unnest(range(8)) AS i) i,
             (SELECT unnest(range(8)) AS j) j) g
), hashes AS (
  SELECT m, string_agg(b, '' ORDER BY i*8 + j) AS dhash
  FROM bits GROUP BY m
)
SELECT CAST(m AS BIGINT) AS image_id,
       dhash,
       CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS group_size,
       CAST(min(m) OVER (PARTITION BY dhash) AS BIGINT) AS canonical_id
FROM hashes
ORDER BY image_id
""",
)
def image_dhash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dedup by perceptual difference hash, end-to-end
    through the REAL image path: deterministic pixels (20 base images
    × 3 small brightness perturbations) → FAKEIMG container bytes →
    ``decode_images`` (the S2 operator) → ``image_dhash`` (grayscale →
    9×8 nearest-neighbor resize → 64 gradient bits) → exact groupBy on
    the hash. Perturbations are designed below the gradient margin, so
    variants of one base collapse into one group of 3 — the image
    analogue of MinHash text dedup: a cheap at-rest fingerprint whose
    EQUALITY (not similarity search) deduplicates near-identical
    crops/thumbnails/re-encodes. DuckDB re-derives every hash bit from
    the pixel formula without seeing the bytes.

    100 TB shape: decode+hash are scan-stage Arrow work emitting 64
    bits per image; the dedup shuffle carries (hash, id) pairs —
    exactly the exact-dedup layout, pixels never move."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from oracle_vector_search_spark.sources.images import (
        decode_images,
        encode_fake_image,
        image_dhash,
    )

    def make_images(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                m = int(mid)
                i, j = np.meshgrid(
                    np.arange(_DH_H, dtype=np.int64),
                    np.arange(_DH_W, dtype=np.int64),
                    indexing="ij",
                )
                base = (((m // 3) * 53 + i * 17 + j * 29) % 200) + 10
                perturb = ((m * 7 + i * 3 + j) % 5) - 2
                gray = (base + perturb).astype(np.uint8)
                arr = np.dstack([gray, gray, gray])
                rows.append(
                    (
                        f"m{m:02d}",
                        f"mem/m{m:02d}.fake",
                        encode_fake_image(arr),
                    )
                )
            yield pd.DataFrame(rows, columns=["stem", "path", "content"])

    # 4 partitions, not defaultParallelism(32): 60 tiny images over
    # 32 partitions costs 32 python workers PER python stage — under
    # bench-session worker churn that fork cost dwarfs the query
    imgs = spark.range(0, _DH_IMAGES, 1, 4).mapInPandas(
        make_images, schema="stem string, path string, content binary"
    )
    hashes = image_dhash(decode_images(imgs)).select(
        F.regexp_extract("stem", r"m(\d+)", 1)
        .cast("bigint")
        .alias("image_id"),
        "dhash",
    )
    w = Window.partitionBy("dhash")
    return hashes.select(
        "image_id",
        "dhash",
        F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
        F.min("image_id").over(w).alias("canonical_id"),
    ).orderBy("image_id")


# ------------- distributed suffix array: exact repeated substrings (r9)

_SA_ROUNDS = 7  # prefix-doubling rounds: ranks encode 2^7 = 128 tokens
_SA_TOP = 20
_SA_SHOW = 40  # chars of the repeated substring shown in the output


def _sa_oracle_sql() -> str:
    # The 10-probe LCP bisection chain below is built inline in DuckDB
    # dialect (::INTEGER casts); the Spark side computes LCP through
    # the prefix-doubling ranks, so there is no shared-dialect helper
    # to factor out (a Spark-spelled twin used to live here unused —
    # removed per ADVICE r9).
    lcp_cols = []
    prev = "CAST(0 AS BIGINT)"
    for i, p in enumerate([512, 256, 128, 64, 32, 16, 8, 4, 2, 1]):
        cur = f"lo{i}"
        lcp_cols.append(
            f", CASE WHEN length(sa_) >= {prev} + {p}"
            f" AND length(sb_) >= {prev} + {p}"
            f" AND substr(sa_, ({prev})::INTEGER + 1, {p})"
            f"   = substr(sb_, ({prev})::INTEGER + 1, {p})"
            f" THEN {prev} + {p} ELSE {prev} END AS {cur}"
        )
        prev = cur
    chain = ""
    for i in range(10):
        inner = "adj" if i == 0 else f"l{i - 1}"
        chain += f", l{i} AS (SELECT *{lcp_cols[i]} FROM {inner})"
    return f"""
WITH d AS (
  SELECT doc_id, string_split({T.duck_norm('text')}, ' ') AS t
  FROM documents
), sufs AS (
  SELECT doc_id, u.tp AS tp,
         array_to_string(t[u.tp:len(t)], ' ') AS suf
  FROM d, LATERAL unnest(range(1, len(t) + 1)) AS u(tp)
), sa AS (
  SELECT doc_id, tp, suf,
         row_number() OVER (ORDER BY suf, doc_id, tp) AS said
  FROM sufs
), adj AS (
  SELECT a.doc_id AS doc_a, a.tp AS tok_a, a.suf AS sa_,
         b.doc_id AS doc_b, b.tp AS tok_b, b.suf AS sb_
  FROM sa a JOIN sa b ON b.said = a.said + 1
){chain}
SELECT CAST(row_number() OVER (ORDER BY lo9 DESC, doc_a, tok_a)
       AS INTEGER) AS rank,
       CAST(lo9 AS BIGINT) AS lcp_chars,
       CAST(doc_a AS BIGINT) AS doc_a, CAST(tok_a AS BIGINT) AS tok_a,
       CAST(doc_b AS BIGINT) AS doc_b, CAST(tok_b AS BIGINT) AS tok_b,
       substr(sa_, 1, {_SA_SHOW}) AS repeated_prefix
FROM l9
ORDER BY lcp_chars DESC, doc_a, tok_a
LIMIT {_SA_TOP}
"""


@register("suffix_array_repeated_substrings", _sa_oracle_sql())
def suffix_array_repeated_substrings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT longest repeated substrings across the corpus via a
    DISTRIBUTED SUFFIX ARRAY — the primitive behind exact-substring
    training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", which deduplicates any ≥50-token
    repeat found through a suffix array): report the {_SA_TOP} longest
    token-aligned repeats with both occurrences and the char-level
    match length.

    Construction is PREFIX DOUBLING (Manber–Myers), the textbook
    shared-nothing suffix-array algorithm: suffixes start at every
    token position (token-aligned, the granularity the dedup
    literature uses; separator ' ' sorts below the alphabet, so
    token-sequence order equals character order of the joined
    suffix); round 0 dense-ranks single tokens; round j composes
    (rank[tp], rank[tp + 2^(j-1)] | 0) and re-ranks, so after
    {_SA_ROUNDS} rounds ranks encode 2^{_SA_ROUNDS} = 128 tokens —
    a documented bound ≥ every fixture document (100 tokens max);
    beyond-bound suffixes would tie and break by (doc_id, tp)
    identically in both engines.  Every global rank uses the
    TWO-PHASE pattern (distinct keys → `assign_index_ids_two_phase`
    → join back): range-partition, local rank, driver prefix-sum of
    partition counts — NO single-task global window anywhere, the
    shape `ntile_distribution_scaled` pins.  Adjacent-in-SA suffix
    pairs then get their exact char LCP by 10 guarded power-of-two
    substring probes (bisection — O(log L) string compares per pair,
    not O(L) char walks), and the SA property (the max LCP over ALL
    pairs is attained at an adjacent pair) makes the adjacent scan
    complete.

    Oracle: DuckDB sorts the materialized suffix strings directly —
    a different algorithm (comparison sort of strings vs integer
    doubling) arriving at the same array, then the same bisection.

    100 TB shape: the suffix table is corpus-token-sized, rows carry
    (doc, tp, two ints); each round is one distinct + one ranked
    range-shuffle + two keyed joins — O(log L) rounds total, the
    published distributed-SA cost.  The suffix STRING column is
    needed only at the final adjacent-LCP step; at real scale it
    stays a (doc_id, tp) pointer re-joined against the doc store."""
    from oracle_vector_search_spark.operators.ingest import (
        assign_index_ids_two_phase,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.norm_text("text").alias("norm")
    )
    toks = docs.select(
        "doc_id", F.split("norm", " ").alias("t")
    )
    sufs = toks.select(
        "doc_id",
        F.posexplode("t").alias("i", "tok0"),
    ).select(
        "doc_id",
        (F.col("i") + 1).alias("tp"),
        "tok0",
    )
    # suffix string (for the final LCP + display): join of tokens from
    # tp — built once, carried through the pinned rounds
    suf_str = toks.select(
        "doc_id",
        F.posexplode("t").alias("i", "_"),
    ).select(
        "doc_id", (F.col("i") + 1).alias("tp")
    ).join(toks, "doc_id").select(
        "doc_id",
        "tp",
        F.array_join(
            F.expr("slice(t, tp, size(t) - tp + 1)"), " "
        ).alias("suf"),
    )

    # round 0: dense rank of single tokens (two-phase over DISTINCT)
    keys0 = sufs.select("tok0").distinct()
    r0 = assign_index_ids_two_phase(keys0, order_cols=["tok0"])
    state = pin(
        sufs.join(r0, "tok0").select(
            "doc_id", "tp", F.col("id").alias("r")
        )
    )
    unpin(r0)  # consumed into the state pin

    for j in range(_SA_ROUNDS):
        off = 2 ** j
        right = state.select(
            "doc_id",
            (F.col("tp") - off).alias("tp"),
            F.col("r").alias("r2"),
        )
        keyed = state.join(right, ["doc_id", "tp"], "left").select(
            "doc_id", "tp", "r", F.coalesce("r2", F.lit(0)).alias("r2")
        )
        keys = keyed.select("r", "r2").distinct()
        ranked = assign_index_ids_two_phase(
            keys,
            order_cols=["r", "r2"],
        ).select("r", "r2", F.col("id").alias("rn"))
        prev, state = state, pin(
            keyed.join(ranked, ["r", "r2"]).select(
                "doc_id", "tp", F.col("rn").alias("r")
            )
        )
        # the new round is materialized: the prior round's state and
        # this round's rank pin have no remaining consumer
        unpin(prev)
        unpin(ranked)
        # early exit (the standard prefix-doubling termination): ids
        # are dense 1..K, so max == n ⟺ every suffix already has a
        # unique rank and further rounds are identity — real text
        # usually separates within 2-3 rounds
        st = state.agg(
            F.max("r").alias("m"), F.count("*").alias("n")
        ).collect()[0]  # bounded: one max/count row per round
        if st["m"] == st["n"]:
            break

    # total SA order (rank, doc_id, tp) → dense said via two-phase
    said = assign_index_ids_two_phase(
        state,
        order_cols=["r", "doc_id", "tp"],
    ).select("doc_id", "tp", F.col("id").alias("said"))
    sa = pin(said.join(suf_str, ["doc_id", "tp"]))
    # sa supersedes the last rank round; the NEXT invocation frees sa
    unpin(state)
    unpin(said)

    a = sa.select(
        F.col("said"),
        F.col("doc_id").alias("doc_a"),
        F.col("tp").alias("tok_a"),
        F.col("suf").alias("sa_"),
    )
    b = sa.select(
        (F.col("said") - 1).alias("said"),
        F.col("doc_id").alias("doc_b"),
        F.col("tp").alias("tok_b"),
        F.col("suf").alias("sb_"),
    )
    adj = a.join(b, "said")
    lo = F.lit(0).cast("long")
    for p in (512, 256, 128, 64, 32, 16, 8, 4, 2, 1):
        probe1 = F.expr(f"substring(sa_, CAST(__lo AS INT) + 1, {p})")
        probe2 = F.expr(f"substring(sb_, CAST(__lo AS INT) + 1, {p})")
        adj = adj.withColumn("__lo", lo)
        adj = adj.withColumn(
            "__lo",
            F.when(
                (F.length("sa_") >= F.col("__lo") + p)
                & (F.length("sb_") >= F.col("__lo") + p)
                & (probe1 == probe2),
                F.col("__lo") + p,
            ).otherwise(F.col("__lo")),
        )
        lo = F.col("__lo")
    scored = adj.select(
        F.col("__lo").alias("lcp_chars"),
        "doc_a",
        F.col("tok_a").cast("long").alias("tok_a"),
        "doc_b",
        F.col("tok_b").cast("long").alias("tok_b"),
        F.substring("sa_", 1, _SA_SHOW).alias("repeated_prefix"),
    )
    from oracle_vector_search_spark.operators.topk import (
        global_topn_ranked,
    )

    return global_topn_ranked(
        scored, _SA_TOP, F.desc("lcp_chars"), F.asc("doc_a"),
        F.asc("tok_a"),
    ).select(
        "rank", "lcp_chars", "doc_a", "tok_a", "doc_b", "tok_b",
        "repeated_prefix",
    )
