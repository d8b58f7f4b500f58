"""Training-data pipeline operators beyond the reference surface:
scalar quantization of embeddings, deterministic dataset splits (plus
the group-leakage audit contrasting row-hash vs group-hash splitting),
stratified sampling, Gopher-style quality gates, and repetition
analysis. All pure column projections / single-shuffle aggregates with
portable arithmetic, so every query is DuckDB-oracle-checked.

Scale notes: quantize/split/sample/quality/repetition are per-row
projections (no shuffle; at 100 TB they run in the scan stage). The
int8 quantization is the storage story for the vector index — 4x
smaller than float32 at >0.999 cosine fidelity, measured per vector
here. Split/sample use the engine's portable md5 hash so assignment is
reproducible across engines, runs, and partitionings (never rand()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.io import (
    at_rest,
    load_table,
    read_artifact,
    write_artifact,
)
from oracle_vector_search_spark.operators.topk import global_topn_ranked
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register

QUANT_MAX_ID = 300  # embeddings subset for the per-vector fidelity report
N_QUERIES_HN = 10  # anchors for hard-negative mining (mirrors vector_queries)


@register(
    "embedding_quantize_int8",
    f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id < {QUANT_MAX_ID}
),
s AS (
  SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM v
),
s2 AS (
  SELECT vec_id, e, mn, (mx - mn) / 255.0 AS scale FROM s WHERE mx > mn
),
q AS (
  SELECT vec_id, e, mn, scale,
         [CAST(floor((x - mn) / scale + 0.5) AS INTEGER) - 128 FOR x IN e]
           AS qv
  FROM s2
),
dq AS (
  SELECT vec_id, e,
         [(CAST(x AS DOUBLE) + 128.0) * scale + mn FOR x IN qv] AS deq
  FROM q
)
SELECT vec_id,
       round(list_dot_product(e, deq)
             / (sqrt(list_dot_product(e, e))
                * sqrt(list_dot_product(deq, deq))), 6) AS cosine_fidelity,
       round(list_max([abs(e[i] - deq[i])
                       FOR i IN range(1, len(e) + 1)]), 6) AS max_abs_err
FROM dq
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization (per-vector min/max, the FAISS SQ8
    layout): quantize → dequantize → report cosine fidelity and max
    reconstruction error per vector. The at-rest form of a 100 TB
    index stores qv + (mn, scale) — 4x smaller than float32; this
    query IS the fidelity audit you'd run before switching storage.
    floor(x + 0.5) rather than round() so both engines tie-break
    identically."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < QUANT_MAX_ID
    )
    d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    d = (
        d.withColumn("mn", F.array_min("e"))
        .withColumn("mx", F.array_max("e"))
        .filter(F.col("mx") > F.col("mn"))
        .withColumn("scale", (F.col("mx") - F.col("mn")) / F.lit(255.0))
    )
    d = d.withColumn(
        "qv",
        F.expr(
            "transform(e, x -> cast(floor((x - mn) / scale + 0.5D) as int)"
            " - 128)"
        ),
    ).withColumn(
        "deq",
        F.expr(
            "transform(qv, x -> (cast(x as double) + 128.0D) * scale + mn)"
        ),
    )
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot(F.col("e"), F.col("deq")) / (
        F.sqrt(dot(F.col("e"), F.col("e")))
        * F.sqrt(dot(F.col("deq"), F.col("deq")))
    )
    return d.select(
        "vec_id",
        F.round(cos, 6).alias("cosine_fidelity"),
        F.round(
            F.array_max(F.zip_with("e", "deq", lambda a, b: F.abs(a - b))),
            6,
        ).alias("max_abs_err"),
    )


_SPLIT_HASH = T.hash28_sql("concat('split:', cast(doc_id as string))")
_DUCK_SPLIT_HASH = (
    "CAST(('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 7)) AS BIGINT)"
)


@register(
    "dataset_split_assign",
    f"""
WITH assigned AS (
  SELECT doc_id, source,
         CASE WHEN {_DUCK_SPLIT_HASH} % 100 < 80 THEN 'train'
              WHEN {_DUCK_SPLIT_HASH} % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM assigned
GROUP BY split, source
""",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by portable
    content-id hash — reproducible across engines, runs, partitionings
    (never rand(), which breaks on retry/recompute). Per-(split,
    source) counts audit the assignment."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_HASH) % 100
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
    )
    return (
        docs.select("doc_id", "source", split.alias("split"))
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


_GSPLIT_HASH = T.hash28_sql("concat('gsplit:', cast(user_id as string))")
_RSPLIT_HASH = T.hash28_sql("concat('rsplit:', cast(event_id as string))")
_DUCK_GSPLIT = T.duck_hash28("'gsplit:' || user_id::VARCHAR")
_DUCK_RSPLIT = T.duck_hash28("'rsplit:' || event_id::VARCHAR")


@register(
    "split_leakage_audit",
    f"""
WITH tagged AS (
  SELECT user_id,
         ({_DUCK_GSPLIT}) % 10 AS su,
         ({_DUCK_RSPLIT}) % 10 AS sr
  FROM events
), sizes AS (
  SELECT CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(*) FILTER (su < 8) AS BIGINT) AS user_hash_train,
         CAST(count(*) FILTER (su = 8) AS BIGINT) AS user_hash_val,
         CAST(count(*) FILTER (su = 9) AS BIGINT) AS user_hash_test,
         CAST(count(*) FILTER (sr < 8) AS BIGINT) AS row_hash_train,
         CAST(count(*) FILTER (sr = 8) AS BIGINT) AS row_hash_val,
         CAST(count(*) FILTER (sr = 9) AS BIGINT) AS row_hash_test
  FROM tagged
), per_user AS (
  SELECT user_id,
         CAST(min(su) <> max(su) AS BIGINT) AS u_leak,
         CAST(min(sr) <> max(sr) AS BIGINT) AS r_leak
  FROM tagged GROUP BY user_id
), leaks AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(u_leak) AS BIGINT) AS user_hash_leaked_users,
         CAST(sum(r_leak) AS BIGINT) AS row_hash_leaked_users
  FROM per_user
)
SELECT n_events, n_users,
       user_hash_train, user_hash_val, user_hash_test,
       row_hash_train, row_hash_val, row_hash_test,
       user_hash_leaked_users, row_hash_leaked_users,
       round(row_hash_leaked_users * 1.0 / nullif(n_users, 0), 6)
         AS row_hash_leaked_pct
FROM sizes CROSS JOIN leaks
""",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-leakage split audit (the GroupKFold concern): comparing a
    ROW-hashed 80/10/10 split (hash of event_id — the naive scheme)
    against a GROUP-hashed one (hash of user_id) over the same events.
    A user whose rows span more than one split leaks supervised signal
    from train into eval; the group-hashed scheme leaks ZERO users by
    construction (every row of a user hashes to the same split) while
    the row-hashed scheme leaks essentially every multi-event user —
    both counted in one result so the audit DEMONSTRATES the failure
    mode and its fix side by side.

    Scale: both split tags are scan-stage hash projections; the leak
    count is one user-keyed shuffle (partial aggregation collapses each
    task to its distinct users) and the split sizes ride a single
    global conditional aggregate; the two 1-row frames cross-join for
    free. No distinct on the corpus, no window, no explode — at 100 TB
    this is one pass over events plus a users-sized aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.selectExpr(
        "user_id",
        f"pmod({_GSPLIT_HASH}, 10) AS su",
        f"pmod({_RSPLIT_HASH}, 10) AS sr",
    )
    sizes = tagged.agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("su") < 8).cast("long")).alias("user_hash_train"),
        F.sum((F.col("su") == 8).cast("long")).alias("user_hash_val"),
        F.sum((F.col("su") == 9).cast("long")).alias("user_hash_test"),
        F.sum((F.col("sr") < 8).cast("long")).alias("row_hash_train"),
        F.sum((F.col("sr") == 8).cast("long")).alias("row_hash_val"),
        F.sum((F.col("sr") == 9).cast("long")).alias("row_hash_test"),
    )
    # "spans >1 split" == min != max — a plain min/max aggregate with
    # map-side combine, instead of two countDistinct columns (which
    # Catalyst plans as an Expand + an extra shuffle)
    per_user = tagged.groupBy("user_id").agg(
        (F.min("su") != F.max("su")).cast("long").alias("u_leak"),
        (F.min("sr") != F.max("sr")).cast("long").alias("r_leak"),
    )
    leaks = per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("u_leak").alias("user_hash_leaked_users"),
        F.sum("r_leak").alias("row_hash_leaked_users"),
    )
    return sizes.crossJoin(leaks).select(
        "n_events",
        "n_users",
        "user_hash_train",
        "user_hash_val",
        "user_hash_test",
        "row_hash_train",
        "row_hash_val",
        "row_hash_test",
        "user_hash_leaked_users",
        "row_hash_leaked_users",
        F.round(
            F.col("row_hash_leaked_users")
            * 1.0
            / F.expr("nullif(n_users, 0)"),
            6,
        ).alias("row_hash_leaked_pct"),
    )


_SAMPLE_HASH = T.hash28_sql("concat('sample:', cast(doc_id as string))")
_DUCK_SAMPLE_HASH = (
    "CAST(('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 7)) AS BIGINT)"
)


@register(
    "stratified_sample_rates",
    f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER ({_DUCK_SAMPLE_HASH} % 1000 < 100) AS BIGINT)
         AS n_sampled,
       round(count(*) FILTER ({_DUCK_SAMPLE_HASH} % 1000 < 100) * 1.0
             / count(*), 6) AS rate
FROM documents
GROUP BY source
""",
)
def stratified_sample_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10%% stratified Bernoulli sample per source
    stratum via the portable hash (hash % 1000 < 100). The audit query:
    per-stratum population, sample size, realized rate. At 100 TB the
    sample predicate rides the scan — no shuffle, no sort, no rand()."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = (F.expr(_SAMPLE_HASH) % 1000 < 100).cast("long")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(sampled).alias("n_sampled"),
        F.round(F.sum(sampled) * 1.0 / F.count("*"), 6).alias("rate"),
    )


_EN_STOPWORDS = T.STOPWORDS["en"]


@register(
    "doc_gopher_quality_flags",
    f"""
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM base
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(length(norm) - (len(toks) - 1) AS BIGINT) AS n_word_chars,
         CAST(len(list_filter(toks, t -> list_contains(
              {_EN_STOPWORDS!r}::VARCHAR[], t))) AS INTEGER) AS n_stopwords
  FROM tok
)
SELECT doc_id, n_tokens,
       round(n_word_chars * 1.0 / n_tokens, 6) AS mean_word_len,
       round(n_stopwords * 1.0 / n_tokens, 6) AS stopword_fraction,
       (n_tokens BETWEEN 5 AND 100000) AS word_count_ok,
       (n_word_chars >= 2 * n_tokens AND n_word_chars <= 12 * n_tokens)
         AS mean_len_ok,
       (n_stopwords * 100 > n_tokens) AS stopword_ok,
       ((n_tokens BETWEEN 5 AND 100000)
        AND n_word_chars >= 2 * n_tokens AND n_word_chars <= 12 * n_tokens
        AND n_stopwords * 100 > n_tokens) AS passes
FROM m
""",
)
def doc_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (word count bounds, mean word length
    bounds, minimum stopword density — the published corpus-filter
    recipe) as pure integer column math. Flags compare INTEGERS
    (n_word_chars vs k*n_tokens, n_stopwords*100 vs n_tokens) so no
    float boundary can diverge between engines; the ratios are
    reported rounded for the human reader."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.withColumn("norm", T.norm_text("text")).withColumn(
        "toks", F.split("norm", " ")
    )
    stop_arr = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    d = d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.length("norm") - (F.size("toks") - 1))
        .cast("long")
        .alias("n_word_chars"),
        F.size(
            F.filter("toks", lambda t: F.array_contains(stop_arr, t))
        ).alias("n_stopwords"),
    )
    word_count_ok = F.col("n_tokens").between(5, 100000)
    mean_len_ok = (F.col("n_word_chars") >= 2 * F.col("n_tokens")) & (
        F.col("n_word_chars") <= 12 * F.col("n_tokens")
    )
    stopword_ok = F.col("n_stopwords") * 100 > F.col("n_tokens")
    return d.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_word_chars") * 1.0 / F.col("n_tokens"), 6).alias(
            "mean_word_len"
        ),
        F.round(F.col("n_stopwords") * 1.0 / F.col("n_tokens"), 6).alias(
            "stopword_fraction"
        ),
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_len_ok"),
        stopword_ok.alias("stopword_ok"),
        (word_count_ok & mean_len_ok & stopword_ok).alias("passes"),
    )


@register(
    "doc_repetition_stats",
    """
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
tok AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM base
),
g AS (
  SELECT doc_id, toks,
         [array_to_string(toks[i:i+4], ' ')
          FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)] AS grams
  FROM tok
)
SELECT doc_id,
       CAST(len(grams) AS INTEGER) AS n_grams,
       CAST(len(list_distinct(grams)) AS INTEGER) AS distinct_grams,
       round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
         AS dup_gram_fraction,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6)
         AS type_token_ratio
FROM g
""",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the C4/Gopher "repetitive
    text" filter family): duplicate word-5-gram fraction and
    type-token ratio, all per-row array math — no shuffle, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.withColumn("norm", T.norm_text("text")).withColumn(
        "toks", F.split("norm", " ")
    )
    d = d.withColumn(
        "grams",
        F.expr(
            "transform(sequence(1, greatest(size(toks) - 4, 1)), "
            "i -> array_join(slice(toks, i, 5), ' '))"
        ),
    )
    return d.select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.size(F.array_distinct("grams")).alias("distinct_grams"),
        F.round(
            1.0
            - F.size(F.array_distinct("grams")) * 1.0 / F.size("grams"),
            6,
        ).alias("dup_gram_fraction"),
        F.round(
            F.size(F.array_distinct("toks")) * 1.0 / F.size("toks"), 6
        ).alias("type_token_ratio"),
    )


@register(
    "doc_pii_scrub",
    """
WITH planted AS (
  -- the fixture corpus has no PII, so plant synthetic contact strings
  -- deterministically (same formula both engines) to prove the scrub
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR ||
         '@example.com or +1-555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
           AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text,
             '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+', '<EMAIL>', 'g'),
           '[+][0-9][0-9-]{7,}', '<PHONE>', 'g') AS clean
  FROM planted
)
SELECT p.doc_id,
       CAST(len(regexp_extract_all(p.text,
            '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(p.text,
            '[+][0-9][0-9-]{7,}')) AS INTEGER) AS n_phones,
       md5(s.clean) AS clean_md5
FROM planted p JOIN scrubbed s USING (doc_id)
""",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (email/phone regex → placeholder tokens) — the
    compliance pass every training corpus runs. Synthetic contact
    strings are planted with the same deterministic formula on both
    engines, and the scrubbed text is hash-compared, so the redaction
    itself is oracle-verified, not just counted. Pure per-row regex
    projection: rides the scan at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    email_re = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
    phone_re = "[+][0-9][0-9-]{7,}"
    clean = F.regexp_replace(
        F.regexp_replace("text", email_re, "<EMAIL>"),
        phone_re,
        "<PHONE>",
    )
    return planted.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(email_re), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(phone_re), 0)).alias(
            "n_phones"
        ),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    )


RAG_DIMS = 8
RAG_K = 5


def _rag_oracle_sql() -> str:
    from oracle_vector_search_spark.functions import embed as E

    emb = E.duck_embedding_expr("md5(chunk_text)", RAG_DIMS)
    qemb = E.duck_embedding_expr("md5('the fast table scan')", RAG_DIMS)
    return f"""
WITH tok AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
           AS toks
  FROM documents WHERE doc_id < 100
),
st AS (
  SELECT doc_id, toks,
         range(1, greatest(len(toks) - 10, 1) + 1, 30) AS starts
  FROM tok
),
chunks AS (
  SELECT doc_id,
         generate_subscripts(starts, 1) - 1 AS chunk_idx,
         array_to_string(toks[unnest(starts):unnest(starts) + 39], ' ')
           AS chunk_text
  FROM st
),
embedded AS (
  SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         {emb} AS emb
  FROM chunks
),
q AS (
  SELECT {qemb} AS qvec
),
scored AS (
  SELECT e.doc_id, e.chunk_idx,
         round(list_dot_product(q.qvec, e.emb)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(e.emb, e.emb))), 6) AS score
  FROM embedded e CROSS JOIN q
)
SELECT doc_id, chunk_idx, score,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (
        ORDER BY score DESC, doc_id, chunk_idx) AS rn
      FROM scored)
WHERE rn <= {RAG_K}
"""


@register("chunk_embed_retrieve_topk", _rag_oracle_sql())
def chunk_embed_retrieve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end-to-end in ONE lazy plan: chunk documents →
    embed every chunk (portable hash-projection over md5(chunk_text))
    → exact cosine top-5 against an embedded query string. The same
    shape a retrieval corpus build + search takes at scale: chunking
    and embedding ride the scan, the query broadcasts, top-k is a
    WindowGroupLimit."""
    from oracle_vector_search_spark.functions import embed as E
    from oracle_vector_search_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    chunks = chunk_documents(docs, chunk_size=40, overlap=10)
    embedded = chunks.select(
        "doc_id",
        "chunk_idx",
        F.expr(
            E.spark_embedding_expr(
                "md5(cast(chunk_text as binary))", RAG_DIMS
            )
        ).alias("emb"),
    )
    q = spark.createDataFrame([("the fast table scan",)], "qtext string")
    q = q.select(
        F.expr(
            E.spark_embedding_expr("md5(cast(qtext as binary))", RAG_DIMS)
        ).alias("qvec")
    )
    from oracle_vector_search_spark.functions.vector import cosine_similarity

    from pyspark.sql import Window

    scored = embedded.join(F.broadcast(q)).select(
        "doc_id",
        "chunk_idx",
        F.round(cosine_similarity("qvec", "emb"), 6).alias("score"),
    )
    return global_topn_ranked(
        scored, RAG_K, F.desc("score"), F.asc("doc_id"), F.asc("chunk_idx")
    ).select("doc_id", "chunk_idx", "score", "rank")


@register(
    "view_purchase_funnel",
    """
WITH fv AS (
  SELECT user_id, min(epoch_us(ts)) AS first_view_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
fp AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
  FROM events e JOIN fv ON fv.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.first_view_us
  GROUP BY e.user_id
)
SELECT fv.user_id, fv.first_view_us, fp.first_purchase_us,
       (fp.first_purchase_us IS NOT NULL) AS converted,
       fp.first_purchase_us - fv.first_view_us AS conversion_delta_us
FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id
""",
)
def view_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel (first view → first purchase strictly after it):
    the event-sequence pattern behind conversion analytics, expressed
    as two conditional aggregates + a left join — all keyed on user_id,
    so everything after the scans is one co-partitioned shuffle.
    Microsecond integer arithmetic on both engines (DuckDB reads the
    parquet TIMESTAMP(NANOS) at µs resolution, so µs is the exact
    common grain; min-of-truncation == truncation-of-min because
    div 1000 is monotone)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("first_view_us"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts_us") > F.col("first_view_us"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("first_purchase_us"))
    )
    return fv.join(fp, "user_id", "left").select(
        "user_id",
        "first_view_us",
        "first_purchase_us",
        F.col("first_purchase_us").isNotNull().alias("converted"),
        (F.col("first_purchase_us") - F.col("first_view_us")).alias(
            "conversion_delta_us"
        ),
    )


N_TERM_BUCKETS = 16


def term_bucket(term: str) -> int:
    """Driver-side twin of the table's partition expression."""
    return ord(term[0]) % N_TERM_BUCKETS if term else 0


def build_posting_tables(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(postings, stats) as unmaterialized DataFrames from a
    (doc_id, text) corpus — the single posting-build definition shared
    by the serving cache below and the retrieval scale probe
    (tests/test_retrieval_scale.py).  Postings carry the 16-way
    first-character term bucket ``tb`` ready for `partition_by`."""
    base = docs.select(
        "doc_id", F.split(T.norm_text(text_col), " ").alias("toks")
    ).repartition(32)
    tok = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        F.posexplode("toks").alias("pos", "term"),
    )
    # positional postings: sorted 0-based offsets make the table
    # serve phrase/adjacency queries, not just bag-of-words
    tf = tok.groupBy("doc_id", "term", "dl").agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )
    postings = tf.withColumn(
        "tb",
        F.pmod(
            F.ascii(F.substring("term", 1, 1)),
            F.lit(N_TERM_BUCKETS),
        ),
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size("toks")).cast("double") / F.count("*")).alias(
            "avgdl"
        ),
    )
    return postings, stats


# Session-materialized inverted-index tables: (postings_path,
# stats_path). Postings hold one row per distinct (doc_id, term) with
# the term frequency and the doc length denormalized in; written
# partitioned by a 16-way first-character bucket (`tb`) that is
# computable OUTSIDE Spark (ord(term[0]) % 16), so a query for known
# terms prunes 15/16 of the files at the metadata level — the same
# at-rest design as the LSH bucket table. The stats side is one row:
# corpus size + average doc length.
def _posting_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        p_path = scratch_dir("ovs_postings_")
        s_path = scratch_dir("ovs_corpus_stats_")
        docs = load_table(spark, sf_dir, "documents")
        postings, stats = build_posting_tables(docs)
        write_artifact(
            postings.repartition("tb"), p_path, partition_by=["tb"]
        )
        write_artifact(stats, s_path)
        return p_path, s_path

    paths = at_rest(spark, (_posting_tables, sf_dir), build)
    return (
        read_artifact(spark, paths[0]),
        read_artifact(spark, paths[1]),
    )


@register(
    "term_doc_frequency_top20",
    """
WITH base AS (
  SELECT doc_id,
         list_distinct(string_split(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           AS toks
  FROM documents
),
exploded AS (SELECT doc_id, unnest(toks) AS term FROM base),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS doc_freq
  FROM exploded GROUP BY term
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT term, doc_freq,
       round(t.n_docs * 1.0 / doc_freq, 6) AS idf_ratio,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT term, doc_freq,
             row_number() OVER (ORDER BY doc_freq DESC, term) AS rn
      FROM dfreq) d
CROSS JOIN total t
WHERE rn <= 20
""",
)
def term_doc_frequency_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency + rational IDF (n_docs/df — division is
    IEEE-exact, unlike ln whose libm results differ across engines)
    for the 20 most common terms: the inverted-index statistic behind
    BM25/TF-IDF retrieval. Reads the session-materialized posting
    table (one row per distinct (doc, term)), so df is one aggregate
    over it; corpus size joins in from the one-row stats table."""
    postings, stats = _posting_tables(spark, sf_dir)
    dfreq = postings.groupBy("term").agg(F.count("*").alias("doc_freq"))
    from pyspark.sql import Window

    return (
        global_topn_ranked(dfreq, 20, F.desc("doc_freq"), F.asc("term"))
        .join(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            "doc_freq",
            F.round(F.col("n_docs") * 1.0 / F.col("doc_freq"), 6).alias(
                "idf_ratio"
            ),
            "rank",
        )
    )


BM25_TERMS = ("vector", "join", "scan")  # the fixed retrieval query


@register(
    "bm25_retrieval_top10",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM base
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ('vector', 'join', 'scan')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         CAST(floor(
           ((CAST(s.n_docs AS DOUBLE) / d.df)
            * ((t.tf * 2.2::DOUBLE)
               / (t.tf + (1.2::DOUBLE
                          * (0.25::DOUBLE
                             + ((0.75::DOUBLE * l.dl) / s.avgdl))))))
           * 1000000.0::DOUBLE) AS BIGINT) AS term_score_micros
  FROM tf t
  JOIN dfreq d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
),
agg AS (
  SELECT doc_id, CAST(sum(term_score_micros) AS BIGINT) AS bm25_micros
  FROM scored GROUP BY doc_id
)
SELECT doc_id, bm25_micros, CAST(rn AS INTEGER) AS rank
FROM (SELECT doc_id, bm25_micros,
             row_number() OVER (ORDER BY bm25_micros DESC, doc_id) AS rn
      FROM agg) r
WHERE rn <= 10
ORDER BY rank
""",
)
def bm25_retrieval_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-scored lexical retrieval (k1=1.2, b=0.75) for a fixed
    3-term query, top-10 docs. The idf is the rational n_docs/df (no
    cross-libm ln — see term_doc_frequency_top20) and each per-term
    score integerizes to micros BEFORE the per-doc sum, so the double
    additions that would be order-dependent never happen.

    Scale shape: reads the session-materialized posting table with a
    partition filter on the query terms' buckets (15/16 of the files
    prune at the metadata level — asserted in tests) plus a pushed
    term filter; dfreq and the corpus stats are broadcast scalars.
    Doc length rides denormalized in the postings, so no join against
    the corpus is needed at query time. Top-10 compiles to
    TakeOrderedAndProject, never a global sort.
    """
    agg = _bm25_doc_scores(spark, sf_dir)
    from pyspark.sql import Window

    return global_topn_ranked(
        agg, 10, F.desc("bm25_micros"), F.asc("doc_id")
    ).orderBy("rank")


def _bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25_micros) for the fixed BM25_TERMS query — shared by
    the pure-lexical top-10 and the hybrid RRF fusion."""
    postings, stats = _posting_tables(spark, sf_dir)
    buckets = sorted({term_bucket(t) for t in BM25_TERMS})
    tf = (
        postings.filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*BM25_TERMS))
        .select("doc_id", "term", "tf", "dl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                (
                    (F.col("n_docs").cast("double") / F.col("df"))
                    * (
                        (F.col("tf") * F.lit(2.2))
                        / (
                            F.col("tf")
                            + (
                                F.lit(1.2)
                                * (
                                    F.lit(0.25)
                                    + (
                                        (F.lit(0.75) * F.col("dl"))
                                        / F.col("avgdl")
                                    )
                                )
                            )
                        )
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("term_score_micros"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_score_micros").alias("bm25_micros")
    )


@register(
    "contrastive_negative_samples",
    """
WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
j AS (SELECT j FROM range(1, 4) AS r(j)),
pairs AS (
  SELECT d.doc_id, j.j, t.n_docs,
         (d.doc_id * 2654435761 + j.j * 40503) % t.n_docs AS raw
  FROM documents d CROSS JOIN j CROSS JOIN t
)
SELECT doc_id, CAST(j AS INTEGER) AS neg_rank,
       CASE WHEN raw = doc_id THEN (raw + 1) % n_docs ELSE raw END
         AS neg_doc_id
FROM pairs
ORDER BY doc_id, neg_rank
""",
)
def contrastive_negative_samples(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: 3
    pseudo-random negatives per anchor via Knuth-multiplicative index
    arithmetic mod corpus size (never rand() — reproducible across
    engines, runs, and partitionings; self-collisions step to the next
    id). Pure per-row projection after a broadcast scalar join: at
    100 TB this runs entirely in the scan stage. Multiplier fits
    int64 for doc_id < 3.5e9; shard the id space first beyond that.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    total = docs.agg(F.count("*").alias("n_docs"))
    pairs = (
        docs.join(F.broadcast(total))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j"),
            "n_docs",
        )
        .withColumn(
            "raw",
            (
                F.col("doc_id") * F.lit(2654435761)
                + F.col("j") * F.lit(40503)
            )
            % F.col("n_docs"),
        )
    )
    return pairs.select(
        "doc_id",
        F.col("j").cast("int").alias("neg_rank"),
        F.when(
            F.col("raw") == F.col("doc_id"),
            (F.col("raw") + 1) % F.col("n_docs"),
        )
        .otherwise(F.col("raw"))
        .alias("neg_doc_id"),
    ).orderBy("doc_id", "neg_rank")


@register(
    "hard_negative_mining_top3",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES_HN}
), d AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
  FROM embeddings
), scored AS (
  SELECT q.query_id, d.neighbor_id,
         round(
           list_dot_product(q.v, d.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM d CROSS JOIN q
), ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT r.query_id, r.neighbor_id, r.score,
       CAST(r.rank - 1 AS INTEGER) AS neg_rank,
       e.label AS neg_label
FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
WHERE r.rank BETWEEN 2 AND 4
ORDER BY r.query_id, neg_rank
""",
)
def hard_negative_mining_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding training: the 3 most-similar
    non-self vectors per anchor (cosine ranks 2-4; rank 1 is the anchor
    itself at score 1.0), decorated with the negative's label. Reuses
    the exact-kNN tier — broadcast query side, index never shuffles,
    WindowGroupLimit caps per-anchor state — so the mining pass scales
    exactly as the serving path does.
    """
    from oracle_vector_search_spark.operators.knn import (
        knn_exact,
        knn_join_metadata,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES_HN)
    topk = knn_exact(emb, queries, k=4).filter(F.col("rank") >= 2)
    meta = emb.select("vec_id", F.col("label").alias("neg_label"))
    return (
        knn_join_metadata(topk, meta)
        .select(
            "query_id",
            "neighbor_id",
            "score",
            (F.col("rank") - 1).cast("int").alias("neg_rank"),
            "neg_label",
        )
        .orderBy("query_id", "neg_rank")
    )


@register(
    "boolean_and_retrieval_top20",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ('vector', 'join', 'scan')
  GROUP BY doc_id, term
),
cand AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf,
         count(*) AS n_terms
  FROM tf GROUP BY doc_id
)
SELECT doc_id, total_tf, CAST(rn AS INTEGER) AS rank
FROM (SELECT doc_id, total_tf,
             row_number() OVER (ORDER BY total_tf DESC, doc_id) AS rn
      FROM cand WHERE n_terms = 3) r
WHERE rn <= 20
ORDER BY rank
""",
)
def boolean_and_retrieval_top20(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conjunctive (AND) boolean retrieval over the posting table:
    docs containing ALL query terms, ranked by total term frequency.
    The AND is a count-per-doc equality over posting rows (one row per
    distinct (doc, term)), not an N-way self-join — the intersection
    of N posting lists costs one aggregate regardless of N. Same
    partition-pruned posting read as BM25.
    """
    postings, _ = _posting_tables(spark, sf_dir)
    buckets = sorted({term_bucket(t) for t in BM25_TERMS})
    tf = (
        postings.filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*BM25_TERMS))
        .select("doc_id", "term", "tf")
    )
    cand = (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.count("*").alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(BM25_TERMS))
    )
    from pyspark.sql import Window

    return (
        global_topn_ranked(cand, 20, F.desc("total_tf"), F.asc("doc_id"))
        .select("doc_id", "total_tf", "rank")
        .orderBy("rank")
    )


PHRASE = ("table", "hash")  # the fixed phrase query (48 hits at sf0.01)


@register(
    "phrase_retrieval_top20",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id,
         [i - 1 FOR i IN range(1, len(toks) + 1)
          IF toks[i] = 'table'] AS px,
         [i - 1 FOR i IN range(1, len(toks) + 1)
          IF toks[i] = 'hash'] AS py
  FROM base
),
m AS (
  SELECT doc_id,
         CAST(len(list_intersect([p + 1 FOR p IN px], py)) AS INTEGER)
           AS n_matches
  FROM pos WHERE len(px) > 0 AND len(py) > 0
)
SELECT doc_id, n_matches, CAST(rn AS INTEGER) AS rank
FROM (SELECT doc_id, n_matches,
             row_number() OVER (ORDER BY n_matches DESC, doc_id) AS rn
      FROM m WHERE n_matches > 0) r
WHERE rn <= 20
ORDER BY rank
""",
)
def phrase_retrieval_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval ("table hash") over POSITIONAL postings:
    a doc matches where some position of the first term is immediately
    followed by a position of the second — set-intersection of
    (positions+1) with the next term's positions, ranked by match
    count. The adjacency join touches only the two terms' posting
    rows (partition-pruned by term bucket); no document text is
    re-scanned at query time. N-term phrases chain the same intersect
    left-to-right.
    """
    postings, _ = _posting_tables(spark, sf_dir)
    buckets = sorted({term_bucket(t) for t in PHRASE})
    pruned = postings.filter(F.col("tb").isin(buckets))
    px = pruned.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("positions").alias("px")
    )
    py = pruned.filter(F.col("term") == PHRASE[1]).select(
        "doc_id", F.col("positions").alias("py")
    )
    m = (
        px.join(py, "doc_id")
        .select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.transform("px", lambda p: p + 1), F.col("py")
                )
            ).alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
    )
    from pyspark.sql import Window

    return global_topn_ranked(
        m, 20, F.desc("n_matches"), F.asc("doc_id")
    ).orderBy("rank")


PHRASE3 = ("stream", "table", "hash")  # fixed 3-term phrase (7 docs at sf0.01)


@register(
    "phrase3_retrieval_top20",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id,
         [i - 1 FOR i IN range(1, len(toks) + 1)
          IF toks[i] = 'stream'] AS px,
         [i - 1 FOR i IN range(1, len(toks) + 1)
          IF toks[i] = 'table'] AS py,
         [i - 1 FOR i IN range(1, len(toks) + 1)
          IF toks[i] = 'hash'] AS pz
  FROM base
),
m AS (
  SELECT doc_id,
         CAST(len(list_intersect(
           [p + 1 FOR p IN list_intersect([p + 1 FOR p IN px], py)], pz))
           AS INTEGER) AS n_matches
  FROM pos WHERE len(px) > 0 AND len(py) > 0 AND len(pz) > 0
)
SELECT doc_id, n_matches, CAST(rn AS INTEGER) AS rank
FROM (SELECT doc_id, n_matches,
             row_number() OVER (ORDER BY n_matches DESC, doc_id) AS rn
      FROM m WHERE n_matches > 0) r
WHERE rn <= 20
ORDER BY rank
""",
)
def phrase3_retrieval_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-term exact phrase ("stream table hash") over the positional
    posting table — the left-to-right intersect chain the 2-term query's
    docstring promises: positions surviving term₁→term₂ adjacency are
    advanced one slot and intersected with term₃'s positions. Still
    touches only the phrase terms' posting rows (partition-pruned by
    term bucket); chain depth N costs N-1 tiny per-doc intersects, never
    a text re-scan."""
    postings, _ = _posting_tables(spark, sf_dir)
    buckets = sorted({term_bucket(t) for t in PHRASE3})
    pruned = postings.filter(F.col("tb").isin(buckets))
    px = pruned.filter(F.col("term") == PHRASE3[0]).select(
        "doc_id", F.col("positions").alias("px")
    )
    py = pruned.filter(F.col("term") == PHRASE3[1]).select(
        "doc_id", F.col("positions").alias("py")
    )
    pz = pruned.filter(F.col("term") == PHRASE3[2]).select(
        "doc_id", F.col("positions").alias("pz")
    )
    m = (
        px.join(py, "doc_id")
        .join(pz, "doc_id")
        .select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.transform(
                        F.array_intersect(
                            F.transform("px", lambda p: p + 1), F.col("py")
                        ),
                        lambda p: p + 1,
                    ),
                    F.col("pz"),
                )
            ).alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
    )
    return global_topn_ranked(
        m, 20, F.desc("n_matches"), F.asc("doc_id")
    ).orderBy("rank")


MMR_LAMBDA = "0.5"  # relevance/diversity balance, as a literal for both engines


@register(
    "mmr_rerank_top3",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {N_QUERIES_HN}
), d AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
  FROM embeddings
), scored AS (
  SELECT q.query_id, d.neighbor_id, d.v,
         round(list_dot_product(q.v, d.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(d.v, d.v))), 6) AS rel
  FROM d CROSS JOIN q
), cand AS (
  SELECT query_id, neighbor_id, v, rel FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn <= 10
), sim AS (
  SELECT a.query_id, a.neighbor_id AS ai, b.neighbor_id AS bi,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM cand a JOIN cand b ON a.query_id = b.query_id
), s1 AS (
  SELECT query_id, neighbor_id AS s1_id, rel AS s1_score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
    FROM cand
  ) WHERE rn = 1
), sc2 AS (
  SELECT c.query_id, c.neighbor_id,
         round({MMR_LAMBDA} * c.rel - (1 - {MMR_LAMBDA}) * m.sim, 6)
           AS mmr_score
  FROM cand c
  JOIN s1 ON c.query_id = s1.query_id AND c.neighbor_id <> s1.s1_id
  JOIN sim m ON m.query_id = c.query_id
            AND m.ai = c.neighbor_id AND m.bi = s1.s1_id
), s2 AS (
  SELECT query_id, neighbor_id AS s2_id, mmr_score AS s2_score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY mmr_score DESC, neighbor_id) AS rn
    FROM sc2
  ) WHERE rn = 1
), sc3 AS (
  SELECT c.query_id, c.neighbor_id,
         round({MMR_LAMBDA} * c.rel
               - (1 - {MMR_LAMBDA}) * greatest(m1.sim, m2.sim), 6)
           AS mmr_score
  FROM cand c
  JOIN s1 ON c.query_id = s1.query_id AND c.neighbor_id <> s1.s1_id
  JOIN s2 ON c.query_id = s2.query_id AND c.neighbor_id <> s2.s2_id
  JOIN sim m1 ON m1.query_id = c.query_id
             AND m1.ai = c.neighbor_id AND m1.bi = s1.s1_id
  JOIN sim m2 ON m2.query_id = c.query_id
             AND m2.ai = c.neighbor_id AND m2.bi = s2.s2_id
), s3 AS (
  SELECT query_id, neighbor_id AS s3_id, mmr_score AS s3_score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY mmr_score DESC, neighbor_id) AS rn
    FROM sc3
  ) WHERE rn = 1
)
SELECT query_id, CAST(mmr_rank AS INTEGER) AS mmr_rank, neighbor_id,
       mmr_score
FROM (
  SELECT query_id, 1 AS mmr_rank, s1_id AS neighbor_id,
         s1_score AS mmr_score FROM s1
  UNION ALL
  SELECT query_id, 2, s2_id, s2_score FROM s2
  UNION ALL
  SELECT query_id, 3, s3_id, s3_score FROM s3
)
ORDER BY query_id, mmr_rank
""",
)
def mmr_rerank_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversity re-ranking (λ=0.5, k=3)
    over each anchor's top-10 cosine candidates: pick the most
    relevant, then twice more the candidate maximizing
    λ·rel − (1−λ)·max-sim-to-already-picked. The greedy recursion is
    UNROLLED into pure relational steps (one rank-1 window per pick),
    so it is hash-checked against DuckDB — k is a compile-time
    constant; larger k chains more of the same step.

    Scale shape: everything after the kNN pass operates on ≤10 rows
    per query (candidate pairs ≤100/query, built by a per-query join,
    never a global cross join); the windows partition by query_id.
    """
    from pyspark.sql import Window
    from oracle_vector_search_spark.functions.vector import (
        cosine_similarity,
    )
    from oracle_vector_search_spark.operators.knn import knn_exact

    lam = float(MMR_LAMBDA)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES_HN)
    # OPTIMIZATION r15 (guide §2.4/§5): the greedy unroll consumes the
    # candidate table in every pick round (cv, s1, sc2, sc3, the final
    # union) and Catalyst replays the subtree per consumer — the
    # corpus-sized exact-kNN pass re-ran for each (measured 372
    # physical ops / 38 scans at sf0.001). Pin the ≤k-rows-per-query
    # candidate table and the ≤k²-per-query pairwise-sim table once;
    # every pick round reads the pins.
    cand = pin(
        knn_exact(emb, queries, k=10)
        .withColumnRenamed("score", "rel")
        .select("query_id", "neighbor_id", "rel"),
    )
    vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v"),
    )
    cv = cand.join(vecs, "neighbor_id")
    a = cv.select(
        "query_id", F.col("neighbor_id").alias("ai"), F.col("v").alias("av")
    )
    b = cv.select(
        "query_id", F.col("neighbor_id").alias("bi"), F.col("v").alias("bv")
    )
    sim = pin(
        a.join(b, "query_id")
        .select(
            "query_id", "ai", "bi",
            F.round(cosine_similarity("av", "bv"), 6).alias("sim"),
        ),
    )

    def pick(df: DataFrame, score_col: str) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.desc(score_col), F.asc("neighbor_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    s1 = pick(cand, "rel").select(
        "query_id",
        F.col("neighbor_id").alias("s1_id"),
        F.col("rel").alias("s1_score"),
    )
    m0 = sim.select(
        F.col("query_id").alias("q0"), F.col("ai").alias("a0"),
        F.col("bi").alias("b0"), F.col("sim").alias("sim0"),
    )
    sc2 = (
        cand.join(s1, "query_id")
        .filter(F.col("neighbor_id") != F.col("s1_id"))
        .join(
            m0,
            (F.col("q0") == F.col("query_id"))
            & (F.col("a0") == F.col("neighbor_id"))
            & (F.col("b0") == F.col("s1_id")),
        )
        .select(
            "query_id", "neighbor_id", "rel",
            F.round(
                F.lit(lam) * F.col("rel")
                - (F.lit(1.0) - F.lit(lam)) * F.col("sim0"),
                6,
            ).alias("mmr_score"),
        )
    )
    s2 = pick(sc2, "mmr_score").select(
        "query_id",
        F.col("neighbor_id").alias("s2_id"),
        F.col("mmr_score").alias("s2_score"),
    )
    m1 = sim.select(
        F.col("query_id").alias("q1"), F.col("ai").alias("a1"),
        F.col("bi").alias("b1"), F.col("sim").alias("sim1"),
    )
    m2 = sim.select(
        F.col("query_id").alias("q2"), F.col("ai").alias("a2"),
        F.col("bi").alias("b2"), F.col("sim").alias("sim2"),
    )
    sc3 = (
        cand.join(s1, "query_id")
        .join(s2, "query_id")
        .filter(
            (F.col("neighbor_id") != F.col("s1_id"))
            & (F.col("neighbor_id") != F.col("s2_id"))
        )
        .join(
            m1,
            (F.col("q1") == F.col("query_id"))
            & (F.col("a1") == F.col("neighbor_id"))
            & (F.col("b1") == F.col("s1_id")),
        )
        .join(
            m2,
            (F.col("q2") == F.col("query_id"))
            & (F.col("a2") == F.col("neighbor_id"))
            & (F.col("b2") == F.col("s2_id")),
        )
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.lit(lam) * F.col("rel")
                - (F.lit(1.0) - F.lit(lam))
                * F.greatest(F.col("sim1"), F.col("sim2")),
                6,
            ).alias("mmr_score"),
        )
    )
    s3 = pick(sc3, "mmr_score").select(
        "query_id",
        F.col("neighbor_id").alias("s3_id"),
        F.col("mmr_score").alias("s3_score"),
    )
    out = (
        s1.select(
            "query_id", F.lit(1).alias("mmr_rank"),
            F.col("s1_id").alias("neighbor_id"),
            F.col("s1_score").alias("mmr_score"),
        )
        .unionByName(
            s2.select(
                "query_id", F.lit(2).alias("mmr_rank"),
                F.col("s2_id").alias("neighbor_id"),
                F.col("s2_score").alias("mmr_score"),
            )
        )
        .unionByName(
            s3.select(
                "query_id", F.lit(3).alias("mmr_rank"),
                F.col("s3_id").alias("neighbor_id"),
                F.col("s3_score").alias("mmr_score"),
            )
        )
    )
    return out.orderBy("query_id", "mmr_rank")


@register(
    "target_encode_loo",
    """
WITH b AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS target_cents
  FROM orders
),
g AS (
  SELECT o_orderpriority,
         CAST(sum(target_cents) AS BIGINT) AS sum_cents,
         CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY o_orderpriority
)
SELECT b.o_orderkey, b.o_orderpriority,
       round(CAST(g.sum_cents - b.target_cents AS DOUBLE)
             / (g.n - 1) / 100.0, 6) AS loo_mean_price
FROM b JOIN g USING (o_orderpriority)
ORDER BY b.o_orderkey
""",
)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    feature: each row's category is encoded as the mean target of the
    OTHER rows in its category, (sum − x)/(n−1). The sums accumulate
    as exact integer cents (order-independent), then one double
    division per row — so the encoding is bit-reproducible across
    engines and cluster sizes, which matters because a training
    feature that drifts between runs silently changes the model.
    One aggregate + one broadcast join back; the encoded table is
    row-parallel at any scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias(
            "target_cents"
        ),
    )
    g = b.groupBy("o_orderpriority").agg(
        F.sum("target_cents").alias("sum_cents"),
        F.count("*").alias("n"),
    )
    return (
        b.join(F.broadcast(g), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(
                (F.col("sum_cents") - F.col("target_cents")).cast("double")
                / (F.col("n") - 1)
                / F.lit(100.0),
                6,
            ).alias("loo_mean_price"),
        )
        .orderBy("o_orderkey")
    )


# target language mixture for the training blend (sums to 1)
_MIX_TARGETS = (
    ("de", 0.15), ("en", 0.4), ("es", 0.15), ("fr", 0.15), ("zh", 0.15),
)
_MIX_DUCK_W = " UNION ALL ".join(
    f"SELECT '{lang}' AS lang, {t}::DOUBLE AS target_share"
    for lang, t in _MIX_TARGETS
)


@register(
    "domain_mixture_rates",
    f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang
),
w AS ({_MIX_DUCK_W}),
j AS (
  SELECT c.lang, c.n_docs, w.target_share,
         c.n_docs / w.target_share AS cap
  FROM counts c JOIN w USING (lang)
),
b AS (SELECT min(cap) AS budget FROM j)
SELECT lang, n_docs,
       round(target_share, 6) AS target_share,
       CAST(floor(target_share * budget) AS BIGINT) AS take_n,
       round(floor(target_share * budget) / n_docs, 6) AS sample_rate
FROM j CROSS JOIN b
ORDER BY lang
""",
)
def domain_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planner: per-language sampling rates that hit a
    target blend (DoReMi-style fixed weights) while keeping as much
    data as possible — budget = min over languages of n/target, then
    take_n = floor(target × budget). Pure relational closed form: one
    tiny groupBy plus a broadcast of the 1-row budget; at 100 TB the
    per-language counts come from the same partial-agg shuffle any
    count-by-key costs, and the rates then drive a hash-based
    per-row sampling filter (no global shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    wmap = F.create_map(
        *[F.lit(x) for pair in _MIX_TARGETS for x in pair]
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    j = counts.select(
        "lang",
        "n_docs",
        F.element_at(wmap, F.col("lang")).alias("target_share"),
    ).withColumn("cap", F.col("n_docs") / F.col("target_share"))
    b = j.agg(F.min("cap").alias("budget"))
    return (
        j.crossJoin(F.broadcast(b))
        .select(
            "lang",
            "n_docs",
            F.round("target_share", 6).alias("target_share"),
            F.floor(F.col("target_share") * F.col("budget"))
            .cast("long")
            .alias("take_n"),
            F.round(
                F.floor(F.col("target_share") * F.col("budget"))
                / F.col("n_docs"),
                6,
            ).alias("sample_rate"),
        )
        .orderBy("lang")
    )


_SHUFFLE_SEED = "epoch0"  # deterministic per-epoch reshuffle key
_N_SHARDS = 16


@register(
    "training_order_shuffle",
    f"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuffle:{_SHUFFLE_SEED}:' || doc_id::VARCHAR),
                         1, 15))::BIGINT AS hv
  FROM documents
)
SELECT doc_id,
       CAST(hv % {_N_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (ORDER BY hv, doc_id) AS BIGINT)
         AS shuffle_pos
FROM h
ORDER BY shuffle_pos
""",
)
def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global training-order shuffle: every document gets a
    portable-hash position (reshuffled per epoch by changing the seed)
    and a shard assignment — the deterministic permutation a trainer
    needs for reproducible data ordering. The global position uses the
    two-phase range-partitioned rank (operators/ingest.py) — no
    single-task window; at 100 TB this is one range shuffle of
    metadata-sized (hash, id) pairs."""
    from oracle_vector_search_spark.operators.ingest import (
        assign_index_ids_two_phase,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = docs.withColumn(
        "hv",
        F.expr(
            T.hash60_sql(
                f"concat('shuffle:{_SHUFFLE_SEED}:', cast(doc_id as string))"
            )
        ),
    )
    ranked = assign_index_ids_two_phase(
        h,
        ["hv", "doc_id"],
    )
    return ranked.select(
        "doc_id",
        (F.col("hv") % _N_SHARDS).cast("int").alias("shard"),
        F.col("id").alias("shuffle_pos"),
    ).orderBy("shuffle_pos")


@register(
    "posting_upsert_merge",
    """
WITH src AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 1
  UNION ALL
  SELECT doc_id, text || ' updated' AS text FROM documents
  WHERE doc_id % 10 = 1
), base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM src
), ex AS (
  SELECT doc_id, toks, unnest(list_distinct(toks)) AS term FROM base
), m AS (
  SELECT doc_id, term,
         len([i FOR i IN range(1, len(toks) + 1)
              IF toks[i] = term]) AS tf,
         list_sum([i - 1 FOR i IN range(1, len(toks) + 1)
                   IF toks[i] = term]) AS pos_sum
  FROM ex
)
SELECT term,
       CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       CAST(sum(doc_id * tf) AS BIGINT) AS doc_tf_checksum,
       CAST(sum(pos_sum) AS BIGINT) AS pos_checksum
FROM m
GROUP BY term
ORDER BY term
""",
)
def posting_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental posting-list maintenance — the retrieval twin of
    index_upsert_merge / signature_upsert_merge, completing the
    maintenance triad over the engine's three at-rest artifacts
    (vector index, dedup signatures, inverted index). ONLY the
    insert+update batch is re-tokenized; its stale posting rows drop
    via a broadcast anti-join on doc_id and the fresh rows union in.
    The term-level checksum (doc_freq / tf / positional sums) is
    oracle-compared against a full rebuild over the upserted corpus.
    At rest the merged rows rewrite only the term-bucket partitions
    the batch touches (operators/index_maint.py, mechanics pinned in
    tests/test_index_maint.py)."""
    from oracle_vector_search_spark.operators.index_maint import (
        merge_index_rows,
    )

    def postings_for(docs_df: DataFrame) -> DataFrame:
        base = docs_df.select(
            "doc_id", F.split(T.norm_text("text"), " ").alias("toks")
        )
        tok = base.select(
            "doc_id",
            F.posexplode("toks").alias("pos", "term"),
        )
        return tok.groupBy("doc_id", "term").agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionByName(
        docs.filter(F.col("doc_id") % 10 == 1).select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" updated")).alias("text"),
        )
    )
    old = postings_for(base.repartition(32))
    fresh = postings_for(batch)
    merged = merge_index_rows(old, fresh, id_col="doc_id")
    return (
        merged.groupBy("term")
        .agg(
            F.count("*").alias("doc_freq"),
            F.sum("tf").alias("total_tf"),
            F.sum(F.col("doc_id") * F.col("tf")).alias("doc_tf_checksum"),
            F.sum(
                F.aggregate(
                    "positions",
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
            ).alias("pos_checksum"),
        )
        .orderBy("term")
    )


@register(
    "domain_mixture_apply",
    f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang
),
w AS ({_MIX_DUCK_W}),
j AS (
  SELECT c.lang, c.n_docs, w.target_share,
         c.n_docs / w.target_share AS cap
  FROM counts c JOIN w USING (lang)
),
b AS (SELECT min(cap) AS budget FROM j),
rates AS (
  SELECT lang,
         floor(target_share * budget) / n_docs AS rate
  FROM j CROSS JOIN b
),
sampled AS (
  SELECT d.doc_id, d.lang
  FROM documents d JOIN rates r USING (lang)
  WHERE ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 7))::BIGINT
        / 268435456.0 < r.rate
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM sampled
GROUP BY lang
ORDER BY lang
""",
)
def domain_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply half of domain_mixture_rates: per-row hash-Bernoulli
    sampling at the planned per-language rate — keep a doc iff
    hash28('mix:'||id)/2^28 < rate. rand()-free, so the SAMPLE ITSELF
    is deterministic and oracle-checked down to the id checksum (the
    property that makes a training run reproducible byte-for-byte).
    The rates broadcast (5 rows); the filter evaluates scan-side —
    no shuffle before the final per-language count. Kept counts track
    floor(target·budget) to within binomial noise; the planner's
    take_n is exact when exactness matters (rank <= take_n over a
    hash ordering — same machinery as training_order_shuffle)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    wmap = F.create_map(
        *[F.lit(x) for pair in _MIX_TARGETS for x in pair]
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    j = counts.select(
        "lang",
        "n_docs",
        F.element_at(wmap, F.col("lang")).alias("target_share"),
    ).withColumn("cap", F.col("n_docs") / F.col("target_share"))
    b = j.agg(F.min("cap").alias("budget"))
    rates = (
        j.crossJoin(F.broadcast(b))
        .select(
            "lang",
            (
                F.floor(F.col("target_share") * F.col("budget"))
                / F.col("n_docs")
            ).alias("rate"),
        )
    )
    h = F.expr(
        T.hash28_sql("concat('mix:', cast(doc_id as string))")
    ) / F.lit(268435456.0)
    sampled = docs.join(F.broadcast(rates), "lang").filter(
        h < F.col("rate")
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


def _maxsim_oracle_sql() -> str:
    from oracle_vector_search_spark.functions import embed as E

    emb = E.duck_embedding_expr("md5(chunk_text)", RAG_DIMS)
    return f"""
WITH tok AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
           AS toks
  FROM documents WHERE doc_id < 100
),
st AS (
  SELECT doc_id, toks,
         range(1, greatest(len(toks) - 10, 1) + 1, 30) AS starts
  FROM tok
),
chunks AS (
  SELECT doc_id,
         generate_subscripts(starts, 1) - 1 AS chunk_idx,
         array_to_string(toks[unnest(starts):unnest(starts) + 39], ' ')
           AS chunk_text
  FROM st
),
embedded AS (
  SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, {emb} AS emb
  FROM chunks
),
qc AS (
  SELECT chunk_idx AS q_idx, emb AS qvec FROM embedded WHERE doc_id = 0
),
pair AS (
  SELECT d.doc_id, q.q_idx,
         round(list_dot_product(q.qvec, d.emb)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(d.emb, d.emb))), 6) AS score
  FROM embedded d CROSS JOIN qc q
  WHERE d.doc_id <> 0
),
best AS (
  SELECT doc_id, q_idx, max(score) AS max_score
  FROM pair GROUP BY doc_id, q_idx
),
agg AS (
  SELECT doc_id, round(sum(max_score), 6) AS maxsim,
         CAST(count(*) AS BIGINT) AS n_query_vectors
  FROM best GROUP BY doc_id
)
SELECT doc_id, maxsim, n_query_vectors, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY maxsim DESC, doc_id) AS rn
      FROM agg)
WHERE rn <= 5
"""


@register("maxsim_late_interaction_top5", _maxsim_oracle_sql())
def maxsim_late_interaction_top5(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Late-interaction retrieval (the ColBERT MaxSim shape): the query
    is a SET of vectors (doc 0's chunk embeddings), a document's score
    is Σ over query vectors of the MAX cosine against any of its
    chunks. Two grouped aggregations — (doc, query-vector) max, then
    per-doc sum — with the multi-vector query broadcast; chunking +
    embedding ride the scan exactly as in ``chunk_embed_retrieve_topk``.

    Shape at 100 TB: the per-pair score space is |corpus chunks| ×
    |query vectors| with the query side broadcast — never corpus ×
    corpus; at rest the chunk-embedding table is the same artifact the
    single-vector RAG tier reads."""
    from oracle_vector_search_spark.functions import embed as E
    from oracle_vector_search_spark.functions.vector import (
        cosine_similarity,
    )
    from oracle_vector_search_spark.operators.chunking import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    chunks = chunk_documents(docs, chunk_size=40, overlap=10)
    embedded = chunks.select(
        "doc_id",
        "chunk_idx",
        F.expr(
            E.spark_embedding_expr(
                "md5(cast(chunk_text as binary))", RAG_DIMS
            )
        ).alias("emb"),
    )
    qc = embedded.filter(F.col("doc_id") == 0).select(
        F.col("chunk_idx").alias("q_idx"), F.col("emb").alias("qvec")
    )
    pair = (
        embedded.filter(F.col("doc_id") != 0)
        .join(F.broadcast(qc))
        .select(
            "doc_id",
            "q_idx",
            F.round(cosine_similarity("qvec", "emb"), 6).alias("score"),
        )
    )
    best = pair.groupBy("doc_id", "q_idx").agg(
        F.max("score").alias("max_score")
    )
    agg = best.groupBy("doc_id").agg(
        F.round(F.sum("max_score"), 6).alias("maxsim"),
        F.count("*").alias("n_query_vectors"),
    )
    return global_topn_ranked(
        agg, 5, F.desc("maxsim"), F.asc("doc_id")
    ).select("doc_id", "maxsim", "n_query_vectors", "rank")


@register(
    "span_corruption_pairs",
    """
WITH tok AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
           AS toks
  FROM documents
),
pos AS (
  SELECT doc_id,
         unnest(toks) AS tok,
         generate_subscripts(toks, 1) AS p
  FROM tok
),
flagged AS (
  SELECT doc_id, tok, p,
         ((doc_id * 31 + p) % 8 = 0) AS masked
  FROM pos
),
rebuilt AS (
  SELECT doc_id,
         string_agg(CASE WHEN masked THEN '<extra_id>' ELSE tok END,
                    ' ' ORDER BY p) AS input_text,
         string_agg(CASE WHEN masked THEN tok END, ' ' ORDER BY p)
           AS target_text,
         sum(CASE WHEN masked THEN 1 ELSE 0 END) AS n_masked,
         sum(CASE WHEN masked THEN 0 ELSE 1 END) AS n_kept
  FROM flagged GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_masked AS BIGINT) AS n_masked,
       CAST(n_kept AS BIGINT) AS n_kept,
       md5(input_text) AS input_md5,
       md5(coalesce(target_text, '')) AS target_md5
FROM rebuilt
""",
)
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic denoising-objective pairs (the T5 span-corruption
    shape): tokens at hash-selected positions are replaced by a
    sentinel in the input and collected in order as the target.
    Masking is a pure position-hash predicate — reproducible under
    retry/recompute, no rand() — and the reconstruction is one
    order-preserving aggregation per document. The oracle md5-matches
    BOTH reconstructed texts, proving byte-exact augmentation parity.

    Shape at 100 TB: posexplode + one groupBy(doc_id) whose aggregation
    carries (pos, token) pairs — document text never shuffles twice;
    in practice the rebuild rides the same shuffle as any per-doc
    aggregation."""
    from oracle_vector_search_spark.operators.dedup import (
        with_norm_tokens,
    )

    docs = with_norm_tokens(load_table(spark, sf_dir, "documents"))
    pos = docs.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    flagged = pos.withColumn(
        "masked", (F.col("doc_id") * 31 + F.col("p")) % 8 == 0
    )
    rebuilt = flagged.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("p", "tok", "masked"))
        ).alias("seq")
    )
    inp = F.array_join(
        F.transform(
            "seq",
            lambda s: F.when(s["masked"], F.lit("<extra_id>")).otherwise(
                s["tok"]
            ),
        ),
        " ",
    )
    tgt = F.array_join(
        F.transform(
            F.filter("seq", lambda s: s["masked"]), lambda s: s["tok"]
        ),
        " ",
    )
    return rebuilt.select(
        "doc_id",
        F.size(F.filter("seq", lambda s: s["masked"]))
        .cast("long")
        .alias("n_masked"),
        F.size(F.filter("seq", lambda s: ~s["masked"]))
        .cast("long")
        .alias("n_kept"),
        F.md5(inp.cast("binary")).alias("input_md5"),
        F.md5(tgt.cast("binary")).alias("target_md5"),
    )


_RRF_TERMS = ("table", "scan")
_RRF_QTEXT = "table scan query"
_RRF_K = 60


def _rrf_oracle_sql() -> str:
    from oracle_vector_search_spark.functions import embed as E

    demb = E.duck_embedding_expr("md5(norm)", RAG_DIMS)
    qemb = E.duck_embedding_expr(f"md5('{_RRF_QTEXT}')", RAG_DIMS)
    terms = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id < 200
),
lex AS (
  SELECT doc_id,
         len(list_filter(string_split(norm, ' '), t -> t IN ({terms})))
           AS tf
  FROM base
),
lex_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS lex_rank
  FROM lex
),
vec AS (
  SELECT doc_id, {demb} AS emb FROM base
),
q AS (SELECT {qemb} AS qvec),
vec_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
           AS vec_rank
  FROM (SELECT v.doc_id,
               round(list_dot_product(q.qvec, v.emb)
                     / (sqrt(list_dot_product(q.qvec, q.qvec))
                        * sqrt(list_dot_product(v.emb, v.emb))), 6)
                 AS score
        FROM vec v CROSS JOIN q)
),
fused AS (
  SELECT l.doc_id,
         CAST(l.lex_rank AS BIGINT) AS lex_rank,
         CAST(v.vec_rank AS BIGINT) AS vec_rank,
         round(1.0 / ({_RRF_K} + l.lex_rank)
               + 1.0 / ({_RRF_K} + v.vec_rank), 6) AS rrf_score
  FROM lex_ranked l JOIN vec_ranked v USING (doc_id)
)
SELECT doc_id, lex_rank, vec_rank, rrf_score, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rn
      FROM fused)
WHERE rn <= 10
"""


@register("hybrid_rrf_retrieval_top10", _rrf_oracle_sql())
def hybrid_rrf_retrieval_top10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion — the standard way a
    vector-search deployment combines its lexical and embedding legs
    without score calibration: each leg contributes 1/(k + rank), pure
    rational arithmetic, so the fused ranking is engine-exact. Lexical
    leg = query-term frequency; vector leg = hash-embedding cosine; a
    production system swaps in BM25 (`bm25_retrieval_top10`) and the
    at-rest index (`pipeline_query_topk`) — the fusion math is this.

    Shape at 100 TB: each leg is an existing bounded top-k plan; the
    fusion joins two (doc, rank) lists of candidate size, never
    corpus-sized."""
    from pyspark.sql import Window

    from oracle_vector_search_spark.functions import embed as E
    from oracle_vector_search_spark.functions.vector import (
        cosine_similarity,
    )
    from oracle_vector_search_spark.operators.dedup import with_norm_tokens

    docs = with_norm_tokens(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )
    terms = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    lex = docs.select(
        "doc_id",
        F.size(F.expr(f"filter(toks, t -> t IN ({terms}))")).alias("tf"),
    )
    w_lex = Window.orderBy(F.desc("tf"), F.asc("doc_id"))
    lex_ranked = lex.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )
    vec = docs.select(
        "doc_id",
        F.expr(
            E.spark_embedding_expr("md5(cast(norm as binary))", RAG_DIMS)
        ).alias("emb"),
    )
    q = spark.range(1).select(
        F.expr(
            E.spark_embedding_expr(
                f"md5(cast('{_RRF_QTEXT}' as binary))", RAG_DIMS
            )
        ).alias("qvec")
    )
    scored = vec.join(F.broadcast(q)).select(
        "doc_id",
        F.round(cosine_similarity("qvec", "emb"), 6).alias("score"),
    )
    w_vec = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    vec_ranked = scored.select(
        "doc_id", F.row_number().over(w_vec).alias("vec_rank")
    )
    fused = lex_ranked.join(vec_ranked, "doc_id").select(
        "doc_id",
        F.col("lex_rank").cast("long").alias("lex_rank"),
        F.col("vec_rank").cast("long").alias("vec_rank"),
        F.round(
            1.0 / (F.lit(_RRF_K) + F.col("lex_rank"))
            + 1.0 / (F.lit(_RRF_K) + F.col("vec_rank")),
            6,
        ).alias("rrf_score"),
    )
    return global_topn_ranked(
        fused, 10, F.desc("rrf_score"), F.asc("doc_id")
    ).select("doc_id", "lex_rank", "vec_rank", "rrf_score", "rank")


# target oversampling rates for the minority-domain upsampling demo —
# fractional parts exercise the hash-Bernoulli extra-copy path
_OVERSAMPLE_RATES = {"src0": 2.5, "src1": 1.25}


def _oversample_oracle_sql() -> str:
    from oracle_vector_search_spark.functions.text import duck_hash28

    cases = " ".join(
        f"WHEN source = '{s}' THEN {r}"
        for s, r in sorted(_OVERSAMPLE_RATES.items())
    )
    h = duck_hash28("doc_id::VARCHAR || ':oversample'")
    return f"""
WITH rated AS (
  SELECT doc_id, source,
         CASE {cases} ELSE 1.0 END AS rate
  FROM documents
),
counted AS (
  SELECT doc_id, source,
         CAST(floor(rate) AS BIGINT)
           + CASE WHEN {h} % 1000000
                       < CAST(round((rate - floor(rate)) * 1000000)
                              AS BIGINT)
                  THEN 1 ELSE 0 END AS n_copies
  FROM rated
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_in,
       CAST(sum(n_copies) AS BIGINT) AS n_rows_out,
       CAST(sum(doc_id * n_copies) AS BIGINT) AS weighted_id_sum
FROM counted
GROUP BY source
ORDER BY source
"""


@register("domain_oversample_apply", _oversample_oracle_sql())
def domain_oversample_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic minority-domain OVERSAMPLING (the upsampling half
    of mixture application; ``domain_mixture_apply`` handles
    downsampling): each doc replicates floor(rate) times plus one
    hash-Bernoulli extra copy with probability frac(rate) — rand()-
    free, so the expansion is reproducible under retry/recompute and
    hash-checkable. Emission is ``explode(sequence(1, n_copies))`` —
    a per-row generator in the scan stage, no shuffle until the
    verification rollup.

    At 100 TB the replicated stream feeds the seeded global shuffle
    (``training_order_shuffle``) so copies disperse across the epoch."""
    from oracle_vector_search_spark.functions.text import hash28_sql

    rate = F.lit(1.0)
    for s, r in sorted(_OVERSAMPLE_RATES.items()):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    ).withColumn("rate", rate)
    h = F.expr(hash28_sql("concat(cast(doc_id as string), ':oversample')"))
    frac_scaled = F.round(
        (F.col("rate") - F.floor("rate")) * 1000000
    ).cast("long")
    counted = docs.withColumn(
        "n_copies",
        F.floor("rate").cast("long")
        + (h % 1000000 < frac_scaled).cast("long"),
    )
    # the expansion itself (what a training pipeline materializes):
    expanded = counted.withColumn(
        "copy_idx", F.explode(F.expr("sequence(1, n_copies)"))
    )
    return (
        expanded.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_in"),
            F.count("*").alias("n_rows_out"),
            F.sum("doc_id").alias("weighted_id_sum"),
        )
        .orderBy("source")
    )


def _tfidf_tables(spark: SparkSession, sf_dir: str):
    """At-rest TF-IDF statistics (the nightly-build artifacts): the
    per-term idf table (term-bucket-partitioned like the postings, so
    query terms prune to their buckets) and the per-doc squared-norm
    table. Built once per (session, sf_dir) from the posting table;
    every retrieval afterwards reads the two parquet tables instead of
    re-aggregating the corpus."""
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        postings, stats = _posting_tables(spark, sf_dir)
        idf_path = scratch_dir("ovs_tfidf_idf_")
        norm_path = scratch_dir("ovs_tfidf_norms_")
        tf = postings.select("tb", "doc_id", "term", "tf")
        dfreq = tf.groupBy("tb", "term").agg(F.count("*").alias("df"))
        idf = dfreq.crossJoin(
            F.broadcast(stats.select("n_docs"))
        ).select(
            "tb",
            "term",
            F.floor(
                F.lit(1000.0)
                * F.col("n_docs").cast("double")
                / F.col("df")
            )
            .cast("long")
            .alias("idf_millis"),
        )
        write_artifact(
            idf.repartition("tb"), idf_path, partition_by=["tb"]
        )
        idf_r = read_artifact(spark, idf_path)
        w = tf.join(idf_r.select("term", "idf_millis"), "term").select(
            "doc_id", (F.col("tf") * F.col("idf_millis")).alias("w")
        )
        write_artifact(
            w.groupBy("doc_id").agg(
                F.sum(F.col("w") * F.col("w")).alias("norm_sq")
            ),
            norm_path,
        )
        return idf_path, norm_path

    paths = at_rest(spark, (_tfidf_tables, sf_dir), build)
    return (
        read_artifact(spark, paths[0]),
        read_artifact(spark, paths[1]),
    )


@register(
    "tfidf_cosine_top5",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term,
         CAST(floor(1000.0 * (SELECT n_docs FROM n) / df) AS BIGINT)
           AS idf_millis
  FROM dfreq
),
w AS (
  SELECT t.doc_id, t.term, CAST(t.tf * i.idf_millis AS BIGINT) AS w
  FROM tf t JOIN idf i USING (term)
),
norms AS (
  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm_sq
  FROM w GROUP BY doc_id
),
qv AS (
  SELECT term, idf_millis FROM idf
  WHERE term IN ('vector', 'join', 'scan')
),
qn AS (
  SELECT CAST(sum(idf_millis * idf_millis) AS BIGINT) AS qnorm_sq
  FROM qv
),
scored AS (
  SELECT d.doc_id,
         CAST(d.dot AS DOUBLE)
           / (sqrt(CAST(nm.norm_sq AS DOUBLE))
              * sqrt(CAST((SELECT qnorm_sq FROM qn) AS DOUBLE)))
           AS raw_score
  FROM (
    SELECT w.doc_id, CAST(sum(w.w * q.idf_millis) AS BIGINT) AS dot
    FROM w JOIN qv q USING (term) GROUP BY w.doc_id
  ) d
  JOIN norms nm USING (doc_id)
)
SELECT doc_id, round(raw_score, 6) AS score,
       CAST(rn AS INTEGER) AS rank
FROM (
  SELECT doc_id, raw_score,
         row_number() OVER (ORDER BY raw_score DESC, doc_id) AS rn
  FROM scored
) r
WHERE rn <= 5
ORDER BY rank
""",
)
def tfidf_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine retrieval for the fixed 3-term query — the
    sparse-vector sibling of BM25: documents as tf·idf vectors, cosine
    against the query vector (query tf ≡ 1), top-5.

    Determinism: idf quantizes to integer MILLIS (floor(1000·N/df) —
    the quantization is part of the scoring definition), so weights,
    dot products, and squared norms are all exact BIGINT sums — the
    only float math is one final sqrt/divide from identical integers,
    which IEEE-reproduces bit-for-bit on both engines.

    Scale shape: rides the same at-rest posting table as BM25; df/idf
    is a vocabulary-sized aggregate (a nightly-build table in a real
    deployment), doc norms are one posting-table aggregation, and the
    query-side dot touches only the 3 query terms' postings. Top-5 is
    TakeOrderedAndProject."""
    postings, _stats = _posting_tables(spark, sf_dir)
    idf, norms = _tfidf_tables(spark, sf_dir)
    buckets = sorted({term_bucket(t) for t in BM25_TERMS})
    qv = (
        idf.filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*BM25_TERMS))
        .select("term", F.col("idf_millis").alias("q_w"))
    )
    qn = qv.agg(
        F.sum(F.col("q_w") * F.col("q_w")).alias("qnorm_sq")
    )
    tf = (
        postings.filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*BM25_TERMS))
        .select("doc_id", "term", "tf")
    )
    dots = (
        tf.join(F.broadcast(qv), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("q_w") * F.col("q_w")).alias("dot"))
    )
    scored = (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "doc_id",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("norm_sq").cast("double"))
                    * F.sqrt(F.col("qnorm_sq").cast("double"))
                )
            ).alias("raw_score"),
        )
    )
    return (
        global_topn_ranked(
            scored, 5, F.desc("raw_score"), F.asc("doc_id")
        )
        .select(
            "doc_id",
            F.round("raw_score", 6).alias("score"),
            "rank",
        )
        .orderBy("rank")
    )


@register(
    "doc_top_keywords",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term,
         CAST(floor(1000.0 * (SELECT n_docs FROM n) / df) AS BIGINT)
           AS idf_millis
  FROM dfreq
),
w AS (
  SELECT t.doc_id, t.term, t.tf, i.idf_millis,
         CAST(t.tf * i.idf_millis AS BIGINT) AS weight
  FROM tf t JOIN idf i USING (term)
)
SELECT doc_id, CAST(rn AS INTEGER) AS rank, term, tf, idf_millis, weight
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY weight DESC, term) AS rn
  FROM w
) r
WHERE rn <= 3
""",
)
def doc_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by integer TF-IDF
    weight (tf · idf_millis — the same millis-quantized idf the
    retrieval queries score with, so keywords and ranking agree by
    construction). Term tie-break keeps ties deterministic; weights
    are exact BIGINTs so the ranking is engine- and
    partitioning-independent.

    Scale: tf comes from the at-rest posting table (no re-tokenize);
    idf is the vocabulary-sized nightly table; the per-doc top-3 plans
    as WindowGroupLimit below the doc_id shuffle — rank-k prunes
    before the exchange."""
    postings, stats = _posting_tables(spark, sf_dir)
    n_docs = stats.select(F.col("n_docs").cast("long"))
    tf = postings.select("doc_id", "term", F.col("tf").cast("long"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = df.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.expr("cast(floor(1000.0D * n_docs / df) as bigint)").alias(
            "idf_millis"
        ),
    )
    w = tf.join(idf, "term").select(
        "doc_id",
        "term",
        "tf",
        "idf_millis",
        (F.col("tf") * F.col("idf_millis")).alias("weight"),
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(
        F.desc("weight"), F.asc("term")
    )
    return (
        w.withColumn("rank", F.row_number().over(win).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "idf_millis", "weight")
    )


_FIM_MIN_CHARS = 8  # skip degenerate docs (pivot arithmetic needs n >= 1)


@register(
    "fim_split_transform",
    f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE length(text) >= {_FIM_MIN_CHARS}
), piv AS (
  SELECT doc_id, text, n,
         1 + ({T.duck_hash28("doc_id::VARCHAR || ':fim:1'")} % n) AS p1,
         1 + ({T.duck_hash28("doc_id::VARCHAR || ':fim:2'")} % n) AS p2
  FROM d
), cut AS (
  SELECT doc_id, text, n,
         least(p1, p2) AS lo, greatest(p1, p2) AS hi
  FROM piv
), parts AS (
  SELECT doc_id, n,
         substr(text, 1, lo - 1) AS prefix,
         substr(text, lo, hi - lo) AS middle,
         substr(text, hi) AS suffix
  FROM cut
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_chars_total,
       CAST(length(prefix) AS BIGINT) AS len_prefix,
       CAST(length(middle) AS BIGINT) AS len_middle,
       CAST(length(suffix) AS BIGINT) AS len_suffix,
       md5(prefix || '<FIM>' || suffix || '<FIM>' || middle) AS psm_md5
FROM parts
""",
)
def fim_split_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle pretraining transform (Bavarian et al. 2022):
    split every document at two hash-derived pivots and re-serialize in
    PSM order (prefix, suffix, middle). Pivots come from the portable
    md5 hash of doc_id, so the split is reproducible across engines,
    runs, and partitionings — never rand(). The md5 of the reordered
    text plus the three segment lengths pin the exact byte-level
    transform the trainer would consume.

    Scale shape: a pure per-row projection — rides the scan, no
    shuffle, trivially parallel at 100 TB.
    """
    doc = load_table(spark, sf_dir, "documents")
    d = doc.filter(F.length("text") >= _FIM_MIN_CHARS).select(
        "doc_id", "text", F.length("text").cast("bigint").alias("n")
    )
    h1 = F.expr(T.hash28_sql("concat(cast(doc_id as string), ':fim:1')"))
    h2 = F.expr(T.hash28_sql("concat(cast(doc_id as string), ':fim:2')"))
    piv = d.select(
        "doc_id",
        "text",
        "n",
        (F.lit(1) + h1 % F.col("n")).cast("int").alias("p1"),
        (F.lit(1) + h2 % F.col("n")).cast("int").alias("p2"),
    )
    cut = piv.select(
        "doc_id",
        "text",
        "n",
        F.least("p1", "p2").alias("lo"),
        F.greatest("p1", "p2").alias("hi"),
    )
    parts = cut.select(
        "doc_id",
        "n",
        F.expr("substr(text, 1, lo - 1)").alias("prefix"),
        F.expr("substr(text, lo, hi - lo)").alias("middle"),
        F.expr("substr(text, hi)").alias("suffix"),
    )
    return parts.select(
        "doc_id",
        F.col("n").alias("n_chars_total"),
        F.length("prefix").cast("bigint").alias("len_prefix"),
        F.length("middle").cast("bigint").alias("len_middle"),
        F.length("suffix").cast("bigint").alias("len_suffix"),
        F.md5(
            F.concat(
                F.col("prefix"),
                F.lit("<FIM>"),
                F.col("suffix"),
                F.lit("<FIM>"),
                F.col("middle"),
            ).cast("binary")
        ).alias("psm_md5"),
    )


# ------------------------------------------------ curriculum ordering

# frozen curriculum-stage thresholds on the stopword ratio (permille,
# compared with integer cross-multiplication so the stage boundary is
# EXACT on both engines — a float ratio at the threshold would be a
# cross-engine hash hazard): >= 7.5% stopwords = cleanest prose-like
# tier (stage 0, trained first), >= 4.5% = stage 1, rest = stage 2.
_CURR_HI_PERMILLE = 75
_CURR_LO_PERMILLE = 45
_CURR_SEED = "epoch0"  # reshuffle-within-stage knob, like _SHUFFLE_SEED
_CURR_STOPWORDS = ("a", "the")


@register(
    "curriculum_quality_order",
    f"""
WITH b AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         len([t FOR t IN toks
              IF t IN ({', '.join(repr(w) for w in _CURR_STOPWORDS)})])
           AS n_sw,
         len(toks) AS n_toks
  FROM b
), staged AS (
  SELECT doc_id,
         CASE WHEN n_sw * 1000 >= {_CURR_HI_PERMILLE} * n_toks THEN 0
              WHEN n_sw * 1000 >= {_CURR_LO_PERMILLE} * n_toks THEN 1
              ELSE 2 END AS stage,
         ('0x' || substr(md5('curriculum:{_CURR_SEED}:' ||
                              doc_id::VARCHAR), 1, 15))::BIGINT AS hv
  FROM s
)
SELECT doc_id, CAST(stage AS INTEGER) AS stage,
       CAST(row_number() OVER (ORDER BY stage, hv, doc_id) AS BIGINT)
         AS curriculum_pos
FROM staged
ORDER BY curriculum_pos
""",
)
def curriculum_quality_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-staged curriculum order: documents are bucketed into
    frozen quality stages (stopword-ratio bands — the cheap prose-ness
    screen) and deterministically shuffled WITHIN each stage, yielding
    the stage-major global position a curriculum-learning trainer
    consumes (clean tier first, noisier tiers later). The within-stage
    permutation is the same portable-hash family as
    ``training_order_shuffle`` — change ``_CURR_SEED`` to reshuffle a
    stage without moving documents across stages.

    Scale shape: stage + hash are scan-born projections (token counts
    and an md5 — no shuffle); the single global position comes from the
    two-phase range-partitioned rank over (stage, hv, doc_id) — one
    range shuffle of metadata-sized triples, no single-task window, no
    rand(). The stage boundary compares n_sw*1000 >= permille*n_toks in
    exact integer math, so assignment is engine- and partitioning-
    independent."""
    from oracle_vector_search_spark.operators.ingest import (
        assign_index_ids_two_phase,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.split(T.norm_text("text"), " ").alias("toks")
    )
    sw = F.size(
        F.filter(
            F.col("toks"),
            lambda t: t.isin(*_CURR_STOPWORDS),
        )
    ).cast("long")
    staged = toks.select(
        "doc_id",
        F.when(
            sw * 1000 >= F.lit(_CURR_HI_PERMILLE) * F.size("toks"), 0
        )
        .when(sw * 1000 >= F.lit(_CURR_LO_PERMILLE) * F.size("toks"), 1)
        .otherwise(2)
        .cast("int")
        .alias("stage"),
        F.expr(
            T.hash60_sql(
                f"concat('curriculum:{_CURR_SEED}:', "
                "cast(doc_id as string))"
            )
        ).alias("hv"),
    )
    ranked = assign_index_ids_two_phase(
        staged,
        ["stage", "hv", "doc_id"],
    )
    return ranked.select(
        "doc_id", "stage", F.col("id").alias("curriculum_pos")
    ).orderBy("curriculum_pos")
