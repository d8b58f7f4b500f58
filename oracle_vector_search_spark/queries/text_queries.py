"""Text-analysis oracle corpus over ``documents`` (SURVEY.md §7 M7).

Language-ID heuristic, quality scoring, token statistics, document
fingerprinting — the per-document projections a training-data pipeline
runs before dedup/filtering. All pure Spark SQL expressions; DuckDB
oracles are generated from the SAME constants in ``functions.text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.io import at_rest, load_table
from oracle_vector_search_spark.operators.topk import global_topn_ranked
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register

_SW = T.STOPWORDS


@register(
    "doc_token_stats",
    """
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM base
)
SELECT doc_id,
       CAST(length(norm) AS INTEGER) AS n_chars_norm,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS ttr,
       round(CAST(list_sum([length(t) for t in toks]) AS BIGINT) * 1.0
             / len(toks), 6) AS avg_token_len
FROM tok
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer): counts, type-token ratio,
    average token length — exact integer math + identical division."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("norm", T.norm_text("text")).withColumn(
        "toks", F.split("norm", " ")
    )
    return d.select(
        "doc_id",
        F.length("norm").alias("n_chars_norm"),
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq_tokens"),
        F.round(
            F.size(F.array_distinct("toks")) * 1.0 / F.size("toks"), 6
        ).alias("ttr"),
        F.round(
            F.expr(
                "aggregate(toks, cast(0 as bigint), (a, t) -> a + length(t))"
            )
            * 1.0
            / F.size("toks"),
            6,
        ).alias("avg_token_len"),
    )


@register(
    "doc_quality_scores",
    f"""
WITH base AS (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM base
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
              AS INTEGER) AS n_special,
         CAST({T.duck_stopword_hits('toks', _SW['en'])} AS INTEGER)
           AS en_stopword_hits
  FROM tok
)
SELECT doc_id, n_tokens, n_special, en_stopword_hits,
       round(en_stopword_hits * 1.0 / n_tokens, 6) AS stopword_ratio,
       round(least(n_tokens / 50.0, 1.0) * 0.5
             + (en_stopword_hits * 1.0 / n_tokens) * 0.5, 6) AS quality_score
FROM m
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/special-char signals composed
    into a [0,1] score (the heuristic pre-filter of a data pipeline)."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("norm", T.norm_text("text")).withColumn(
        "toks", F.split("norm", " ")
    )
    n_tokens = F.size("toks")
    n_special = F.length("text") - F.length(
        F.regexp_replace("text", "[^a-z0-9 ]", "")
    )
    hits = F.expr(T.stopword_hits_expr("toks", _SW["en"]))
    sw_ratio = hits * 1.0 / n_tokens
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_special.alias("n_special"),
        hits.alias("en_stopword_hits"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(
            F.least(n_tokens / 50.0, F.lit(1.0)) * 0.5 + sw_ratio * 0.5, 6
        ).alias("quality_score"),
    )


_LANG_CASE_SQL = (
    "CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits"
    " THEN 'en' WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'"
    " WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END"
)


@register(
    "doc_language_id",
    f"""
WITH tok AS (
  SELECT doc_id, lang,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
           AS toks
  FROM documents
), scores AS (
  SELECT doc_id, lang,
         CAST({T.duck_stopword_hits('toks', _SW['en'])} AS INTEGER) AS en_hits,
         CAST({T.duck_stopword_hits('toks', _SW['de'])} AS INTEGER) AS de_hits,
         CAST({T.duck_stopword_hits('toks', _SW['fr'])} AS INTEGER) AS fr_hits,
         CAST({T.duck_stopword_hits('toks', _SW['es'])} AS INTEGER) AS es_hits
  FROM tok
)
SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits,
       {_LANG_CASE_SQL} AS predicted_lang,
       ({_LANG_CASE_SQL}) = lang AS lang_match
FROM scores
""",
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram heuristic family): per-
    language hit counts, deterministic argmax with fixed tie order."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("norm", T.norm_text("text")).withColumn(
        "toks", F.split("norm", " ")
    )
    for code in ("en", "de", "fr", "es"):
        d = d.withColumn(
            f"{code}_hits", F.expr(T.stopword_hits_expr("toks", _SW[code]))
        )
    predicted = F.expr(_LANG_CASE_SQL)
    return d.select(
        "doc_id",
        "lang",
        "en_hits",
        "de_hits",
        "fr_hits",
        "es_hits",
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("lang_match"),
    )


@register(
    "doc_fingerprints",
    f"""
WITH base AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id,
       md5(norm) AS content_md5,
       {T.duck_hash60('norm')} AS content_hash60,
       {T.duck_rolling_fingerprint('norm')} AS rolling_fp
FROM base
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5, 60-bit content hash, and a
    polynomial rolling hash — the primitives under exact dedup and
    shard-stable sampling."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "norm", T.norm_text("text")
    )
    return d.select(
        "doc_id",
        F.md5("norm").alias("content_md5"),
        F.expr(T.hash60_sql("norm")).alias("content_hash60"),
        F.expr(T.rolling_fingerprint_expr("norm")).alias("rolling_fp"),
    )


@register(
    "token_frequencies_top20",
    """
WITH tok AS (
  SELECT unnest(string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM tok
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
""",
)
def token_frequencies_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: explode tokens → count → top-20 (ties
    broken by token). explode + partial agg + TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "norm", T.norm_text("text")
    )
    return (
        d.select(F.explode(F.split("norm", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "bigram_collocations_top20",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
),
big AS (
  SELECT unnest([{'w1': toks[i], 'w2': toks[i + 1]}
                 FOR i IN range(1, len(toks))]) AS b
  FROM base
),
bc AS (
  SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
  FROM big GROUP BY b.w1, b.w2
),
uni AS (
  SELECT unnest(toks) AS w FROM base
),
uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
scored AS (
  SELECT bc.w1, bc.w2, bc.c12,
         round(bc.c12 * 1.0 / u1.c, 6) AS cond_prob,
         round((bc.c12 * 1.0 * t.n) / (u1.c * 1.0 * u2.c), 6) AS lift
  FROM bc
  JOIN uc u1 ON u1.w = bc.w1
  JOIN uc u2 ON u2.w = bc.w2
  CROSS JOIN tot t
)
SELECT w1, w2, c12, cond_prob, lift, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY c12 DESC, w1, w2) AS rn
      FROM scored)
WHERE rn <= 20
ORDER BY rank
""",
)
def bigram_collocations_top20(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus collocation statistics for the 20 most frequent bigrams:
    conditional probability P(w2|w1) and rational lift
    P(w1w2)/(P(w1)P(w2)) — the ln-free form of PMI, computed as pure
    ratios of exact counts so both engines agree bit-for-bit. The
    n-gram language-model statistics a data pipeline extracts for
    tokenizer/LM quality checks. One shuffle per count table; unigram
    counts broadcast back onto the bigram table.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(F.split(T.norm_text("text"), " ").alias("toks"))
    big = base.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) as w1, "
                "element_at(toks, i + 1) as w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = base.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("c"))
    tot = uni.agg(F.count("*").alias("n"))
    scored = (
        bc.join(
            F.broadcast(uc.select(F.col("w").alias("w1"),
                                  F.col("c").alias("c1"))), "w1"
        )
        .join(
            F.broadcast(uc.select(F.col("w").alias("w2"),
                                  F.col("c").alias("c2"))), "w2"
        )
        .join(F.broadcast(tot))
        .select(
            "w1", "w2", "c12",
            F.round(F.col("c12") * 1.0 / F.col("c1"), 6).alias(
                "cond_prob"
            ),
            F.round(
                (F.col("c12") * 1.0 * F.col("n"))
                / (F.col("c1") * 1.0 * F.col("c2")),
                6,
            ).alias("lift"),
        )
    )
    return (
        global_topn_ranked(
            scored, 20, F.desc("c12"), F.asc("w1"), F.asc("w2")
        )
        .select("w1", "w2", "c12", "cond_prob", "lift", "rank")
        .orderBy("rank")
    )


def _jsonl_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-time scratch JSONL corpus: documents re-serialized as JSON
    lines plus one planted extra doc and two planted broken lines —
    the realistic ingest wire format with its damage tail."""
    import os

    from oracle_vector_search_spark.scratch import scratch_dir
    from oracle_vector_search_spark.sources.jsonl import (
        read_documents_jsonl,
    )

    def build():
        path = scratch_dir("ovs_docs_jsonl_")
        docs = load_table(spark, sf_dir, "documents")
        docs.repartition(4).write.mode("overwrite").json(path)
        with open(os.path.join(path, "part-extra.json"), "w") as f:
            f.write(
                '{"doc_id": 999999, "text": "planted extra doc", '
                '"lang": "xx", "source": "planted", "n_chars": 17}\n'
            )
            f.write('{"doc_id": 7, "text": "truncated rec\n')
            f.write("not json at all }{\n")
        return path

    path = at_rest(spark, (_jsonl_corpus, sf_dir), build)
    return read_documents_jsonl(spark, path)


@register(
    "jsonl_ingest_audit",
    """
SELECT CAST(count(*) + 1 AS BIGINT) AS n_good,
       CAST(2 AS BIGINT) AS n_corrupt,
       CAST(sum(doc_id) + 999999 AS BIGINT) AS id_checksum,
       CAST(sum(n_chars) + 17 AS BIGINT) AS chars_checksum
FROM documents
""",
)
def jsonl_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive JSONL ingestion audit (sources/jsonl.py): the corpus
    round-trips through the JSON wire format with 2 planted broken
    lines and 1 planted extra document; good rows must parse exactly
    (id and n_chars checksums vs the pristine table) and broken lines
    must count as corrupt instead of failing the job — the F6
    tolerance rule applied to the text-ingest source."""
    d = _jsonl_corpus(spark, sf_dir)
    return d.agg(
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_corrupt"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("chars_checksum"),
    )


@register(
    "udtf_token_windows",
    """
WITH base AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS toks
  FROM documents
)
, wins AS (
  SELECT doc_id, toks,
         unnest(range(0, least(3,
           CAST(ceil(len(toks) / 4.0) AS BIGINT)))) AS w
  FROM base
)
SELECT doc_id,
       CAST(w AS INTEGER) AS win_idx,
       array_to_string(toks[w * 4 + 1 : w * 4 + 8], ' ') AS snippet,
       CAST(len(toks[w * 4 + 1 : w * 4 + 8]) AS INTEGER) AS n_tokens
FROM wins
ORDER BY doc_id, win_idx
""",
)
def udtf_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4's native 1→N table function) emitting up to
    3 overlapping token windows (size 8, stride 4) per document via a
    LATERAL join — the API tier for generators whose row count depends
    on the input (the reference's detect-1→N shape, but as a real
    UDTF rather than explode-over-array). The window math is plain
    slicing, so the Python generator is oracle-checked exactly. Escape
    hatch, not hot path: the equivalent column-only chunker
    (operators/chunking.py) stays the 100 TB default; Arrow-batched
    UDTF evaluation keeps this tier usable when the generator logic is
    genuinely imperative."""
    from pyspark.sql.functions import udtf

    # useArrow: the UDTF evaluates in Arrow batches
    # (ArrowEvalPythonUDTF), not row-at-a-time BatchEvalPython — the
    # same vectorized-transfer rule as every other Python stage here
    @udtf(returnType=(
        "doc_id bigint, win_idx int, snippet string, n_tokens int"
    ), useArrow=True)
    class TokenWindows:
        def eval(self, doc_id, norm):
            toks = norm.split(" ")
            idx = 0
            for start in range(0, len(toks), 4):
                if idx >= 3:
                    break
                window = toks[start:start + 8]
                yield doc_id, idx, " ".join(window), len(window)
                idx += 1

    spark.udtf.register("token_windows", TokenWindows)
    load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "trim(regexp_replace(lower(text), '\\\\s+', ' ')) AS norm",
    ).createOrReplaceTempView("docs_norm")
    return spark.sql(
        """
        SELECT t.doc_id, t.win_idx, t.snippet, t.n_tokens
        FROM docs_norm, LATERAL token_windows(doc_id, norm) t
        ORDER BY t.doc_id, t.win_idx
        """
    )


@register(
    "source_lang_chisq_divergence",
    """
WITH counts AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
  FROM documents GROUP BY source, lang
), per_source AS (
  SELECT source, CAST(sum(n_sl) AS BIGINT) AS n_s FROM counts
  GROUP BY source
), per_lang AS (
  SELECT lang, CAST(sum(n_sl) AS BIGINT) AS n_l FROM counts
  GROUP BY lang
), total AS (
  SELECT CAST(sum(n_sl) AS BIGINT) AS n FROM counts
), cells AS (
  SELECT s.source, l.lang,
         coalesce(c.n_sl, 0) AS n_sl, s.n_s, l.n_l, t.n
  FROM per_source s
  CROSS JOIN per_lang l
  CROSS JOIN total t
  LEFT JOIN counts c ON c.source = s.source AND c.lang = l.lang
)
SELECT source,
       round(sum(
         ((CAST(n_sl AS DOUBLE) / n_s) - (CAST(n_l AS DOUBLE) / n))
         * ((CAST(n_sl AS DOUBLE) / n_s) - (CAST(n_l AS DOUBLE) / n))
         / (CAST(n_l AS DOUBLE) / n)
       ), 6) AS chisq_divergence,
       CAST(max(n_s) AS BIGINT) AS n_docs
FROM cells
GROUP BY source
""",
)
def source_lang_chisq_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-drift audit without cross-libm logs: χ² divergence
    of each source's language mix from the corpus-wide mix,
    Σ_lang (p_s(l) − q(l))² / q(l) — every term is a ratio of exact
    integer counts, so unlike a KL divergence there is no ``ln`` whose
    last-ulp differs between libm builds (the repo-wide policy; see
    bm25's rational idf). Zero-count (source, lang) cells materialize
    via the dense source×lang grid so the divergence includes missing
    languages.

    Scale shape: one (source, lang) count aggregation; the dense grid
    is |sources|×|langs| (metadata-sized) built from two broadcast
    marginals. The per-source χ² against a reference mix is the
    monitoring quantity a corpus-curation pipeline alerts on when a
    crawl snapshot's language balance drifts."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_sl")
    )
    per_source = counts.groupBy("source").agg(
        F.sum("n_sl").alias("n_s")
    )
    per_lang = counts.groupBy("lang").agg(F.sum("n_sl").alias("n_l"))
    total = counts.agg(F.sum("n_sl").alias("n"))
    cells = (
        per_source.crossJoin(F.broadcast(per_lang))
        .crossJoin(F.broadcast(total))
        .join(counts, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            F.coalesce("n_sl", F.lit(0)).alias("n_sl"),
            "n_s",
            "n_l",
            "n",
        )
    )
    p = F.col("n_sl").cast("double") / F.col("n_s")
    q = F.col("n_l").cast("double") / F.col("n")
    return cells.groupBy("source").agg(
        F.round(F.sum((p - q) * (p - q) / q), 6).alias(
            "chisq_divergence"
        ),
        F.max("n_s").alias("n_docs"),
    )


# ------------------------------------------- character-entropy quality gate
@register(
    "doc_char_entropy_quality",
    """
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), ch AS (
  SELECT doc_id, string_split(norm, '') AS chars FROM base
), stats AS (
  SELECT doc_id,
         CAST(len(chars) AS BIGINT) AS n_chars,
         CAST(len(list_distinct(chars)) AS BIGINT) AS n_distinct_chars,
         CAST(list_sum(list_transform(list_distinct(chars),
             c -> CAST(len(list_filter(chars, x -> x = c))
                       * len(list_filter(chars, x -> x = c)) AS BIGINT)))
           AS BIGINT) AS sumsq,
         list_sum(list_transform(list_distinct(chars),
             c -> len(list_filter(chars, x -> x = c))
                  * log2(len(list_filter(chars, x -> x = c)))))
           AS nlogn
  FROM ch
)
SELECT doc_id, n_chars, n_distinct_chars,
       CAST(floor((n_chars * n_chars - sumsq) * 1000000000
                  / (n_chars * n_chars)) AS BIGINT) AS simpson_nano,
       CAST(floor(log2(n_chars) - nlogn / n_chars) AS INTEGER)
         AS entropy_band,
       floor(log2(n_chars) - nlogn / n_chars) >= 3
         AND n_chars >= 100 AS passes_quality
FROM stats
ORDER BY doc_id
""",
)
def doc_char_entropy_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Character-level entropy + Gini-Simpson quality gate per
    document — the cheap randomness screens (low entropy = boilerplate
    / repeated filler; used alongside the Gopher gates). Cross-engine
    discipline: the Simpson index is EXACT rational integer arithmetic
    ((L² - Σn_c²)·1e9 / L², order-independent); Shannon entropy
    H = log2(L) - Σ n_c·log2(n_c)/L involves transcendentals whose
    last-ulp behavior differs between JVM and libm, so it is emitted
    only as the integer floor band (a 1e-12 discrepancy cannot move a
    band except on an exact-integer boundary, which has measure zero)
    — the same bucketing discipline as lm_perplexity_buckets.

    Scale: pure scan-stage higher-order expressions over each doc's
    char array — no explode, no shuffle; the groupBy universe never
    leaves the row. The per-doc counts come from RUN LENGTHS over the
    sorted char array (boundary positions → adjacent diffs), O(L log L)
    per doc instead of the naive O(distinct·L) filter-per-char —
    measured 27.7 s → ~3 s over the sf0.1 corpus."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.selectExpr(
        "doc_id",
        "trim(regexp_replace(lower(text), '\\\\s+', ' ')) AS norm",
    )
    ch = base.selectExpr("doc_id", "array_sort(split(norm, '')) AS cs")
    # run-end positions in the sorted array -> run lengths = counts
    runs = ch.selectExpr(
        "doc_id",
        "cast(size(cs) as bigint) AS n_chars",
        "filter(sequence(1, size(cs)),"
        " i -> i = size(cs) OR element_at(cs, i) != element_at(cs, i + 1))"
        " AS ends",
    ).selectExpr(
        "doc_id",
        "n_chars",
        "zip_with(ends, concat(array(0), slice(ends, 1, size(ends) - 1)),"
        " (e, p) -> cast(e - p as bigint)) AS counts",
    )
    stats = runs.selectExpr(
        "doc_id",
        "n_chars",
        "cast(size(counts) as bigint) AS n_distinct_chars",
        "aggregate(counts, cast(0 as bigint), (a, x) -> a + x * x)"
        " AS sumsq",
        "aggregate(counts, cast(0 as double),"
        " (a, x) -> a + x * log2(x)) AS nlogn",
    )
    return stats.selectExpr(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        "cast(floor((n_chars * n_chars - sumsq) * 1000000000"
        " / (n_chars * n_chars)) as bigint) AS simpson_nano",
        "cast(floor(log2(n_chars) - nlogn / n_chars) as int)"
        " AS entropy_band",
        "floor(log2(n_chars) - nlogn / n_chars) >= 3"
        " AND n_chars >= 100 AS passes_quality",
    ).orderBy("doc_id")


# -------------------------------- edit-distance-1 fuzzy join (FastSS)
@register(
    "fuzzy_token_pairs_edit1",
    """
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), words AS (
  SELECT doc_id, w
  FROM base, unnest(string_split(norm, ' ')) AS t(w)
  WHERE length(w) BETWEEN 4 AND 12
), vocab AS (
  SELECT DISTINCT w FROM (
    SELECT w FROM words
    UNION ALL
    -- planted typos (same formula both engines): docs with
    -- doc_id % 5 = 0 contribute each word with its 2nd char dropped
    SELECT substr(w, 1, 1) || substr(w, 3) AS w
    FROM words WHERE doc_id % 5 = 0 AND length(w) >= 5
  )
), variants AS (
  SELECT w, v
  FROM vocab,
       unnest(list_distinct(list_append(
         list_transform(range(1, length(w) + 1),
           i -> substr(w, 1, i - 1) || substr(w, i + 1)),
         w))) AS t(v)
), cand AS (
  SELECT DISTINCT a.w AS left_word, b.w AS right_word
  FROM variants a JOIN variants b ON a.v = b.v AND a.w < b.w
)
SELECT left_word, right_word,
       CAST(levenshtein(left_word, right_word) AS INTEGER) AS dist
FROM cand
WHERE levenshtein(left_word, right_word) <= 1
ORDER BY left_word, right_word
""",
)
def fuzzy_token_pairs_edit1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Edit-distance-≤1 similarity JOIN over the corpus vocabulary via
    the deletion-neighborhood trick (FastSS; Bocek et al. 2007): two
    words are within one edit iff they share a member of each other's
    {word} ∪ {one-char deletions} set, so the candidate space is an
    EQUI-join on generated variants — never a vocabulary cross join —
    and the exact levenshtein check runs only on bucket collisions.
    The spelling-variant/typo merge every text-dedup pipeline needs.
    The fixture vocabulary has no natural edit-1 pairs, so docs with
    doc_id % 5 = 0 plant a deterministic typo of each word (2nd char
    dropped — the established planted-violation pattern), giving the
    join real collisions to verify; both engines plant identically.

    Scale: variants ≈ (len+1) rows per DISTINCT word (the corpus
    collapses to its vocabulary first — same discipline as the BPE
    miner); the self-join shuffles variant-keyed rows with tiny
    buckets. At 100 TB the vocabulary is millions of rows, not
    trillions."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.selectExpr(
        "doc_id",
        "explode(split(trim(regexp_replace(lower(text),"
        " '\\\\s+', ' ')), ' ')) AS w",
    ).filter("length(w) BETWEEN 4 AND 12")
    typos = words.filter("doc_id % 5 = 0 AND length(w) >= 5").selectExpr(
        "concat(substr(w, 1, 1), substr(w, 3)) AS w"
    )
    # OPTIMIZATION r15 (guide §2.4/§5): both sides of the variant
    # self-join used to replay the tokenize → union → DISTINCT subtree
    # (two corpus tokenizations + two vocabulary shuffles per run).
    # The vocabulary is the FastSS design's small table — pin it once
    # and both sides explode variants from the pin.
    vocab = pin(words.select("w").unionByName(typos).distinct())
    variants = vocab.selectExpr(
        "w",
        "explode(array_distinct(concat(transform("
        "sequence(1, length(w)),"
        " i -> concat(substr(w, 1, i - 1), substr(w, i + 1))),"
        " array(w)))) AS v",
    )
    a = variants.alias("a")
    b = variants.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v"))
               & (F.col("a.w") < F.col("b.w")))
        .select(
            F.col("a.w").alias("left_word"),
            F.col("b.w").alias("right_word"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "dist",
            F.levenshtein("left_word", "right_word").cast("int"),
        )
        .filter(F.col("dist") <= 1)
        .orderBy("left_word", "right_word")
    )


@register(
    "doc_ngram_novelty",
    f"""
WITH base AS (
  SELECT doc_id, {T.duck_norm()} AS norm FROM documents
), tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM base
), sh AS (
  SELECT doc_id, unnest({T.duck_shingles('toks', 'norm')}) AS s FROM tok
), g AS (
  SELECT doc_id, {T.duck_hash28('s')} AS h FROM sh
), df AS (
  SELECT h, count(DISTINCT doc_id) AS d FROM g GROUP BY h
), per AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(*) FILTER (df.d = 1) AS BIGINT) AS n_novel
  FROM g JOIN df ON df.h = g.h
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_novel,
       round(n_novel * 1.0 / n_grams, 6) AS novelty
FROM per
""",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level document novelty (RefinedWeb-style uniqueness
    scoring): the share of a document's distinct word 3-shingles that
    appear in NO other document. Low novelty → boilerplate / near-dup
    material; the score feeds the same keep/drop gates as the quality
    classifier. Shingles and hashing reuse the MinHash scan kernels,
    so the score is engine-exact.

    Scale shape: grams are born distinct in the scan and the
    (doc_id, hash) table pins ONCE (it feeds both aggregates); the two
    shuffles carry (hash, doc_id) pairs and (hash, df) counts —
    gram-sized, never text-sized — and a gram-with-df=1 hash has
    exactly ONE owning document, so per-doc novelty rolls up from the
    df aggregate itself (min(doc_id) over the singleton group) and the
    final join is DOC-sized, not gram-sized (r9: replaces a gram-keyed
    join + a second shingle/md5 pass — 1.9 → ~1.1 s warm at sf0.1).
    The df table is the same artifact an at-rest inverted index
    maintains incrementally.
    """
    doc = load_table(spark, sf_dir, "documents")
    base = doc.select("doc_id", T.norm_text().alias("norm"))
    tok = base.withColumn("toks", T.tokens("norm"))
    g = pin(
        tok.select(
            "doc_id",
            F.explode(
                F.expr(T.word_shingles_expr("toks", "norm"))
            ).alias("s"),
        ).select("doc_id", F.expr(T.hash28_sql("s")).alias("h")),
    )
    per = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    h_agg = g.groupBy("h").agg(
        F.countDistinct("doc_id").alias("d"),
        F.min("doc_id").alias("only_doc"),
        F.count(F.lit(1)).alias("occ"),
    )
    novel = (
        h_agg.filter(F.col("d") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.sum("occ").alias("n_novel"))
    )
    return per.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0))
            * F.lit(1.0)
            / F.col("n_grams"),
            6,
        ).alias("novelty"),
    )


_VOCAB_CUTS = (10, 100, 1000)  # vocabulary-size cutoffs for the curve


@register(
    "vocab_coverage_curve",
    f"""
WITH tok AS (
  SELECT unnest(string_split({T.duck_norm()}, ' ')) AS token
  FROM documents
), freq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
), ranked AS (
  SELECT n,
         CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS r
  FROM freq
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS vocab
  FROM freq
), cuts AS (
  SELECT unnest([{", ".join(str(c) for c in _VOCAB_CUTS)}]) AS cutoff
)
SELECT c.cutoff,
       t.vocab AS vocab_size,
       CAST(coalesce(sum(rk.n), 0) AS BIGINT) AS covered_occurrences,
       t.total AS total_occurrences,
       round(coalesce(sum(rk.n), 0) * 1.0 / t.total, 6) AS coverage
FROM cuts c
CROSS JOIN tot t
LEFT JOIN ranked rk ON rk.r <= c.cutoff
GROUP BY c.cutoff, t.vocab, t.total
""",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design metric: what
    fraction of all token OCCURRENCES is covered by the top-{10,100,
    1000} most frequent types (frequency ties break on the token
    string, so ranks are deterministic). A steep curve says a small
    vocab + byte fallback suffices; a flat one demands a bigger vocab.

    Scale shape: the corpus collapses to the (token, count) vocabulary
    in one shuffle (the same table the BPE trainer and the bigram LM
    start from); only ranks up to max(cutoff) matter, so the head
    slice is a TakeOrderedAndProject partial top-k (never a global
    single-task window over 10^8+ types — VERDICT r9 #1).
    """
    doc = load_table(spark, sf_dir, "documents").withColumn(
        "norm", T.norm_text("text")
    )
    freq = (
        doc.select(F.explode(T.tokens("norm")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = global_topn_ranked(
        freq, max(_VOCAB_CUTS), F.desc("n"), F.asc("token"), rank_col="r"
    ).select("n", F.col("r").cast("bigint").alias("r"))
    tot = freq.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    cuts = spark.range(0).sparkSession.createDataFrame(
        [(c,) for c in _VOCAB_CUTS], "cutoff bigint"
    )
    return (
        cuts.crossJoin(F.broadcast(tot))
        .join(F.broadcast(ranked), F.col("r") <= F.col("cutoff"), "left")
        .groupBy("cutoff", F.col("vocab").alias("vocab_size"), "total")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0))
            .cast("bigint")
            .alias("covered_occurrences"),
            F.round(
                F.coalesce(F.sum("n"), F.lit(0)) * F.lit(1.0)
                / F.col("total"),
                6,
            ).alias("coverage"),
        )
        .select(
            "cutoff",
            "vocab_size",
            "covered_occurrences",
            F.col("total").alias("total_occurrences"),
            "coverage",
        )
    )


# Flesch reading-ease constants, exact double literals (the formula's
# published coefficients are decimal-exact in binary up to repr
# round-trip; all three are embedded identically in both engines).
_FLESCH_BASE = "206.835"
_FLESCH_WPS = "1.015"
_FLESCH_SPW = "84.6"


@register(
    "doc_readability_scores",
    f"""
WITH base AS (
  SELECT doc_id, {T.duck_norm()} AS norm FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
         CAST(greatest(1,
           len(regexp_split_to_array(norm, '[.!?]+')) - 1) AS BIGINT)
           AS n_sentences,
         -- vowel groups: collapse each [aeiouy]+ run to one 'V', then
         -- diff against the run-removed length (same identity as the
         -- Spark side)
         CAST(length(regexp_replace(norm, '[aeiouy]+', 'V', 'g'))
              - length(regexp_replace(norm, '[aeiouy]+', '', 'g'))
              AS BIGINT) AS vowel_groups
  FROM base
), s AS (
  SELECT doc_id, n_words, n_sentences,
         greatest(n_words, vowel_groups) AS n_syllables
  FROM m WHERE n_words > 0
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(CAST({_FLESCH_BASE} AS DOUBLE)
             - CAST({_FLESCH_WPS} AS DOUBLE)
               * (n_words * 1.0 / n_sentences)
             - CAST({_FLESCH_SPW} AS DOUBLE)
               * (n_syllables * 1.0 / n_words), 6) AS flesch
FROM s
""",
)
def doc_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a deterministic syllable
    heuristic: syllables = vowel-group runs ([aeiouy]+), floored at one
    per word (max(words, vowel_groups)); sentences = [.!?]+ segment
    splits floored at 1. Pure regexp/length arithmetic — identical in
    both engines — so the score is exact to the 6-decimal policy. The
    classic readability gate a curation pipeline runs next to the
    stopword/length heuristics.

    Scale shape: per-row scan-stage projection, no shuffle.
    """
    doc = load_table(spark, sf_dir, "documents").withColumn(
        "norm", T.norm_text("text")
    )
    n_words = F.size(F.split("norm", " ")).cast("bigint")
    # vowel groups: collapse each [aeiouy]+ run to one 'V', then diff
    # against the run-removed length — the count of runs, exactly
    vowel_groups = F.length(
        F.regexp_replace("norm", "[aeiouy]+", "V")
    ) - F.length(F.regexp_replace("norm", "[aeiouy]+", ""))
    n_syll = F.greatest(n_words, vowel_groups.cast("bigint"))
    n_sent = F.greatest(
        F.lit(1),
        (F.size(F.split("norm", "[.!?]+")) - 1).cast("bigint"),
    ).cast("bigint")
    m = doc.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words") * F.lit(1.0) / F.col("n_sentences"))
            - F.lit(84.6)
            * (F.col("n_syllables") * F.lit(1.0) / F.col("n_words")),
            6,
        ).alias("flesch"),
    )


@register(
    "lang_id_confusion_matrix",
    f"""
WITH tok AS (
  SELECT doc_id, lang,
         string_split({T.duck_norm()}, ' ') AS toks
  FROM documents
), scores AS (
  SELECT lang,
         CAST({T.duck_stopword_hits('toks', _SW['en'])} AS INTEGER) AS en_hits,
         CAST({T.duck_stopword_hits('toks', _SW['de'])} AS INTEGER) AS de_hits,
         CAST({T.duck_stopword_hits('toks', _SW['fr'])} AS INTEGER) AS fr_hits,
         CAST({T.duck_stopword_hits('toks', _SW['es'])} AS INTEGER) AS es_hits
  FROM tok
), pred AS (
  SELECT lang AS actual, {_LANG_CASE_SQL} AS predicted FROM scores
)
SELECT actual, predicted,
       CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY actual, predicted
""",
)
def lang_id_confusion_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confusion matrix of the stopword-profile language identifier
    against the fixture's true labels — the evaluation artifact that
    turns `doc_language_id`'s per-document output into the
    accuracy-by-class view a pipeline dashboard shows. One scan, one
    (actual, predicted)-keyed count.
    """
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("norm", T.norm_text("text")).withColumn(
        "toks", F.split("norm", " ")
    )
    for code in ("en", "de", "fr", "es"):
        d = d.withColumn(
            f"{code}_hits", F.expr(T.stopword_hits_expr("toks", _SW[code]))
        )
    return (
        d.select(
            F.col("lang").alias("actual"),
            F.expr(_LANG_CASE_SQL).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
